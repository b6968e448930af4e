"""Scans, sinks, and view registration (SURVEY §2.1, S4-S11, S13).

The reference's IO surface (/root/reference/scripts/02_bronze.py:35-109,
/root/reference/scripts/spark_ops.py:49-96) is: glob-resolved multi-file CSV
scan (all-string), Delta scan, temp-view registration named by path stem,
full-overwrite sink with small-file compaction, and a partitioned
slice-replace sink. All reproduced here, format-agnostic (delta when
available, parquet otherwise).
"""

from __future__ import annotations

import csv
import glob as _glob
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from f1_data_engineering_machine_learning_spark.session import delta_enabled

#: the driver's synthetic testdata tables (TESTDATA.md)
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def resolve_glob(pattern: str) -> list[str]:
    """Expand a glob to a sorted file list; error when empty.

    Reproduces /root/reference/scripts/02_bronze.py:35-75 — Spark would accept
    the glob natively, but an empty match must be a hard error, not an empty
    DataFrame.
    """
    files = sorted(_glob.glob(os.path.expanduser(pattern)))
    if not files:
        raise FileNotFoundError(f"glob matched no files: {pattern!r}")
    return files


def _csv_header(path: str, sep: str = ";") -> list[str]:
    """Column names of a CSV file's header line, made safe the way Spark's
    CSV reader makes them: an empty name becomes ``_c<i>``, and names that
    repeat (case-insensitively) get their position appended."""
    with open(path, encoding="utf-8", newline="") as fh:
        names = next(csv.reader(fh, delimiter=sep), [])
    lowered = [n.lower() for n in names if n]
    dups = {n for n in lowered if lowered.count(n) > 1}
    return [
        f"_c{i}" if not n else f"{n}{i}" if n.lower() in dups else n
        for i, n in enumerate(names)
    ]


def read_csv_all_string(
    spark: SparkSession, paths: str | list[str], sep: str = ";"
) -> DataFrame:
    """Multi-file CSV scan with header and NO schema inference — every column
    lands as StringType (the bronze contract,
    /root/reference/scripts/02_bronze.py:97). Typing happens downstream.

    The schema comes from the first file's header, read here, so Spark runs
    no header job. A glob whose directory part is literal is handed to
    Spark as that one directory plus ``pathGlobFilter``: a list of many
    files would cost a parallel file-listing job, one directory costs none.
    The directory form is used only when Spark resolves it to exactly the
    glob's files (its listing also descends into subdirectories and skips
    ``_``/``.`` names); otherwise the file list is passed.
    """
    files = resolve_glob(paths) if isinstance(paths, str) else list(paths)
    schema = StructType(
        [StructField(n, StringType()) for n in _csv_header(files[0], sep)]
    )
    reader = spark.read.schema(schema).option("header", True).option("sep", sep)
    if isinstance(paths, str):
        directory, pattern = os.path.split(os.path.expanduser(paths))
        if not _glob.has_magic(directory):
            df = reader.option("pathGlobFilter", pattern).csv(directory or ".")
            listed = {urlparse(f).path for f in df.inputFiles()}
            if listed == {os.path.abspath(f) for f in files}:
                return df
    return reader.csv(files)


def read_jsonl(
    spark: SparkSession, path: str | list[str], schema: str
) -> DataFrame:
    """JSON-Lines corpus scan with a REQUIRED explicit schema — the common
    LLM-corpus interchange format (one document object per line, typically
    gzipped shards). Schema inference is banned here on purpose: at 100 TB
    ``inferSchema`` is a full extra pass over the data before the real job
    starts, and a drifting field in shard 40,001 silently changes the
    inferred type of the whole read. Malformed lines land in
    ``_corrupt_record`` (PERMISSIVE mode) instead of failing the scan —
    count them as a data-quality constraint, don't crash a 10-hour job.
    Spark gotcha: a query whose pruned scan reads ONLY the corrupt column
    is rejected (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — audit corrupt counts
    alongside data columns in one pass (check_constraints does), or cache
    the parsed frame first."""
    reader = spark.read.schema(f"{schema}, _corrupt_record string")
    return reader.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(path)


def write_jsonl(
    df: DataFrame, path: str, compression: str | None = "gzip"
) -> None:
    """JSON-Lines sink, sharded (one file per partition — NEVER coalesce(1)
    a corpus) and compressed by default. Column order is preserved per
    line; downstream readers must key by field name, not position."""
    writer = df.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Load a table by path: Delta when enabled and present, else parquet
    (/root/reference/scripts/spark_ops.py:62 uses format('delta'))."""
    if delta_enabled(spark) and os.path.isdir(os.path.join(path, "_delta_log")):
        return spark.read.format("delta").load(path)
    return spark.read.parquet(path)


def register_view(spark: SparkSession, path: str, name: str | None = None) -> DataFrame:
    """Register a table path as a temp view named after the last path segment
    (/root/reference/scripts/spark_ops.py:49-64)."""
    name = name or os.path.basename(path.rstrip("/")).split(".")[0]
    df = read_table(spark, path)
    df.createOrReplaceTempView(name)
    return df


def load_testdata(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load the driver's synthetic parquet tables from an sf directory."""
    return {
        name: spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        for name in tables
    }


def write_table_overwrite(
    df: DataFrame,
    path: str,
    compact_files: int | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """Full-overwrite sink with optional small-file compaction.

    The reference always writes ``coalesce(1)`` + ``overwriteSchema``
    (/root/reference/scripts/02_bronze.py:103-109,
    /root/reference/scripts/spark_ops.py:87-93) — correct at 10^5 rows,
    wrong at 100 TB. Here compaction is opt-in (``compact_files``), and at
    scale the caller should instead leave Spark's natural output
    parallelism or use a real OPTIMIZE pass.
    """
    if compact_files:
        df = df.coalesce(compact_files)
    writer = df.write.mode("overwrite")
    spark = df.sparkSession
    if delta_enabled(spark):  # pragma: no cover - optional dependency
        writer = writer.format("delta").option("overwriteSchema", "true")
    else:
        writer = writer.format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_partition_slice(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    replace_where: str | None = None,
) -> None:
    """Idempotent partitioned slice overwrite — the incremental primitive.

    Delta path: ``replaceWhere`` exactly as
    /root/reference/scripts/spark_ops.py:169-175. Parquet path: dynamic
    partition overwrite (session sets
    ``spark.sql.sources.partitionOverwriteMode=dynamic``), which rewrites
    only the partitions present in ``df`` — the same idempotency contract
    provided ``replace_where`` aligns with the partition columns.
    """
    spark = df.sparkSession
    writer = df.write.mode("overwrite").partitionBy(*partition_by)
    if delta_enabled(spark) and replace_where:  # pragma: no cover
        writer = writer.format("delta").option("replaceWhere", replace_where)
    else:
        writer = writer.format("parquet")
    writer.save(path)


def vacuum(spark: SparkSession, path: str, retention_hours: float = 0.0) -> None:
    """Delta VACUUM (/root/reference/scripts/spark_ops.py:95-96). No-op on
    parquet — dynamic partition overwrite already removes superseded files."""
    if delta_enabled(spark):  # pragma: no cover
        from delta.tables import DeltaTable  # type: ignore

        spark.conf.set("spark.databricks.delta.retentionDurationCheck.enabled", "false")
        DeltaTable.forPath(spark, path).vacuum(retention_hours)


def read_sql_file(path: str) -> str:
    """Read a .sql file into a string (/root/reference/scripts/spark_ops.py:8-23)."""
    with open(path, encoding="utf-8") as fh:
        return fh.read()


def conform_schema(
    df: DataFrame,
    target,
    on_extra: str = "drop",
    on_type_mismatch: str = "cast",
) -> DataFrame:
    """Conform ``df`` to ``target`` (a StructType): the schema-evolution
    gate a long-lived ingestion pipeline needs when upstream producers
    add, drop, or retype columns between runs.

    - missing target columns are appended as typed NULLs (a new consumer
      column must not break replays of old data),
    - extra source columns are dropped (``on_extra='drop'``) or rejected
      (``'error'`` — strict mode for feeds where unexpected columns mean
      a producer bug),
    - dtype mismatches are cast (``on_type_mismatch='cast'``, using
      ``try_cast`` so unconvertible values surface as NULLs instead of
      failing mid-job under ANSI) or rejected (``'error'``),
    - output column ORDER is the target's, so downstream
      position-sensitive sinks (CSV, union) are stable.

    Map-side only — projections and casts, no shuffle, safe at any scale.
    """
    from pyspark.sql import functions as F

    have = dict(zip(df.schema.names, df.schema.fields))
    target_names = [f.name for f in target.fields]
    extra = [c for c in df.columns if c not in target_names]
    if extra and on_extra == "error":
        raise ValueError(f"unexpected columns: {extra}")
    cols = []
    for field in target.fields:
        if field.name not in have:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
            continue
        src = have[field.name]
        if src.dataType == field.dataType:
            cols.append(F.col(field.name))
        elif on_type_mismatch == "cast":
            cols.append(
                F.col(field.name).try_cast(field.dataType).alias(field.name)
            )
        else:
            raise ValueError(
                f"column {field.name!r}: {src.dataType.simpleString()} != "
                f"{field.dataType.simpleString()}"
            )
    return df.select(*cols)


def read_orc(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """ORC scan — the columnar format of choice for Hive-era warehouses
    a migration pipeline still has to read. Spark's native vectorized ORC
    reader gives the same pushdown/pruning contract as parquet (predicate
    pushdown, column pruning, partition discovery), so every catalog
    operator works unchanged on ORC-resident tables."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    compression: str = "zstd",
) -> None:
    """ORC sink, sharded (one file per partition) and zstd-compressed by
    default; partitioned layout when ``partition_by`` is given."""
    writer = df.write.mode("overwrite").option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_parquet_evolving(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Parquet scan across shards whose schemas EVOLVED over time
    (columns added by newer producers): ``mergeSchema`` unions the
    per-file footers into one superset schema, older files surface the
    new columns as NULLs. This is the read-side half of schema evolution
    (the write side is ``conform_schema``).

    Scale note: footer merging reads every file's metadata on the driver
    — fine for thousands of shards, but a 100 TB table with millions of
    files should maintain ONE authoritative schema (a metastore or
    ``conform_schema`` at write time) rather than re-deriving it per
    read; this helper is for the migration/backfill window where both
    generations of files coexist."""
    return spark.read.option("mergeSchema", "true").parquet(path)
