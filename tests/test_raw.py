"""Raw CSV stage: S1-S5 loop — fixture rows -> per-session CSVs -> bronze."""

from __future__ import annotations

import pytest

from f1_data_engineering_machine_learning_spark.pipeline.bronze import build_bronze
from f1_data_engineering_machine_learning_spark.pipeline.fixtures import results_rows
from f1_data_engineering_machine_learning_spark.pipeline.raw import write_raw_csvs


def test_jsonl_roundtrip_documents(spark, sf_dir, tmp_path):
    """JSONL corpus interchange: write the documents table as gzipped
    JSON-Lines shards, read it back with an explicit schema — identical
    contents, no corrupt records, multiple shards (never coalesce(1))."""
    from f1_data_engineering_machine_learning_spark import io as fio

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(4)
    path = str(tmp_path / "docs_jsonl")
    fio.write_jsonl(docs, path)
    import glob

    assert len(glob.glob(f"{path}/part-*.json.gz")) == 4
    back = fio.read_jsonl(
        spark,
        path,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).cache()  # cache: Spark disallows corrupt-column-only scans (see read_jsonl)
    assert back.filter("_corrupt_record IS NOT NULL").count() == 0
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    diff = (
        back.select(cols).exceptAll(docs.select(cols)).count()
        + docs.select(cols).exceptAll(back.select(cols)).count()
    )
    assert diff == 0


def test_jsonl_malformed_lines_quarantined_not_fatal(spark, tmp_path):
    from f1_data_engineering_machine_learning_spark import io as fio

    p = tmp_path / "shard.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok"}\n'
        "this is not json\n"
        '{"doc_id": 2, "text": "also ok"}\n'
    )
    back = fio.read_jsonl(
        spark, str(tmp_path), "doc_id bigint, text string"
    ).cache()
    assert back.count() == 3  # bad line is a row, not a crash
    assert back.filter("_corrupt_record IS NOT NULL").count() == 1
    assert back.filter("doc_id IS NOT NULL").count() == 2


def test_raw_to_bronze_roundtrip(spark, tmp_path):
    rows = results_rows()
    paths = write_raw_csvs(rows, str(tmp_path / "raw"))
    # one file per (year, round, identifier): 3 seasons x 10 rounds + 6 sprints
    assert len(paths) == 36
    assert paths[0].endswith("2021_01_race.csv")

    bronze = build_bronze(spark, str(tmp_path / "raw" / "*.csv"))
    assert bronze.count() == len(rows)
    # the all-string bronze contract (02_bronze.py:97 — no inferSchema)
    assert all(t == "string" for _, t in bronze.dtypes)
    # null round-trips: csv empty cell -> NULL back in Spark
    assert bronze.filter("Position IS NULL").count() > 0


def _write_csvs(directory, header: str, n: int) -> list[str]:
    directory.mkdir()
    paths = []
    for i in range(n):
        p = directory / f"part_{i:02d}.csv"
        p.write_text(f"{header}\n{i};x{i};;q;\"v;{i}\"\n")
        paths.append(str(p))
    return paths


def test_read_csv_all_string_launches_no_job(spark, tmp_path):
    """A glob over one directory is scanned as that directory plus a name
    filter: no file-listing job and no header job before an action, and
    the header names (quoted, empty, repeated) are the ones Spark infers."""
    from f1_data_engineering_machine_learning_spark.io import read_csv_all_string
    from tests.util_jobs import jobs_launched

    header = 'Id;"Driver;Name";;id;"Quoted Name"'
    # more files than Spark lists on the driver for an explicit path list
    paths = _write_csvs(tmp_path / "raw", header, 40)
    df, n_jobs = jobs_launched(
        spark, lambda: read_csv_all_string(spark, str(tmp_path / "raw" / "*.csv"))
    )
    assert n_jobs == 0
    inferred = spark.read.csv(paths, sep=";", header=True)
    assert df.columns == inferred.columns
    assert df.columns == ["Id0", "Driver;Name", "_c2", "id3", "Quoted Name"]
    assert all(t == "string" for _, t in df.dtypes)
    assert sorted(df.inputFiles()) == sorted(f"file://{p}" for p in paths)
    assert sorted(df.collect()) == sorted(inferred.collect())


def test_read_csv_all_string_glob_matching_hidden_files(spark, tmp_path):
    """Spark's directory listing skips ``_``/``.`` names and descends into
    subdirectories; when that listing differs from the glob, the scan
    falls back to the file list and reads what an explicit list reads."""
    from f1_data_engineering_machine_learning_spark.io import read_csv_all_string

    paths = _write_csvs(tmp_path / "raw", "a;b;c;d;e", 3)
    (tmp_path / "raw" / "_part_hidden.csv").write_text("a;b;c;d;e\nh;h;h;h;h\n")
    (tmp_path / "raw" / "sub").mkdir()
    (tmp_path / "raw" / "sub" / "part_nested.csv").write_text("a;b;c;d;e\nn;n;n;n;n\n")
    df = read_csv_all_string(spark, str(tmp_path / "raw" / "*.csv"))
    want = spark.read.csv(
        sorted(paths + [str(tmp_path / "raw" / "_part_hidden.csv")]),
        sep=";",
        header=True,
    )
    assert sorted(df.collect()) == sorted(want.collect())
    assert df.filter("a = 'n'").count() == 0


def test_empty_glob_is_hard_error(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        build_bronze(spark, str(tmp_path / "nothing" / "*.csv"))


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    from pyspark.sql import functions as F

    from f1_data_engineering_machine_learning_spark.io import read_orc, write_orc

    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
    )
    path = str(tmp_path / "t.orc")
    write_orc(df, path, partition_by=["grp"])
    back = read_orc(spark, path)
    assert back.count() == 1000
    # partition pruning: grp is a directory column, filter prunes to 1/7
    pruned = back.filter(F.col("grp") == 3)
    assert pruned.count() == len([i for i in range(1000) if i % 7 == 3])
    got = {(r.id, r.s) for r in pruned.collect()}
    assert got == {(i, f"v{i}") for i in range(1000) if i % 7 == 3}


def test_parquet_schema_evolution_merge(spark, tmp_path):
    from pyspark.sql import functions as F

    from f1_data_engineering_machine_learning_spark.io import read_parquet_evolving

    base = str(tmp_path / "evolving")
    spark.range(5).select(F.col("id")).write.parquet(base + "/gen=1")
    spark.range(5, 8).select(
        F.col("id"), F.lit("new").alias("added")
    ).write.parquet(base + "/gen=2")
    merged = read_parquet_evolving(spark, base)
    assert set(merged.columns) == {"id", "added", "gen"}
    rows = {r.id: r.added for r in merged.collect()}
    assert len(rows) == 8
    assert rows[0] is None and rows[7] == "new"  # old files NULL-fill
