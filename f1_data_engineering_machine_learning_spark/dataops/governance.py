"""Data-governance operators: compliance deletion (right to be
forgotten) with an auditable trail.

Pairs with the other governance surfaces: ``dataops/text.py::redact_pii``
(content-level remediation) and the ``kanonymity_customer_segments``
release screen (catalog). This module is the record-level remediation: a
deletion request arrives as a set of subject keys, and every table keyed
by that subject must drop those rows — verifiably, and without rewriting
unaffected partitions more than the storage layer requires.

Scale shape: the subject set is small (a deletion request batch);
``forget_keys`` is one broadcast LEFT-ANTI join — the fact table never
shuffles. The audit counts come from one extra aggregation over the same
scan. On Delta the rewrite would be ``DELETE WHERE`` (file-level
rewrite); the parquet fallback here rewrites via dynamic partition
overwrite, consistent with io.py's slice-replace story.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.io import replace_dir


def forget_keys(
    df: DataFrame,
    keys: DataFrame,
    key_col: str,
) -> DataFrame:
    """Rows of ``df`` with every row whose ``key_col`` appears in
    ``keys`` removed — one broadcast left-anti join, fact side never
    shuffled. ``keys`` must have a column named ``key_col``."""
    if key_col not in df.columns or key_col not in keys.columns:
        raise ValueError(f"key column {key_col!r} must exist on both sides")
    return df.join(F.broadcast(keys.select(key_col)), key_col, "left_anti")


def forget_audit(
    df: DataFrame,
    keys: DataFrame,
    key_col: str,
) -> DataFrame:
    """One-row audit frame for a deletion request: rows scanned, rows
    dropped, rows kept, and the number of DISTINCT requested subjects
    actually present (requests routinely name subjects a table never
    held — the audit must distinguish "deleted" from "nothing to
    delete")."""
    marked = df.join(
        F.broadcast(keys.select(key_col).withColumn("__req", F.lit(1))),
        key_col,
        "left",
    )
    return marked.agg(
        F.count(F.lit(1)).alias("n_scanned"),
        F.count("__req").alias("n_dropped"),
        (F.count(F.lit(1)) - F.count("__req")).alias("n_kept"),
        F.count_distinct(
            F.when(F.col("__req").isNotNull(), F.col(key_col))
        ).alias("n_subjects_found"),
    )


_PART_SEG = re.compile(r"^([^=/]+)=[^/]*$")


def _partition_cols(df: DataFrame, root: str) -> list[str]:
    """Hive-style partition columns of a stored parquet table, inferred
    from the ``col=value`` directory segments between the table root and
    the data files (Spark folds them into the schema on read, so the
    frame alone can't tell a partition column from a data column)."""
    root = os.path.abspath(root.removeprefix("file:"))
    for f in df.inputFiles():
        rel = os.path.relpath(os.path.abspath(f.removeprefix("file:")), root)
        segs = rel.split(os.sep)[:-1]  # drop the filename
        cols = [m.group(1) for s in segs if (m := _PART_SEG.match(s))]
        if cols:
            return cols
    return []


def forget_in_table(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_col: str,
) -> dict[str, int]:
    """Apply a deletion request to a stored parquet table and return the
    audit counts. On a real Delta cluster this is ``DELETE WHERE``; the
    parquet path here is made failure-safe by staging, NOT by rewriting
    in place:

    1. write the filtered frame to a sibling temp directory (preserving
       the table's hive partitioning, re-inferred from its file layout),
    2. verify the staged row count equals the audited ``n_kept``,
    3. swap directories with ``io.replace_dir`` (old table renamed aside,
       staged promoted, old restored if that fails, old removed last).

    The original table stays intact until the staged copy is fully
    written AND verified — a failure at any earlier point leaves the
    table untouched (a checkpoint-then-overwrite scheme destroys it if
    an executor dies mid-overwrite, which is unacceptable for a
    compliance-deletion operator)."""
    df = spark.read.parquet(path)
    parts = _partition_cols(df, path)
    audit = {k: v for k, v in zip(
        ("n_scanned", "n_dropped", "n_kept", "n_subjects_found"),
        forget_audit(df, keys, key_col).first(),
    )}
    root = os.path.abspath(path.removeprefix("file:"))
    tmp = root.rstrip(os.sep) + ".__forget_staging"
    shutil.rmtree(tmp, ignore_errors=True)

    writer = forget_keys(df, keys, key_col).write.mode("overwrite")
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(tmp)

    staged_n = spark.read.parquet(tmp).count()
    if staged_n != audit["n_kept"]:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"forget_in_table verification failed: staged {staged_n} rows, "
            f"audit expected {audit['n_kept']}; original table untouched"
        )
    replace_dir(root, tmp)
    return audit


#: typed PII detectors — deliberately RE2-compatible subset (no
#: backreferences, no lookaround) so Java regex (Spark), RE2 (DuckDB),
#: and any other engine agree token-for-token on the same text
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d{1,2}[- ]\d{3}[- ]\d{3}[- ]\d{4}",
}


def pii_scan(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Typed PII detection + redaction over a text column — the scrub
    stage every published training corpus runs before release (pairs
    with the RTBF purge above: forgetting removes known subjects,
    scanning catches embedded identifiers nobody registered).

    Returns ``(id_col, n_email, n_ipv4, n_phone, redacted)``. Redaction
    applies the ``<TYPE>`` tags in PII_PATTERNS order, and each type's
    COUNT is measured on the text with all EARLIER types already
    redacted — email first, so an address's dotted domain is consumed
    before the ipv4 pattern can see its digits, and a span never counts
    twice under two types.

    Scale shape: pure regexp expressions — map-only, whole-stage
    codegen, zero Python in the row path, streams at scan speed. The
    patterns are an RE2-compatible subset so a second engine replays
    counts and redacted text byte-for-byte (value-oracled in the
    catalog with deterministically planted PII)."""
    from pyspark.sql import functions as F

    counts = []
    red = F.col(text_col)
    for name, p in PII_PATTERNS.items():
        counts.append(
            F.size(F.regexp_extract_all(red, F.lit(p), F.lit(0)))
            .cast("bigint")
            .alias(f"n_{name}")
        )
        red = F.regexp_replace(red, p, f"<{name.upper()}>")
    return df.select(F.col(id_col), *counts, red.alias("redacted"))
