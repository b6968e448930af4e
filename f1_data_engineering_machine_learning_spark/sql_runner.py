"""Templated SQL execution (SURVEY §2.1 S13-S14).

The reference loads .sql files and formats a ``{date}`` placeholder per
iteration (/root/reference/scripts/spark_ops.py:8-23,135-151). Reproduced
with Spark 4 parameterized queries (``spark.sql(query, args=...)`` — named
:param markers, injection-safe) while keeping a ``{brace}``-template
compatibility path for verbatim reference SQL files.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from f1_data_engineering_machine_learning_spark.io import read_sql_file


def run_sql(
    spark: SparkSession, sql: str, args: dict[str, object] | None = None
) -> DataFrame:
    """Execute SQL. ``:name`` markers use Spark's parameterized path;
    ``{name}`` templates fall back to string formatting (the reference's
    mechanism — only for trusted, file-sourced SQL)."""
    if args and re.search(r"(?<!:):[A-Za-z_]\w*", sql):
        return spark.sql(sql, args=args)
    if args:
        sql = sql.format(**args)
    return spark.sql(sql)


def run_sql_file(
    spark: SparkSession, path: str, args: dict[str, object] | None = None
) -> DataFrame:
    """S13 + S14: read a .sql file, apply args, execute."""
    return run_sql(spark, read_sql_file(path), args)

