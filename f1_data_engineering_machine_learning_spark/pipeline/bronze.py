"""Bronze stage: raw ;-separated CSVs -> one all-string table.

Reproduces /root/reference/scripts/02_bronze.py:35-109: glob-resolved
multi-file CSV read with header and NO schema (every column StringType —
the load-bearing schema-on-read contract, SURVEY §1.2), written as a single
overwritten table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from f1_data_engineering_machine_learning_spark.io import (
    read_csv_all_string,
    write_table_overwrite,
)

#: columns consumed downstream (/root/reference/sql/feature_store_drivers.sql:2-14)
RESULTS_COLUMNS = [
    "DriverNumber",
    "DriverId",
    "TeamId",
    "Position",
    "GridPosition",
    "Status",
    "Points",
    "Laps",
    "identifier",
    "date",
    "year",
    "RoundNumber",
    "Country",
    "Location",
    "OfficialEventName",
]


def build_bronze(
    spark: SparkSession,
    input_glob: str,
    output_path: str | None = None,
    view_name: str = "results",
) -> DataFrame:
    """CSV -> bronze. Writes (optional) and registers the ``results`` view
    (/root/reference/scripts/02_bronze.py:97-109 +
    /root/reference/scripts/spark_ops.py:49-64)."""
    df = read_csv_all_string(spark, input_glob, sep=";")
    if output_path:
        # the reference coalesces to 1 file (tiny data); no coalesce here,
        # so the write is not a single-task bottleneck
        write_table_overwrite(df, output_path)
        df = spark.read.parquet(output_path)
    df.createOrReplaceTempView(view_name)
    return df
