"""Champions: top-1 driver per season by total points.

Reproduces /root/reference/sql/champions.sql:1-25 — GROUP BY (year,
DriverId) SUM(Points) + ROW_NUMBER PARTITION BY year ORDER BY total DESC +
rn=1 — via the operator library. The reference's tie-break is
nondeterministic (SURVEY §7 hard part (c)); here DriverId breaks ties so
results are stable across partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.operators import top1_per_group


def champions(results: DataFrame) -> DataFrame:
    """``results`` is the bronze all-string table; SUM(Points) relies on the
    implicit string->double cast (/root/reference/sql/champions.sql:6),
    made explicit here (SURVEY §7 hard part (b))."""
    totals = results.groupBy("year", "DriverId").agg(
        F.sum(F.col("Points").cast("double")).alias("total_points")
    )
    return top1_per_group(
        totals,
        ["year"],
        [F.desc("total_points"), F.col("DriverId")],
        rn_col="rn_driver",
        keep_rn=True,
    )
