"""End-to-end F1 pipeline runner — the rebuild of the reference's script
sequence (02_bronze -> champions -> 03_feature_store -> 04_silver abt ->
05_ml_model) as one composable entry point.

Run: ``python -m f1_data_engineering_machine_learning_spark.pipeline.run [workdir]``
(uses the synthetic fixture as the raw source; point ``build_bronze`` at a
real CSV glob for actual data).
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.ml import (
    impute_sentinels,
    score,
    train_champion_model,
)
from f1_data_engineering_machine_learning_spark.pipeline import (
    abt_champions,
    champions,
    driver_feature_store,
    event_dates,
)
from f1_data_engineering_machine_learning_spark.pipeline.fixtures import results_fixture
from f1_data_engineering_machine_learning_spark.pipeline.viz import (
    bar_race_frame,
    score_history,
    top_entities_at,
)
from f1_data_engineering_machine_learning_spark.plans import IncrementalIngestor


def run_pipeline(
    spark: SparkSession,
    workdir: str,
    results=None,
    oot_year: int = 2023,
    mode: str = "single_pass",
    incremental: bool = False,
) -> dict:
    """Bronze -> champions -> feature store -> ABT -> model -> viz frames.

    ``incremental=True`` materializes the feature store through the
    IncrementalIngestor (per-date slice overwrite, the reference's
    mechanism); otherwise the single-pass engine computes it in one job."""
    results = results if results is not None else results_fixture(spark)
    results.createOrReplaceTempView("results")

    champ = champions(results)
    champ.write.mode("overwrite").parquet(f"{workdir}/champions")

    dates = event_dates(results)
    if incremental:
        from f1_data_engineering_machine_learning_spark.pipeline import (
            driver_feature_snapshot,
        )

        ing = IncrementalIngestor(
            lambda d: driver_feature_snapshot(results, d),
            f"{workdir}/feature_store_drivers",
        )
        ing.exec(dates)
        # dtYear/dtRef were partition columns; restore dtYear's int type
        fs = ing.read().withColumn(
            "dtYear", F.year(F.col("dtRef").cast("date"))
        )
    else:
        fs = driver_feature_store(results, dates, mode=mode)
        fs.write.mode("overwrite").parquet(f"{workdir}/feature_store_drivers")
        fs = spark.read.parquet(f"{workdir}/feature_store_drivers")

    abt = abt_champions(fs, spark.read.parquet(f"{workdir}/champions"), oot_year + 1)
    abt.write.mode("overwrite").parquet(f"{workdir}/abt_champions")
    abt = spark.read.parquet(f"{workdir}/abt_champions")

    result = train_champion_model(abt, oot_year=oot_year)
    # every ABT row, scored once by the training call and still cached
    scored = result["scored"]
    try:
        last_ref = scored.agg(F.max("dtRef")).first()[0]
        top5 = top_entities_at(scored, "dtRef", last_ref)
        history = score_history(scored, top5).toPandas()
        race = bar_race_frame(scored.filter(scored.DriverId.isin(top5))).toPandas()
    finally:
        scored.unpersist()
    history.to_csv(f"{workdir}/top5_history.csv", index=False)
    race.to_csv(f"{workdir}/bar_race.csv", index=False)

    return {
        "metrics": result["metrics"],
        "top5": top5,
        "n_abt_rows": abt.count(),
        "n_snapshots": len(dates),
        "importances_top5": result["importances"][:5],
    }


def score_future(
    spark: SparkSession,
    workdir: str,
    model,
    from_date: str,
    k: int = 5,
):
    """Future scoring — the reference's final stage
    (/root/reference/scripts/05_ml_model.py:301-310): re-read the feature
    store, keep snapshots strictly after the training cutoff
    (``dtRef > from_date``, the P7 string filter), score, return the top-k
    candidates per snapshot date. Stays distributed; only the k rows per
    date are collected by callers."""
    from f1_data_engineering_machine_learning_spark.operators.windows import topk_per_group

    fs = spark.read.parquet(f"{workdir}/feature_store_drivers")
    future = fs.filter(f"dtRef > '{from_date}'")
    scored = score(model, impute_sentinels(future))
    return topk_per_group(
        scored.select("dtRef", "DriverId", "proba"),
        ["dtRef"],
        [F.desc("proba"), F.col("DriverId")],
        k,
        rn_col="rank",
    )


def main() -> None:
    from f1_data_engineering_machine_learning_spark.session import build_session

    workdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/f1_pipeline"
    spark = build_session(app_name="f1-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    summary = run_pipeline(spark, workdir)
    print(json.dumps(summary, default=str, indent=2))


if __name__ == "__main__":
    main()
