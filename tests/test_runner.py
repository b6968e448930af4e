"""sql_runner + end-to-end pipeline runner tests."""

from __future__ import annotations

from f1_data_engineering_machine_learning_spark.pipeline.fixtures import results_fixture
from f1_data_engineering_machine_learning_spark.sql_runner import run_sql, run_sql_file


def test_run_sql_brace_template(spark):
    results_fixture(spark).createOrReplaceTempView("results")
    df = run_sql(
        spark,
        "SELECT COUNT(*) AS n FROM results WHERE year = '{year}'",
        {"year": "2022"},
    )
    assert df.collect()[0].n > 0


def test_run_sql_parameterized(spark):
    results_fixture(spark).createOrReplaceTempView("results")
    df = run_sql(
        spark,
        "SELECT COUNT(*) AS n FROM results WHERE year = :year",
        {"year": "2022"},
    )
    assert df.collect()[0].n > 0


def test_run_sql_file(spark, tmp_path):
    results_fixture(spark).createOrReplaceTempView("results")
    p = tmp_path / "q.sql"
    p.write_text("SELECT DriverId, COUNT(*) AS n FROM results GROUP BY 1")
    assert run_sql_file(spark, str(p)).count() > 0


def test_pipeline_runner_end_to_end(spark, tmp_path):
    from f1_data_engineering_machine_learning_spark.pipeline.run import run_pipeline

    summary = run_pipeline(spark, str(tmp_path / "wd"), oot_year=2023)
    assert summary["n_abt_rows"] > 0
    assert len(summary["top5"]) == 5
    assert summary["metrics"]["train"]["roc_auc"] > 0.5
    assert (tmp_path / "wd" / "top5_history.csv").exists()
    assert (tmp_path / "wd" / "bar_race.csv").exists()


def test_future_scoring(spark, tmp_path):
    """The reference's final stage: score snapshots after the training
    cutoff (/root/reference/scripts/05_ml_model.py:301-310)."""
    from f1_data_engineering_machine_learning_spark.ml import (
        impute_sentinels,
        train_champion_model,
    )
    from f1_data_engineering_machine_learning_spark.pipeline.run import (
        run_pipeline,
        score_future,
    )

    wd = str(tmp_path / "wd")
    run_pipeline(spark, wd, oot_year=2023)
    import pyspark.sql.functions as F

    abt = spark.read.parquet(f"{wd}/abt_champions")
    model = train_champion_model(abt, oot_year=2023)["model"]
    top = score_future(spark, wd, model, from_date="2023-06-01", k=3)
    rows = top.collect()
    assert len(rows) > 0
    assert all(r.dtRef > "2023-06-01" for r in rows)
    assert all(1 <= r.rank <= 3 for r in rows)
    assert all(0.0 <= r.proba <= 1.0 for r in rows)


def test_stream_dedup_matches_batch(spark, sf_dir, tmp_path):
    from f1_data_engineering_machine_learning_spark import catalog
    from f1_data_engineering_machine_learning_spark.streaming import (
        read_event_stream,
        run_available_now,
    )
    from f1_data_engineering_machine_learning_spark.streaming.jobs import dedup_stream

    src = str(tmp_path / "events_dup")
    ev = catalog._events(spark, sf_dir)
    # duplicate the source: every event twice
    ev.unionByName(ev).write.parquet(src)
    deduped = run_available_now(
        dedup_stream(read_event_stream(spark, src), ["event_id"]),
        "dedup_stream_t",
        output_mode="append",
    )
    assert deduped.count() == ev.count()


# ---------------------------------------------------------------------------
# conform_schema (io.py): schema-evolution gate
# ---------------------------------------------------------------------------


def test_conform_schema_adds_drops_casts_orders(spark):
    import pytest
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from f1_data_engineering_machine_learning_spark.io import conform_schema

    df = spark.createDataFrame(
        [("7", 1.5, "junk"), ("x", 2.5, "junk")], ["a", "b", "zz"]
    )
    target = StructType(
        [
            StructField("a", LongType()),      # retype string -> long
            StructField("b", DoubleType()),    # unchanged
            StructField("c", StringType()),    # new column
        ]
    )
    out = conform_schema(df, target)
    assert out.columns == ["a", "b", "c"]
    rows = {r.b: (r.a, r.c) for r in out.collect()}
    assert rows[1.5] == (7, None)
    assert rows[2.5] == (None, None)  # try_cast: bad value -> NULL, no throw
    assert [f.dataType for f in out.schema.fields] == [
        f.dataType for f in target.fields
    ]

    with pytest.raises(ValueError, match="zz"):
        conform_schema(df, target, on_extra="error")
    with pytest.raises(ValueError, match="'a'"):
        conform_schema(df, target, on_type_mismatch="error")
