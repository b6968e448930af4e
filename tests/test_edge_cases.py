"""Edge cases: empty inputs, degenerate groups, alternate fixture seeds."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.dataops import dedup, similarity, text
from f1_data_engineering_machine_learning_spark.pipeline import (
    champions,
    driver_feature_snapshot,
)
from f1_data_engineering_machine_learning_spark.pipeline.fixtures import results_fixture
from f1_data_engineering_machine_learning_spark.plans.snapshot import (
    SnapshotSpec,
    asof,
    scoped_count,
    snapshot_single_pass,
)
from tests.util_compare import assert_frames_equal


def test_golden_parity_holds_for_other_seeds(spark):
    """The DuckDB golden parity must not be seed-luck: re-run champions +
    one feature snapshot on a fixture with a different seed."""
    from f1_data_engineering_machine_learning_spark.pipeline import oracle
    from tests.test_pipeline import CHAMPIONS_ORACLE

    df = results_fixture(spark, seed=1234)
    con = duckdb.connect()
    con.register("results", df.toPandas())
    assert_frames_equal(
        champions(df).toPandas(), con.sql(CHAMPIONS_ORACLE).df(), "champions@seed1234"
    )
    date = "2022-09-01"
    assert_frames_equal(
        driver_feature_snapshot(df, date).toPandas(),
        con.sql(f"SELECT * FROM {oracle._fs_snapshot_sql(date)}").df(),
        f"fs@{date}@seed1234",
    )


def test_snapshot_empty_facts(spark):
    facts = spark.createDataFrame([], "k string, d timestamp, v double")
    spec = SnapshotSpec(
        entity_keys=["k"],
        date_col="d",
        scopes={"life": asof()},
        aggs=[("n", "life", scoped_count())],
    )
    out = snapshot_single_pass(facts, spec, ["2024-01-01"])
    assert out.count() == 0
    assert set(out.columns) == {"k", "dtRef", "n"}


def test_snapshot_date_before_all_facts(spark):
    facts = spark.createDataFrame(
        [("a", "2024-06-01 00:00:00", 1.0)], "k string, d string, v double"
    )
    spec = SnapshotSpec(
        entity_keys=["k"],
        date_col="d",
        scopes={"life": asof()},
        aggs=[("n", "life", scoped_count())],
    )
    assert snapshot_single_pass(facts, spec, ["2020-01-01"]).count() == 0


def test_dedup_empty_and_single(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert dedup.exact_dedup(empty, "doc_id", "text").count() == 0
    assert dedup.ngram_jaccard_pairs(empty, "doc_id", "text").count() == 0
    one = spark.createDataFrame([(1, "only doc here")], ["doc_id", "text"])
    assert dedup.minhash_dedup_pairs(one, "doc_id", "text").count() == 0
    assert dedup.simhash_candidates(one, "doc_id", "text").count() == 0


def test_text_ops_on_empty_string(spark):
    df = spark.createDataFrame([("",), ("   ",)], ["text"])
    rows = df.select(
        text.token_count("text").alias("n"),
        text.quality_score("text").alias("q"),
        text.lang_id("text").alias("lang"),
        text.content_fingerprint("text").alias("fp"),
    ).collect()
    for r in rows:
        assert r.q is not None and 0 <= r.q <= 1
        assert r.lang == "und"
        assert r.fp is not None


def test_cosine_topk_fewer_neighbors_than_k(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5])], ["vec_id", "embedding"]
    )
    out = similarity.cosine_topk(df.filter(F.col("vec_id") == 0), df, k=10)
    assert out.count() == 1  # only one possible neighbor


def test_group_split_empty_side_impossible(spark):
    """Tiny frame: split must still partition all rows, never drop any."""
    from f1_data_engineering_machine_learning_spark.ml import group_random_split

    df = spark.createDataFrame(
        [("a", 2020, 1.0), ("b", 2020, 2.0), ("c", 2021, 3.0)],
        ["DriverId", "dtYear", "x"],
    )
    train, test = group_random_split(df)
    assert train.count() + test.count() == 3


def test_snapshot_spec_validation(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    facts = spark.createDataFrame([("a", "2024-01-01", 1.0)], "k string, d string, v double")
    bad = SnapshotSpec(
        entity_keys=["k"],
        date_col="d",
        scopes={"life": asof()},
        aggs=[("n", "nope", scoped_count())],
    )
    with _pytest.raises(ValueError, match="unknown scopes"):
        snapshot_single_pass(facts, bad, ["2024-02-01"]).collect()


def test_asof_join_validation(spark):
    import pytest as _pytest
    from f1_data_engineering_machine_learning_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, "2024-01-01")], "k long, ts string")
    right = spark.createDataFrame([(1, "2024-01-01", 2.0)], "k long, ts string, v double")
    with _pytest.raises(ValueError, match="value_cols missing"):
        asof_join(left, right, ["k"], "ts", ["missing_col"])
