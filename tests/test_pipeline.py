"""F1 pipeline golden tests: DuckDB runs a faithful translation of the
reference SQL over the same fixture; our DataFrame recomposition must match
exactly (SURVEY §5 rebuild strategy, items 2-3)."""

from __future__ import annotations

import duckdb
import pytest

from f1_data_engineering_machine_learning_spark.pipeline import (
    abt_champions,
    champions,
    driver_feature_snapshot,
    driver_feature_store,
    event_dates,
    oracle,
)
from f1_data_engineering_machine_learning_spark.pipeline.fixtures import results_fixture
from tests.util_compare import assert_frames_equal

# faithful DuckDB translation of /root/reference/sql/champions.sql (ordinal
# GROUP BY, implicit string->double SUM made explicit, deterministic
# tie-break added on both sides)
CHAMPIONS_ORACLE = """
WITH t1 AS (
  SELECT year, DriverId, SUM(CAST(Points AS DOUBLE)) AS total_points
  FROM results GROUP BY 1, 2
), t2 AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY year ORDER BY total_points DESC, DriverId) AS rn_driver
  FROM t1
)
SELECT * FROM t2 WHERE rn_driver = 1
"""


@pytest.fixture(scope="module")
def f1(spark):
    df = results_fixture(spark)
    pdf = df.toPandas()
    con = duckdb.connect()
    con.register("results", pdf)
    return {"df": df, "con": con}


def test_champions_matches_reference_sql(f1):
    got = champions(f1["df"]).toPandas()
    want = f1["con"].sql(CHAMPIONS_ORACLE).df()
    assert_frames_equal(got, want, "champions")
    assert len(got) == 3  # one champion per season


@pytest.mark.parametrize(
    "date", ["2021-06-20", "2022-03-05", "2023-07-15", "2023-11-01"]
)
def test_feature_snapshot_matches_reference_sql(f1, date):
    """The per-date path against the reference SQL replayed in DuckDB
    (pipeline/oracle.py), independent of the snapshot engine."""
    got = driver_feature_snapshot(f1["df"], date).toPandas()
    want = f1["con"].sql(f"SELECT * FROM {oracle._fs_snapshot_sql(date)}").df()
    assert_frames_equal(got, want, f"feature_store@{date}")
    assert len(got) > 0


def test_loop_and_single_pass_agree(f1):
    # reference: one per-date group-by aggregation per date, unioned
    from f1_data_engineering_machine_learning_spark.pipeline.feature_store import (
        _attach_round,
        _spec,
        typed_results,
    )
    from tests.snapshot_reference import snapshot_loop

    dates = ["2022-03-05", "2022-07-01", "2023-07-15"]
    typed = typed_results(f1["df"])
    a = _attach_round(snapshot_loop(typed, _spec(), dates), typed).toPandas()
    b = driver_feature_store(f1["df"], dates).toPandas()
    assert_frames_equal(a, b, "loop-vs-single-pass")


def test_incremental_ingest_equals_single_pass_store(f1, tmp_path):
    """The reference's per-date slice overwrite (IncrementalIngestor over
    driver_feature_snapshot) and the single-pass store agree row for row
    over dates that cross a season boundary (last two 2021 events, first
    three 2022 events) and a sprint weekend (2022's sprint Saturday and
    race Sunday), read back from the partitioned table."""
    from pyspark.sql import functions as F

    from f1_data_engineering_machine_learning_spark.pipeline.feature_store import (
        driver_snapshot_columns,
    )
    from f1_data_engineering_machine_learning_spark.plans import IncrementalIngestor

    all_dates = event_dates(f1["df"])
    dates = [d for d in all_dates if d < "2022"][-2:]
    dates += [d for d in all_dates if d.startswith("2022")][:3]
    assert dates[-2:] == ["2022-03-14", "2022-03-15"]  # sprint, race
    ing = IncrementalIngestor(
        lambda d: driver_feature_snapshot(f1["df"], d), str(tmp_path / "fs")
    )
    ing.exec(dates)
    # dtYear/dtRef come back as partition columns: restore their types
    ref = F.col("dtRef").cast("date")
    got = (
        ing.read()
        .withColumn("dtYear", F.year(ref))
        .withColumn("dtRef", F.date_format(ref, "yyyy-MM-dd"))
        .select(*driver_snapshot_columns())
        .toPandas()
    )
    want = driver_feature_store(f1["df"], dates).toPandas()
    assert_frames_equal(got, want, "incremental-vs-single-pass")
    assert sorted(set(got["dtRef"])) == dates


def test_snapshot_job_counts(f1, tmp_path, spark):
    """Job budgets of the snapshot engine: a store write over three dates
    and one ingested date (the same engine on ``[date]``) each run 5
    jobs. The marker grid is an exploded literal, so no job broadcasts a
    date dimension."""
    from f1_data_engineering_machine_learning_spark.plans import IncrementalIngestor
    from tests.util_jobs import jobs_launched

    dates = ["2022-03-05", "2022-07-01", "2023-07-15"]
    _, jobs = jobs_launched(
        spark,
        lambda: driver_feature_store(f1["df"], dates)
        .write.mode("overwrite")
        .parquet(str(tmp_path / "store")),
    )
    assert jobs == 5
    ing = IncrementalIngestor(
        lambda d: driver_feature_snapshot(f1["df"], d), str(tmp_path / "fs")
    )
    _, jobs = jobs_launched(spark, lambda: ing.exec(["2022-07-01"]))
    assert jobs == 5


def test_abt_labels(f1):
    dates = event_dates(f1["df"])
    fs = driver_feature_store(f1["df"], dates[-4:])
    champ = champions(f1["df"])
    abt = abt_champions(fs, champ, oot_bound=2024).toPandas()
    assert set(abt["flChamp"]) <= {0, 1}
    assert (abt["dtYear"] < 2024).all()
    assert abt["avgPositionCurrentTemp"].notna().all()
    # every labeled row's (DriverId, dtYear) must be a champion pair
    champs = {(r.DriverId, int(r.year)) for r in champ.collect()}
    flagged = {
        (r.DriverId, r.dtYear) for _, r in abt.iterrows() if r.flChamp == 1
    }
    assert flagged <= champs and len(flagged) > 0


def test_event_dates_sorted_distinct(f1):
    dates = event_dates(f1["df"], start="2022-01-01", stop="2022-12-31")
    assert dates == sorted(set(dates))
    assert all(d.startswith("2022") for d in dates)
    assert len(dates) == 13  # 10 races + 3 sprint saturdays


def test_ingestor_idempotent(f1, tmp_path, spark):
    from f1_data_engineering_machine_learning_spark.plans import IncrementalIngestor

    path = str(tmp_path / "fs")
    ing = IncrementalIngestor(
        lambda d: driver_feature_snapshot(f1["df"], d), path
    )
    dates = ["2022-03-05", "2022-07-01"]
    ing.exec(dates)
    first = ing.read().toPandas()
    ing.exec(dates[1:])  # re-run one slice — must replace, not append
    second = ing.read().toPandas()
    assert_frames_equal(first, second, "ingestor-idempotency")


def test_upsert_table(spark, tmp_path):
    """MERGE semantics: matched keys replaced, new keys appended, idempotent."""
    from f1_data_engineering_machine_learning_spark.plans.ingest import upsert_table

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], ["id", "name", "v"]
    )
    upsert_table(spark, path, base, ["id"])

    updates = spark.createDataFrame(
        [(2, "b2", 25.0), (3, "c", 30.0)], ["id", "name", "v"]
    )
    upsert_table(spark, path, updates, ["id"])
    got = {r.id: (r.name, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 25.0), 3: ("c", 30.0)}

    # idempotent: re-applying the same updates changes nothing
    upsert_table(spark, path, updates, ["id"])
    again = {r.id: (r.name, r.v) for r in spark.read.parquet(path).collect()}
    assert again == got
