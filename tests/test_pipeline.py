"""F1 pipeline golden tests: DuckDB runs a faithful translation of the
reference SQL over the same fixture; our DataFrame recomposition must match
exactly (SURVEY §5 rebuild strategy, items 2-3)."""

from __future__ import annotations

import duckdb
import pytest

from f1_data_engineering_machine_learning_spark.operators.reshape import union_all
from f1_data_engineering_machine_learning_spark.pipeline import (
    abt_champions,
    champions,
    driver_feature_snapshot,
    driver_feature_store,
    event_dates,
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


def _fs_oracle(date: str) -> str:
    """Faithful DuckDB translation of
    /root/reference/sql/feature_store_drivers.sql for one snapshot date:
    PERCENTILE -> quantile_cont, INT(FLOAT(x)) -> TRY_CAST chain,
    TO_DATE(TO_TIMESTAMP(x)) -> CAST chain; structure (4 CTEs + joins)
    preserved."""
    metrics = []
    for suffix, extra_where in (
        ("", ""),
        ("1Year", f"AND dtEvent >= (DATE '{date}' - INTERVAL 1 YEAR)"),
        ("CurrentTemp", f"AND YEAR(dtEvent) >= YEAR(DATE '{date}')"),
    ):
        cols = []
        if suffix == "":
            cols += [
                "COUNT(*) AS qtdRuns",
                "SUM(CASE WHEN identifier = 'race' THEN 1 ELSE 0 END) AS qtdRace",
                "SUM(CASE WHEN identifier = 'sprint' THEN 1 ELSE 0 END) AS qtdSprint",
            ]
        for base, val in (
            ("Position", "Position"),
            ("PositionRace", "Position"),
            ("PositionSprint", "Position"),
            ("GridPosition", "GridPosition"),
            ("GridPositionRace", "GridPosition"),
            ("GridPositionSprint", "GridPosition"),
            ("PositionGain", "GridPosition - Position"),
            ("PositionRaceGain", "GridPosition - Position"),
            ("PositionSprintGain", "GridPosition - Position"),
        ):
            if base.endswith("Race") or "Race" in base:
                expr = f"CASE WHEN identifier = 'race' THEN {val} END"
            elif "Sprint" in base:
                expr = f"CASE WHEN identifier = 'sprint' THEN {val} END"
            else:
                expr = val
            name = f"avg{base}{suffix}"
            if (base, suffix) == ("PositionGain", "CurrentTemp"):
                name = "avgPositioCurrentTemp"  # the reference's typo, line 100
            cols.append(f"AVG({expr}) AS {name}")
        for base, val in (
            ("Position", "Position"),
            ("PositionRace", "Position"),
            ("PositionSprint", "Position"),
            ("GridPosition", "GridPosition"),
            ("GridPositionRace", "GridPosition"),
            ("GridPositionSprint", "GridPosition"),
            ("PositionGain", "GridPosition - Position"),
            ("PositionRaceGain", "GridPosition - Position"),
            ("PositionSprintGain", "GridPosition - Position"),
        ):
            if "Race" in base:
                expr = f"CASE WHEN identifier = 'race' THEN {val} END"
            elif "Sprint" in base:
                expr = f"CASE WHEN identifier = 'sprint' THEN {val} END"
            else:
                expr = val
            cols.append(f"quantile_cont({expr}, 0.5) AS median{base}{suffix}")
        cols += [
            f"SUM(CASE WHEN Position = 1 THEN 1 ELSE 0 END) AS qtdeWins{suffix}",
            f"SUM(CASE WHEN Position <= 3 THEN 1 ELSE 0 END) AS qtdePodiums{suffix}",
            f"SUM(CASE WHEN GridPosition = 1 THEN 1 ELSE 0 END) AS qtdePoles{suffix}",
        ]
        if suffix == "CurrentTemp":
            cols.append("SUM(CAST(Points AS DOUBLE)) AS totalPointsCurrentTemp")
        metrics.append((suffix, extra_where, ",\n           ".join(cols)))

    life_cols, year_cols, cur_cols = metrics[0][2], metrics[1][2], metrics[2][2]
    return f"""
WITH tb_results AS (
    SELECT DriverId, identifier, Points,
           COALESCE(TRY_CAST(TRY_CAST(Position AS DOUBLE) AS INTEGER), 99) AS Position,
           COALESCE(TRY_CAST(TRY_CAST(GridPosition AS DOUBLE) AS INTEGER), 99) AS GridPosition,
           CAST(CAST(date AS TIMESTAMP) AS DATE) AS dtEvent,
           RoundNumber
    FROM results
    WHERE CAST(CAST(date AS TIMESTAMP) AS DATE) <= DATE '{date}'
),
tb_event AS (SELECT DISTINCT dtEvent, RoundNumber FROM tb_results),
tb_drivers AS (
    SELECT DISTINCT DriverId FROM tb_results
    WHERE dtEvent >= (DATE '{date}' - INTERVAL 1 YEAR)
),
tb_agg_life AS (
    SELECT DriverId, MAX('{date}') AS dtRef,
           YEAR(DATE '{date}') AS dtYear,
           {life_cols}
    FROM tb_results
    WHERE DriverId IN (SELECT DriverId FROM tb_drivers)
    GROUP BY DriverId
),
tb_agg_last_year AS (
    SELECT DriverId, {year_cols}
    FROM tb_results
    WHERE DriverId IN (SELECT DriverId FROM tb_drivers)
      {metrics[1][1]}
    GROUP BY DriverId
),
tb_agg_current_temp AS (
    SELECT DriverId, {cur_cols}
    FROM tb_results
    WHERE DriverId IN (SELECT DriverId FROM tb_drivers)
      {metrics[2][1]}
    GROUP BY DriverId
)
SELECT t4.RoundNumber AS tempRoundNumber, t1.*,
       t2.* EXCLUDE (DriverId), t3.* EXCLUDE (DriverId)
FROM tb_agg_life t1
LEFT JOIN tb_agg_last_year t2 ON t1.DriverId = t2.DriverId
LEFT JOIN tb_agg_current_temp t3 ON t1.DriverId = t3.DriverId
LEFT JOIN tb_event t4 ON CAST(t1.dtRef AS DATE) = t4.dtEvent
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
    got = driver_feature_snapshot(f1["df"], date).toPandas()
    want = f1["con"].sql(_fs_oracle(date)).df()
    assert_frames_equal(got, want, f"feature_store@{date}")
    assert len(got) > 0


def test_loop_and_single_pass_agree(f1):
    # reference: one per-date snapshot aggregation per date, unioned
    dates = ["2022-03-05", "2022-07-01", "2023-07-15"]
    a = union_all([driver_feature_snapshot(f1["df"], d) for d in dates]).toPandas()
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
