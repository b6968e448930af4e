"""Property: per-date snapshots unioned (``snapshot_loop``, the test-side
reference in ``tests/snapshot_reference.py``) == the window engine on
randomized fact tables and on the calendar edge cases, with ANSI on and
off."""

from __future__ import annotations

import random

import pytest

from f1_data_engineering_machine_learning_spark.plans.snapshot import (
    Agg,
    SnapshotSpec,
    asof,
    current_period,
    snapshot_single_pass,
    trailing,
)
from tests.snapshot_reference import snapshot_loop
from tests.util_compare import assert_frames_equal


@pytest.fixture(params=[False, True], ids=["ansi_off", "ansi_on"])
def ansi(spark, request):
    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, str(request.param).lower())
    yield request.param
    spark.conf.set(key, before)


def _random_facts(spark, rng: random.Random, n: int):
    rows = [
        (
            f"e{rng.randint(0, 8)}",
            f"2023-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} 12:00:00",
            float(rng.randint(0, 100)),
            rng.choice(["a", "b"]),
        )
        for _ in range(n)
    ]
    return spark.createDataFrame(rows, "k string, d string, v double, kind string")


def _spec(activity_scope: str) -> SnapshotSpec:
    return SnapshotSpec(
        entity_keys=["k"],
        date_col="d",
        scopes={
            "life": asof(),
            "90d": trailing("90 DAY"),
            "year1": trailing("1 YEAR"),
            "season": current_period("year"),
        },
        aggs=[
            ("n", "life", Agg("count")),
            ("n_a", "life", Agg("count", cond="kind = 'a'")),
            ("avg_v", "life", Agg("avg", "v")),
            ("med_v", "life", Agg("median", "v")),
            ("n_90d", "90d", Agg("count")),
            ("sum_v_90d", "90d", Agg("sum", "v")),
            ("med_v_90d", "90d", Agg("median", "v")),
            ("n_year1", "year1", Agg("count")),
            ("n_season", "season", Agg("count")),
            ("avg_a_season", "season", Agg("avg", "v", "kind = 'a'")),
        ],
        activity_scope=activity_scope,
        extra_cols={"dtYear": "year(dtRef)"},
    )


def _both(facts, spec, dates):
    a = snapshot_loop(facts, spec, dates).toPandas()
    b = snapshot_single_pass(facts, spec, dates).toPandas()
    a["dtRef"] = a["dtRef"].astype(str)
    b["dtRef"] = b["dtRef"].astype(str)
    return a, b


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_loop_equals_single_pass_random(spark, seed):
    rng = random.Random(seed)
    facts = _random_facts(spark, rng, 300)
    dates = sorted(
        {f"2023-{rng.randint(2, 12):02d}-15" for _ in range(4)}
    )
    a, b = _both(facts, _spec("90d"), dates)
    assert_frames_equal(a, b, f"snapshot-equivalence seed={seed}")
    assert len(a) > 0


#: snapshot dates of the edge-case table: none is an event date except the
#: leap day, which also has a fact dated on it
_EDGE_DATES = ["2023-12-31", "2024-02-20", "2024-02-29", "2024-07-01"]


def _edge_facts(spark):
    rows = [
        # facts dated on the snapshot date itself (RANGE peers)
        ("peer", "2024-01-10 08:00:00", 3.0, "a"),
        ("peer", "2024-02-29 12:00:00", 5.0, "a"),
        ("peer", "2024-02-29 18:00:00", 7.0, "b"),
        # the trailing-year boundary: 2024-02-29 - 1 year = 2023-02-28
        ("leap", "2023-02-27 12:00:00", 1.0, "a"),
        ("leap", "2023-02-28 12:00:00", 2.0, "b"),
        # every fact after the first snapshot dates
        ("future", "2024-06-01 12:00:00", 4.0, "a"),
        # last fact more than a year before every snapshot date
        ("lapsed", "2022-06-01 12:00:00", 9.0, "b"),
        ("lapsed", "2022-11-30 12:00:00", 8.0, "a"),
        # the previous season only: in the trailing year, not in the season
        ("season", "2023-09-01 12:00:00", 6.0, "a"),
        ("season", "2023-12-31 23:00:00", 2.0, "a"),
    ]
    return spark.createDataFrame(rows, "k string, d string, v double, kind string")


def test_loop_equals_single_pass_calendar_edges(spark, ansi):
    facts = _edge_facts(spark)
    # one date (the per-date ingest unit), no dates, and a date before
    # every fact
    for dates in (["2024-02-29"], [], ["2022-01-01"]):
        a, b = _both(facts, _spec("year1"), dates)
        assert_frames_equal(a, b, f"snapshot-edges {dates} ansi={ansi}")
        assert len(b) == (3 if dates == ["2024-02-29"] else 0), dates
    a, b = _both(facts, _spec("year1"), _EDGE_DATES)
    assert_frames_equal(a, b, f"snapshot-edges ansi={ansi}")
    got = {(r.k, r.dtRef): r for r in b.itertuples()}
    # peers on the snapshot date are in every scope
    assert got[("peer", "2024-02-29")].n == 3
    assert got[("peer", "2024-02-29")].n_season == 3
    assert got[("peer", "2024-02-20")].n == 1
    # 2023-02-28 is inside the leap day's trailing year, 2023-02-27 is not
    assert got[("leap", "2024-02-29")].n_year1 == 1
    assert got[("leap", "2024-02-29")].n == 2
    assert got[("leap", "2024-02-20")].n_year1 == 2
    assert ("leap", "2024-07-01") not in got
    # no row before the first fact, one after it
    assert [d for k, d in got if k == "future"] == ["2024-07-01"]
    # lapsed beyond the activity interval: no row at all
    assert not [d for k, d in got if k == "lapsed"]
    # a new season: NULL season aggregates, trailing-year counts intact
    row = got[("season", "2024-02-20")]
    assert row.n_year1 == 2
    assert row.n_season is None or row.n_season != row.n_season  # NULL
    assert got[("season", "2023-12-31")].n_season == 2


def test_single_pass_without_activity_scope(spark, ansi):
    """No activity gate: an entity has a row at every snapshot date on or
    after its first fact, however long ago its last fact was."""
    a, b = _both(_edge_facts(spark), _spec(None), _EDGE_DATES)
    assert_frames_equal(a, b, f"snapshot-no-activity ansi={ansi}")
    assert sorted(d for k, d in zip(b["k"], b["dtRef"]) if k == "lapsed") == _EDGE_DATES


def test_rollup_cascade_equals_direct(spark, sf_dir):
    """Each cascaded level must equal the same aggregation from raw."""
    from f1_data_engineering_machine_learning_spark import catalog
    from f1_data_engineering_machine_learning_spark.plans.rollup import (
        cascade,
        rollup_level,
    )
    from tests.util_compare import assert_frames_equal

    ev = catalog._events(spark, sf_dir)
    levels = cascade(ev, "ts", ["event_type"], "value", levels=("minute", "hour", "day"))
    for level in ("hour", "day"):
        direct = rollup_level(ev, level, "ts", ["event_type"], "value").toPandas()
        composed = levels[level].toPandas()
        for df in (direct, composed):
            df["bucket"] = df["bucket"].astype(str)
            df["sum_v"] = df["sum_v"].astype(float)
        assert_frames_equal(composed, direct, f"cascade@{level}")
