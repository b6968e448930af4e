"""Driver feature store: point-in-time snapshots of per-driver form.

Reproduces /root/reference/sql/feature_store_drivers.sql end to end on the
generic snapshot engine (plans/snapshot.py):

- ``typed_results``   = the tb_results CTE (lines 1-17): sentinel casts,
  string-timestamp -> date, projection.
- scopes              = lifetime ("", line 30-61) / trailing calendar year
  ("1Year", 63-90) / current season ("CurrentTemp", 92-120).
- activity gate       = tb_drivers (lines 24-28): drivers with >=1 result in
  the trailing year of the snapshot date.
- tempRoundNumber     = tb_event join (lines 19-22, 171).

Column names match the reference byte-for-byte — including its
``avgPositioCurrentTemp`` typo (line 100), which downstream ML consumes as a
feature name and therefore IS the contract.

Entry points: ``driver_feature_store`` (many dates in one pass of the
running-window engine) and ``driver_feature_snapshot`` (one date, the
reference's unit of work, which ``IncrementalIngestor`` materializes date
by date). Both run the same engine; one date is ``[date]``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.functions import sentinel_int, str_to_date
from f1_data_engineering_machine_learning_spark.plans.snapshot import (
    DT_REF,
    Agg,
    SnapshotSpec,
    asof,
    current_period,
    scoped_avg,
    scoped_count,
    scoped_median,
    scoped_sum,
    snapshot_single_pass,
    trailing,
)

def _metrics() -> list[tuple[str, Column, Column | None]]:
    """(metric base name, value column, inner condition) — the 9-avg/9-median
    set. Built lazily: Column construction needs an active SparkContext."""
    pos = F.col("Position")
    grid = F.col("GridPosition")
    gain = grid - pos
    race = F.col("identifier") == "race"
    sprint = F.col("identifier") == "sprint"
    return [
        ("Position", pos, None),
        ("PositionRace", pos, race),
        ("PositionSprint", pos, sprint),
        ("GridPosition", grid, None),
        ("GridPositionRace", grid, race),
        ("GridPositionSprint", grid, sprint),
        ("PositionGain", gain, None),
        ("PositionRaceGain", gain, race),
        ("PositionSprintGain", gain, sprint),
    ]

#: exact reference naming: avg columns drop the "Gain" suffix ordering —
#: avgPositionGain / avgPositionRaceGain / avgPositionSprintGain — and the
#: current-season gain avg is typo'd (feature_store_drivers.sql:100)
_AVG_NAME_OVERRIDES = {("PositionGain", "CurrentTemp"): "avgPositioCurrentTemp"}


def _block(scope: str, suffix: str) -> list[tuple[str, str, Agg]]:
    """One scope's aggregate block in the reference's column order."""
    pos, grid = F.col("Position"), F.col("GridPosition")
    race = F.col("identifier") == "race"
    sprint = F.col("identifier") == "sprint"
    aggs: list[tuple[str, str, Agg]] = []
    if scope == "life":
        aggs += [
            ("qtdRuns", scope, scoped_count()),
            ("qtdRace", scope, scoped_count(race)),
            ("qtdSprint", scope, scoped_count(sprint)),
        ]
    metrics = _metrics()
    for base, val, cond in metrics:
        name = _AVG_NAME_OVERRIDES.get((base, suffix), f"avg{base}{suffix}")
        aggs.append((name, scope, scoped_avg(val, cond)))
    for base, val, cond in metrics:
        aggs.append((f"median{base}{suffix}", scope, scoped_median(val, cond)))
    aggs += [
        (f"qtdeWins{suffix}", scope, scoped_count(pos == 1)),
        (f"qtdePodiums{suffix}", scope, scoped_count(pos <= 3)),
        (f"qtdePoles{suffix}", scope, scoped_count(grid == 1)),
    ]
    if scope == "current":
        aggs.append(
            (
                f"totalPoints{suffix}",
                scope,
                scoped_sum(F.col("Points").cast("double")),
            )
        )
    return aggs


def _spec() -> SnapshotSpec:
    return SnapshotSpec(
        entity_keys=["DriverId"],
        date_col="dtEvent",
        scopes={
            "life": asof(),
            "year1": trailing("1 YEAR"),
            "current": current_period("year"),
        },
        aggs=(
            _block("life", "")
            + _block("year1", "1Year")
            + _block("current", "CurrentTemp")
        ),
        activity_scope="year1",
        extra_cols={"dtYear": lambda ref: F.year(ref)},
    )


_METRIC_BASES = [
    "Position",
    "PositionRace",
    "PositionSprint",
    "GridPosition",
    "GridPositionRace",
    "GridPositionSprint",
    "PositionGain",
    "PositionRaceGain",
    "PositionSprintGain",
]


def _block_names(scope: str, suffix: str) -> list[str]:
    """Column NAMES of one scope's block — pure strings, no SparkContext
    needed (the oracle generator renders these at import time)."""
    names: list[str] = []
    if scope == "life":
        names += ["qtdRuns", "qtdRace", "qtdSprint"]
    for base in _METRIC_BASES:
        names.append(_AVG_NAME_OVERRIDES.get((base, suffix), f"avg{base}{suffix}"))
    for base in _METRIC_BASES:
        names.append(f"median{base}{suffix}")
    names += [f"qtdeWins{suffix}", f"qtdePodiums{suffix}", f"qtdePoles{suffix}"]
    if scope == "current":
        names.append(f"totalPoints{suffix}")
    return names


def driver_snapshot_columns() -> list[str]:
    """Full output column order
    (/root/reference/sql/feature_store_drivers.sql:122-167)."""
    return (
        ["tempRoundNumber", "DriverId", "dtRef", "dtYear"]
        + _block_names("life", "")
        + _block_names("year1", "1Year")
        + _block_names("current", "CurrentTemp")
    )


def typed_results(results: DataFrame) -> DataFrame:
    """The tb_results projection (feature_store_drivers.sql:1-15): sentinel
    int casts for positions, string-timestamp -> dtEvent. The as-of gate is
    applied by the snapshot engine, not here."""
    return results.select(
        "DriverNumber",
        "DriverId",
        "TeamId",
        sentinel_int("Position").alias("Position"),
        sentinel_int("GridPosition").alias("GridPosition"),
        "Status",
        "Points",
        "Laps",
        "identifier",
        str_to_date("date").alias("dtEvent"),
        "year",
        "RoundNumber",
        "Location",
    )


def event_dates(
    results: DataFrame, start: str | None = None, stop: str | None = None
) -> list[str]:
    """Sorted distinct event dates in range — the ingestion driver's date
    domain (/root/reference/scripts/03_feature_store.py:29-38)."""
    d = F.to_date(F.to_timestamp("date"))
    df = results.select(d.alias("dt"))
    if start:
        df = df.filter(F.col("dt") >= F.lit(start).cast("date"))
    if stop:
        df = df.filter(F.col("dt") <= F.lit(stop).cast("date"))
    # sorted here, not by an orderBy: the range-partitioned sort costs
    # sampling and shuffle jobs for a few hundred dates
    return [str(d) for d in sorted(r.dt for r in df.distinct().collect() if r.dt)]


def _attach_round(fs: DataFrame, typed: DataFrame) -> DataFrame:
    """tempRoundNumber: the round number of the event held on the snapshot
    date, via the distinct event dim (feature_store_drivers.sql:19-22,171).
    Dim is tiny -> broadcast."""
    events = typed.select(
        F.col("dtEvent").alias("__dtEvent"),
        F.col("RoundNumber").alias("tempRoundNumber"),
    ).distinct()
    joined = fs.join(
        F.broadcast(events), F.col(DT_REF) == F.col("__dtEvent"), "left"
    )
    return joined.select(
        *[
            F.date_format(DT_REF, "yyyy-MM-dd").alias("dtRef")
            if c == "dtRef"
            else c
            for c in driver_snapshot_columns()
        ]
    )


def driver_feature_store(results: DataFrame, dates: Sequence[str]) -> DataFrame:
    """All snapshot dates in one pass of per-entity running windows
    (plans/snapshot.py)."""
    typed = typed_results(results)
    return _attach_round(snapshot_single_pass(typed, _spec(), dates), typed)


def driver_feature_snapshot(results: DataFrame, date: str) -> DataFrame:
    """One snapshot date over the bronze ``results`` table — the unit the
    reference's IngestorFS materializes per iteration."""
    return driver_feature_store(results, [date])
