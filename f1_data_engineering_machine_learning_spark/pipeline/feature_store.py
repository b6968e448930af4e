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

The whole query is one module-level ``SnapshotSpec`` of SQL text
(``_SPEC``): the aggregates, their conditions and their scopes, as in the
reference's SQL file. It needs no Spark session, so
``driver_snapshot_columns`` (which the DuckDB oracle, the benchmark and the
tests read) takes its names from the same spec the engine runs.

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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.functions import sentinel_int, str_to_date
from f1_data_engineering_machine_learning_spark.plans.snapshot import (
    DT_REF,
    Agg,
    SnapshotSpec,
    asof,
    current_period,
    snapshot_single_pass,
    trailing,
)

_RACE = "identifier = 'race'"
_SPRINT = "identifier = 'sprint'"
_GAIN = "GridPosition - Position"

#: (metric base name, value SQL, condition SQL): the 9-avg/9-median set
_METRICS = [
    ("Position", "Position", None),
    ("PositionRace", "Position", _RACE),
    ("PositionSprint", "Position", _SPRINT),
    ("GridPosition", "GridPosition", None),
    ("GridPositionRace", "GridPosition", _RACE),
    ("GridPositionSprint", "GridPosition", _SPRINT),
    ("PositionGain", _GAIN, None),
    ("PositionRaceGain", _GAIN, _RACE),
    ("PositionSprintGain", _GAIN, _SPRINT),
]

#: exact reference naming: avg columns drop the "Gain" suffix ordering —
#: avgPositionGain / avgPositionRaceGain / avgPositionSprintGain — and the
#: current-season gain avg is typo'd (feature_store_drivers.sql:100)
_AVG_NAME_OVERRIDES = {("PositionGain", "CurrentTemp"): "avgPositioCurrentTemp"}


def _block(scope: str, suffix: str) -> list[tuple[str, str, Agg]]:
    """One scope's aggregate block in the reference's column order."""
    aggs: list[tuple[str, str, Agg]] = []
    if scope == "life":
        aggs += [
            ("qtdRuns", scope, Agg("count")),
            ("qtdRace", scope, Agg("count", cond=_RACE)),
            ("qtdSprint", scope, Agg("count", cond=_SPRINT)),
        ]
    for base, value, cond in _METRICS:
        name = _AVG_NAME_OVERRIDES.get((base, suffix), f"avg{base}{suffix}")
        aggs.append((name, scope, Agg("avg", value, cond)))
    for base, value, cond in _METRICS:
        aggs.append((f"median{base}{suffix}", scope, Agg("median", value, cond)))
    aggs += [
        (f"qtdeWins{suffix}", scope, Agg("count", cond="Position = 1")),
        (f"qtdePodiums{suffix}", scope, Agg("count", cond="Position <= 3")),
        (f"qtdePoles{suffix}", scope, Agg("count", cond="GridPosition = 1")),
    ]
    if scope == "current":
        aggs.append((f"totalPoints{suffix}", scope, Agg("sum", "CAST(Points AS DOUBLE)")))
    return aggs


#: the reference's query as data (feature_store_drivers.sql:24-167)
_SPEC = SnapshotSpec(
    entity_keys=["DriverId"],
    date_col="dtEvent",
    scopes={
        "life": asof(),
        "year1": trailing("1 YEAR"),
        "current": current_period("year"),
    },
    aggs=_block("life", "") + _block("year1", "1Year") + _block("current", "CurrentTemp"),
    activity_scope="year1",
    extra_cols={"dtYear": f"year({DT_REF})"},
)


def driver_snapshot_columns() -> list[str]:
    """Full output column order
    (/root/reference/sql/feature_store_drivers.sql:122-167)."""
    return ["tempRoundNumber", "DriverId", "dtRef", "dtYear"] + [
        name for name, _, _ in _SPEC.aggs
    ]


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
    return joined.selectExpr(
        *[
            f"date_format({DT_REF}, 'yyyy-MM-dd') AS {DT_REF}" if c == DT_REF else f"`{c}`"
            for c in driver_snapshot_columns()
        ]
    )


def driver_feature_store(results: DataFrame, dates: Sequence[str]) -> DataFrame:
    """All snapshot dates in one pass of per-entity running windows
    (plans/snapshot.py)."""
    typed = typed_results(results)
    return _attach_round(snapshot_single_pass(typed, _SPEC, dates), typed)


def driver_feature_snapshot(results: DataFrame, date: str) -> DataFrame:
    """One snapshot date over the bronze ``results`` table — the unit the
    reference's IngestorFS materializes per iteration."""
    return driver_feature_store(results, [date])
