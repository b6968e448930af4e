"""Point-in-time snapshot engine.

The reference's feature store is a time series of as-of snapshots: for each
reference date, aggregate the full history at/before that date over several
time scopes (the reference's ``sql/feature_store_drivers.sql``, driven
per-date by its ``scripts/spark_ops.py:135-191``).

A ``SnapshotSpec`` is declarative: each scope is a ``Scope`` (as-of,
trailing interval, or current period) and each aggregate an ``Agg``
(aggregate function plus its fact-side input column).

``snapshot_single_pass`` is the one engine, for one date or many: the
reference's per-date unit is ``[date]``. It is a per-entity running-window
engine. The facts are unioned with one marker row per (entity, snapshot
date) inside the entity's active span, then every aggregate is evaluated
as a window over the entity's rows ordered by date:

* as-of: ``RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW``;
* trailing: ``RANGE BETWEEN INTERVAL ... PRECEDING AND CURRENT ROW``
  (SQL interval bounds, so calendar arithmetic matches the reference's
  ``dtRef - INTERVAL ...`` exactly, leap days included);
* current period: the as-of frame, partitioned also by the period.

Only the marker rows are kept. ``CURRENT ROW`` in a RANGE frame includes
the marker's peers, i.e. the facts dated on the snapshot date itself.
The work is O(facts + active entity-dates) rows, not O(facts x dates).

The marker grid is one array literal of the snapshot dates, filtered per
entity to dates on or after its first fact and, with an activity scope, to
dates whose scope can still reach its last fact, then exploded: no join
with a date dimension. The activity count stays the final test.

NULL semantics: a scope with no rows must produce NULL for every aggregate
(the reference gets this from its left-join miss on the per-scope
subquery). A scoped count is therefore ``SUM`` over a 0/1 input: NULL iff
the scope is empty, else the count. Markers carry NULL inputs, so they
never contribute to a frame.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: name of the snapshot reference-date column in every output
DT_REF = "dtRef"

#: aggregate function name -> SQL over its input column
AGG_SQL = {
    "count": "sum({})",
    "sum": "sum({})",
    "avg": "avg({})",
    "median": "percentile({}, 0.5)",
}


@dataclass(frozen=True)
class Scope:
    """A time scope relative to the snapshot date, always inside the
    as-of gate ``fact_date <= dtRef``.

    ``kind`` is ``"asof"`` (all history), ``"trailing"`` (``arg`` is a SQL
    interval such as ``"1 YEAR"``: ``fact_date >= dtRef - INTERVAL arg``) or
    ``"period"`` (``arg`` is a ``trunc`` unit such as ``"year"``: the
    snapshot date's own period)."""

    kind: str
    arg: str | None = None

    def __post_init__(self) -> None:
        if self.kind not in ("asof", "trailing", "period"):
            raise ValueError(f"unknown scope kind {self.kind!r}")

    def since(self, ref: Column, d: Column) -> Column:
        """Whether a fact dated ``d`` is on or after the scope's first day
        at ``ref``: the activity clip of the marker grid."""
        if self.kind == "trailing":
            return d >= ref - F.expr(f"INTERVAL {self.arg}")
        if self.kind == "period":
            return d >= F.trunc(ref, self.arg)
        return F.lit(True)

    def frame(self, partition: str) -> str:
        """The window clause for this scope over the date column ``__d``."""
        if self.kind == "trailing":
            bounds = f"RANGE BETWEEN INTERVAL {self.arg} PRECEDING AND CURRENT ROW"
        else:
            bounds = "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        return f"PARTITION BY {partition} ORDER BY `{_DATE}` {bounds}"


def asof() -> Scope:
    """All history at or before the snapshot date."""
    return Scope("asof")


def trailing(interval: str) -> Scope:
    """The trailing ``interval`` (a SQL interval, e.g. ``"1 YEAR"``)."""
    return Scope("trailing", interval)


def current_period(unit: str) -> Scope:
    """The snapshot date's own ``unit`` (a ``trunc`` unit, e.g. ``"year"``)."""
    return Scope("period", unit)


@dataclass(frozen=True, eq=False)
class Agg:
    """One aggregate: ``fn`` (a key of ``AGG_SQL``) over ``value``,
    restricted to facts matching ``cond``. ``count`` ignores ``value``."""

    fn: str
    value: Column | None = None
    cond: Column | None = None

    def input(self) -> Column:
        """The fact-side column the aggregate function reads."""
        if self.fn == "count":
            return F.lit(1) if self.cond is None else F.when(self.cond, 1).otherwise(0)
        return self.value if self.cond is None else F.when(self.cond, self.value)


def _col(value: Column | str) -> Column:
    return F.col(value) if isinstance(value, str) else value


def scoped_count(cond_inner: Column | None = None) -> Agg:
    """Count within a scope, NULL when the scope is empty (module docstring).
    With ``cond_inner``, counts only matching rows — the reference's
    qtdRace/qtdeWins-style conditional counts
    (/root/reference/sql/feature_store_drivers.sql:35-36,55-57)."""
    return Agg("count", cond=cond_inner)


def scoped_avg(value: Column | str, cond_inner: Column | None = None) -> Agg:
    """NULL-skipping scoped AVG — ``AVG(CASE WHEN scope [AND cond] THEN x END)``
    (/root/reference/sql/feature_store_drivers.sql:37-45)."""
    return Agg("avg", _col(value), cond_inner)


def scoped_median(value: Column | str, cond_inner: Column | None = None) -> Agg:
    """Exact scoped median — ``PERCENTILE(CASE WHEN ... THEN x END, 0.5)``
    (/root/reference/sql/feature_store_drivers.sql:46-54)."""
    return Agg("median", _col(value), cond_inner)


def scoped_sum(value: Column | str, cond_inner: Column | None = None) -> Agg:
    """Scoped SUM, NULL when scope empty —
    ``SUM(CASE WHEN scope THEN x END)``
    (/root/reference/sql/feature_store_drivers.sql:115)."""
    return Agg("sum", _col(value), cond_inner)


@dataclass
class SnapshotSpec:
    """Declarative description of a point-in-time snapshot aggregation.

    Attributes
    ----------
    entity_keys : grouping keys (e.g. ``["DriverId"]``).
    date_col    : fact-side date column (DateType or castable).
    scopes      : scope name -> ``Scope``.
    aggs        : flat list of (output_column, scope_name, ``Agg``). Output
                  column order follows this list.
    activity_scope : optional scope name; entities with zero rows in that
                  scope are dropped (the reference's ``tb_drivers``
                  trailing-activity gate, ``feature_store_drivers.sql:24-28``).
    extra_cols  : output_column -> fn(dt_ref) -> Column, appended per group
                  (e.g. the reference's ``dtYear = YEAR(dtRef)`` stamp).
    """

    entity_keys: Sequence[str]
    date_col: str
    scopes: Mapping[str, Scope]
    aggs: Sequence[tuple[str, str, Agg]]
    activity_scope: str | None = None
    extra_cols: Mapping[str, Callable[[Column], Column]] = field(default_factory=dict)


_DATE = "__d"
_MARKER = "__m"
_ACTIVITY_COL = "__activity"


def _validate(spec: SnapshotSpec) -> None:
    unknown = {s for _, s, _ in spec.aggs} - set(spec.scopes)
    if unknown:
        raise ValueError(
            f"aggs reference unknown scopes {sorted(unknown)}; "
            f"declared scopes: {sorted(spec.scopes)}"
        )
    if spec.activity_scope is not None and spec.activity_scope not in spec.scopes:
        raise ValueError(
            f"activity_scope {spec.activity_scope!r} is not a declared scope"
        )


def _aggs(spec: SnapshotSpec) -> list[tuple[str, str, Agg]]:
    """The spec's aggregates plus the hidden activity count."""
    _validate(spec)
    aggs = list(spec.aggs)
    if spec.activity_scope is not None:
        aggs.append((_ACTIVITY_COL, spec.activity_scope, scoped_count()))
    return aggs


def _inputs(facts: DataFrame, spec: SnapshotSpec, aggs) -> tuple[DataFrame, list[str]]:
    """Entity keys, the fact date ``__d`` and one input column per
    distinct aggregate input: aggregates whose inputs have the same SQL
    text share a column, whatever their function or scope. Returns the
    frame and each aggregate's input column name. Facts without a date
    are in no snapshot."""
    index: dict[str, int] = {}
    columns = []
    names = []
    for _, _, agg in aggs:
        col = agg.input()
        j = index.setdefault(str(col), len(index))
        if j == len(columns):
            columns.append(col.alias(f"__a{j}"))
        names.append(f"__a{j}")
    frame = facts.select(
        *spec.entity_keys,
        F.to_date(F.col(spec.date_col)).alias(_DATE),
        *columns,
    ).filter(F.col(_DATE).isNotNull())
    return frame, names


def _finish(out: DataFrame, spec: SnapshotSpec) -> DataFrame:
    """Project keys, dtRef, aggregates and extra columns; apply the
    activity gate."""
    if spec.activity_scope is not None:
        out = out.filter(F.col(_ACTIVITY_COL) > 0)
    return out.select(
        *spec.entity_keys,
        DT_REF,
        *[out_col for out_col, _, _ in spec.aggs],
        *[fn(F.col(DT_REF)).alias(name) for name, fn in spec.extra_cols.items()],
    )


def snapshot_single_pass(
    facts: DataFrame, spec: SnapshotSpec, dates: Sequence[str]
) -> DataFrame:
    """Every snapshot date in one pass of per-entity running windows
    (module docstring); one date is ``[date]``."""
    aggs = _aggs(spec)
    keys = list(spec.entity_keys)
    rows, inputs = _inputs(facts, spec, aggs)
    # one SQL literal, not a Column per date: each Column is a py4j
    # round trip
    literals = ", ".join(f"DATE'{d}'" for d in dates)
    grid = F.expr(f"CAST(array({literals}) AS ARRAY<DATE>)")

    spans = rows.groupBy(*keys).agg(
        F.min(_DATE).alias("__first"), F.max(_DATE).alias("__last")
    )

    def clip(ref: Column) -> Column:
        keep = F.col("__first") <= ref
        if spec.activity_scope is not None:
            # an entity whose last fact precedes the activity scope is inactive
            keep = keep & spec.scopes[spec.activity_scope].since(ref, F.col("__last"))
        return keep

    markers = spans.select(
        *keys,
        F.explode(F.filter(grid, clip)).alias(_DATE),
        F.lit(True).alias(_MARKER),
    )
    rows = rows.withColumn(_MARKER, F.lit(False)).unionByName(
        markers, allowMissingColumns=True
    )

    partition = ", ".join(f"`{k}`" for k in keys)
    frames = {}
    for j, (name, scope) in enumerate(spec.scopes.items()):
        by = partition
        if scope.kind == "period":
            rows = rows.withColumn(f"__p{j}", F.trunc(_DATE, scope.arg))
            by = f"{partition}, `__p{j}`"
        frames[name] = scope.frame(by)
    windowed = rows.select(
        *keys,
        F.col(_DATE).alias(DT_REF),
        _MARKER,
        *[
            F.expr(f"{AGG_SQL[agg.fn].format(f'`{a}`')} OVER ({frames[scope]})")
            .alias(out_col)
            for a, (out_col, scope, agg) in zip(inputs, aggs)
        ],
    )
    return _finish(windowed.filter(F.col(_MARKER)), spec)
