"""Test-side reference for the snapshot engine: one group-by aggregation
per snapshot date, the reference's templated-SQL-per-date unit (its
``scripts/spark_ops.py:135-151``), unioned over the dates.

Each scope is a ``CASE WHEN`` restriction of its aggregate's input inside
the as-of gate ``fact_date <= dtRef``. It shares the spec's input
projection and ``Scope.since`` with the running-window engine, but no
window frame and no marker grid."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.operators.reshape import union_all
from f1_data_engineering_machine_learning_spark.plans.snapshot import (
    _DATE,
    AGG_SQL,
    DT_REF,
    SnapshotSpec,
    _aggs,
    _finish,
    _inputs,
)


def snapshot_one(facts: DataFrame, spec: SnapshotSpec, date: str) -> DataFrame:
    """One snapshot date as one aggregation over ``fact_date <= date``."""
    aggs = _aggs(spec)
    dt_ref = f"DATE'{date}'"
    scope_names = list(spec.scopes)
    rows, inputs = _inputs(facts, spec, aggs)
    gated = rows.filter(f"{_DATE} <= {dt_ref}").selectExpr(
        "*",
        *[
            f"{spec.scopes[name].since(dt_ref, _DATE)} AS __s{j}"
            for j, name in enumerate(scope_names)
        ],
    )
    exprs = [
        F.expr(
            AGG_SQL[agg.fn].format(
                f"IF(`__s{scope_names.index(scope)}`, `{a}`, NULL)"
            )
        ).alias(out_col)
        for a, (out_col, scope, agg) in zip(inputs, aggs)
    ]
    out = gated.groupBy(*spec.entity_keys).agg(*exprs).withColumn(DT_REF, F.expr(dt_ref))
    return _finish(out, spec)


def snapshot_loop(facts: DataFrame, spec: SnapshotSpec, dates: Sequence[str]) -> DataFrame:
    """``snapshot_one`` per date, unioned: the reference for the window
    engine. No dates: the output schema with no rows."""
    if not dates:
        return snapshot_one(facts, spec, "1970-01-01").limit(0)
    return union_all([snapshot_one(facts, spec, d) for d in dates])
