"""Output checks. None of them runs inside a timed window.

- A catalog result is compared with its ``oracle_sql()`` twin run on
  DuckDB over the same parquet, the way ``tools/selfcheck.py`` compares
  them: row count, column names, dtypes, then every cell, order-insensitive.
- The F1 ABT and the incrementally ingested snapshot slices are compared
  with the DuckDB replay of the reference SQL in ``pipeline/oracle.py``,
  run over the generated CSVs.
- Model metrics must be finite and in [0, 1], and equal across passes
  within a tolerance (forest training is not bitwise reproducible).
"""

from __future__ import annotations

import math

import duckdb

from tools.selfcheck import _rows_key

#: model metrics of two identical passes may differ in the last digits
METRIC_TOLERANCE = 1e-9
#: the oracle runs after the measured passes, on an idle machine, but
#: other jobs may share it: keep its memory bounded
DUCKDB_CONFIG = {"memory_limit": "2GB", "threads": "4"}


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config=DUCKDB_CONFIG)
    con.execute("SET enable_progress_bar = false")
    return con


def compare_frames(got, want) -> str | None:
    """None when the pandas frames hold the same result, else the first
    problem found."""
    if len(got) != len(want):
        return f"rowcount got={len(got)} want={len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns got={sorted(got.columns)} want={sorted(want.columns)}"
    dtypes = [
        (c, str(got[c].dtype), str(want[c].dtype))
        for c in got.columns
        if str(got[c].dtype) != str(want[c].dtype)
    ]
    if dtypes:
        return f"dtypes differ: {dtypes}"
    a, b = _rows_key(got), _rows_key(want)
    for x, y in zip(a, b):
        if x != y:
            return f"values differ: got {x} want {y}"
    return None


def catalog_connection(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = connect()
    for t in tables:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_catalog_result(con, oracle: str | None, got) -> str | None:
    """Compare one catalog query's pandas result with its DuckDB twin.
    A query the catalog registers without an oracle can only be checked
    for having produced a frame."""
    if oracle is None:
        return None if got is not None else "no result"
    return compare_frames(got, con.sql(oracle).df())


def f1_connection(csv_glob: str) -> duckdb.DuckDBPyConnection:
    """A connection holding the raw CSVs as the all-VARCHAR table
    ``raw_results``."""
    con = connect()
    con.sql(
        "CREATE TABLE raw_results AS SELECT * FROM "
        f"read_csv('{csv_glob}', delim=';', header=true, all_varchar=true)"
    )
    return con


def event_dates(con) -> list[str]:
    return [
        r[0]
        for r in con.sql(
            "SELECT DISTINCT strftime(CAST(CAST(date AS TIMESTAMP) AS DATE), "
            "'%Y-%m-%d') AS d FROM raw_results ORDER BY d"
        ).fetchall()
    ]


#: snapshot dates per ABT oracle statement; one statement over every date
#: exhausts DuckDB's memory
ORACLE_DATES_PER_QUERY = 8


def f1_abt_oracle(con, dates, oot_bound: int):
    """The expected ABT: the oracle run over chunks of the snapshot dates
    whose year is inside the ABT window, concatenated."""
    import pandas as pd

    dates = [d for d in dates if int(d[:4]) < oot_bound]
    step = ORACLE_DATES_PER_QUERY
    return pd.concat(
        [con.sql(f1_oracle_sql(dates[i : i + step], oot_bound)).df() for i in range(0, len(dates), step)],
        ignore_index=True,
    )


def f1_oracle_sql(dates, oot_bound: int) -> str:
    """The ABT oracle of ``pipeline/oracle.py`` over ``raw_results``
    instead of the committed fixture rows."""
    from f1_data_engineering_machine_learning_spark.pipeline import oracle

    sql = oracle.f1_abt_oracle_sql(dates, oot_bound=oot_bound)
    fixture = f"WITH results AS (SELECT * FROM {oracle.results_values_cte()})"
    if fixture not in sql:
        raise RuntimeError("pipeline/oracle.py no longer opens with the fixture CTE")
    return sql.replace(fixture, "WITH results AS (SELECT * FROM raw_results)")


def snapshot_oracle_sql(dates) -> str:
    """Feature-store snapshot rows for ``dates`` over ``raw_results``."""
    from f1_data_engineering_machine_learning_spark.pipeline import oracle
    from f1_data_engineering_machine_learning_spark.pipeline.feature_store import (
        driver_snapshot_columns,
    )

    tm = oracle.abt_type_map()
    cols = ", ".join(
        f"CAST({c} AS {tm[c]}) AS {c}" if c in tm else c
        for c in driver_snapshot_columns()
    )
    union = "\nUNION ALL BY NAME\n".join(
        f"SELECT * FROM {oracle._fs_snapshot_sql(d)}" for d in dates
    )
    return (
        "WITH results AS (SELECT * FROM raw_results), "
        f"fs AS ({union}) SELECT {cols} FROM fs"
    )


def typed_like_oracle(df, columns):
    """Cast a Spark frame's columns to the oracle's result types."""
    from pyspark.sql import functions as F

    from f1_data_engineering_machine_learning_spark.pipeline.oracle import abt_type_map

    spark_types = {"INTEGER": "int", "BIGINT": "bigint", "DOUBLE": "double"}
    tm = abt_type_map()
    return df.select(
        *[
            F.col(c).cast(spark_types[tm[c]]).alias(c) if c in tm else F.col(c)
            for c in columns
        ]
    )


def check_model_metrics(metrics: dict, previous: dict | None = None) -> str | None:
    """Every metric finite and in [0, 1]; equal to ``previous`` (another
    pass over the same input) within METRIC_TOLERANCE."""
    if not metrics:
        return "no model metrics"
    for split, vals in metrics.items():
        for name, v in vals.items():
            if not (isinstance(v, float) and math.isfinite(v) and 0.0 <= v <= 1.0):
                return f"{split}.{name}={v!r} is not a finite value in [0, 1]"
            if previous is not None:
                p = previous.get(split, {}).get(name)
                if p is None or abs(p - v) > METRIC_TOLERANCE:
                    return f"{split}.{name}={v!r} differs from the other pass ({p!r})"
    return None
