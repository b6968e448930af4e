"""Custom stateful streaming operator via ``applyInPandasWithState``.

The built-in windowed aggregations (streaming/jobs.py) cover tumbling and
session windows; this module is the escape hatch for operator semantics
Spark doesn't ship — arbitrary per-key state evolved batch-by-batch, with
the state store (checkpointed, RocksDB-backed in production) providing
exactly-once restart semantics.

Demonstrated operator: per-user RUNNING TOTALS — cumulative event count /
value sum / last-seen timestamp per user, emitted as an update row per user
per micro-batch. State survives query restarts (tested): the second drain
of a checkpointed query continues from the first drain's counters, not
from zero.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_ts", TimestampType()),
    ]
)


def _update_user_totals(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n_events, total_value = state.get
    else:
        n_events, total_value = 0, 0.0

    last_ts = None
    for pdf in batches:
        n_events += len(pdf)
        total_value += float(pdf["value"].sum())
        batch_max = pdf["ts"].max()
        last_ts = batch_max if last_ts is None else max(last_ts, batch_max)

    state.update((n_events, total_value))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n_events],
            "total_value": [total_value],
            "last_ts": [last_ts],
        }
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Cumulative per-user counters as a custom stateful operator. Input:
    the event stream (event_id, ts, user_id, event_type, value, props)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming throttle — the stateful twin of operators/throttle.py
# ---------------------------------------------------------------------------

THROTTLE_STATE_SCHEMA = StructType(
    [StructField("last_kept_us", LongType())]
)

THROTTLE_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
    ]
)


def _make_throttle_fn(min_gap_seconds: float):
    gap_us = int(min_gap_seconds * 1_000_000)

    def _throttle(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        last_us = state.get[0] if state.exists else None
        pdf = pd.concat(list(batches), ignore_index=True)
        # event-time order within the micro-batch; cross-batch ordering is
        # arrival order (the standard streaming caveat — exact batch parity
        # holds when batches arrive time-ordered, tested)
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        # pin the epoch unit — Arrow hands pandas datetime64[ns] here and
        # a raw astype(int64) would be nanos against a micros gap/state
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
        keep = []
        for t in ts_us:
            if last_us is None or t - last_us >= gap_us:
                keep.append(True)
                last_us = int(t)
            else:
                keep.append(False)
        state.update((last_us,))
        out = pdf[keep]
        yield pd.DataFrame(
            {
                "user_id": out["user_id"],
                "event_id": out["event_id"],
                "ts": out["ts"],
            }
        )

    return _throttle


def throttled_events_stream(
    events: DataFrame, min_gap_seconds: float = 3600.0
) -> DataFrame:
    """Streaming debounce: per user, emit an event only if >= ``min_gap``
    has passed since the last EMITTED event — the same
    gap-to-last-KEPT sequential semantic as the batch
    ``operators/throttle.py::throttle_events``, with the "last kept"
    timestamp living in the state store across micro-batches (one 8-byte
    value per user; checkpointed, RocksDB-backed in production, restart-
    durable like every GroupState op here). Append-mode output: kept
    events only, as they are admitted. Batch twin parity is exact for
    time-ordered batch arrival (tested, incl. a two-batch drain where the
    second batch's events throttle against state from the first)."""
    return events.select("user_id", "event_id", "ts").groupBy(
        "user_id"
    ).applyInPandasWithState(
        _make_throttle_fn(min_gap_seconds),
        outputStructType=THROTTLE_OUTPUT_SCHEMA,
        stateStructType=THROTTLE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
