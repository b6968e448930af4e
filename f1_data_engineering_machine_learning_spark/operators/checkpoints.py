"""Lineage truncation for iterative / multi-pass plans — one shared
idiom for the whole engine (BPE trainer, connected components, graph
iterations, miners, multi-consumer stage outputs).

Why cut lineage at all: an iterative DataFrame loop stacks one plan
layer per round on its own output, so even with per-round persistence
(recompute depth 1) Catalyst re-analyzes and re-optimizes an
ever-growing logical plan — measured super-linear on this box (the BPE
trainer's sequential scans doubled in wall time from ~scan 12 and
OOMed the driver near scan 20, on a 31-row vocab). Checkpointing
replaces the subtree with a scan, making every round's plan
constant-size: the standard Pregel/GraphX/ALS practice.

Fault-tolerance policy: when the
SparkContext has a checkpoint dir configured, the cut is a RELIABLE
``checkpoint`` — executor loss recomputes from storage. Otherwise it
falls back to ``localCheckpoint``, whose blocks are NOT replicated: on
a real cluster an executor loss fails the job instead of recomputing.
That trade is explicitly accepted for these operators — their inputs
are O(1) jobs away from source and a failed iteration restarts cleanly
— but long production runs should call
``spark.sparkContext.setCheckpointDir(...)`` and get durability for
free everywhere at once.

Always LAZY (``eager=False``): the caller's next action materializes
the cut in the same job, where an eager cut plus the action would pay
two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def lineage_cut(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage: reliable ``checkpoint`` when a checkpoint
    dir is configured, else ``localCheckpoint``; lazy either way (the
    caller's first action materializes it). See module docstring.

    Storage contract for the reliable branch: Spark never deletes
    checkpoint files on its own unless
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (set by
    ``session.build_session``). Iterative callers issue one cut per
    interval — on a session built elsewhere without that conf, a long
    training accumulates one checkpoint dir per cut for the lifetime of
    the SparkContext."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)
