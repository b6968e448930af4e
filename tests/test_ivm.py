"""Incremental view maintenance (plans/ivm.py): maintained partials ==
full recompute, over randomized batch splits; untouched groups never
enter an aggregation."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.plans.ivm import (
    agg_partials,
    finalize_partials,
    merge_partials,
)

SUMS = {"price": "price"}


def _rows(rng, n, lo_key, hi_key):
    return [
        (rng.randint(lo_key, hi_key), round(rng.uniform(1, 500), 2))
        for _ in range(n)
    ]


def test_incremental_equals_full_recompute_over_random_batches(spark):
    rng = random.Random(11)
    batches = [
        _rows(rng, rng.randint(5, 60), 0, 15) for _ in range(5)
    ]
    schema = "k long, price double"

    state = agg_partials(spark.createDataFrame(batches[0], schema), ["k"], SUMS)
    for b in batches[1:]:
        state = merge_partials(
            state, spark.createDataFrame(b, schema), ["k"], SUMS
        )

    full = agg_partials(
        spark.createDataFrame([r for b in batches for r in b], schema),
        ["k"],
        SUMS,
    )
    got = sorted(map(tuple, finalize_partials(state, SUMS).collect()))
    want = sorted(map(tuple, finalize_partials(full, SUMS).collect()))
    assert got == want  # exact decimals -> exact equality incl. avg


def test_untouched_groups_pass_through_without_aggregation(spark):
    """Groups absent from the delta ride the anti-join branch: their
    state rows survive BYTE-IDENTICAL (no re-aggregation can have
    touched them) and the plan's union keeps them outside the merge
    aggregate."""
    schema = "k long, price double"
    state = agg_partials(
        spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], schema),
        ["k"],
        SUMS,
    )
    delta = spark.createDataFrame([(2, 5.0), (9, 1.0)], schema)
    merged = merge_partials(state, delta, ["k"], SUMS)
    rows = {r.k: r for r in merged.collect()}
    assert set(rows) == {1, 2, 3, 9}
    before = {r.k: r for r in state.collect()}
    assert rows[1] == before[1] and rows[3] == before[3]  # untouched
    assert rows[2].n_rows == 2 and float(rows[2].price_sum) == 25.0
    assert rows[9].n_rows == 1  # new group inserted


def test_finalize_derives_avg_at_read_time(spark):
    schema = "k long, price double"
    state = agg_partials(
        spark.createDataFrame([(1, 10.0), (1, 20.0)], schema), ["k"], SUMS
    )
    out = finalize_partials(state, SUMS).collect()[0]
    assert out.price_avg == 15.0 and out.price_min == 10.0 and out.price_max == 20.0


def test_maintained_view_composes_with_versioned_history(spark, tmp_path):
    """The IVM x versioned-table composition: commit each maintained
    snapshot; time travel reads any prior materialized-view state."""
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    schema = "k long, price double"
    t = VersionedTable(spark, str(tmp_path / "mv"))
    state = agg_partials(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], schema), ["k"], SUMS
    )
    t.commit(state)
    state = merge_partials(
        t.read(), spark.createDataFrame([(1, 5.0)], schema), ["k"], SUMS
    )
    t.commit(state)
    assert {r.k: r.n_rows for r in t.read().collect()} == {1: 2, 2: 1}
    assert {r.k: r.n_rows for r in t.read(0).collect()} == {1: 1, 2: 1}


def test_streaming_cms_maintained_in_versioned_table(spark, tmp_path):
    """Three systems composed: a token stream maintains a
    count-min sketch as a versioned materialized view — per-batch
    sketch partials CELL-ADD into the stored sketch inside foreachBatch,
    committed with the txn/appId protocol. The maintained sketch must
    equal the one-shot sketch of the whole corpus, and a full replay
    under a fresh checkpoint must change nothing (exactly-once
    maintenance)."""
    from f1_data_engineering_machine_learning_spark.dataops.heavyhitters import (
        cms_build,
    )
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "cms_mv")
    rows = [(f"tok{i % 37}",) for i in range(3000)]
    spark.createDataFrame(rows, ["t"]).repartition(4).write.mode(
        "overwrite"
    ).parquet(src)

    def run(checkpoint: str) -> None:
        stream = spark.readStream.schema("t string").parquet(src)

        def _sink(batch_df, batch_id: int) -> None:
            t = VersionedTable(spark, tbl)
            partial = cms_build(batch_df, "t", depth=4, width=256)
            try:
                state = t.read()
                merged = (
                    state.unionByName(partial)
                    .groupBy("row", "bucket")
                    .agg(F.sum("cnt").cast("bigint").alias("cnt"))
                )
            except FileNotFoundError:
                merged = partial
            t.commit(merged, mode="overwrite", txn=("cms_mv", batch_id))

        q = (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(str(tmp_path / "ck1"))
    t = VersionedTable(spark, tbl)
    maintained = sorted(map(tuple, t.read().collect()))
    whole = sorted(
        map(tuple, cms_build(spark.read.parquet(src), "t", 4, 256).collect())
    )
    assert maintained == whole

    # full replay, fresh checkpoint: txn high-water suppresses every batch
    v_before = t._versions()[-1]
    run(str(tmp_path / "ck2"))
    assert sorted(map(tuple, t.read().collect())) == whole
    assert t._versions()[-1] == v_before  # no new version committed
