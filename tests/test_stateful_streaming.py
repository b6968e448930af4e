"""applyInPandasWithState: per-key state correctness + restart durability."""

from __future__ import annotations

from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.streaming import read_event_stream
from f1_data_engineering_machine_learning_spark.streaming.stateful import (
    running_user_totals,
)


def _write_batch(spark, path, start, n):
    spark.createDataFrame(
        [
            (i, "2024-01-01 00:00:00", i % 3, "click", float(i), "{}")
            for i in range(start, start + n)
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).write.mode("append").parquet(path)


def test_state_accumulates_across_restart(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def drain(run):
        # foreachBatch sink: supports checkpoint recovery (memory sink does
        # not) and is the production shape for update-mode custom state
        def write_batch(bdf, batch_id):
            bdf.withColumn("run", F.lit(run)).write.mode("append").parquet(sink)

        q = (
            running_user_totals(read_event_stream(spark, src))
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = spark.read.parquet(sink).filter(F.col("run") == run)
        return out

    _write_batch(spark, src, 0, 30)
    first = {r.user_id: (r.n_events, r.total_value) for r in drain("r1").collect()}
    assert sum(n for n, _ in first.values()) == 30

    # restart the query (same checkpoint) with new data only
    _write_batch(spark, src, 30, 30)
    second = {r.user_id: (r.n_events, r.total_value) for r in drain("r2").collect()}

    # state carried over: totals reflect BOTH batches, though this query
    # instance only saw the second
    assert sum(n for n, _ in second.values()) == 60
    expected_value_total = sum(float(i) for i in range(60))
    assert abs(sum(v for _, v in second.values()) - expected_value_total) < 1e-9
    for uid in second:
        assert second[uid][0] > first.get(uid, (0, 0))[0]
