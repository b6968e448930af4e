"""Python DataSource writer: transactional JSONL shard sink."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.sources.jsonl_sink import (
    register_jsonl_sink,
)


def test_jsonl_sink_commit_manifest_and_roundtrip(spark, tmp_path):
    register_jsonl_sink(spark)
    out = str(tmp_path / "out")
    df = spark.range(100).select(
        F.col("id"), F.concat(F.lit("d"), F.col("id")).alias("s")
    ).repartition(4)
    df.write.format("jsonlshards").mode("overwrite").option("path", out).save()

    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["total_rows"] == 100
    assert len(manifest["shards"]) == 4
    assert not os.path.exists(os.path.join(out, "_staging"))
    # roundtrip through the schema'd JSONL reader
    back = spark.read.schema("id long, s string").json(out + "/part-*.jsonl")
    assert back.count() == 100
    assert {r.s for r in back.collect()} == {f"d{i}" for i in range(100)}


def test_jsonl_sink_append_merges_manifest(spark, tmp_path):
    """Append-mode commits MERGE shard records: after two jobs the
    manifest describes the whole directory, not just the last job."""
    register_jsonl_sink(spark)
    out = str(tmp_path / "out_append")
    spark.range(10).repartition(2).write.format("jsonlshards").mode(
        "overwrite"
    ).option("path", out).save()
    spark.range(10, 15).repartition(1).write.format("jsonlshards").mode(
        "append"
    ).option("path", out).save()

    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["total_rows"] == 15
    assert len(manifest["shards"]) == 3
    # manifest rows match the actual directory contents
    back = spark.read.schema("id long").json(out + "/part-*.jsonl")
    assert back.count() == 15
    # the shared staging root is gone once no job is using it
    assert not os.path.exists(os.path.join(out, "_staging"))


def test_jsonl_sink_overwrite_replaces(spark, tmp_path):
    register_jsonl_sink(spark)
    out = str(tmp_path / "out2")
    spark.range(10).repartition(1).write.format("jsonlshards").mode(
        "overwrite"
    ).option("path", out).save()
    spark.range(3).repartition(1).write.format("jsonlshards").mode(
        "overwrite"
    ).option("path", out).save()
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["total_rows"] == 3
    files = [f for f in os.listdir(out) if f.endswith(".jsonl")]
    assert len(files) == 1  # first write's shard is gone


def test_jsonl_sink_failed_job_leaves_no_committed_output(spark, tmp_path):
    register_jsonl_sink(spark)
    out = str(tmp_path / "out3")

    @F.udf("long")
    def boom(v):
        if v == 7:
            raise RuntimeError("planted failure")
        return v

    df = spark.range(10).select(boom(F.col("id")).alias("id")).repartition(2)
    with pytest.raises(Exception):
        df.write.format("jsonlshards").mode("overwrite").option(
            "path", out
        ).save()
    # no manifest => readers see "nothing committed"
    assert not os.path.exists(os.path.join(out, "_MANIFEST.json"))
    assert [f for f in os.listdir(out) if f.endswith(".jsonl")] == [] \
        if os.path.exists(out) else True


def test_concurrent_append_manifest_merge_is_lossless(spark, tmp_path):
    """Two append jobs' commit() merges racing on _MANIFEST.json: the
    exclusive-create lock serializes the read-modify-write, so neither
    job's shard records are lost. Driven at the writer level with real
    threads (Spark serializes driver-side job submission, so the race
    is reproduced on the commit path itself, where it lives)."""
    import threading

    from f1_data_engineering_machine_learning_spark.sources.jsonl_sink import (
        JsonlShardWriter,
        ShardCommit,
    )

    out = str(tmp_path / "out")
    os.makedirs(out)
    errs = []

    def job(j: int) -> None:
        try:
            w = JsonlShardWriter({"path": out}, overwrite=False)
            os.makedirs(w.staging, exist_ok=True)
            msgs = []
            for p in range(4):
                name = f"part-{j:02d}-{p:02d}.jsonl"
                with open(os.path.join(w.staging, name), "w") as fh:
                    fh.write('{"id": %d}\n' % (j * 10 + p))
                msgs.append(ShardCommit(name, 1))
            w.commit(msgs)
        except Exception as ex:  # noqa: BLE001
            errs.append(ex)

    threads = [threading.Thread(target=job, args=(j,)) for j in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs

    with open(os.path.join(out, "_MANIFEST.json")) as fh:
        man = json.load(fh)
    assert len(man["shards"]) == 32  # 8 jobs x 4 shards, none lost
    assert man["total_rows"] == 32
    assert not os.path.exists(os.path.join(out, "_MANIFEST.json.lock"))


def _mk_writer_with_staged(out, j=0, n=2):
    from f1_data_engineering_machine_learning_spark.sources.jsonl_sink import (
        JsonlShardWriter,
        ShardCommit,
    )

    w = JsonlShardWriter({"path": out}, overwrite=False)
    os.makedirs(w.staging, exist_ok=True)
    msgs = []
    for p in range(n):
        name = f"part-{j:02d}-{p:02d}.jsonl"
        with open(os.path.join(w.staging, name), "w") as fh:
            fh.write('{"id": %d}\n' % (j * 10 + p))
        msgs.append(ShardCommit(name, 1))
    return w, msgs


def test_lock_timeout_promotes_nothing(tmp_path):
    """All-or-nothing under lock contention. A commit that
    cannot take the manifest lock must raise BEFORE promoting any shard
    — no committed-looking .jsonl files that no manifest records."""
    out = str(tmp_path / "out")
    os.makedirs(out)
    lock = os.path.join(out, "_MANIFEST.json.lock")
    with open(lock, "w") as fh:
        fh.write("someone-else")  # live foreign holder

    w, msgs = _mk_writer_with_staged(out)
    w.WAIT_DEADLINE = 0.3  # fast test; steal threshold stays huge
    with pytest.raises(TimeoutError):
        w.commit(msgs)
    assert [f for f in os.listdir(out) if f.endswith(".jsonl")] == []
    assert not os.path.exists(os.path.join(out, "_MANIFEST.json"))
    # shards are still intact in staging (abort() can sweep them)
    assert len(os.listdir(w.staging)) == 2
    # the foreign lock was NOT stolen (it is fresh)
    assert open(lock).read() == "someone-else"


def test_stale_lock_is_stolen_and_commit_proceeds(tmp_path):
    """A lock abandoned by a crashed committer (mtime past STEAL_AFTER)
    is stolen atomically and the commit completes."""
    out = str(tmp_path / "out")
    os.makedirs(out)
    lock = os.path.join(out, "_MANIFEST.json.lock")
    with open(lock, "w") as fh:
        fh.write("crashed-job")
    old = 1_000_000_000.0
    os.utime(lock, (old, old))  # ancient mtime => stale

    w, msgs = _mk_writer_with_staged(out)
    w.commit(msgs)
    man = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert man["total_rows"] == 2
    assert not os.path.exists(lock)
    # no stray stolen-lock debris left behind
    assert [f for f in os.listdir(out) if ".lock" in f] == []


def test_release_only_removes_own_lock(tmp_path):
    """A displaced holder must not unlink a thief's fresh
    lock — release re-verifies the owner id before removing."""
    from f1_data_engineering_machine_learning_spark.sources.jsonl_sink import (
        JsonlShardWriter,
    )

    out = str(tmp_path / "out")
    os.makedirs(out)
    lock = os.path.join(out, "_MANIFEST.json.lock")
    w = JsonlShardWriter({"path": out}, overwrite=False)
    with open(lock, "w") as fh:
        fh.write("other-owner")
    w._release_lock(lock)
    assert os.path.exists(lock)  # not ours -> untouched
    with open(lock, "w") as fh:
        fh.write(w.job_id)
    w._release_lock(lock)
    assert not os.path.exists(lock)  # ours -> removed


def test_steal_threshold_exceeds_waiter_deadline_is_false():
    """The steal threshold must be substantially below the
    waiter deadline so crash recovery fires before waiters give up, and
    far above any plausible critical-section duration."""
    from f1_data_engineering_machine_learning_spark.sources.jsonl_sink import (
        JsonlShardWriter,
    )

    assert JsonlShardWriter.STEAL_AFTER >= 300.0
    assert JsonlShardWriter.WAIT_DEADLINE > JsonlShardWriter.STEAL_AFTER


def test_racing_stealers_one_winner_lossless(tmp_path):
    """8 committers race on a PLANTED STALE lock: the rename-to-unique
    steal admits exactly one stealer per lock incarnation, the rest
    re-queue — every job's shards land in the manifest, no lock debris
    survives."""
    import threading

    out = str(tmp_path / "out")
    os.makedirs(out)
    lock = os.path.join(out, "_MANIFEST.json.lock")
    with open(lock, "w") as fh:
        fh.write("crashed-job")
    old = 1_000_000_000.0
    os.utime(lock, (old, old))

    errs = []

    def job(j: int) -> None:
        try:
            w, msgs = _mk_writer_with_staged(out, j=j, n=2)
            w.commit(msgs)
        except Exception as ex:  # noqa: BLE001
            errs.append(ex)

    threads = [threading.Thread(target=job, args=(j,)) for j in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    man = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert len(man["shards"]) == 16 and man["total_rows"] == 16
    assert [f for f in os.listdir(out) if ".lock" in f] == []
