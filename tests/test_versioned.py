"""Versioned parquet table: snapshot isolation, time travel, rollback,
VACUUM — the Delta-shaped storage semantics, executing on plain parquet
(plans/versioned.py; the delta-spark package is install-blocked here,
see COVERAGE.md)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.plans.versioned import (
    VersionedTable,
    _interleave,
)


def _ids(df):
    return sorted(r.id for r in df.collect())


def test_overwrite_append_time_travel(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    v0 = t.commit(spark.range(5), mode="overwrite")
    v1 = t.commit(spark.range(10, 13), mode="append")
    v2 = t.commit(spark.range(100, 102), mode="overwrite")
    assert (v0, v1, v2) == (0, 1, 2)

    # latest = the overwrite
    assert _ids(t.read()) == [100, 101]
    # time travel to every prior snapshot
    assert _ids(t.read(0)) == [0, 1, 2, 3, 4]
    assert _ids(t.read(1)) == [0, 1, 2, 3, 4, 10, 11, 12]
    hist = t.history()
    assert [h.version for h in hist] == [0, 1, 2]
    assert hist[1].mode == "append" and hist[1].n_rows == 8
    assert hist[1].parent == 0


def test_uncommitted_files_are_invisible(spark, tmp_path):
    """Snapshot isolation: a data file without a manifest reference
    does not exist for readers — the torn-state failure of bare
    parquet overwrite cannot happen."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(3))
    # simulate a crashed writer: orphan data file, no manifest
    spark.range(1000, 1010).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orphan")
    )
    for f in os.listdir(tmp_path / "orphan"):
        if f.endswith(".parquet"):
            os.rename(
                tmp_path / "orphan" / f,
                tmp_path / "tbl" / "data" / "part-orphan.parquet",
            )
    assert _ids(t.read()) == [0, 1, 2]  # orphan invisible


def test_rollback_is_metadata_only_and_travelable(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(4))
    t.commit(spark.range(50, 52), mode="overwrite")
    n_files_before = len(os.listdir(tmp_path / "tbl" / "data"))
    v = t.rollback(0)
    assert v == 2
    assert _ids(t.read()) == [0, 1, 2, 3]  # back to v0's content
    assert _ids(t.read(1)) == [50, 51]  # history intact
    # no data was copied
    assert len(os.listdir(tmp_path / "tbl" / "data")) == n_files_before


def test_vacuum_retains_window_and_deletes_unreachable(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(3))
    t.commit(spark.range(10, 14), mode="overwrite")
    t.commit(spark.range(20, 22), mode="overwrite")
    stats = t.vacuum(retain_last=2, grace_seconds=0.0)
    assert stats["removed_versions"] == 1
    assert stats["removed_files"] >= 1  # v0's files are unreachable
    # retained window still reads
    assert _ids(t.read()) == [20, 21]
    assert _ids(t.read(1)) == [10, 11, 12, 13]
    # past the window errors cleanly
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.read(0)
    # every remaining data file is referenced (no leaks)
    live = set()
    for v in (1, 2):
        live |= set(t._manifest(v)["files"])
    on_disk = {
        f
        for f in os.listdir(tmp_path / "tbl" / "data")
        if f.endswith(".parquet")
    }
    assert on_disk == live


def _race_next_commit(t, racer, df, **commit_kw):
    """Make ``t``'s next commit lose its exclusive create: right after
    that commit reads the tip, ``racer`` appends ``df`` (landing the
    version ``t`` was about to create)."""
    read_tip = t._versions

    def then_race():
        versions = read_tip()
        t._versions = read_tip
        racer.commit(df, mode="append", **commit_kw)
        return versions

    t._versions = then_race


def test_concurrent_commit_cas_composes_appends(spark, tmp_path):
    """Two writers racing for the same version number: the loser's
    exclusive-create fails and it retries against the winner's state,
    so both appends land and compose."""
    t1 = VersionedTable(spark, str(tmp_path / "tbl"))
    t2 = VersionedTable(spark, str(tmp_path / "tbl"))
    t1.commit(spark.range(2))

    # t2 reads tip v0, t1's append takes v1, t2's create of v1 fails and
    # its retry lands on v2 on top of t1's files
    _race_next_commit(t2, t1, spark.range(5, 7))
    assert t2.commit(spark.range(10, 12), mode="append") == 2
    assert t2._manifest(2)["parent"] == 1
    assert _ids(t1.read()) == [0, 1, 5, 6, 10, 11]
    assert [h.n_rows for h in t1.history()] == [2, 4, 6]


def test_lost_create_retries_maintenance_ops_on_new_tip(spark, tmp_path):
    """replace_where, merge_upsert and rollback each lose their exclusive
    create to an append that lands after they read the tip: each retries
    on the racer's version, so the racing rows survive wherever the
    operation's semantics keep them, and the racer's txn high-water
    rides forward."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    racer = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(100).repartitionByRange(4, "id"), stats_cols=["id"])

    # replace_where [0, 9]: racing row 500 is outside the slice and
    # survives; racing row 5 is inside it and is replaced like the rest
    _race_next_commit(
        t, racer, spark.createDataFrame([(5,), (500,)], "id long"),
        stats_cols=["id"], txn=("racer", 0),
    )
    v = t.replace_where(spark.range(0, 10), "id", 0, 9)
    assert v == 2 and t._manifest(v)["parent"] == 1
    assert _ids(t.read()) == list(range(100)) + [500]
    assert t._manifest(v)["txns"] == {"racer": 0}

    # merge_upsert keys {7, 600}: racing 600 is matched and updated once,
    # racing 700 is untouched and survives
    _race_next_commit(
        t, racer, spark.createDataFrame([(600,), (700,)], "id long"),
        stats_cols=["id"], txn=("racer", 1),
    )
    v = t.merge_upsert(spark.createDataFrame([(7,), (600,)], "id long"), "id")
    assert v == 4 and t._manifest(v)["parent"] == 3
    assert _ids(t.read()) == list(range(100)) + [500, 600, 700]
    assert t._manifest(v)["n_rows"] == 103
    assert t._manifest(v)["txns"] == {"racer": 1}

    # rollback to v0: the table's data travels back (the racing rows go
    # with everything after v0), the racer's txn high-water does not
    _race_next_commit(
        t, racer, spark.createDataFrame([(800,)], "id long"),
        stats_cols=["id"], txn=("racer", 2),
    )
    v = t.rollback(0)
    assert v == 6 and t._manifest(v)["parent"] == 5
    assert _ids(t.read()) == list(range(100))
    assert t._manifest(v)["txns"] == {"racer": 2}
    assert _ids(t.read(5)) == list(range(100)) + [500, 600, 700, 800]


def test_interleave_matches_morton_reference(spark):
    """Two columns through the shared Morton interleave: bit i of ``a``
    lands at position 2i and bit i of ``b`` at 2i+1."""

    def morton(a: int, b: int, bits: int = 16) -> int:
        out = 0
        for i in range(bits):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    rows = [(0, 0), (1, 0), (0, 1), (5, 9), (255, 1), (1023, 511)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r.a, r.b): r.z
        for r in df.select(
            "a", "b", _interleave([F.col("a"), F.col("b")], 16).alias("z")
        ).collect()
    }
    assert got == {(a, b): morton(a, b) for a, b in rows}


def test_filters_push_into_snapshot_scan(spark, tmp_path):
    """The snapshot read is a plain parquet scan of the manifest's
    files — predicate pushdown and column pruning still apply."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(100).select("id", (F.col("id") * 2).alias("v")))
    df = t.read().filter(F.col("id") > 90).select("v")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,90)]" in plan
    assert "struct<v:bigint>" in plan.replace(" ", "") or "ReadSchema" in plan
    assert sorted(r.v for r in df.collect()) == [182, 184, 186, 188, 190, 192, 194, 196, 198]


def test_manifest_stats_file_skipping(spark, tmp_path):
    """Data skipping from footer-harvested manifest stats: a range
    predicate over the stats column selects a strict subset of files at
    LISTING time, and the pruned read returns exactly the filtered
    rows (skipping is a superset guarantee — the row filter still
    applies)."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    # range-partitioned write -> disjoint id ranges per file
    df = spark.range(10_000).repartitionByRange(8, "id")
    t.commit(df, stats_cols=["id"])

    kept, total = t.pruned_file_count(None, ("id", 9000, 9100))
    assert total == 8 and kept < total  # real skipping happened

    pruned = t.read(prune=("id", 9000, 9100)).filter(
        (F.col("id") >= 9000) & (F.col("id") <= 9100)
    )
    assert _ids(pruned) == list(range(9000, 9101))
    # append merges stats; pruning still covers both eras
    t.commit(spark.range(50_000, 50_010), mode="append", stats_cols=["id"])
    got = t.read(prune=("id", 49_999, 60_000)).filter(F.col("id") >= 49_999)
    assert _ids(got) == list(range(50_000, 50_010))
    kept2, total2 = t.pruned_file_count(None, ("id", 50_000, 60_000))
    assert kept2 < total2


def test_replace_where_slice_reload(spark, tmp_path):
    """Delta replaceWhere semantics (S9): atomically swap one id-range
    slice; disjoint files carry over by NAME (metadata-only), straddlers
    are rewritten minus the slice, and rows outside the predicate are
    rejected."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(
        spark.range(1000).repartitionByRange(4, "id"), stats_cols=["id"]
    )
    files_v0 = set(t._manifest(0)["files"])

    # reload the [200, 399] slice with corrected data (doubled ids ride
    # along in a payload column to prove the new rows landed)
    repl = spark.range(200, 400).select("id")
    v = t.replace_where(repl, "id", 200, 399)
    assert v == 1
    assert _ids(t.read()) == list(range(1000))  # same ids, new provenance
    # time travel intact
    assert _ids(t.read(0)) == list(range(1000))
    # disjoint files preserved by name (no rewrite outside the slice)
    files_v1 = set(t._manifest(1)["files"])
    carried = files_v0 & files_v1
    assert carried  # at least the fully-disjoint range files carried over

    # a replacement with out-of-range rows is rejected atomically
    with pytest.raises(ValueError, match="outside"):
        t.replace_where(spark.range(100, 500), "id", 200, 399)
    assert [h.version for h in t.history()] == [0, 1]  # nothing committed


def test_replace_where_drops_fully_inside_files(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(400).repartitionByRange(4, "id"), stats_cols=["id"])
    m0 = t._manifest(0)
    # one file's range sits fully inside [0, 99] with 4 range partitions
    inside = [
        f
        for f in m0["files"]
        if m0["stats"][f]["id"]["min"] >= 0 and m0["stats"][f]["id"]["max"] <= 99
    ]
    assert inside
    t.replace_where(spark.range(0, 100), "id", 0, 99)
    m1 = t._manifest(1)
    assert not (set(inside) & set(m1["files"]))  # dropped, not rewritten
    assert _ids(t.read()) == list(range(400))


def test_replace_where_null_keys_kept_and_rejected(spark, tmp_path):
    """A NULL key does not match the replace_where predicate (Delta
    semantics): NULL-keyed table rows survive the replace, both in a
    file that straddles the range and in one whose non-NULL keys lie
    wholly inside it, and a NULL-keyed replacement row is rejected as
    out of range."""
    schema = "k long, v string"
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame(
            [(1, "a"), (5, "b"), (None, "c"), (9, "d")], schema
        ).coalesce(1),
        stats_cols=["k"],
    )
    t.commit(
        spark.createDataFrame([(4, "e"), (None, "f")], schema).coalesce(1),
        mode="append",
        stats_cols=["k"],
    )
    t.replace_where(spark.createDataFrame([(5, "b2")], schema), "k", 4, 6)
    assert {tuple(r) for r in t.read().collect()} == {
        (1, "a"), (5, "b2"), (None, "c"), (9, "d"), (None, "f")
    }
    assert t._manifest(2)["n_rows"] == 5

    with pytest.raises(ValueError, match="1 rows fall outside"):
        t.replace_where(
            spark.createDataFrame([(5, "x"), (None, "outside")], schema),
            "k", 4, 6,
        )
    assert len(t._versions()) == 3  # nothing committed


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    """MERGE semantics (the third of the Delta triad): matched keys
    update, unmatched insert, disjoint files carry over by name, and a
    duplicate-key source is rejected as ambiguous."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    base = spark.range(100).select("id", (F.col("id") * 10).alias("v"))
    t.commit(base.repartitionByRange(4, "id"), stats_cols=["id"])
    files_v0 = set(t._manifest(0)["files"])

    batch = spark.createDataFrame(
        [(5, -1), (17, -2), (200, -3)], "id long, v long"
    )
    v = t.merge_upsert(batch, "id")
    assert v == 1
    got = {r.id: r.v for r in t.read().collect()}
    assert len(got) == 101
    assert got[5] == -1 and got[17] == -2 and got[200] == -3  # updated+inserted
    assert got[50] == 500  # untouched row preserved
    # files whose id-range misses [5, 200]... all base files intersect
    # here; assert instead that prior snapshot is intact
    assert {r.v for r in t.read(0).filter(F.col("id") == 5).collect()} == {50}
    del files_v0

    with pytest.raises(ValueError, match="duplicate"):
        t.merge_upsert(
            spark.createDataFrame([(1, 0), (1, 1)], "id long, v long"), "id"
        )


def test_merge_upsert_carries_disjoint_files(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(1000).repartitionByRange(4, "id"), stats_cols=["id"])
    m0 = t._manifest(0)
    # batch confined to the low range: high-range files must carry over
    t.merge_upsert(spark.range(0, 10), "id")
    m1 = t._manifest(1)
    disjoint = [
        f for f in m0["files"] if m0["stats"][f]["id"]["min"] > 9
    ]
    assert disjoint and set(disjoint) <= set(m1["files"])
    assert _ids(t.read()) == list(range(1000))


def test_stream_to_versioned_exactly_once(spark, tmp_path):
    """The txn/appId composition: source replay (fresh checkpoint, the
    worst case foreachBatch allows) re-runs every batch, and the
    manifest's per-app high-water batch id makes each replayed commit a
    no-op — rows appear exactly once. A new app id is a NEW transaction
    stream and appends again (the Delta txn semantics)."""
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        stream_to_versioned,
    )

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    spark.range(10).select(F.col("id")).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("id long").parquet(src)
    stream_to_versioned(stream, tbl, str(tmp_path / "ck1"), app_id="job1")
    t = VersionedTable(spark, tbl)
    assert _ids(t.read()) == list(range(10))

    # same checkpoint: no new data -> no change
    stream_to_versioned(
        spark.readStream.schema("id long").parquet(src),
        tbl,
        str(tmp_path / "ck1"),
        app_id="job1",
    )
    assert _ids(t.read()) == list(range(10))

    # FRESH checkpoint, same app: the full source replays as the same
    # batch ids -> txn high-water suppresses every duplicate commit
    stream_to_versioned(
        spark.readStream.schema("id long").parquet(src),
        tbl,
        str(tmp_path / "ck2"),
        app_id="job1",
    )
    assert _ids(t.read()) == list(range(10))
    # and no orphan files leaked from the suppressed replay
    m = t._manifest(t._versions()[-1])
    on_disk = {
        f for f in os.listdir(tmp_path / "tbl" / "data") if f.endswith(".parquet")
    }
    live = set()
    for v in t._versions():
        live |= set(t._manifest(v)["files"])
    assert on_disk == live

    # a different app id is a new transaction stream -> appends
    stream_to_versioned(
        spark.readStream.schema("id long").parquet(src),
        tbl,
        str(tmp_path / "ck3"),
        app_id="job2",
    )
    assert sorted(_ids(t.read())) == sorted(list(range(10)) * 2)


def test_real_thread_race_on_cas_commits(spark, tmp_path):
    """Eight REAL threads each committing five appends concurrently —
    not the orchestrated interleave above but the actual race: every
    commit must land (40 versions), every batch's rows appear exactly
    once, and the manifest chain must be a single unbroken parent
    lineage."""
    import threading

    t0 = VersionedTable(spark, str(tmp_path / "tbl"))
    t0.commit(spark.range(0).select(F.col("id")))

    errs = []

    def worker(w: int) -> None:
        try:
            t = VersionedTable(spark, str(tmp_path / "tbl"))
            for b in range(5):
                base = 1000 * w + 10 * b
                t.commit(
                    spark.range(base, base + 3).select(F.col("id")),
                    mode="append",
                )
        except Exception as ex:  # noqa: BLE001
            errs.append(ex)

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    versions = t._versions()
    assert versions == list(range(41))  # init + 40 contended commits
    # unbroken parent chain
    for v in versions[1:]:
        assert t._manifest(v)["parent"] == v - 1
    want = sorted(
        1000 * w + 10 * b + i for w in range(8) for b in range(5) for i in range(3)
    )
    assert _ids(t.read()) == want  # nothing lost, nothing duplicated


def test_maintenance_ops_preserve_txn_high_water(spark, tmp_path):
    """replace_where / merge_upsert / rollback between streaming
    micro-batches must carry the parent manifest's txns map forward:
    otherwise a replayed batch after the maintenance op re-commits and
    duplicates rows, breaking stream_to_versioned's exactly-once
    contract (Delta keeps txn appId versions across all commit kinds)."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(10).repartitionByRange(2, "id"), stats_cols=["id"])
    # a streaming batch commits with a txn marker
    assert t.commit(spark.range(100, 103), mode="append", txn=("app", 0)) >= 0

    # maintenance between micro-batches
    t.replace_where(spark.range(0, 5), "id", 0, 4)
    assert t._manifest(t._versions()[-1]).get("txns") == {"app": 0}
    t.merge_upsert(spark.range(200, 202), "id")
    assert t._manifest(t._versions()[-1]).get("txns") == {"app": 0}
    t.rollback(t._versions()[-1] - 1)
    assert t._manifest(t._versions()[-1]).get("txns") == {"app": 0}

    # the replayed micro-batch is still suppressed after all three
    n_before = sorted(r.id for r in t.read().collect())
    assert t.commit(spark.range(100, 103), mode="append", txn=("app", 0)) == -1
    assert sorted(r.id for r in t.read().collect()) == n_before


def test_prune_to_empty_preserves_table_schema(spark, tmp_path):
    """A prune that eliminates every file must still return a frame
    with the TABLE schema so the caller's documented row-level
    re-filter resolves (previously: dummy-string schema ->
    AnalysisException)."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(
        spark.range(100).select("id", (F.col("id") * 2).alias("v")),
        stats_cols=["id"],
    )
    out = t.read(prune=("id", 10_000, 20_000)).filter(
        (F.col("id") >= 10_000) & (F.col("id") <= 20_000)
    )
    assert out.columns == ["id", "v"]
    assert out.count() == 0


def test_date_bound_pruning_no_typeerror(spark, tmp_path):
    """Date/timestamp stats are persisted as isoformat strings; passing
    datetime.date bounds to read(prune)/replace_where must normalize
    (not raise TypeError) and still prune correctly — ISO-8601 orders
    lexicographically."""
    import datetime as dt

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    df = spark.range(365).select(
        F.date_add(F.lit("2024-01-01"), F.col("id").cast("int")).alias("d"),
        F.col("id").alias("v"),
    ).repartitionByRange(4, "d")
    t.commit(df, stats_cols=["d"])

    lo, hi = dt.date(2024, 12, 1), dt.date(2024, 12, 31)
    kept, total = t.pruned_file_count(None, ("d", lo, hi))
    assert total == 4 and kept < total
    got = t.read(prune=("d", lo, hi)).filter(
        (F.col("d") >= F.lit(lo)) & (F.col("d") <= F.lit(hi))
    )
    assert got.count() == 30  # leap year: 365 days from Jan 1 ends Dec 30

    # replace_where with date bounds: file partition must not TypeError
    repl = df.filter((F.col("d") >= F.lit(lo)) & (F.col("d") <= F.lit(hi)))
    t.replace_where(repl, "d", lo, hi)
    assert t.read().count() == 365


def test_vacuum_grace_period_spares_inflight_files(spark, tmp_path):
    """Committers promote data files BEFORE the manifest CAS; vacuum's
    grace window must spare young unreferenced files so a concurrent
    in-flight commit isn't torn."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(3))
    # emulate an in-flight commit: files promoted, manifest not yet CAS'd
    names, _rows, _stats = t._write_data_files(spark.range(100, 105))
    res = t.vacuum(retain_last=1, grace_seconds=600.0)
    assert res["removed_files"] == 0  # spared: younger than grace
    for n in names:
        assert os.path.exists(tmp_path / "tbl" / "data" / n)
    # with the margin waived they are reclaimed (the test-only path)
    res2 = t.vacuum(retain_last=1, grace_seconds=0.0)
    assert res2["removed_files"] == len(names)


def test_append_schema_enforced_and_carried_forward(spark, tmp_path):
    """Append must NOT flip the manifest's stored table
    schema. A matching append (even with reordered columns) carries the
    parent schema forward; a mismatched append is rejected (Delta-style
    schema enforcement) and leaves the table untouched."""
    import json as _json

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    base = spark.range(5).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    t.commit(base, stats_cols=["id"])
    # reordered columns: same table schema, append accepted, manifest
    # keeps the PARENT's schema json verbatim
    t.commit(
        spark.range(5, 8).select((F.col("id") * 2).alias("v"), F.col("id")),
        mode="append",
    )
    mdir = tmp_path / "tbl" / "_manifests"
    manifests = sorted(os.listdir(mdir))
    m0 = _json.load(open(mdir / manifests[0]))
    m1 = _json.load(open(mdir / manifests[-1]))
    assert m1["schema"] == m0["schema"]
    # prune-to-empty read still materializes the TABLE schema
    empty = t.read(prune=("id", 10_000, 20_000)).filter(F.col("id") > 10_000)
    assert set(empty.columns) == {"id", "v"}

    # mismatched append: rejected, no new version, no orphan data files
    files_before = set(os.listdir(tmp_path / "tbl" / "data"))
    with pytest.raises(ValueError, match="append schema mismatch"):
        t.commit(
            spark.range(3).select(F.col("id"), F.lit("x").alias("other")),
            mode="append",
        )
    assert t._versions()[-1] == 1
    assert set(os.listdir(tmp_path / "tbl" / "data")) == files_before
    assert _ids(t.read()) == list(range(8))


def test_append_merge_schema_widens(spark, tmp_path):
    """merge_schema=True appends widen the table to the field union:
    new columns read NULL on pre-evolution rows, dropped columns read
    NULL on the new rows, old snapshots keep the old schema, and
    same-name-different-type is still rejected."""
    import pytest

    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    t = VersionedTable(spark, str(tmp_path / "t"))
    v0 = t.commit(spark.createDataFrame([(1, "a")], "id long, name string"))
    # widen: adds score, drops name
    t.commit(
        spark.createDataFrame([(2, 0.5)], "id long, score double"),
        mode="append",
        merge_schema=True,
    )
    got = {(r.id, r.name, r.score) for r in t.read().collect()}
    assert got == {(1, "a", None), (2, None, 0.5)}
    assert [f.name for f in t.read().schema.fields] == ["id", "name", "score"]
    # time travel to v0 keeps the original two-column schema
    assert [f.name for f in t.read(version=v0).schema.fields] == ["id", "name"]
    # strict default still rejects
    with pytest.raises(ValueError, match="append schema mismatch"):
        t.commit(
            spark.createDataFrame([(3, True)], "id long, flag boolean"),
            mode="append",
        )
    # type conflict rejected even under merge_schema
    with pytest.raises(ValueError, match="type conflict"):
        t.commit(
            spark.createDataFrame([("x", 1.0)], "id string, score double"),
            mode="append",
            merge_schema=True,
        )
    # failed commits left no dangling effect: table unchanged
    assert {(r.id, r.name, r.score) for r in t.read().collect()} == got


def test_compact_preserves_rows_and_txn_highwater(spark, tmp_path):
    """compact(): row-identical snapshot behind fewer files; the txn
    high-water survives, so a crash-replayed micro-batch still skips
    after compaction; prior versions stay readable."""
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    t = VersionedTable(spark, str(tmp_path / "t"))
    for b in range(3):  # three micro-batch appends -> many small files
        t.commit(
            spark.createDataFrame([(b * 10 + i,) for i in range(4)], "id long"),
            mode="append" if b else "overwrite",
            txn=("app", b),
        )
    before = {r.id for r in t.read().collect()}
    files_before = len(t._manifest(t._versions()[-1])["files"])
    v = t.compact(num_files=1)
    m = t._manifest(v)
    assert len(m["files"]) == 1 < files_before
    assert {r.id for r in t.read().collect()} == before
    # replayed batch (<= high-water 2) must still be a no-op
    assert (
        t.commit(
            spark.createDataFrame([(99,)], "id long"),
            mode="append",
            txn=("app", 2),
        )
        == -1
    )
    assert {r.id for r in t.read().collect()} == before
    # pre-compaction version still time-travels
    assert {r.id for r in t.read(version=v - 1).collect()} == before


def test_compact_racing_append_preserves_the_append(spark, tmp_path):
    """Compaction vs a concurrent APPEND (the compact_every production
    race): the append lands between compaction's snapshot read and its
    commit. Winner/loser semantics pinned here: BOTH survive — the
    compacted manifest carries the rewritten base files plus the files
    appended after the base version, so the interleaved writer's rows
    are never clobbered by the stale-snapshot rewrite, and the txn
    high-water rides the tip (the appender's txn still replays as a
    no-op afterwards)."""
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    t = VersionedTable(spark, str(tmp_path / "t"))
    w2 = VersionedTable(spark, str(tmp_path / "t"))
    for b in range(3):
        t.commit(
            spark.createDataFrame([(b * 10 + i,) for i in range(4)], "id long"),
            mode="append" if b else "overwrite",
        )
    base_rows = {r.id for r in t.read().collect()}

    # deterministic interleave: the concurrent append lands right after
    # compaction has read its snapshot and staged its rewrite, before
    # its manifest CAS
    orig = t._write_data_files

    def staged_then_interleaved_append(df, stats_cols=None):
        res = orig(df, stats_cols)
        w2.commit(
            spark.createDataFrame([(100,), (101,)], "id long"),
            mode="append",
            txn=("late-writer", 7),
        )
        return res

    t._write_data_files = staged_then_interleaved_append
    v = t.compact(num_files=1)

    got = {r.id for r in t.read().collect()}
    assert got == base_rows | {100, 101}  # the racing append survived
    m = t._manifest(v)
    assert m["n_rows"] == len(base_rows) + 2
    # rewritten base sits in 1 file; the append's file(s) are retained
    assert len(m["files"]) >= 2
    # txn high-water rode the tip: the appender's batch still replays
    assert (
        w2.commit(
            spark.createDataFrame([(999,)], "id long"),
            mode="append",
            txn=("late-writer", 7),
        )
        == -1
    )
    assert {r.id for r in t.read().collect()} == got


def test_compact_racing_overwrite_aborts(spark, tmp_path):
    """Compaction vs a concurrent OVERWRITE: the read snapshot is
    obsolete, so committing the rewrite would resurrect replaced data.
    Pinned semantics: the overwrite WINS, compaction raises
    ConcurrentCompactionError, leaves no new version, and cleans up its
    staged data files."""
    import os as _os

    import pytest

    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        ConcurrentCompactionError,
        VersionedTable,
    )

    t = VersionedTable(spark, str(tmp_path / "t"))
    w2 = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(20).select(F.col("id")))

    orig = t._write_data_files

    def staged_then_interleaved_overwrite(df, stats_cols=None):
        res = orig(df, stats_cols)
        w2.commit(
            spark.createDataFrame([(7,), (8,)], "id long"), mode="overwrite"
        )
        return res

    t._write_data_files = staged_then_interleaved_overwrite
    with pytest.raises(ConcurrentCompactionError):
        t.compact(num_files=1)

    # the overwrite won; no compaction version was minted
    assert {r.id for r in t.read().collect()} == {7, 8}
    tipm = t._manifest(t._versions()[-1])
    assert tipm["mode"] == "overwrite"
    # staged rewrite files were cleaned up: every file on disk is
    # referenced by some manifest
    referenced = set()
    for ver in t._versions():
        referenced |= set(t._manifest(ver)["files"])
    on_disk = set(_os.listdir(t._ddir))
    assert on_disk <= referenced


def test_compact_sorted_layout_prunes_files(spark, tmp_path):
    """compact(sort_by=...) range-sorts the rewrite so files hold
    disjoint value ranges: a point-range prune then touches 1 of N
    files (the OPTIMIZE-ZORDER payoff, observable via
    pruned_file_count)."""
    import random

    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    rng = random.Random(3)
    ids = list(range(400))
    rng.shuffle(ids)
    t = VersionedTable(spark, str(tmp_path / "t"))
    # four shuffled appends: every file spans ~the whole id range
    for b in range(4):
        t.commit(
            spark.createDataFrame(
                [(i,) for i in ids[b * 100 : (b + 1) * 100]], "id long"
            ),
            mode="append" if b else "overwrite",
            stats_cols=["id"],
        )
    kept_before, total_before = t.pruned_file_count(None, ("id", 10, 20))
    # unsorted: most files span the whole id range, so the prune keeps
    # far more than the one file the sorted layout will need
    assert kept_before > total_before // 2 > 1
    v = t.compact(num_files=4, sort_by=["id"], stats_cols=["id"])
    kept, total = t.pruned_file_count(v, ("id", 10, 20))
    assert total == 4 and kept == 1  # disjoint ranges: one file matches
    assert {r.id for r in t.read().collect()} == set(ids)
    got = {r.id for r in t.read(prune=("id", 10, 20)).collect()}
    assert got >= set(range(10, 21))  # superset guarantee


def test_compact_zorder_prunes_both_dimensions(spark, tmp_path):
    """compact(zorder_by=[x, y]) lays rows along the Morton curve so
    file min/max stats are tight on BOTH columns: a range prune on
    EITHER dimension skips files. The lexicographic baseline
    (sort_by=[x, y]) prunes only its leading column — the trailing
    column spans every file."""
    import random

    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    rng = random.Random(7)
    rows = [(rng.randrange(1000), rng.randrange(1000)) for _ in range(4000)]

    def build(path):
        t = VersionedTable(spark, str(tmp_path / path))
        for b in range(4):
            t.commit(
                spark.createDataFrame(rows[b * 1000 : (b + 1) * 1000], "x long, y long"),
                mode="append" if b else "overwrite",
                stats_cols=["x", "y"],
            )
        return t

    tz = build("tz")
    v = tz.compact(num_files=16, zorder_by=["x", "y"], stats_cols=["x", "y"])
    # a thin slice on EACH dimension prunes most of the 16 files
    kept_x, total = tz.pruned_file_count(v, ("x", 100, 160))
    kept_y, _ = tz.pruned_file_count(v, ("y", 100, 160))
    assert total == 16
    assert kept_x <= total // 2, kept_x
    assert kept_y <= total // 2, kept_y
    # row fidelity: compaction is layout-only
    assert sorted((r.x, r.y) for r in tz.read().collect()) == sorted(rows)
    # prune superset guarantee on the secondary dimension
    got = {(r.x, r.y) for r in tz.read(prune=("y", 100, 160)).collect()}
    assert got >= {(x, y) for (x, y) in rows if 100 <= y <= 160}

    # lexicographic baseline: same data, sort_by=[x, y] — x prunes hard,
    # y keeps (essentially) everything, which is exactly the gap
    # z-ordering closes
    tl = build("tl")
    vl = tl.compact(num_files=16, sort_by=["x", "y"], stats_cols=["x", "y"])
    lex_kept_x, _ = tl.pruned_file_count(vl, ("x", 100, 160))
    lex_kept_y, _ = tl.pruned_file_count(vl, ("y", 100, 160))
    assert lex_kept_x <= 3
    assert lex_kept_y == 16  # trailing column: no pruning at all
    assert kept_y < lex_kept_y


def test_zorder_key_edge_cases(spark):
    """NULLs quantize to 0, constant columns contribute nothing, and the
    key is deterministic for fixed bounds."""
    from pyspark.sql import functions as F

    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        zorder_key,
    )

    df = spark.createDataFrame(
        [(0.0, 5.0), (None, 5.0), (100.0, 5.0)], "a double, c double"
    )
    z = df.select(
        zorder_key(["a", "c"], [0.0, 5.0], [100.0, 5.0], bits=8).alias("z")
    ).collect()
    vals = [r.z for r in z]
    # constant c contributes 0 bits; null a -> 0 -> same key as a=0.0
    assert vals[0] == vals[1] == 0
    assert vals[2] > 0
    # interleave of a alone: a=100 quantizes to top=255 -> bits spread
    # across even positions (j=0 of 2 columns)
    expect = 0
    for i in range(8):
        expect |= 1 << (2 * i)
    assert vals[2] == expect


def test_zorder_key_three_columns_fits_long(spark):
    """With 3 columns the per-column bit budget clamps to 62//3 = 20
    bits; keys stay non-negative longs and distinct corners map to
    distinct keys."""
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        zorder_key,
    )

    df = spark.createDataFrame(
        [(0.0, 0.0, 0.0), (9.0, 0.0, 0.0), (0.0, 9.0, 0.0),
         (0.0, 0.0, 9.0), (9.0, 9.0, 9.0)],
        "a double, b double, c double",
    )
    z = [
        r.z
        for r in df.select(
            zorder_key(["a", "b", "c"], [0.0] * 3, [9.0] * 3, bits=64).alias("z")
        ).collect()
    ]
    assert all(v >= 0 for v in z)
    assert len(set(z)) == 5
    # the all-max corner interleaves 20 ones per column = 60 set bits
    assert max(z) == (1 << 60) - 1


def test_compact_zorder_rank_quantize_beats_linear_on_skew(spark, tmp_path):
    """Heavy-tailed column: linear min-max quantization collapses ~90% of
    rows into one z-bucket (no resolution where the data lives), so a
    dense-region slice keeps most files; rank (equi-depth) boundaries
    give every bucket ~equal mass and the same slice prunes hard."""
    import random

    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    rng = random.Random(17)
    rows = [
        (
            float(rng.uniform(0, 100)) if rng.random() < 0.9
            else float(rng.uniform(100, 100_000)),
            rng.randrange(1000),
        )
        for _ in range(4000)
    ]

    def build(path):
        t = VersionedTable(spark, str(tmp_path / path))
        for b in range(4):
            t.commit(
                spark.createDataFrame(
                    rows[b * 1000 : (b + 1) * 1000], "x double, y long"
                ),
                mode="append" if b else "overwrite",
                stats_cols=["x", "y"],
            )
        return t

    tl = build("lin")
    vl = tl.compact(num_files=16, zorder_by=["x", "y"], stats_cols=["x", "y"])
    tr = build("rank")
    vr = tr.compact(
        num_files=16,
        zorder_by=["x", "y"],
        zorder_quantize="rank",
        stats_cols=["x", "y"],
    )
    # dense-region slice on the skewed column
    lin_x, total = tl.pruned_file_count(vl, ("x", 20.0, 30.0))
    rank_x, _ = tr.pruned_file_count(vr, ("x", 20.0, 30.0))
    assert total == 16
    assert rank_x < lin_x, (rank_x, lin_x)
    assert rank_x <= 8, rank_x
    # the uniform column still prunes under rank mode
    rank_y, _ = tr.pruned_file_count(vr, ("y", 100, 160))
    assert rank_y <= 8, rank_y
    # row fidelity
    assert sorted((r.x, r.y) for r in tr.read().collect()) == sorted(rows)


def test_compact_zorder_quantize_requires_zorder_by(spark, tmp_path):
    """zorder_quantize='rank' without zorder_by (including the sort_by
    path) is a contract error, not a silent no-op."""
    import pytest

    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(10).selectExpr("id AS x"), mode="overwrite")
    with pytest.raises(ValueError, match="zorder_quantize requires zorder_by"):
        t.compact(num_files=2, zorder_quantize="rank")
    with pytest.raises(ValueError, match="zorder_quantize requires zorder_by"):
        t.compact(num_files=2, sort_by=["x"], zorder_quantize="rank")


def test_fuzz_multiwriter_mixed_ops_every_version_consistent(spark, tmp_path):
    """Randomized multi-writer CAS stress: six real threads
    run a seeded mix of append / overwrite / compact against ONE table.
    Whatever the interleaving, every committed version must be a
    consistent snapshot: versions are unique and contiguous, the parent
    chain is unbroken, no manifest references a data file twice, every
    referenced file exists, and replaying the per-version op log
    (append adds its payload, overwrite resets to its payload, compact
    is row-identical) reproduces read(version=v) exactly at EVERY
    version. Compactions racing an overwrite may abort with
    ConcurrentCompactionError — allowed, and their staged files must
    not corrupt any snapshot. Seed: 1337 (deterministic op mix; thread
    interleaving is real and free)."""
    import random
    import threading
    from pathlib import Path

    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        ConcurrentCompactionError,
        VersionedTable,
    )

    SEED = 1337
    root = str(tmp_path / "tbl")
    t0 = VersionedTable(spark, root)
    t0.commit(spark.range(0).select(F.col("id")))  # v0: empty base

    op_log: dict[int, tuple[str, list[int]]] = {0: ("overwrite", [])}
    log_lock = threading.Lock()
    errs: list[Exception] = []
    aborted_compactions = [0]

    def worker(w: int) -> None:
        rng = random.Random(SEED + w)
        try:
            t = VersionedTable(spark, root)
            for i in range(6):
                base = 100_000 * w + 100 * i
                roll = rng.random()
                if roll < 0.6:
                    ids = list(range(base, base + 3))
                    v = t.commit(
                        spark.createDataFrame([(x,) for x in ids], "id long"),
                        mode="append",
                    )
                    with log_lock:
                        op_log[v] = ("append", ids)
                elif roll < 0.8:
                    ids = list(range(base, base + 2))
                    v = t.commit(
                        spark.createDataFrame([(x,) for x in ids], "id long"),
                        mode="overwrite",
                    )
                    with log_lock:
                        op_log[v] = ("overwrite", ids)
                else:
                    try:
                        v = t.compact(num_files=2)
                        with log_lock:
                            op_log[v] = ("compact", [])
                    except ConcurrentCompactionError:
                        with log_lock:
                            aborted_compactions[0] += 1
        except Exception as ex:  # noqa: BLE001
            errs.append(ex)

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(6)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs

    t = VersionedTable(spark, root)
    versions = t._versions()
    # every committed version is logged exactly once, contiguously
    assert versions == sorted(op_log), (versions, sorted(op_log))
    assert versions == list(range(len(versions)))
    seen_file_sets = {}
    for v in versions:
        m = t._manifest(v)
        if v:
            assert m["parent"] == v - 1
        files = list(m["files"])
        assert len(files) == len(set(files)), f"dup file in manifest v{v}"
        for p in files:
            assert Path(t._ddir, p).exists(), p
        seen_file_sets[v] = files
    # replay the op log: every snapshot matches its reconstruction
    expected: list[int] = []
    for v in versions:
        op, ids = op_log[v]
        if op == "append":
            expected = sorted(expected + ids)
        elif op == "overwrite":
            expected = sorted(ids)
        # compact: row-identical
        assert _ids(t.read(version=v)) == expected, f"v{v} ({op})"
    # the storm must have actually exercised contention
    n_ops = sum(1 for v in op_log if v) + aborted_compactions[0]
    assert n_ops == 36, n_ops
    # txn replay still exact-once after the storm
    v1 = t.commit(spark.range(3), mode="append", txn=("fuzz", 7))
    assert v1 >= 0
    assert t.commit(spark.range(3), mode="append", txn=("fuzz", 7)) == -1


def test_compact_zorder_string_column_dictionary_rank(spark, tmp_path):
    """Z-order over a STRING column: the lex-sorted
    dictionary-rank surrogate must (a) leave row content identical,
    (b) restore the exact table schema (no surrogate leakage), and
    (c) produce files holding contiguous lex ranges so a string
    equality/range slice prunes files — while the numeric co-dimension
    still prunes too (the multi-dim property that motivated z-order)."""
    import random

    rng = random.Random(23)
    langs = [f"l{ch}" for ch in "abcdefghijklmnop"]  # 16 values
    rows = [
        (rng.choice(langs), float(rng.uniform(0, 100.0)), rng.randrange(10**6))
        for _ in range(4000)
    ]
    t = VersionedTable(spark, str(tmp_path / "t"))
    for b in range(4):
        t.commit(
            spark.createDataFrame(
                rows[b * 1000 : (b + 1) * 1000], "lang string, x double, pad long"
            ),
            mode="append" if b else "overwrite",
            stats_cols=["lang", "x"],
        )
    before = sorted(
        (r.lang, r.x, r.pad) for r in t.read().collect()
    )
    v = t.compact(num_files=16, zorder_by=["lang", "x"], stats_cols=["lang", "x"])
    after_df = t.read(version=v)
    assert after_df.columns == ["lang", "x", "pad"]  # no surrogate leaked
    assert sorted((r.lang, r.x, r.pad) for r in after_df.collect()) == before
    # string slice prunes (single-value slice of a 16-value dim crosses
    # several z-ranges — geometry bounds it well under all-16)
    k_lang, total = t.pruned_file_count(v, ("lang", "lh", "lh"))
    assert total == 16
    assert k_lang <= 10, k_lang
    # numeric co-dimension still prunes
    k_x, _ = t.pruned_file_count(v, ("x", 20.0, 30.0))
    assert k_x <= 10, k_x
    # the baseline z-order beats: lexicographic sort on (x, lang) keeps
    # EVERY file for the trailing string column
    t2 = VersionedTable(spark, str(tmp_path / "t2"))
    t2.commit(
        spark.createDataFrame(rows, "lang string, x double, pad long"),
        mode="overwrite",
        stats_cols=["lang", "x"],
    )
    v2 = t2.compact(num_files=16, sort_by=["x", "lang"], stats_cols=["lang", "x"])
    k_lex, _ = t2.pruned_file_count(v2, ("lang", "lh", "lh"))
    assert k_lex == 16 and k_lang < k_lex


def test_compact_zorder_string_high_cardinality_sampled_boundaries(spark, tmp_path):
    """A string z-order column beyond 65,536 distinct values (not a
    hard error) falls back to sampled lex-quantile
    boundaries — 256 equi-depth buckets from a deterministic
    hash-ordered sample, no full dictionary. The compacted files must
    still (a) hold every row with the exact table schema and (b) hold
    contiguous lex ranges, so a narrow string-range probe prunes most
    files — the url-host / doc-source clustering case a 100 TB table
    actually has."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.range(70_000).selectExpr(
            "CONCAT('v', LPAD(CAST(id AS STRING), 6, '0')) AS s", "id AS x"
        ),
        mode="overwrite",
        stats_cols=["s"],
    )
    v = t.compact(num_files=16, zorder_by=["s"], stats_cols=["s"])
    after = t.read(version=v)
    assert after.columns == ["s", "x"]  # no surrogate leaked
    assert after.count() == 70_000
    assert after.selectExpr("count(DISTINCT s) AS d").first().d == 70_000
    # a ~5% lex slice must prune well below all-16 (contiguous ranges)
    k, total = t.pruned_file_count(v, ("s", "v010000", "v013499"))
    assert total == 16
    assert k <= 3, k


def test_compact_zorder_string_null_sentinel_rank(spark, tmp_path):
    """NULL values in a string z-order column:
    the dictionary join must not leave a NULL surrogate/z-key — NULLs
    take sentinel rank -1, below every real rank, so they survive the
    rewrite and collapse deterministically into the z-low files."""
    from pyspark.sql import functions as F

    rows = [(f"l{i % 8}", float(i)) for i in range(800)]
    rows += [(None, float(i)) for i in range(100)]
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(rows, "lang string, x double"),
        mode="overwrite",
        stats_cols=["lang", "x"],
    )
    v = t.compact(num_files=8, zorder_by=["lang", "x"], stats_cols=["lang", "x"])
    after = t.read(version=v)
    assert after.count() == 900
    assert after.filter(F.col("lang").isNull()).count() == 100
    # content identical, incl. the NULL-keyed rows' payloads
    keyf = lambda p: (p[0] is not None, p[0] or "", p[1])  # noqa: E731
    got = sorted(((r.lang, r.x) for r in after.collect()), key=keyf)
    assert got == sorted(rows, key=keyf)


def test_compact_zorder_string_fallback_nulls_and_skew(spark, tmp_path):
    """The sampled-boundary fallback under its two hostile inputs at
    once: NULL strings (must take sentinel rank -1 and survive) and a
    heavy-hitter value holding ~half the rows (the hash-ordered sample
    is frequency-weighted, so boundary dedup collapses around the hot
    value — bucketing must stay correct, merely coarser there)."""
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.range(140_000).selectExpr(
            # ids 0..69,999 -> 70k distinct (over the cap); the rest all
            # collapse onto one hot value; every 70th row NULL
            "CASE WHEN id % 70 = 69 THEN NULL "
            "WHEN id < 70000 THEN CONCAT('v', LPAD(CAST(id AS STRING), 6, '0')) "
            "ELSE 'hot-value' END AS s",
            "id AS x",
        ),
        mode="overwrite",
        stats_cols=["s"],
    )
    total_rows = 140_000
    n_null = 140_000 // 70
    v = t.compact(num_files=16, zorder_by=["s"], stats_cols=["s"])
    after = t.read(version=v)
    assert after.count() == total_rows
    assert after.filter(F.col("s").isNull()).count() == n_null
    assert (
        after.filter(F.col("s") == "hot-value").count()
        == 70_000 - 70_000 // 70
    )
    # a narrow lex slice still prunes despite the skewed sample
    k, total = t.pruned_file_count(v, ("s", "v010000", "v013499"))
    assert total == 16
    assert k <= 4, k


def test_compact_zorder_date_and_timestamp_columns(spark, tmp_path):
    """Z-order over DATE / TIMESTAMP columns: the (source,
    day) layout is the canonical lake clustering shape, but date types
    don't cast to double for the Morton quantizer — an epoch surrogate
    (unix_date / unix_micros, order-preserving) must make both a date
    AND its numeric co-dimension prune, NULL dates must survive with
    zorder_key's NULL->bucket-0 semantics, and the rewrite must restore
    the exact schema."""
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(2000).select(
        F.expr(
            "CASE WHEN id % 100 = 99 THEN CAST(NULL AS DATE) "
            "ELSE date_add(DATE'2024-01-01', CAST(id % 365 AS INT)) END"
        ).alias("day"),
        F.expr(
            "timestamp_micros(CAST(1700000000000000 + id * 1000000 AS LONG))"
        ).alias("ts"),
        (F.col("id") % 97).cast("double").alias("x"),
    )
    t.commit(df, mode="overwrite", stats_cols=["day", "x"])
    v = t.compact(
        num_files=8, zorder_by=["day", "x"], stats_cols=["day", "x"]
    )
    after = t.read(version=v)
    assert after.columns == ["day", "ts", "x"]  # no surrogate leaked
    assert after.count() == 2000
    assert after.filter(F.col("day").isNull()).count() == 20
    # both clustered dimensions prune on narrow slices
    k_day, total = t.pruned_file_count(v, ("day", "2024-02-01", "2024-02-15"))
    k_x, _ = t.pruned_file_count(v, ("x", 10.0, 20.0))
    assert total == 8 and k_day < 8 and k_x < 8, (k_day, k_x)
    # timestamp z-order column alone: epoch-micros surrogate path
    v2 = t.compact(num_files=4, zorder_by=["ts"], stats_cols=["ts"])
    assert t.read(version=v2).count() == 2000


def test_manifest_per_file_rows_and_metadata_accounting(spark, tmp_path):
    """Every written file carries its footer row count in the
    manifest ("__rows"), n_rows always equals their sum, and
    maintenance commits (replace_where / merge_upsert) account for
    carried-over files from that metadata — with a working count
    fallback for older manifests that lack it."""
    import json as _json

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.range(1000).repartitionByRange(4, "id"), stats_cols=["id"]
    )
    m0 = t._manifest(0)
    assert all("__rows" in m0["stats"][f] for f in m0["files"])
    assert sum(m0["stats"][f]["__rows"] for f in m0["files"]) == m0["n_rows"] == 1000

    # replace_where: kept files accounted from metadata, totals exact
    t.replace_where(
        spark.range(200, 300).select("id"), "id", 200, 299, stats_cols=["id"]
    )
    m1 = t._manifest(1)
    assert m1["n_rows"] == 1000
    assert sum(m1["stats"][f]["__rows"] for f in m1["files"]) == 1000
    assert _ids(t.read()) == list(range(1000))

    # merge_upsert keeps the invariant
    t.merge_upsert(spark.range(990, 1010).select("id"), "id")
    m2 = t._manifest(2)
    assert m2["n_rows"] == 1010
    assert sum(m2["stats"][f]["__rows"] for f in m2["files"]) == 1010

    # fallback: a manifest stripped of __rows (the older shape) still
    # replace_where's correctly via the one-count fallback
    mpath = t._mdir + f"/v{2:08d}.json"
    m = _json.load(open(mpath))
    for f in m["stats"]:
        m["stats"][f].pop("__rows", None)
    _json.dump(m, open(mpath, "w"))
    t2 = VersionedTable(spark, str(tmp_path / "t"))
    t2.replace_where(
        spark.range(0, 50).select("id"), "id", 0, 49, stats_cols=["id"]
    )
    m3 = t2._manifest(3)
    assert m3["n_rows"] == 1010
    assert _ids(t2.read()) == list(range(1010))


def test_replace_where_and_merge_upsert_on_date_keys(spark, tmp_path):
    """Date-typed maintenance keys across the triad (companion
    to the date z-order support): replace_where over a
    calendar-month slice and merge_upsert keyed on a date column must
    resolve files through the isoformat manifest stats, keep totals
    exact, and land the new rows."""
    import datetime

    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(365).select(
        F.expr("date_add(DATE'2024-01-01', CAST(id AS INT))").alias("day"),
        F.col("id").alias("v"),
    )
    t.commit(df.repartitionByRange(6, "day"), stats_cols=["day"])

    repl = spark.range(31).select(
        F.expr("date_add(DATE'2024-03-01', CAST(id AS INT))").alias("day"),
        (F.col("id") + 1000).alias("v"),
    )
    v1 = t.replace_where(
        repl,
        "day",
        datetime.date(2024, 3, 1),
        datetime.date(2024, 3, 31),
        stats_cols=["day"],
    )
    assert t._manifest(v1)["n_rows"] == 365 == t.read().count()
    march = t.read().filter(
        (F.col("day") >= F.lit("2024-03-01"))
        & (F.col("day") <= F.lit("2024-03-31"))
    )
    assert march.count() == 31
    assert march.agg(F.min("v")).first()[0] == 1000  # replaced values

    # merge_upsert keyed on the date: 4 updates + 1 brand-new day
    up = spark.range(5).select(
        F.expr("date_add(DATE'2024-12-27', CAST(id AS INT))").alias("day"),
        (F.col("id") + 5000).alias("v"),
    )
    v2 = t.merge_upsert(up, "day", stats_cols=["day"])
    assert t._manifest(v2)["n_rows"] == 366 == t.read().count()
    assert (
        t.read().filter(F.col("day") == F.lit("2024-12-31")).first().v == 5004
    )


def test_reserved_rows_key_rejected_in_stats_cols(spark, tmp_path):
    """"__rows" is the manifest's reserved per-file
    row-count key; a real column by that name in stats_cols would
    clobber the count with a min/max dict and crash _kept_rows later.
    Commit paths must reject it loudly BEFORE writing anything."""
    import pytest as _pytest

    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(10).withColumnRenamed("id", "__rows")
    with _pytest.raises(ValueError, match="reserved manifest key"):
        t.commit(df, stats_cols=["__rows"])
    # nothing committed, table still empty
    assert t._versions() == []

    # maintenance paths share the guard via _write_data_files
    t.commit(spark.range(100), stats_cols=["id"])
    with _pytest.raises(ValueError, match="reserved manifest key"):
        t.replace_where(
            spark.range(5).select("id"), "id", 0, 4, stats_cols=["id", "__rows"]
        )
    assert len(t._versions()) == 1
