"""Sustained-load soaks for the ingest-maintenance streams: 100+
micro-batches through the dedup-on-ingest sinks and the mergeable-sketch streams at production state size,
asserting per-batch cost stays TREND-FLAT — bounded by batch size plus
summary-sized merges, never by accumulated history.

The trend statistic (tools/soak_streams.py::trend) is
median(last quarter) / median(second quarter) of per-batch trigger
durations; the first quarter absorbs JIT warmup. History-following cost
would put the ratio near batches/4 (the corpus is ~30x larger at the
end than at batch 4); the bound of 2.0 is generous to box noise while
categorically rejecting linear growth.

The heavyweight 120-batch runs with throughput rows live in
tools/soak_streams.py (results recorded in PERF.md "Streaming-ingest
soak"); these tests run the same harness at a CI-bounded batch count,
overridable via SPARK_GRAFT_SOAK_BATCHES.
"""

from __future__ import annotations

import importlib.util
import os
import sys
from pathlib import Path

import pytest

_TOOLS = Path(__file__).resolve().parent.parent / "tools" / "soak_streams.py"
_spec = importlib.util.spec_from_file_location("soak_streams", _TOOLS)
soak_streams = importlib.util.module_from_spec(_spec)
sys.modules["soak_streams"] = soak_streams
_spec.loader.exec_module(soak_streams)

N_BATCHES = int(os.environ.get("SPARK_GRAFT_SOAK_BATCHES", "100"))
MAX_TREND = 2.0


def _soak(spark, tmp_path, mode: str, docs_per_batch: int) -> dict:
    """One soak run, with a single retry if the TREND assertion would
    fail: trend_ratio is a pure timing ratio, and a co-scheduled heavy
    test late in a 35-minute full-suite run can skew the last-quarter
    median on an otherwise flat stream (observed once; the same test
    passes in isolation). A retry in a fresh directory
    distinguishes persistent history-following cost (fails BOTH runs,
    still reported) from one-off box contention; every non-timing
    assertion (state size, mass conservation, bitwise equivalence)
    still runs against the returned result as usual."""
    r = soak_streams.run_soak(
        spark, mode, str(tmp_path), N_BATCHES, docs_per_batch
    )
    if r["trend_ratio"] >= MAX_TREND:
        # retry in a sibling dir; the timing verdict comes from the
        # retry, while state assertions keep reading the FIRST run's
        # store under tmp_path — both runs ingest identical seeded
        # batches, so that store is fully valid for content checks.
        # The first run's ratio is kept in the returned dict
        # (first_trend_ratio) so persistent near-threshold drift stays
        # visible in soak artifacts instead of being discarded by the
        # retry.
        first_ratio = r["trend_ratio"]
        retry_dir = tmp_path / "retry"
        retry_dir.mkdir(exist_ok=True)
        r = soak_streams.run_soak(
            spark, mode, str(retry_dir), N_BATCHES, docs_per_batch
        )
        r["first_trend_ratio"] = first_ratio
        print(
            f"[soak-retry] {mode}: first trend_ratio={first_ratio:.3f} "
            f"(>= {MAX_TREND}), retry trend_ratio={r['trend_ratio']:.3f}"
        )
    return r


def test_dedup_ingest_soak_trend_flat(spark, tmp_path):
    """100+ micro-batches of exact dedup-on-ingest with periodic
    compaction active (compact_every=10): per-batch wall stays
    trend-flat (corpus touch = key-only fp anti-join; state = the
    stored fp column), every batch actually ingested, and the
    compaction cadence keeps the manifest's file count bounded instead
    of accreting one file set per batch."""
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    r = _soak(spark, tmp_path, "dedup", docs_per_batch=20)
    assert r["batches"] == N_BATCHES
    assert r["trend_ratio"] < MAX_TREND, r
    t = VersionedTable(spark, str(tmp_path / "store_dedup"))
    m = t._manifest(t._versions()[-1])
    # compact_every=10 with compact_files=8: file count bounded by the
    # post-compaction base plus at most 10 batches of accretion
    assert len(m["files"]) <= 8 + 10 * 2
    assert t.read().count() > 0


def test_near_dup_ingest_soak_trend_flat(spark, tmp_path):
    """100+ micro-batches of the full curation policy (exact + LSH
    near-dedup against the corpus, self-healing index maintenance) with
    periodic compaction of both tables (the harness passes
    compact_every=10): per-batch wall stays trend-flat — the
    corpus-scaled touches are the key-only fp anti-join, the stored
    band-index equi-join, and the key-only orphan sweep, and compaction
    keeps read planning from following accreted file count (the
    uncompacted 120-batch soak measured ~1.4x per-batch drift from file
    accretion alone; PERF.md)."""
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    r = _soak(spark, tmp_path, "neardup", docs_per_batch=20)
    assert r["batches"] == N_BATCHES
    assert r["trend_ratio"] < MAX_TREND, r
    # index invariant after the whole soak: every stored doc is banded
    corpus = VersionedTable(spark, str(tmp_path / "store_neardup")).read()
    idx = VersionedTable(
        spark, str(tmp_path / "store_neardup") + "__lshidx"
    ).read()
    assert (
        idx.select("id").distinct().count() == corpus.count()
    )


@pytest.mark.parametrize(
    "mode,docs_per_batch",
    [("cms", 200), ("bitmap", 200)],
)
def test_sketch_stream_soak_state_bounded(spark, tmp_path, mode, docs_per_batch):
    """Mergeable-summary streams at realistic state size (CMS 4 x 4096 —
    the store is an order of magnitude larger than one batch's delta;
    bitmap over a growing id range): merge cost tracks SUMMARY size, not
    item history, so per-batch wall stays trend-flat while the store is
    >> one batch."""
    r = _soak(spark, tmp_path, mode, docs_per_batch=docs_per_batch)
    assert r["batches"] == N_BATCHES
    assert r["trend_ratio"] < MAX_TREND, r


def test_sample_stream_soak_state_exactly_k(spark, tmp_path):
    """The bottom-k sample stream's state is EXACTLY k rows no matter how
    much history flows through: per-batch wall trend-flat, and the store
    holds k rows at the end of the soak."""
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    r = _soak(spark, tmp_path, "sample", docs_per_batch=40)
    assert r["batches"] == N_BATCHES
    assert r["trend_ratio"] < MAX_TREND, r
    store = VersionedTable(spark, str(tmp_path) + "/store_sample").read()
    assert store.count() == 100  # k


def test_keyed_histogram_stream_soak_1200_keys(spark, tmp_path):
    """Keyed-summary soak at REALISTIC key cardinality:
    histogram_ingest_stream(key_cols=) over 1,200 keys x
    unit-width buckets on [0,20) for 100+ batches. State is keys x
    buckets (~24k rows, an order of magnitude over a batch delta), so a
    merge that followed history or exploded per-key would show here
    where a handful-of-keys soak could not. Asserts trend-flat
    per-batch cost, the store-size formula (<= keys x 20 buckets, every
    bucket id in [0,20)), and mass conservation: the summed counts
    equal every row ever ingested."""
    import pyspark.sql.functions as F

    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    r = _soak(spark, tmp_path, "hist-keyed", docs_per_batch=600)
    assert r["batches"] == N_BATCHES
    assert r["trend_ratio"] < MAX_TREND, r
    store = VersionedTable(spark, str(tmp_path / "store_hist-keyed")).read()
    n_rows = store.count()
    assert n_rows <= soak_streams.HIST_KEYS * 20, n_rows
    agg = store.agg(
        F.sum("n").alias("mass"),
        F.countDistinct("key").alias("n_keys"),
        F.min("bucket").alias("blo"),
        F.max("bucket").alias("bhi"),
    ).first()
    assert agg.mass == N_BATCHES * 600
    assert agg.n_keys <= soak_streams.HIST_KEYS
    assert agg.blo >= 0 and agg.bhi <= 19, (agg.blo, agg.bhi)


def test_keyed_sample_stream_soak_1000_groups(spark, tmp_path):
    """Per-group sample maintenance at real stratification width: 1,000
    groups x k=4 over 100+ batches. Asserts trend-flat per-batch cost
    and the exact state formula: every group holds min(k, group's
    distinct keys) rows — with unique ascending doc_ids and 100x500
    rows, every touched group saturates at exactly k."""
    import pyspark.sql.functions as F

    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    r = _soak(spark, tmp_path, "sample-keyed", docs_per_batch=500)
    assert r["batches"] == N_BATCHES
    assert r["trend_ratio"] < MAX_TREND, r
    store = VersionedTable(spark, str(tmp_path / "store_sample-keyed")).read()
    per_group = store.groupBy("grp").count()
    k = soak_streams.SAMPLE_K
    # no group ever exceeds k rows of state
    assert per_group.filter(F.col("count") > k).count() == 0
    if N_BATCHES >= 100:
        # 50k rows over 1,000 groups: every group has >= k distinct keys
        # with overwhelming probability, so the store is exactly
        # groups x k (at a CI-shortened batch count a few groups may
        # legitimately go untouched — the siblings guard the same way)
        assert per_group.count() == soak_streams.SAMPLE_GROUPS
        assert per_group.filter(F.col("count") != k).count() == 0
        assert store.count() == soak_streams.SAMPLE_GROUPS * k


def test_weighted_sample_stream_soak_state_exactly_k(spark, tmp_path):
    """Weighted A-ES sample soak: 100+
    batches through weighted_sample_ingest_stream. Asserts trend-flat
    per-batch cost, state exactly k rows, and the headline merge
    contract at soak depth: the maintained store bitwise-equals the
    one-shot batch weighted sample over EVERYTHING ever ingested (the
    u^(1/w) key is pure row content, so top-k merges losslessly)."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        weighted_sample,
    )
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    r = _soak(spark, tmp_path, "wsample", docs_per_batch=40)
    assert r["batches"] == N_BATCHES
    assert r["trend_ratio"] < MAX_TREND, r
    store = VersionedTable(spark, str(tmp_path / "store_wsample")).read()
    assert store.count() == 100  # k
    history = spark.read.parquet(str(tmp_path / "src_wsample"))
    expected = weighted_sample(history, "doc_id", "weight", 100).drop("__skey")
    got = {(row.doc_id, row.weight) for row in store.collect()}
    want = {(row.doc_id, row.weight) for row in expected.collect()}
    assert got == want


def test_weighted_keyed_sample_stream_soak_1000_groups(spark, tmp_path):
    """Per-group WEIGHTED sample maintenance at real stratification
    width: 1,000 groups x k=4 over 100+ batches. Asserts trend-flat
    per-batch cost, the groups-x-k state formula, and full-history
    bitwise equivalence to the batch per-group weighted sample."""
    import pyspark.sql.functions as F

    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        weighted_sample,
    )
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    r = _soak(spark, tmp_path, "wsample-keyed", docs_per_batch=500)
    assert r["batches"] == N_BATCHES
    assert r["trend_ratio"] < MAX_TREND, r
    store = VersionedTable(spark, str(tmp_path / "store_wsample-keyed")).read()
    k = soak_streams.SAMPLE_K
    per_group = store.groupBy("grp").count()
    history = spark.read.parquet(str(tmp_path / "src_wsample-keyed"))
    # state formula: one entry per TOUCHED group, min(k, group rows) each
    touched = history.select("grp").distinct().count()
    assert per_group.count() == touched
    assert per_group.filter(F.col("count") > k).count() == 0
    if N_BATCHES >= 100:
        # 50k rows over 1,000 groups: every group sees >= k rows
        # w.h.p., so the store is exactly groups x k
        assert touched == soak_streams.SAMPLE_GROUPS
        assert store.count() == soak_streams.SAMPLE_GROUPS * k
    expected = weighted_sample(
        history, "doc_id", "weight", k, by=["grp"]
    ).drop("__skey")
    got = {(row.grp, row.doc_id, row.weight) for row in store.collect()}
    want = {(row.grp, row.doc_id, row.weight) for row in expected.collect()}
    assert got == want


def test_misra_gries_stream_soak_state_bounded(spark, tmp_path):
    """MG heavy-hitter soak: 100+ batches of a skewed token mix through
    misra_gries_ingest_stream. Trend-flat per-batch cost, state <= k
    items + the decrement row, planted heavy hitters present, and the
    classical decrement bound D <= n/(k+1) holding at soak depth."""
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        MG_DECR_KEY,
    )

    r = _soak(spark, tmp_path, "mg", docs_per_batch=200)
    assert r["batches"] == N_BATCHES
    assert r["trend_ratio"] < MAX_TREND, r
    store = {
        row.item: row.cnt
        for row in VersionedTable(spark, str(tmp_path / "store_mg")).read().collect()
    }
    decr = store.pop(MG_DECR_KEY)
    assert len(store) <= 64
    assert "hot-a" in store and "hot-b" in store
    n = r["rows_ingested"]
    assert 0 <= decr <= n / 65 + 1e-9
    # the two planted hitters hold ~30%/20% shares; their MG counts
    # must sit within the decrement band of those shares
    assert store["hot-a"] >= 0.3 * n - decr - 3 * n ** 0.5
    assert store["hot-b"] >= 0.2 * n - decr - 3 * n ** 0.5


def test_misra_gries_keyed_stream_soak_realistic_key_width(spark, tmp_path):
    """Keyed MG soak at the key width its
    summary-family siblings run at — 1,000 groups x k=8 over 100+
    batches (not 200 unkeyed rows/batch). Asserts
    trend-flat per-batch cost, the groups x (k+1) state formula, every
    group's own decrement row within the classical n_g/(k+1) bound, and
    the per-group planted ~35%-share heavy hitter present."""
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        MG_DECR_KEY,
    )

    k = soak_streams.MG_K
    groups = soak_streams.MG_GROUPS
    r = _soak(spark, tmp_path, "mg-keyed", docs_per_batch=500)
    assert r["batches"] == N_BATCHES
    assert r["trend_ratio"] < MAX_TREND, r

    rows = VersionedTable(spark, str(tmp_path / "store_mg-keyed")).read().collect()
    store: dict = {}
    decr: dict = {}
    for row in rows:
        if row.item == MG_DECR_KEY:
            decr[row.grp] = row.cnt
        else:
            store.setdefault(row.grp, {})[row.item] = row.cnt
    # state formula: <= groups x (k+1) rows total, <= k items per group
    assert len(rows) <= groups * (k + 1), len(rows)
    assert all(len(v) <= k for v in store.values())
    if N_BATCHES >= 100:
        # 50k rows over 1,000 groups: every group ingests w.h.p.
        assert len(decr) == groups
    # per-group classical bound and hitter presence on exact history
    history = spark.read.parquet(str(tmp_path / "src_mg-keyed"))
    n_g = {row.grp: row.n for row in history.groupBy("grp").count()
           .withColumnRenamed("count", "n").collect()}
    for g, n in n_g.items():
        d = decr.get(g, 0)
        assert 0 <= d <= n / (k + 1) + 1e-9, (g, d, n)
    # spot-check one group's full stored <= true <= stored + D band
    # exactly; for the rest, presence follows from share > 1/(k+1)
    # (35% >> 1/9) and is asserted in bulk below
    g0 = "g0000"
    if g0 in n_g:
        hot_true = history.filter(
            (history.grp == g0) & (history.token == f"hot-{g0}")
        ).count()
        d0 = decr.get(g0, 0)
        if hot_true > d0:
            assert f"hot-{g0}" in store.get(g0, {}), (hot_true, d0)
            assert store[g0][f"hot-{g0}"] <= hot_true <= store[g0][f"hot-{g0}"] + d0
    if N_BATCHES >= 100:
        n_present = sum(1 for g in n_g if f"hot-{g}" in store.get(g, {}))
        # every group whose hitter exceeded its decrement must hold it;
        # at ~35% share w.h.p. that's essentially all 1,000 groups
        assert n_present >= 0.99 * groups, n_present


def test_mrl_quantile_stream_soak_drifting_domain(spark, tmp_path):
    """Soak the MRL quantile-ladder stream (keyed,
    200 groups x k=16) under a DRIFTING value domain — the case the
    fixed-range histogram stream cannot serve. Asserts trend-flat
    per-batch cost, the k x (levels+2) per-group state formula, exact
    weight conservation per group, and the classical rank-error
    guarantee for the median against each group's exact history."""
    import bisect

    from f1_data_engineering_machine_learning_spark.dataops.quantiles import (
        CARRY_LEVEL,
        mrl_quantiles,
        mrl_rank_error_bound,
        mrl_state_bound,
    )
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    k = soak_streams.MRL_K
    groups = soak_streams.MRL_GROUPS
    r = _soak(spark, tmp_path, "mrl-keyed", docs_per_batch=600)
    assert r["batches"] == N_BATCHES
    assert r["trend_ratio"] < MAX_TREND, r

    summary = VersionedTable(spark, str(tmp_path / "store_mrl-keyed")).read()
    rows = summary.collect()
    per: dict = {}
    for row in rows:
        per.setdefault(row.grp, []).append(row)
    history = spark.read.parquet(str(tmp_path / "src_mrl-keyed"))
    hist: dict = {}
    for row in history.collect():
        hist.setdefault(row.grp, []).append(row.value)
    assert set(per) == set(hist)
    ests = {}
    for row in mrl_quantiles(summary, [0.5], ["grp"]).collect():
        ests[row.grp] = row.est
    for g, vals in hist.items():
        sv = sorted(vals)
        max_level = max((x.level for x in per[g]), default=CARRY_LEVEL)
        assert len(per[g]) <= mrl_state_bound(k, max(max_level, 0)), g
        w = sum(
            1.0 if x.level == CARRY_LEVEL else 2.0 ** x.level for x in per[g]
        )
        assert w == len(sv), g
        bound = mrl_rank_error_bound(k, max(max_level, 0), len(sv))
        lo = bisect.bisect_left(sv, ests[g])
        hi = bisect.bisect_right(sv, ests[g])
        t = 0.5 * len(sv)
        err = 0.0 if lo <= t <= hi else min(abs(lo - t), abs(hi - t))
        assert err <= bound, (g, err, bound)
