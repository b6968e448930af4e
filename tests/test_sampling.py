"""Sampling determinism + stratification contracts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.dataops.sampling import (
    hash_sample,
    mod_sample,
    stratified_sample,
)


def test_hash_sample_partition_invariant(spark):
    df = spark.range(10_000).withColumnRenamed("id", "k")
    a = {r.k for r in hash_sample(df.repartition(2), "k", 0.3).collect()}
    b = {r.k for r in hash_sample(df.repartition(17), "k", 0.3).collect()}
    assert a == b  # same rows regardless of layout
    assert 0.25 < len(a) / 10_000 < 0.35
    # a different salt decorrelates
    c = {r.k for r in hash_sample(df, "k", 0.3, salt="other").collect()}
    assert c != a


def test_mod_sample_slices_partition_domain(spark):
    df = spark.range(700).withColumnRenamed("id", "k")
    slices = [mod_sample(df, "k", 7, r).count() for r in range(7)]
    assert slices == [100] * 7


def test_stratified_sample_per_class(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = stratified_sample(
        docs, "lang", {"en": 0.2}, key="doc_id", default_fraction=1.0
    )
    before = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    after = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # non-en strata kept whole; en downsampled well below 1.0
    for lang, n in before.items():
        if lang != "en":
            assert after.get(lang) == n
    assert after.get("en", 0) < before["en"] * 0.6


def test_mixture_sample_hits_target_shares(spark):
    import pytest
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        mixture_sample,
    )

    # en has 4x the tokens of es: target a 50/50 token mix -> en keeps ~25%
    rows = [(i, "en", 100) for i in range(400)] + [
        (1000 + i, "es", 100) for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "n_tokens"])
    sampled, fractions = mixture_sample(
        df, "lang", F.col("n_tokens"), {"en": 0.5, "es": 0.5}, key="doc_id"
    )
    assert fractions["es"] == 1.0
    assert fractions["en"] == pytest.approx(0.25)
    got = {
        r.lang: r.t
        for r in sampled.groupBy("lang").agg(F.sum("n_tokens").alias("t")).collect()
    }
    total = sum(got.values())
    assert got["en"] / total == pytest.approx(0.5, abs=0.02)
    # determinism: same rows on re-run
    again, _ = mixture_sample(
        df, "lang", F.col("n_tokens"), {"en": 0.5, "es": 0.5}, key="doc_id"
    )
    assert sorted(r.doc_id for r in sampled.collect()) == sorted(
        r.doc_id for r in again.collect()
    )
    with pytest.raises(ValueError, match="absent"):
        mixture_sample(df, "lang", F.col("n_tokens"), {"zz": 1.0}, key="doc_id")


def test_mixture_sample_lazy_matches_eager_and_runs_no_jobs(spark):
    """The lazy plan-resident mixture keeps the eager path's rows exactly
    (bitwise-identical thresholds) and constructs with ZERO Spark jobs,
    where the eager path collects at construction."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        mixture_sample,
        mixture_sample_lazy,
        temperature_targets,
    )

    rows = [(i, "en", 100) for i in range(400)] + [
        (1000 + i, "es", 100) for i in range(100)
    ] + [(2000 + i, "fr", 37) for i in range(57)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "n_tokens"])
    target = {"en": 0.5, "es": 0.3, "fr": 0.2}

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    lazy = mixture_sample_lazy(
        df, "lang", F.col("n_tokens"), key="doc_id", target=target
    )
    lazy_temp = mixture_sample_lazy(
        df, "lang", F.col("n_tokens"), key="doc_id", alpha=0.5
    )
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before  # construction is job-free

    eager, _ = mixture_sample(
        df, "lang", F.col("n_tokens"), target, key="doc_id"
    )
    assert sorted(r.doc_id for r in lazy.collect()) == sorted(
        r.doc_id for r in eager.collect()
    )
    totals = {
        r[0]: float(r[1])
        for r in df.groupBy("lang").agg(F.sum("n_tokens")).collect()
    }
    eager_temp, _ = mixture_sample(
        df, "lang", F.col("n_tokens"), temperature_targets(totals, 0.5),
        key="doc_id",
    )
    assert sorted(r.doc_id for r in lazy_temp.collect()) == sorted(
        r.doc_id for r in eager_temp.collect()
    )

    with pytest.raises(ValueError, match="exactly one"):
        mixture_sample_lazy(df, "lang", F.col("n_tokens"), key="doc_id")
    with pytest.raises(ValueError, match="portable"):
        mixture_sample_lazy(
            df, "lang", F.col("n_tokens"), key="doc_id", alpha=0.3
        )


def test_split_by_content_hash_properties(spark):
    """Deterministic, partition-invariant, exhaustive-and-disjoint, and
    approximately honoring the fractions."""
    from pyspark.sql import functions as F

    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        split_by_content_hash,
    )

    df = spark.createDataFrame([(i, f"document number {i}") for i in range(2000)],
                               ["id", "text"])
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = split_by_content_hash(df, "text", splits)
    b = split_by_content_hash(df.repartition(13), "text", splits)
    ka = sorted((r.id, r.split) for r in a.collect())
    kb = sorted((r.id, r.split) for r in b.collect())
    assert ka == kb  # content-only decision
    shares = {r.split: r.n for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(shares) == {"train", "val", "test"}
    assert abs(shares["train"] / 2000 - 0.8) < 0.05
    assert abs(shares["val"] / 2000 - 0.1) < 0.03

    import pytest

    with pytest.raises(ValueError, match="sum to 1"):
        split_by_content_hash(df, "text", {"a": 0.5, "b": 0.2})


def test_token_familiarity_exact_rational(spark):
    """Hand-checkable corpus: familiarity = sum(corpus freq of tokens) /
    n_tokens / total_tokens, exactly."""
    from f1_data_engineering_machine_learning_spark.dataops.text import (
        token_familiarity,
    )

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")],  # corpus counts: a=3, b=1, c=1; total=5
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in token_familiarity(docs).collect()}
    # doc 1: tokens a,a,b -> sum_freq 3+3+1=7, n=3 -> 7/3/5
    assert (got[1].n_tokens, got[1].sum_freq) == (3, 7)
    assert got[1].familiarity == 7 / 3 / 5
    # doc 2: a,c -> 3+1=4, n=2 -> 4/2/5
    assert (got[2].n_tokens, got[2].sum_freq) == (2, 4)
    assert got[2].familiarity == 4 / 2 / 5
    # common-word doc scores higher than rare-word doc
    assert got[1].familiarity > got[2].familiarity


def test_temperature_targets_flatten_shares():
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        temperature_targets,
    )

    totals = {"big": 1_000_000.0, "small": 10_000.0}
    t = temperature_targets(totals, alpha=0.5)
    # flattening: the big/small ratio shrinks from 100x to 10x
    assert t["big"] / t["small"] == pytest.approx(10.0)
    # alpha=1 keeps natural proportions
    t1 = temperature_targets(totals, alpha=1.0)
    assert t1["big"] / t1["small"] == pytest.approx(100.0)


def test_upsample_with_repeats_multiplicities(spark):
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        upsample_with_repeats,
    )

    df = spark.createDataFrame(
        [(i, "hot" if i % 2 else "cold") for i in range(200)],
        "k long, dom string",
    )
    out = upsample_with_repeats(df, "dom", {"hot": 2.5, "cold": 1.0}, key="k")
    counts = {
        (r["dom"], r["k"]): r["n"]
        for r in out.groupBy("dom", "k").agg(F.count("*").alias("n")).collect()
    }
    # cold rows: exactly one copy; hot rows: 2 or 3 by k % 100 < 50
    for (dom, k), n in counts.items():
        if dom == "cold":
            assert n == 1
        else:
            assert n == (3 if k % 100 < 50 else 2)
    # repeat_idx distinguishes copies
    assert (
        out.select("k", "dom", "repeat_idx").distinct().count() == out.count()
    )
    # sub-1.0 epochs drop rows deterministically (0 or 1 copies)
    down = upsample_with_repeats(df, "dom", {"hot": 0.5, "cold": 1.0}, key="k")
    hot = {r["k"] for r in down.filter("dom = 'hot'").collect()}
    assert hot == {k for k in range(200) if k % 2 and k % 100 < 50}


def test_contrastive_negatives_contract(spark):
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        contrastive_negatives,
    )

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        # two ids share content -> mutual false-negative veto
        F.when(F.col("id").isin(7, 8), F.lit("SAME")).otherwise(
            F.concat(F.lit("t"), F.col("id"))
        ).alias("text"),
    ).withColumn("ck", F.md5(F.col("text").cast("binary")))
    out = contrastive_negatives(
        df, "doc_id", k=4, n_buckets=8, n_probes=2, dedup_key="ck"
    )
    rows = out.collect()
    by_anchor = {}
    for r in rows:
        by_anchor.setdefault(r.anchor_id, []).append(r)
    # every anchor got negatives; none got itself; ranks are 1..n contiguous
    assert set(by_anchor) == set(range(200))
    for a, rs in by_anchor.items():
        negs = {r.neg_id for r in rs}
        assert a not in negs
        assert len(negs) == len(rs) <= 4
        assert sorted(r.neg_rank for r in rs) == list(range(1, len(rs) + 1))
    # duplicate-content veto: 7 and 8 never sample each other
    assert 8 not in {r.neg_id for r in by_anchor[7]}
    assert 7 not in {r.neg_id for r in by_anchor[8]}


def test_contrastive_negatives_partition_invariant(spark):
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        contrastive_negatives,
    )

    df = spark.range(300).select(F.col("id").alias("doc_id"))
    a = {
        (r.anchor_id, r.neg_id, r.neg_rank)
        for r in contrastive_negatives(
            df.repartition(3), "doc_id", k=2, n_buckets=8
        ).collect()
    }
    b = {
        (r.anchor_id, r.neg_id, r.neg_rank)
        for r in contrastive_negatives(
            df.repartition(23), "doc_id", k=2, n_buckets=8
        ).collect()
    }
    assert a == b and len({x[0] for x in a}) == 300


def test_exact_stratified_split_quotas_and_determinism(spark):
    """Every stratum hits its integer quota exactly (floor boundaries),
    assignment is partition-independent, and the same row always lands
    in the same split."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        exact_stratified_split,
    )

    rows = [(i, "en" if i % 3 else "fr") for i in range(100)]
    df = spark.createDataFrame(rows, "id long, lang string")
    out = exact_stratified_split(
        df, ["lang"], [("train", 8), ("val", 1), ("test", 1)], key="id"
    )
    counts = {
        (r.lang, r.split): r.cnt
        for r in out.groupBy("lang", "split").count().withColumnRenamed(
            "count", "cnt"
        ).collect()
    }
    # en: 66 rows -> floor(52.8)=52 train, floor(59.4)-52=7 val, 7 test
    assert counts[("en", "train")] == 52
    assert counts[("en", "val")] == 7
    assert counts[("en", "test")] == 7
    # fr: 34 rows -> 27 / 3 / 4
    assert counts[("fr", "train")] == 27
    assert counts[("fr", "val")] == 3
    assert counts[("fr", "test")] == 4
    # partition-independence: same assignment at a different layout
    a = {(r.id, r.split) for r in out.collect()}
    b = {
        (r.id, r.split)
        for r in exact_stratified_split(
            df.repartition(13), ["lang"], [("train", 8), ("val", 1), ("test", 1)],
            key="id",
        ).collect()
    }
    assert a == b


def test_bottomk_sample_deterministic_and_mergeable(spark):
    from pyspark.sql import functions as F

    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        bottomk_sample,
    )

    df = spark.range(500).select(F.col("id"), (F.col("id") * 2).alias("v"))
    full = {(r.id, r.v) for r in bottomk_sample(df, "id", 20).collect()}
    assert len(full) == 20
    # partition-layout invariance
    again = {
        (r.id, r.v) for r in bottomk_sample(df.repartition(7), "id", 20).collect()
    }
    assert again == full
    # mergeability: bottomk over slice samples == bottomk over everything
    a = bottomk_sample(df.filter(F.col("id") < 200), "id", 20)
    b = bottomk_sample(df.filter(F.col("id") >= 200), "id", 20)
    merged = {
        (r.id, r.v) for r in bottomk_sample(a.unionByName(b), "id", 20).collect()
    }
    assert merged == full
    # k >= n: everything (null keys excluded)
    small = spark.createDataFrame([(1,), (None,), (2,)], "id long")
    assert {r.id for r in bottomk_sample(small, "id", 10).collect()} == {1, 2}
    # salt decorrelates
    other = {(r.id, r.v) for r in bottomk_sample(df, "id", 20, salt="x").collect()}
    assert other != full


def test_bottomk_distinct_estimate_accuracy_and_exact_tail(spark):
    from pyspark.sql import functions as F

    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        bottomk_distinct_estimate,
    )

    # duplicates must not bias the estimate: 5000 distinct ids, x3 rows
    df = spark.range(5000).select(F.explode(F.array(*[F.col("id")] * 3)).alias("id"))
    r = bottomk_distinct_estimate(df, "id", 256).collect()[0]
    assert r.n_seen == 256
    # expected rel-err ~ 1/sqrt(k-2) ~ 6%; assert a generous 4-sigma band
    assert abs(r.estimate - 5000) / 5000 < 0.25, r.estimate
    # below k distinct: exact
    small = spark.range(50).select(F.col("id"))
    r2 = bottomk_distinct_estimate(small, "id", 256).collect()[0]
    assert r2.n_seen == 50 and r2.estimate == 50.0


def test_grouped_bottomk_sample_per_group_contract(spark):
    from pyspark.sql import functions as F

    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        bottomk_sample,
        grouped_bottomk_sample,
    )

    df = spark.range(300).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("g")
    )
    got = grouped_bottomk_sample(df, "id", 10, ["g"])
    rows = [(r.g, r.id) for r in got.collect()]
    per_group = {}
    for g, i in rows:
        per_group.setdefault(g, set()).add(i)
    assert set(per_group) == {"0", "1", "2"}
    assert all(len(v) == 10 for v in per_group.values())
    # per-group membership == unkeyed bottomk on that group's slice
    for g, ids in per_group.items():
        solo = {
            r.id
            for r in bottomk_sample(df.filter(F.col("g") == g), "id", 10).collect()
        }
        assert ids == solo
    # partition invariance
    again = {(r.g, r.id) for r in grouped_bottomk_sample(
        df.repartition(11), "id", 10, ["g"]
    ).collect()}
    assert again == set(rows)


def test_grouped_bottomk_distinct_estimate_per_group(spark):
    from pyspark.sql import functions as F

    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        bottomk_distinct_estimate,
        grouped_bottomk_distinct_estimate,
    )

    # group a: 4000 distinct ids duplicated x2; group b: 30 distinct
    a = (
        spark.range(4000)
        .select(F.explode(F.array(F.col("id"), F.col("id"))).alias("id"))
        .withColumn("g", F.lit("a"))
    )
    b = spark.range(10_000, 10_030).select(
        F.col("id"), F.lit("b").alias("g")
    )
    r = {
        row.g: row
        for row in grouped_bottomk_distinct_estimate(
            a.unionByName(b), "id", 256, ["g"]
        ).collect()
    }
    # group a: estimate within the ~4-sigma band, duplicates unbiased
    assert r["a"].n_seen == 256
    assert abs(r["a"].estimate - 4000) / 4000 < 0.25, r["a"].estimate
    # group b: below k distinct -> exact
    assert r["b"].n_seen == 30 and r["b"].estimate == 30.0
    # per-group results equal the unkeyed estimator run on each slice
    solo = bottomk_distinct_estimate(
        a.select("id"), "id", 256
    ).collect()[0]
    assert (solo.n_seen, solo.estimate) == (r["a"].n_seen, r["a"].estimate)


def test_bottomk_pairwise_overlap_exact_below_k(spark):
    """Below k distinct in the union the estimator is EXACT: three
    labeled slices with known overlaps; every pair's union, Jaccard,
    and intersection must come out exactly."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        bottomk_pairwise_overlap,
    )

    # a = {0..59}, b = {30..89} (|ab overlap| = 30), c = {200..219}
    rows = (
        [(i, "a") for i in range(60)]
        + [(i, "b") for i in range(30, 90)]
        + [(i, "c") for i in range(200, 220)]
    )
    df = spark.createDataFrame(rows, "id long, lab string")
    r = {
        (row.label_a, row.label_b): row
        for row in bottomk_pairwise_overlap(df, "id", 256, "lab").collect()
    }
    assert set(r) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = r[("a", "b")]
    assert (ab.n_sketch, ab.k_inter) == (90, 30)
    assert ab.union_est == 90.0
    assert ab.jaccard_est == 30.0 / 90.0
    assert ab.inter_est == (30.0 / 90.0) * 90.0
    ac = r[("a", "c")]
    assert (ac.n_sketch, ac.k_inter) == (80, 0)
    assert ac.union_est == 80.0 and ac.jaccard_est == 0.0


def test_bottomk_pairwise_overlap_estimates_and_determinism(spark):
    """Above k the estimator must (a) be partition-invariant bit-for-bit,
    (b) land within a ~4-sigma relative band of the true union /
    Jaccard / intersection (k=256 -> sigma ~ 1/16), and (c) drop NULL
    keys and NULL labels."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        bottomk_pairwise_overlap,
    )

    # |A| = 6000, |B| = 6000, |A ∩ B| = 2000, |A ∪ B| = 10000, J = 0.2
    a = spark.range(0, 6000).select(
        F.col("id"), F.lit("a").alias("lab")
    )
    b = spark.range(4000, 10_000).select(
        F.col("id"), F.lit("b").alias("lab")
    )
    nulls = spark.createDataFrame(
        [(None, "a"), (1, None)], "id long, lab string"
    )
    df = a.unionByName(b).unionByName(nulls)
    k = 256
    out = bottomk_pairwise_overlap(df, "id", k, "lab").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.label_a, r.label_b, r.n_sketch) == ("a", "b", k)
    assert abs(r.union_est - 10_000) / 10_000 < 0.25, r.union_est
    assert abs(r.jaccard_est - 0.2) < 0.12, r.jaccard_est
    assert abs(r.inter_est - 2000) / 2000 < 0.6, r.inter_est
    # partition invariance: identical bits on a different layout
    r2 = bottomk_pairwise_overlap(df.repartition(13), "id", k, "lab").collect()[0]
    assert (r2.n_sketch, r2.k_inter) == (r.n_sketch, r.k_inter)
    assert (r2.union_est, r2.jaccard_est, r2.inter_est) == (
        r.union_est,
        r.jaccard_est,
        r.inter_est,
    )
    # duplicates don't bias: doubling every A row changes nothing
    dup = a.unionByName(a).unionByName(b)
    r3 = bottomk_pairwise_overlap(dup, "id", k, "lab").collect()[0]
    assert (r3.union_est, r3.jaccard_est) == (r.union_est, r.jaccard_est)
