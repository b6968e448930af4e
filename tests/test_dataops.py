"""Unit + behavior tests for the LLM-data operators (dataops/)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.dataops import dedup, similarity, text
from tests import seqfold


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "The quick brown fox jumps over the lazy dog near the old barn today"),
        (1, "The quick brown fox jumps over the lazy dog near the old barn again"),  # near-dup of 0
        (2, "completely different content about spark shuffles and partitions"),
        (3, "El perro corre por la calle y el gato duerme en la casa de la abuela"),
        (4, "The quick brown fox jumps over the lazy dog near the old barn today"),  # exact dup of 0
        (5, "x"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_token_counts(spark):
    df = spark.createDataFrame([("a b  c",), ("one",)], ["text"])
    got = df.select(
        text.token_count("text").alias("n"),
        text.bpe_ish_token_count("text").alias("b"),
    ).collect()
    assert [r.n for r in got] == [3, 1]


def test_lang_id(docs):
    got = {r.doc_id: r.lang for r in docs.select(
        "doc_id", text.lang_id("text").alias("lang")).collect()}
    assert got[0] == "en"
    assert got[3] == "es"
    assert got[5] == "und"  # no marker tokens at all


def test_quality_score_bounds(docs):
    vals = [r.q for r in docs.select(text.quality_score("text").alias("q")).collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)
    # the one-char doc must score strictly lower than a real sentence
    by_id = {r.doc_id: r.q for r in docs.select(
        "doc_id", text.quality_score("text").alias("q")).collect()}
    assert by_id[5] < by_id[0]


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello  World",), ("hello world",)], ["text"]
    ).select(text.content_fingerprint("text").alias("fp"))
    a, b = [r.fp for r in df.collect()]
    assert a == b  # case + whitespace normalization collapse


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a",)], ["text"])
    got = df.select(text.shingles("text", 3).alias("s")).collect()
    assert got[0].s == ["a b c", "b c d"]
    assert got[1].s == ["a"]  # shorter than k -> whole text


def test_shingles_trim_padded_text(spark):
    # regression: padded whitespace must not mint
    # empty-string tokens — shingles match the oracle family's
    # trim(regexp_replace(...)) normalization
    df = spark.createDataFrame([("  a b c d \n",), ("a b c d",)], ["text"])
    padded, bare = [r.s for r in df.select(text.shingles("text", 3).alias("s")).collect()]
    assert padded == bare == ["a b c", "b c d"]


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs, "doc_id", "text").collect()
    groups = {r.keeper_id: r.n_copies for r in out}
    assert groups[0] == 2  # docs 0 and 4 are identical
    assert len(out) == 5


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5)
    got = {(r.i, r.j) for r in pairs.collect()}
    assert (0, 1) in got  # near-dup
    assert (0, 4) in got  # exact dup (jaccard 1.0)
    assert (0, 2) not in got


def test_ngram_df_cap_drops_hot_shingle(spark):
    """Planted hot shingle: every doc shares one boilerplate prefix whose
    shingles would dominate the self-join. With df_cap below the corpus
    size those shingles are dropped from index AND sizes; unrelated docs
    that only share boilerplate stop pairing, while a true near-dup pair
    (similar in its non-boilerplate content) survives."""
    boiler = "terms of service apply to all users of this site"
    rows = [
        (0, boiler + " alpha beta gamma delta epsilon zeta eta theta"),
        (1, boiler + " alpha beta gamma delta epsilon zeta eta iota"),  # near-dup of 0
        (2, boiler + " one two three four five six seven eight"),
        (3, boiler + " red orange yellow green blue indigo violet pink"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = {
        (r.i, r.j)
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.3
        ).collect()
    }
    # boilerplate alone makes everything look similar
    assert (0, 2) in uncapped and (0, 3) in uncapped
    capped = {
        (r.i, r.j)
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.3, df_cap=3
        ).collect()
    }
    assert (0, 1) in capped  # true near-dup survives the cap
    assert (0, 2) not in capped and (0, 3) not in capped  # boilerplate pairs gone


def test_minhash_max_bucket_bounds_degenerate_bucket(spark):
    """Degenerate LSH bucket: many identical docs share every band hash.
    With max_bucket below the clone count the bucket is discarded before
    collect_list (no O(n^2) pair explosion); a distinct near-dup pair in a
    small bucket is still found."""
    clone = "identical boilerplate document body repeated verbatim many times over"
    rows = [(i, clone) for i in range(20)]
    rows += [
        (100, "a genuinely unique document about spark adaptive query execution"),
        (101, "a genuinely unique document about spark adaptive query planning"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    buckets = dedup.minhash_band_buckets(
        docs, "doc_id", "text", max_bucket=10
    ).collect()
    assert all(r.n <= 10 for r in buckets)  # the 20-clone bucket is gone
    pairs = {
        (r.i, r.j)
        for r in dedup.minhash_dedup_pairs(
            docs, "doc_id", "text", verify_threshold=0.5, max_bucket=10
        ).collect()
    }
    assert (100, 101) in pairs  # small-bucket near-dup still detected
    assert not any(i < 20 and j < 20 for i, j in pairs)  # clones excluded
    # uncapped: the clone bucket IS enumerated (sanity for the default path)
    unbounded = {
        (r.i, r.j)
        for r in dedup.minhash_dedup_pairs(
            docs, "doc_id", "text", verify_threshold=0.5, max_bucket=None
        ).collect()
    }
    assert (0, 1) in unbounded


def test_minhash_matches_exact_on_high_similarity(docs):
    mh = {
        (r.i, r.j)
        for r in dedup.minhash_dedup_pairs(
            docs, "doc_id", "text", verify_threshold=0.5
        ).collect()
    }
    exact = {
        (r.i, r.j)
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.5
        ).collect()
    }
    assert mh == exact


def test_incremental_exact_dedup_matches_recrawls_only(spark):
    corpus = spark.createDataFrame(
        [(1, "a b c"), (2, "x y z"), (3, "a b c")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [(10, "a b c"), (11, "something brand new")], ["doc_id", "text"]
    )
    out = {
        (r.batch_id, r.keeper_id)
        for r in dedup.incremental_exact_dedup(
            batch, corpus, "doc_id", "text"
        ).collect()
    }
    assert out == {(10, 1)}  # matched to the SMALLEST corpus id holding the text


def test_incremental_minhash_equals_one_sided_exact(spark, sf_dir):
    """Batch-vs-corpus LSH must recover exactly the cross-split subset of
    the full exact near-dup pairs (recall ~1 at planted similarity), and
    never emit a corpus-corpus or batch-batch pair."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r.batch_id, r.corpus_id)
        for r in dedup.incremental_minhash_dedup_pairs(
            docs.filter(F.col("doc_id") >= 400),
            docs.filter(F.col("doc_id") < 400),
            "doc_id",
            "text",
            verify_threshold=0.5,
        ).collect()
    }
    full = {
        (r.i, r.j)
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.5
        ).collect()
    }
    # full pairs have i < j, so cross-split pairs are (corpus_i, batch_j)
    expected = {(j, i) for i, j in full if i < 400 <= j}
    assert got == expected
    assert all(b >= 400 > c for b, c in got)


def test_simhash_identical_and_near(docs):
    sims = {r.id: r.simhash for r in dedup.simhash(docs, "doc_id", "text").collect()}
    assert sims[0] == sims[4]  # identical text -> identical sketch
    # per-bit majority vote over Spark's own xxhash64 token hashes
    hashes = docs.select(
        "doc_id",
        F.transform(text.tokens("text"), lambda t: F.xxhash64(t)).alias("h"),
    ).collect()
    want = {}
    for r in hashes:
        sim = 0
        for b in range(64):
            if 2 * sum((h >> b) & 1 for h in r.h) > len(r.h):
                sim |= 1 << b
        want[r.doc_id] = sim - (1 << 64) if sim >= 1 << 63 else sim
    assert sims == want
    cand = {(r.i, r.j): r.hamming for r in dedup.simhash_candidates(
        docs, "doc_id", "text", max_hamming=3).collect()}
    assert cand.get((0, 4)) == 0


def test_clean_text_redacts(spark):
    df = spark.createDataFrame(
        [("see https://ex.com/a?b=1 and mail bob@corp.io   now",)], ["text"]
    )
    got = df.select(text.clean_text("text").alias("t")).collect()[0].t
    assert "https" not in got and "ex.com" not in got
    assert "bob@corp.io" not in got and "<email>" in got
    assert "  " not in got


def test_vocabulary_counts(spark):
    df = spark.createDataFrame(
        [(0, "a b a"), (1, "a c")], ["doc_id", "text"]
    )
    vocab = {
        r.token: (r.term_count, r.doc_count)
        for r in text.vocabulary(df).collect()
    }
    assert vocab["a"] == (3, 2)
    assert vocab["b"] == (1, 1)
    assert vocab["c"] == (1, 1)


def test_cosine_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.cosine_topk(df.filter(F.col("vec_id") == 0), df, k=2).collect()
    assert [r.neighbor_id for r in out] == [1, 2]
    assert out[0].cosine_sim > 0.99


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(q, emb, k=5).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(q, emb, k=5, n_centroids=8, n_probe=4).collect()
    }
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.6  # probing half the centroids must recover most


def test_ivf_deterministic_exhaustive_probe_equals_brute_force(spark, sf_dir):
    """With n_probe == n_centroids every inverted list is scanned, so the
    deterministic-quantizer IVF must reproduce the brute-force top-k
    EXACTLY (ids and similarities) — the correctness anchor that lets the
    catalog query carry a full DuckDB value oracle."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    brute = sorted(
        (r.query_id, r.neighbor_id, r.cosine_sim)
        for r in similarity.cosine_topk(q, emb, k=5).collect()
    )
    ivf = sorted(
        (r.query_id, r.neighbor_id, r.cosine_sim)
        for r in similarity.ivf_topk_deterministic(
            q, emb, k=5, n_centroids=8, n_probe=8
        ).collect()
    )
    assert ivf == brute


def test_ivf_deterministic_partial_probe_recall(spark, sf_dir):
    """Sub-linear mode (n_probe < n_centroids): output is a subset-quality
    approximation — every returned similarity is the exact cosine, and
    recall@5 vs brute force stays high at this scale."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(q, emb, k=5).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk_deterministic(
            q, emb, k=5, n_centroids=16, n_probe=4
        ).collect()
    }
    assert len(brute & got) / len(brute) >= 0.5


def test_lsh_topk_runs(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    out = similarity.lsh_topk(q, emb, k=3).collect()
    assert len(out) > 0
    assert all(r.query_id != r.neighbor_id for r in out)


def test_rp_lsh_topk_deterministic_and_high_recall(spark, sf_dir):
    """The LCG-hyperplane LSH: (a) two runs produce identical output
    (deterministic by construction — no library randomness), (b) recall@5
    vs brute force is high at this scale, (c) every returned neighbor's
    similarity matches the exact cosine (the re-rank is exact)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    run1 = sorted(
        (r.query_id, r.neighbor_id, r.cosine_sim)
        for r in similarity.rp_lsh_topk(q, emb, k=5).collect()
    )
    run2 = sorted(
        (r.query_id, r.neighbor_id, r.cosine_sim)
        for r in similarity.rp_lsh_topk(q, emb, k=5).collect()
    )
    assert run1 == run2
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(q, emb, k=5).collect()
    }
    got = {(i, j) for i, j, _ in run1}
    assert len(brute & got) / len(brute) >= 0.6


def test_ivf_persisted_index_prunes_partitions(spark, sf_dir, tmp_path):
    """The at-rest IVF layout: corpus partitioned by centroid id on disk,
    probes prune the scan via broadcast-semi-join dynamic partition
    pruning — the vectors scan must carry a ``dynamicpruning`` runtime
    PartitionFilter (files of unprobed centroids are never listed/read),
    the plan must be CONSTANT-SIZE (no literal In-list of collected
    centroid ids that grows with n_queries x n_probe), and results must
    match the in-memory IVF at the same parameters."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, idx, n_centroids=8)
    q = emb.filter(F.col("vec_id") < 10)
    out = similarity.ivf_probe_indexed(q, idx, k=5, n_probe=4)
    import re

    plan = out._jdf.queryExecution().executedPlan().toString()
    # the vectors scan is the only FileScan whose projected columns
    # include the partition column (Location paths can be truncated in
    # toString, so identify it by its column list)
    vec_scans = [
        line
        for line in plan.splitlines()
        if re.search(r"FileScan parquet \[[^\]]*centroid#\d+\]", line)
    ]
    assert vec_scans, plan
    assert all(
        "dynamicpruningexpression" in line for line in vec_scans
    ), vec_scans
    # k/n_probe-independence: no driver-collected In-list on the scan
    assert not re.search(r"PartitionFilters: \[centroid#\d+ IN \(", plan)
    got = {(r.query_id, r.neighbor_id) for r in out.collect()}
    mem = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(
            q, emb, k=5, n_centroids=8, n_probe=4
        ).collect()
    }
    assert got == mem  # same quantizer seed + params -> identical neighbors


def test_ann_recall_at_k_math(spark):
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)], ["query_id", "neighbor_id"]
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (2, 20), (2, 21)], ["query_id", "neighbor_id"]
    )
    got = {
        r.query_id: (r.n_hits, r.recall_at_k)
        for r in similarity.ann_recall_at_k(approx, exact, k=2).collect()
    }
    assert got == {1: (1, 0.5), 2: (2, 1.0)}
    # a query whose approx result found nothing still appears, at recall 0
    empty = similarity.ann_recall_at_k(
        approx.filter(F.col("query_id") == 1), exact, k=2
    )
    assert {r.query_id: r.recall_at_k for r in empty.collect()}[2] == 0.0


# ---------------------------------------------------------------------------
# paragraph dedup / blocked embedding near-dup / int8 quantization
# ---------------------------------------------------------------------------


def test_paragraph_dedup_first_occurrence(spark):
    rows = [
        (0, "alpha beta\n\nshared para\n\ngamma"),
        (1, "shared para\n\ndelta"),          # loses 'shared para' to doc 0
        (2, "shared para"),                   # loses its only para -> empty
        (3, "alpha beta\n\nalpha beta"),      # intra-doc dup: keep first only
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.dedup_text, r.kept_paras, r.total_paras)
        for r in dedup.paragraph_dedup(df).collect()
    }
    assert got[0] == ("alpha beta\n\nshared para\n\ngamma", 3, 3)
    assert got[1] == ("delta", 1, 2)
    assert got[2] == ("", 0, 1)
    # doc 3's 'alpha beta' was already claimed by doc 0 entirely
    assert got[3] == ("", 0, 2)


def test_paragraph_dedup_preserves_order_and_blank_split(spark):
    df = spark.createDataFrame(
        [(7, "z last\n\n\n\na first\n\nz last")], ["doc_id", "text"]
    )
    r = dedup.paragraph_dedup(df).collect()[0]
    # multi-blank separators collapse; order is positional, not alphabetical
    assert r.dedup_text == "z last\n\na first"
    assert (r.kept_paras, r.total_paras) == (2, 3)


@pytest.fixture(scope="module")
def planted_vectors(spark):
    import random

    rng = random.Random(42)
    rows = []
    for i in range(40):
        rows.append((i, [rng.gauss(0, 1) for _ in range(16)]))
    # plant 5 near-dup partners: tiny perturbation of vectors 0-4
    for i in range(5):
        base = rows[i][1]
        rows.append((100 + i, [x + rng.gauss(0, 0.01) for x in base]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_blocked_near_dup_matches_exact(planted_vectors):
    exact = {
        (r.i, r.j)
        for r in similarity.embedding_cosine_dup_pairs(
            planted_vectors, threshold=0.9
        ).collect()
    }
    blocked = {
        (r.i, r.j)
        for r in similarity.embedding_cosine_dup_pairs_blocked(
            planted_vectors, threshold=0.9, n_planes=8, n_tables=6, dim=16
        ).collect()
    }
    assert exact == {(i, 100 + i) for i in range(5)}
    # precision is exact by construction; recall ~0.998 at t=0.9 -> all found
    assert blocked == exact


def test_semantic_dedup_drops_planted_twins(planted_vectors):
    got = {
        r.vec_id: r
        for r in similarity.semantic_dedup_deterministic(
            planted_vectors, threshold=0.95, n_centroids=8, dim=16
        ).collect()
    }
    assert len(got) == 45  # one row per corpus vector
    # every planted twin (100+i) shares a cluster with its base i and is
    # the larger id -> dropped; the base survives
    for i in range(5):
        assert got[100 + i].centroid == got[i].centroid
        assert got[100 + i].kept is False
        assert got[i].kept is True
    # natural vectors (no near-dup within threshold) all survive
    assert all(got[i].kept for i in range(40))


def test_semantic_dedup_max_cluster_guard(spark):
    # 30 identical vectors: one degenerate cluster. Above the cap the
    # pair scan is skipped and ALL members are kept (recall loss, never a
    # blow-up); with a permissive cap only the smallest id survives.
    df = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(30)], ["vec_id", "embedding"]
    )
    capped = similarity.semantic_dedup_deterministic(
        df, threshold=0.95, n_centroids=2, max_cluster=10, dim=4
    )
    assert all(r.kept for r in capped.collect())
    full = {
        r.vec_id: r.kept
        for r in similarity.semantic_dedup_deterministic(
            df, threshold=0.95, n_centroids=2, dim=4
        ).collect()
    }
    assert full[0] is True and sum(full.values()) == 1


def _semdedup_rows(df, **kw):
    return {
        r.vec_id: (r.centroid, r.kept)
        for r in similarity.semantic_dedup_deterministic(df, **kw).collect()
    }


def _vector_rows(df):
    return [(r.vec_id, list(r.embedding)) for r in df.collect()]


def test_semantic_dedup_join_equals_literal(planted_vectors):
    # the broadcast-join quantizer (k-independent plan) must pick, for
    # every vector, the centroid the literal sampled centroids pick under
    # the sequential-fold replay: same cid-ordered centroids, same
    # max-cosine/smallest-cid tie rule, with the unrolled fixed-dim norm
    # and with the generic fold
    rows = _vector_rows(planted_vectors)
    for k in (8, 16):
        cents = seqfold.centroids(rows, k)
        want = {i: seqfold.assign(v, cents) for i, v in rows}
        for kw in ({"dim": 16}, {}):
            got = _semdedup_rows(
                planted_vectors, threshold=0.95, n_centroids=k, **kw
            )
            assert {i: c for i, (c, _) in got.items()} == want, (k, kw)


def test_semantic_dedup_arrow_equals_join_pair_scan(planted_vectors):
    # the Arrow per-cluster kernel must agree EXACTLY with the all-pairs
    # HOF join (a vector is dropped iff a smaller-id cluster-mate is a
    # join pair) and with the sequential-fold replay — centroids and kept
    # flags, with and without dim, at a k where clusters hold several
    # planted pairs
    for kw in ({"dim": 16}, {}):
        pairs = [
            (r.i, r.j)
            for r in similarity.embedding_cosine_dup_pairs(
                planted_vectors, threshold=0.95, **kw
            ).collect()
        ]
        for k in (8, 16):
            got = _semdedup_rows(
                planted_vectors, threshold=0.95, n_centroids=k, **kw
            )
            dropped = {j for i, j in pairs if got[i][0] == got[j][0]}
            assert {j for j, (_, kept) in got.items() if not kept} == dropped
            assert dropped == {100, 101, 102, 103, 104}
            want = seqfold.semdedup(_vector_rows(planted_vectors), k, 0.95)
            assert got == want, (k, kw)


def test_semantic_dedup_join_plan_size_k_independent(planted_vectors):
    # a literal centroid array grows the plan O(k x dim) expression nodes,
    # so at production SemDeDup k (tens of thousands) the PLAN becomes the
    # bottleneck. Centroids ride as broadcast data instead — optimized-
    # plan text must not grow with k (tolerance covers id-width/jitter,
    # not structural growth).
    def plan_chars(k):
        df = similarity.semantic_dedup_deterministic(
            planted_vectors, threshold=0.95, n_centroids=k, dim=16
        )
        return len(df._jdf.queryExecution().optimizedPlan().toString())

    assert plan_chars(32) / plan_chars(4) < 1.1


def test_semantic_dedup_arrow_blocked_kernel_tiles(spark):
    # a block of identical vectors (which also ties the two sampled
    # centroids) plus a chain of adjacent near-dups, boundary ids
    # included, against the replay
    import math

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    step = math.acos(0.96)
    rows_in = [(i, unit(i * step * 0.0)) for i in range(6)]  # 6 identical
    rows_in += [(10 + i, unit(math.pi / 2 + i * step)) for i in range(3)]
    df = spark.createDataFrame(rows_in, ["vec_id", "embedding"])
    got = _semdedup_rows(df, threshold=0.95, n_centroids=2, dim=4)
    assert got == seqfold.semdedup(rows_in, 2, 0.95)
    assert [got[i][1] for i in range(6)] == [True] + [False] * 5


def test_semantic_dedup_chain_drops_both(spark):
    # chain a-b-c where only adjacent pairs exceed the threshold: the
    # "no smaller-id near-dup" rule drops BOTH b and c (conservative,
    # order-free — documented divergence from the paper's greedy scan)
    import math

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    step = math.acos(0.96)  # adjacent cosine 0.96 > 0.95; a-c cosine < 0.95
    df = spark.createDataFrame(
        [(0, unit(0.0)), (1, unit(step)), (2, unit(2 * step))],
        ["vec_id", "embedding"],
    )
    got = {
        r.vec_id: r.kept
        for r in similarity.semantic_dedup_deterministic(
            df, threshold=0.95, n_centroids=1, dim=4
        ).collect()
    }
    assert got == {0: True, 1: False, 2: False}


def test_quantize_embeddings_properties(spark):
    df = spark.createDataFrame(
        [(0, [0.5, -1.0, 0.25]), (1, [0.0, 0.0, 0.0])], ["vec_id", "embedding"]
    )
    got = {r.vec_id: r for r in similarity.quantize_embeddings(df).collect()}
    # largest-magnitude element maps exactly to +/-127
    assert got[0].qvec == [64, -127, 32]
    assert got[0].scale == pytest.approx(127.0)
    # zero vector: scale 0, all-zero code (no division blowup)
    assert got[1].qvec == [0, 0, 0]
    assert got[1].scale == 0.0


def test_quantize_roundtrip_error_bound(planted_vectors):
    q = similarity.quantize_embeddings(planted_vectors)
    joined = planted_vectors.join(q, "vec_id").select(
        F.max(
            F.array_max(
                F.zip_with(
                    "embedding",
                    "qvec",
                    lambda x, y: F.abs(x.cast("double") - y / F.col("scale")),
                )
            )
        ).alias("max_err"),
        F.max(F.array_max(F.transform("qvec", F.abs))).alias("max_code"),
    )
    r = joined.collect()[0]
    # dequantization error bounded by half a quantization step
    assert r.max_err <= 0.5 / 127.0 * 4.0 + 1e-9  # 4 ~ max |x| in the gaussian data
    assert r.max_code <= 127


def test_weighted_sample_deterministic_and_weighted(spark):
    from f1_data_engineering_machine_learning_spark.dataops import sampling

    rows = [(i, "g%d" % (i % 2), float(1 + i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "grp", "w"])
    s1 = {r.doc_id for r in sampling.weighted_sample(df, "doc_id", "w", 20).collect()}
    # cluster-shape independence: a different partitioning makes the SAME picks
    s2 = {
        r.doc_id
        for r in sampling.weighted_sample(df.repartition(7), "doc_id", "w", 20).collect()
    }
    assert s1 == s2 and len(s1) == 20
    # zero/negative weights are never sampled
    z = spark.createDataFrame([(1, 0.0), (2, -1.0), (3, 5.0)], ["doc_id", "w"])
    assert {r.doc_id for r in sampling.weighted_sample(z, "doc_id", "w", 3).collect()} == {3}
    # per-stratum: k from each group
    by = sampling.weighted_sample(df, "doc_id", "w", 5, by=["grp"]).collect()
    from collections import Counter

    assert Counter(r.grp for r in by) == {"g0": 5, "g1": 5}


def test_inverted_index_postings(spark):
    from f1_data_engineering_machine_learning_spark.dataops import text as t

    df = spark.createDataFrame(
        [(3, "apple banana apple"), (1, "banana cherry"), (2, "banana")],
        ["doc_id", "text"],
    )
    idx = {r.term: (r.df, r.postings) for r in t.inverted_index(df).collect()}
    # intra-doc repeats collapse; postings sorted by doc id
    assert idx["apple"] == (1, [3])
    assert idx["banana"] == (3, [1, 2, 3])
    assert idx["cherry"] == (1, [1])
    bounded = {r.term for r in t.inverted_index(df, min_df=2).collect()}
    assert bounded == {"banana"}


def test_pool_chunk_embeddings_deterministic_and_normalized(spark):
    from pyspark.sql import functions as F

    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        pool_chunk_embeddings,
    )

    rows = [(i, i % 3, [float(i + j) for j in range(4)]) for i in range(12)]
    df = spark.createDataFrame(rows, ["vec_id", "doc", "embedding"])
    a = pool_chunk_embeddings(df, "doc")
    b = pool_chunk_embeddings(df.repartition(7), "doc")
    ka = sorted((r.doc, r.n_chunks, tuple(r.pooled)) for r in a.collect())
    kb = sorted((r.doc, r.n_chunks, tuple(r.pooled)) for r in b.collect())
    assert ka == kb  # partitioning-invariant (sorted fold)
    for doc, n, v in ka:
        assert n == 4
        assert abs(sum(x * x for x in v) - 1.0) < 1e-12  # unit norm
    # unnormalized mean matches Python ground truth exactly
    raw = {r.doc: list(r.pooled) for r in pool_chunk_embeddings(
        df, "doc", normalize=False).collect()}
    import itertools

    for doc in range(3):
        chunks = [e for i, d, e in rows if d == doc]
        want = [0.0] * 4
        for c in chunks:  # same left-fold order (vec_id ascending)
            want = [a_ + b_ for a_, b_ in zip(want, c)]
        want = [x / len(chunks) for x in want]
        assert raw[doc] == want


def test_portable_simhash_candidates(spark):
    """The 60-bit md5-based sketch finds planted near-identical docs and
    is invariant to partitioning; pandas impl rejects portable mode."""
    import pytest
    from pyspark.sql import functions as F

    from f1_data_engineering_machine_learning_spark.dataops.dedup import (
        simhash,
        simhash_candidates,
    )

    base = "the quick brown fox jumps over the lazy dog " * 6
    docs = spark.createDataFrame(
        [(1, base), (2, base + "extra"), (3, "completely different words here")],
        ["doc_id", "text"],
    )
    got = {(r.i, r.j) for r in simhash_candidates(
        docs, "doc_id", "text", max_hamming=3, portable=True).collect()}
    assert (1, 2) in got and (1, 3) not in got and (2, 3) not in got
    # sketches bounded to 60 bits and partition-invariant
    a = {r.id: r.simhash for r in simhash(docs, "doc_id", "text", portable=True).collect()}
    b = {r.id: r.simhash
         for r in simhash(docs.repartition(5), "doc_id", "text", portable=True).collect()}
    assert a == b
    assert all(0 <= v < (1 << 60) for v in a.values())


def test_strip_markup_edges(spark):
    from pyspark.sql import functions as F

    from f1_data_engineering_machine_learning_spark.dataops.text import strip_markup

    rows = [
        ("<p>hello <b>world</b></p>", "hello world"),
        ("a &amp;&amp; b", "a && b"),
        ("&amp;lt; stays encoded once", "&lt; stays encoded once"),  # no double-decode
        ("<br/>x<hr >y", "x y"),
        ("  <div>  spaced   out </div>  ", "spaced out"),
        ("no markup at all", "no markup at all"),
        ("&lt;kept&gt; literal tags", "<kept> literal tags"),  # decoded AFTER strip
    ]
    df = spark.createDataFrame(rows, ["raw", "want"])
    bad = df.select(strip_markup("raw").alias("got"), "want").filter(
        F.col("got") != F.col("want")
    )
    assert bad.count() == 0, bad.collect()


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------


def test_pq_codebooks_shape_and_determinism(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb1 = similarity.pq_codebooks_deterministic(emb, m=8, ksub=16, dim=64)
    cb2 = similarity.pq_codebooks_deterministic(
        emb.repartition(7), m=8, ksub=16, dim=64
    )
    assert len(cb1) == 8 and len(cb1[0]) == 16 and len(cb1[0][0]) == 8
    assert cb1 == cb2  # partitioning-invariant (orderBy id, not head)


def test_pq_codebooks_m_must_divide_dim(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="must divide"):
        similarity.pq_codebooks_deterministic(emb, m=7, ksub=16, dim=64)


def test_pq_encode_codes_in_range(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    cb = similarity.pq_codebooks_deterministic(emb, m=8, ksub=16, dim=64)
    enc = similarity.pq_encode_deterministic(emb, cb)
    rows = enc.collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r["__codes"]) == 8
        assert all(0 <= c < 16 for c in r["__codes"])


def test_pq_codeword_rows_encode_to_themselves(spark, sf_dir):
    """A vector that IS a codebook source vector must quantize each
    subspace to its own codeword (distance 0 beats everything, ties keep
    the smallest code) — the fixed point every correct encoder has."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = similarity.pq_codebooks_deterministic(emb, m=8, ksub=16, dim=64)
    first16 = emb.orderBy("vec_id").limit(16)
    enc = {r.neighbor_id: list(r["__codes"])
           for r in similarity.pq_encode_deterministic(first16, cb).collect()}
    ids = sorted(enc)
    for code, vid in enumerate(ids):
        assert enc[vid] == [code] * 8


def test_pq_encode_matches_seqfold_argmin(spark, sf_dir):
    """The vectorized pandas-UDF encoder must emit the EXACT codes of the
    sequential-fold replay: per subspace, the first minimum (smallest
    code) of the squared-L2 fold against every codeword."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = similarity.pq_codebooks_deterministic(emb, m=16, ksub=32, dim=64)
    dsub = 64 // 16
    got = {
        r.neighbor_id: list(r["__codes"])
        for r in similarity.pq_encode_deterministic(emb, cb).collect()
    }
    want = {
        vid: [
            seqfold.argmin_first(
                [seqfold.l2sq(v[j * dsub : (j + 1) * dsub], cw) for cw in cb[j]]
            )
            for j in range(16)
        ]
        for vid, v in _vector_rows(emb)
    }
    assert got == want


def test_l2_topk_matches_seqfold_bitwise(spark, sf_dir):
    """The mapInPandas pair scorer must reproduce the sequential l2sq
    fold bitwise — ranks AND distances."""
    import struct

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    corpus = _vector_rows(emb)
    want = []
    for qid, qv in _vector_rows(q):
        scored = sorted(
            (seqfold.l2sq(qv, cv), cid) for cid, cv in corpus if cid != qid
        )
        want += [
            (qid, rank, cid, struct.pack("<d", d))
            for rank, (d, cid) in enumerate(scored[:5], 1)
        ]
    got = sorted(
        (r.query_id, r.rank, r.neighbor_id, struct.pack("<d", r.l2_dist))
        for r in similarity.l2_topk(q, emb, k=5).collect()
    )
    assert got == sorted(want)


def test_pq_rerank_beats_raw_adc_recall(spark, sf_dir):
    """The refine stage is load-bearing: exact re-rank of the ADC
    shortlist must recover (nearly) all true neighbors while raw ADC
    alone does not — measured, the docstring's claim."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.l2_topk(q, emb, k=5).collect()
    }
    raw = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_topk_deterministic(
            q, emb, k=5, m=16, ksub=32, dim=64
        ).collect()
    }
    reranked = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_topk_deterministic(
            q, emb, k=5, m=16, ksub=32, dim=64, rerank=128
        ).collect()
    }
    raw_recall = len(exact & raw) / len(exact)
    rr_recall = len(exact & reranked) / len(exact)
    assert rr_recall >= 0.9
    assert rr_recall > raw_recall


def test_pq_rerank_distances_are_exact(spark, sf_dir):
    """Re-ranked output distances must be TRUE squared-L2 values (the
    refine stage re-fetches real vectors), matching l2_topk bitwise for
    every neighbor both paths return."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id): r.l2_dist
        for r in similarity.l2_topk(q, emb, k=5).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id): r.l2_dist
        for r in similarity.pq_topk_deterministic(
            q, emb, k=5, m=16, ksub=32, dim=64, rerank=128
        ).collect()
    }
    common = set(exact) & set(pq)
    assert common  # paths overlap on at least some true neighbors
    for key in common:
        assert exact[key] == pq[key]  # bitwise: same fold, same vectors


# ---------------------------------------------------------------------------
# Substring-level dedup (Lee et al.)
# ---------------------------------------------------------------------------


def test_substring_dedup_removes_later_occurrence_only(spark):
    """A duplicated 8-token span survives in the first doc (by id) and is
    excised from the second; unique text around it is untouched."""
    span = "a b c d e f g h"
    # surrounding context is fully distinct between docs, so ONLY the
    # 8-token span itself is a duplicated window (a shared token next to
    # the span would extend the duplicated region — covered below)
    df = spark.createDataFrame(
        [
            (1, f"p1 q1 {span} r1 s1"),
            (2, f"p2 q2 {span} r2 s2"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in dedup.substring_dedup(df, min_len=8).collect()}
    assert out[1].clean_text == f"p1 q1 {span} r1 s1"
    assert out[1].n_removed == 0
    assert out[2].clean_text == "p2 q2 r2 s2"
    assert out[2].n_removed == 8
    assert out[2].n_tokens == 12


def test_substring_dedup_overlapping_windows_union_spans(spark):
    """A 10-token duplicated passage produces three overlapping 8-token
    duplicate windows; the removed region must be their UNION (all 10
    tokens), not 3x8 double-counted or only one window."""
    span = "a b c d e f g h i j"
    df = spark.createDataFrame(
        [(1, span), (2, f"x {span} y")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in dedup.substring_dedup(df, min_len=8).collect()}
    assert out[1].n_removed == 0
    assert out[2].clean_text == "x y"
    assert out[2].n_removed == 10


def test_substring_dedup_short_docs_pass_through(spark):
    df = spark.createDataFrame(
        [(1, "only three tokens"), (2, "only three tokens")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in dedup.substring_dedup(df, min_len=8).collect()}
    assert out[1].n_removed == 0 and out[2].n_removed == 0
    assert out[2].clean_text == "only three tokens"


def test_substring_dedup_within_document_repeat(spark):
    """Intra-document repetition dedups too: the second copy of the span
    inside the SAME doc is removed (global first occurrence is the
    earlier position)."""
    span = "a b c d e f g h"
    df = spark.createDataFrame([(1, f"{span} mid {span}")], ["doc_id", "text"])
    r = dedup.substring_dedup(df, min_len=8).collect()[0]
    assert r.clean_text == f"{span} mid"
    assert r.n_removed == 8


def test_substring_dedup_fully_duplicated_doc_empties(spark):
    span = "a b c d e f g h"
    df = spark.createDataFrame([(1, span), (2, span)], ["doc_id", "text"])
    out = {r.doc_id: r for r in dedup.substring_dedup(df, min_len=8).collect()}
    assert out[1].clean_text == span
    assert out[2].clean_text == ""
    assert out[2].n_removed == 8


def test_substring_dedup_rejects_min_len_below_2(spark):
    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="min_len"):
        dedup.substring_dedup(df, min_len=1)


def test_ivf_index_upsert_matches_full_rebuild_partitioning(spark, tmp_path):
    """Upserted vectors land in exactly the partitions a rebuild with the
    SAME centroids would choose, and probes see old + new vectors."""
    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        build_ivf_index,
        ivf_index_upsert,
        ivf_probe_indexed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 400)
    batch = emb.filter(F.col("vec_id") >= 400)
    idx = str(tmp_path / "ivf")
    build_ivf_index(base, idx, n_centroids=4)
    ivf_index_upsert(batch, idx)

    vecs = spark.read.parquet(f"{idx}/vectors")
    assert vecs.count() == emb.count()  # nothing lost, nothing duplicated

    # parity: batch rows' partitions == nearest stored centroid by the
    # metric KMeans placement itself uses (squared Euclidean), computed
    # independently here — a rebuild with the same centroids would put
    # each vector in exactly this partition
    cent = spark.read.parquet(f"{idx}/centroids")
    want = (
        batch.join(F.broadcast(cent))
        .withColumn(
            "d2",
            F.aggregate(
                F.zip_with(
                    F.transform(F.col("embedding"), lambda x: x.cast("double")),
                    F.col("centroid_vec"),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
    )
    from pyspark.sql import Window
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.col("centroid"))
    want = (
        want.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("vec_id", F.col("centroid").alias("want_centroid"))
    )
    got = vecs.filter(F.col("vec_id") >= 400).select("vec_id", "centroid")
    mism = got.join(want, "vec_id").filter(
        F.col("centroid") != F.col("want_centroid")
    )
    assert mism.count() == 0

    # a probe over the upserted index returns neighbors from BOTH eras
    q = emb.filter(F.col("vec_id") < 3)
    res = ivf_probe_indexed(q, idx, k=8, n_probe=4)
    ids = {r.neighbor_id for r in res.collect()}
    assert any(i >= 400 for i in ids) and any(i < 400 for i in ids)


def test_top_terms_tfidf_exact_rational(spark):
    from f1_data_engineering_machine_learning_spark.dataops.text import (
        top_terms_tfidf,
    )

    # corpus: "common" is in both docs (df=2), others are unique (df=1)
    docs = spark.createDataFrame(
        [(1, "common alpha alpha"), (2, "common beta")], ["doc_id", "text"]
    )
    got = {
        (r.doc_id, r.rank): r
        for r in top_terms_tfidf(docs, k=2).collect()
    }
    # doc 1: alpha tf=2 len=3 df=1 -> 2*2/(3*1)=4/3; common 1*2/(3*2)=1/3
    assert got[(1, 1)].term == "alpha" and got[(1, 1)].score == 4 / 3
    assert got[(1, 2)].term == "common" and got[(1, 2)].score == 2 / 6
    # doc 2: beta 1*2/(2*1)=1.0 beats common 1*2/(2*2)=0.5
    assert got[(2, 1)].term == "beta" and got[(2, 1)].score == 1.0
    assert got[(2, 2)].term == "common" and got[(2, 2)].score == 0.5


def test_pii_scan_counts_and_redaction(spark):
    from f1_data_engineering_machine_learning_spark.dataops.governance import (
        pii_scan,
    )

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.com and c.d@e.org, host 10.0.0.1, call +1 555 123 4567"),
            (2, "clean text"),
            (3, "version 1.2.3.4 of x"),  # ipv4-shaped -> counted as ipv4
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in pii_scan(docs).collect()}
    assert (got[1].n_email, got[1].n_ipv4, got[1].n_phone) == (2, 1, 1)
    assert got[1].redacted == (
        "mail <EMAIL> and <EMAIL>, host <IPV4>, call <PHONE>"
    )
    assert (got[2].n_email, got[2].n_ipv4, got[2].n_phone) == (0, 0, 0)
    assert got[2].redacted == "clean text"
    assert got[3].n_ipv4 == 1


def test_kmeans_lloyd_separates_planted_clusters(spark):
    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        kmeans_lloyd_deterministic,
    )

    import random

    rng = random.Random(9)
    rows = []
    for i in range(30):  # tight cluster at (0, 0, ...)
        rows.append((i, [rng.gauss(0, 0.05) for _ in range(8)]))
    for i in range(30):  # tight cluster at (10, 10, ...)
        rows.append((100 + i, [10 + rng.gauss(0, 0.05) for _ in range(8)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r.vec_id: r
        for r in kmeans_lloyd_deterministic(df, k=2, iterations=2).collect()
    }
    assert len(got) == 60
    low = {got[i].cluster for i in range(30)}
    high = {got[100 + i].cluster for i in range(30)}
    assert len(low) == 1 and len(high) == 1 and low != high
    # after the mean updates, members sit near their centroid
    assert all(got[i].dist2 < 1.0 for i in range(30))
    # deterministic across runs
    again = {
        r.vec_id: (r.cluster, r.dist2)
        for r in kmeans_lloyd_deterministic(df, k=2, iterations=2).collect()
    }
    assert again == {i: (r.cluster, r.dist2) for i, r in got.items()}


def test_kmeans_lloyd_empty_cluster_keeps_centroid(spark):
    """Two identical init vectors: round 1 ties every vector to cluster
    0 (smaller cid wins ties), cluster 1 is EMPTY and keeps its [0,0]
    centroid. Round 2 then proves the kept centroid is alive: cluster
    0's mean moved toward the far group, so the origin vectors snap to
    the retained cluster-1 centroid — a crash or a zeroed/NaN centroid
    would never produce this split."""
    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        kmeans_lloyd_deterministic,
    )

    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0])] + [
        (10 + i, [5.0 + 0.01 * i, 5.0]) for i in range(5)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = kmeans_lloyd_deterministic(df, k=2, iterations=2).collect()
    assert len(got) == 7
    clusters = {r.vec_id: r.cluster for r in got}
    assert clusters[0] == 1 and clusters[1] == 1  # captured by the kept centroid
    assert all(clusters[10 + i] == 0 for i in range(5))


def test_bigram_lm_scores_hand_computed(spark):
    """Corpus: doc1 'a b a', doc2 'a b', doc3 'c'.
    Tokens stream: a,b,a,a,b,c -> V = 3 (a,b,c).
    Bigrams: doc1 (a,b),(b,a); doc2 (a,b). c2: (a,b)=2, (b,a)=1.
    c1: a=2, b=1.  q(a,b) = 3*S DIV (2+3); q(b,a) = 2*S DIV (1+3).
    doc3 has one token -> no row."""
    from f1_data_engineering_machine_learning_spark.dataops.text import (
        bigram_lm_scores,
    )

    S = 1 << 20
    df = spark.createDataFrame(
        [(1, "a  b a"), (2, "A b"), (3, "c")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in bigram_lm_scores(df, "doc_id", "text").collect()
    }
    assert set(rows) == {1, 2}
    q_ab = (2 + 1) * S // (2 + 3)
    q_ba = (1 + 1) * S // (1 + 3)
    assert rows[1]["n_bigrams"] == 2
    assert rows[1]["lm_q_sum"] == q_ab + q_ba
    assert rows[1]["lm_mean_prob"] == (q_ab + q_ba) / (2 * S)
    assert rows[2]["n_bigrams"] == 1
    assert rows[2]["lm_q_sum"] == q_ab
    assert rows[2]["lm_mean_prob"] == q_ab / S


def test_bigram_lm_scores_partition_invariant(spark):
    """Same corpus on 1 vs 7 input partitions -> identical rows (the
    BIGINT fixed-point sum is order-independent; a float log-sum would
    not be)."""
    from f1_data_engineering_machine_learning_spark.dataops.text import (
        bigram_lm_scores,
    )

    data = [
        (i, f"tok{i % 5} tok{(i * 3) % 7} tok{i % 5} tok{(i + 1) % 11}")
        for i in range(60)
    ]
    df1 = spark.createDataFrame(data, "doc_id long, text string").coalesce(1)
    df7 = spark.createDataFrame(data, "doc_id long, text string").repartition(7)
    a = sorted(map(tuple, bigram_lm_scores(df1).collect()))
    b = sorted(map(tuple, bigram_lm_scores(df7).collect()))
    assert a == b


def test_bigram_lm_scores_model_stays_distributed(spark):
    """Plan contract: no CartesianProduct, no row-wise Python eval; the
    only broadcast is the 1-row vocab frame."""
    from f1_data_engineering_machine_learning_spark.dataops.text import (
        bigram_lm_scores,
    )

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
    )
    plan = bigram_lm_scores(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_incremental_semantic_dedup_flags_planted_twins(spark):
    """Batch = perturbed copies of corpus vectors 0 and 3 plus one
    orthogonal newcomer. Each twin must match exactly its base vector;
    the newcomer must produce no row (kept). Quantizer derives from the
    corpus only."""
    import math

    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        incremental_semantic_dedup,
    )

    dim = 8

    def unit(i):
        # distinct well-separated unit vectors: one-hot
        v = [0.0] * dim
        v[i] = 1.0
        return v

    corpus = spark.createDataFrame(
        [(i, unit(i)) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    eps = 0.01
    twin0 = [x + (eps if k == 1 else 0.0) for k, x in enumerate(unit(0))]
    twin3 = [x + (eps if k == 4 else 0.0) for k, x in enumerate(unit(3))]
    ortho = [0.0] * dim
    ortho[7] = -1.0  # cosine <= 0 to every corpus vector
    batch = spark.createDataFrame(
        [(100, twin0), (103, twin3), (999, ortho)],
        "vec_id long, embedding array<double>",
    )
    rows = incremental_semantic_dedup(
        batch, corpus, threshold=0.95, n_centroids=6, dim=dim
    ).collect()
    got = {(r["batch_id"], r["corpus_id"]) for r in rows}
    assert got == {(100, 0), (103, 3)}
    for r in rows:
        assert r["cosine_sim"] >= 0.95
        assert math.isclose(r["cosine_sim"], 1 / math.sqrt(1 + eps * eps), rel_tol=1e-9)


def test_incremental_semantic_dedup_matches_seqfold_replay(spark):
    """The cogrouped Arrow kernel must reproduce the sequential-fold
    replay EXACTLY — including the emitted cosine_sim DOUBLES, not just
    the matched pairs — with the fixed-dim norm and with the generic
    fold."""
    import struct

    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        incremental_semantic_dedup,
    )

    import random as _r

    rng = _r.Random(13)
    dim = 8
    corpus_rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(40)]
    batch_rows = [
        (100 + i, [x + 0.001 * i for x in corpus_rows[i][1]]) for i in range(10)
    ]
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<double>"
    )
    batch = spark.createDataFrame(
        batch_rows, "vec_id long, embedding array<double>"
    )
    cents = seqfold.centroids(corpus_rows, 4)
    c_assign = {cid: seqfold.assign(cv, cents) for cid, cv in corpus_rows}
    want = sorted(
        (bid, cid, c_assign[cid], struct.pack("<d", seqfold.cosine(bv, cv)))
        for bid, bv in batch_rows
        for cid, cv in corpus_rows
        if seqfold.assign(bv, cents) == c_assign[cid]
        and seqfold.cosine(bv, cv) >= 0.5
    )
    assert want  # the planted twins match

    for kw in ({"dim": dim}, {}):
        got = sorted(
            (
                r["batch_id"],
                r["corpus_id"],
                r["centroid"],
                struct.pack("<d", r["cosine_sim"]),
            )
            for r in incremental_semantic_dedup(
                batch, corpus, threshold=0.5, n_centroids=4, **kw
            ).collect()
        )
        assert got == want, kw


def test_incremental_semantic_dedup_plan_is_one_sided(spark):
    """Plan contract: cluster-keyed equi-join between batch and corpus
    (no CartesianProduct beyond the 1-row centroid broadcast, no Python
    row path)."""
    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        incremental_semantic_dedup,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [(100, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    plan = (
        incremental_semantic_dedup(batch, corpus, n_centroids=4, dim=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_dot_hof_sql_bitwise_equals_unrolled_chain(spark):
    """_dot_hof_sql (the single-traversal pair-scan form) must stay
    bitwise-equal to the unrolled chain ``((0.0 + a1*b1) + a2*b2) + ...``
    the DuckDB oracles replay, here folded in Python: same left fold,
    same 0.0 seed, term for term. Any reordering would silently shift
    oracle hashes on every cosine query."""
    import random as _r
    import struct

    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        _dot_hof_sql,
    )

    rng = _r.Random(77)
    rows = [
        (
            i,
            [rng.uniform(-10, 10) for _ in range(17)],
            [rng.uniform(-10, 10) for _ in range(17)],
        )
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "i int, a array<double>, b array<double>")
    got = {
        r.i: struct.pack("<d", r.d)
        for r in df.select("i", F.expr(_dot_hof_sql("a", "b")).alias("d")).collect()
    }
    assert got == {i: struct.pack("<d", seqfold.dot(a, b)) for i, a, b in rows}


def test_mllib_lsh_parity_bound_vs_rp_lsh_twin(spark, sf_dir):
    """The contract for the catalog's one rows-only query
    (embedding_lsh_topk): on IDENTICAL inputs, MLlib
    BucketedRandomProjectionLSH's mean recall@5 vs the exact baseline
    must be at least that of the fully value-oracled RP-LSH twin minus
    a 0.1 tolerance, and above an absolute 0.8 floor (measured 0.93-0.94
    at sf0.001/sf0.01 vs the twin's 0.66-0.77 — MLlib hashes with 3
    tables to the twin's single banded table, so it should never fall
    below the twin by more than noise)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    brute = similarity.cosine_topk(q, emb, k=5)
    mllib = (
        similarity.ann_recall_at_k(similarity.lsh_topk(q, emb, k=5), brute, k=5)
        .agg(F.avg("recall_at_k"))
        .collect()[0][0]
    )
    rp = (
        similarity.ann_recall_at_k(similarity.rp_lsh_topk(q, emb, k=5), brute, k=5)
        .agg(F.avg("recall_at_k"))
        .collect()[0][0]
    )
    assert mllib >= 0.8
    assert mllib >= rp - 0.1


def test_mllib_lsh_seed_stable_across_partitionings(spark, sf_dir):
    """Seeded MLlib LSH must return the identical ranked neighbor table
    regardless of input partitioning: hyperplanes come from the seed
    (not from data layout) and the top-k tie-break is by neighbor id,
    so a repartition can't change any row."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    base = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.lsh_topk(q, emb, k=5).collect()
    )
    shuffled = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.lsh_topk(
            q.repartition(7), emb.repartition(13), k=5
        ).collect()
    )
    assert base == shuffled
