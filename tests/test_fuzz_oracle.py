"""Oracle fuzzer: seeded random aggregation queries over orders, run on
Spark (DataFrame API) and DuckDB (SQL), compared exactly. Guards the
decimal-exactness machinery and cast conventions across a much wider query
space than the hand-written catalog."""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.functions import davg, dsum
from tests import seqfold
from tests.util_compare import assert_frames_equal

SF_DIR = "/root/testdata/sf0.001"

DIMS = ["o_orderstatus", "o_orderpriority"]
YEARS = list(range(1995, 2002))


def _rand_spec(rng: random.Random) -> dict:
    return {
        "group": rng.sample(DIMS, rng.randint(1, 2)),
        "year_lo": rng.choice(YEARS),
        "year_hi": rng.choice(YEARS),
        "min_price": rng.choice([None, 50_000, 150_000, 300_000]),
        "aggs": rng.sample(["n", "total", "avg", "max_price", "n_distinct_cust"], 3),
    }


def _spark_query(spark, spec):
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    d = F.year(F.to_date("o_orderdate"))
    df = df.filter((d >= spec["year_lo"]) & (d <= spec["year_hi"]))
    if spec["min_price"]:
        df = df.filter(F.col("o_totalprice") >= spec["min_price"])
    agg_map = {
        "n": F.count(F.lit(1)).alias("n"),
        "total": dsum("o_totalprice").alias("total"),
        "avg": davg("o_totalprice").alias("avg"),
        "max_price": F.max(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("max_price"),
        "n_distinct_cust": F.count_distinct("o_custkey").alias("n_distinct_cust"),
    }
    return df.groupBy(*spec["group"]).agg(*[agg_map[a] for a in spec["aggs"]])


def _duck_query(con, spec):
    agg_map = {
        "n": "CAST(COUNT(*) AS BIGINT) AS n",
        "total": "CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total",
        "avg": "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)"
        " / COUNT(o_totalprice) AS DOUBLE) AS avg",
        "max_price": "CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
        " AS max_price",
        "n_distinct_cust": "CAST(COUNT(DISTINCT o_custkey) AS BIGINT)"
        " AS n_distinct_cust",
    }
    where = (
        f"year(CAST(o_orderdate AS DATE)) BETWEEN {spec['year_lo']}"
        f" AND {spec['year_hi']}"
    )
    if spec["min_price"]:
        where += f" AND o_totalprice >= {spec['min_price']}"
    sql = (
        f"SELECT {', '.join(spec['group'])}, "
        f"{', '.join(agg_map[a] for a in spec['aggs'])} "
        f"FROM read_parquet('{SF_DIR}/orders.parquet') "
        f"WHERE {where} GROUP BY {', '.join(spec['group'])}"
    )
    return con.sql(sql).df()


@pytest.mark.parametrize("seed", range(12))
def test_random_agg_query_matches_duckdb(spark, seed):
    rng = random.Random(seed)
    spec = _rand_spec(rng)
    got = _spark_query(spark, spec).toPandas()
    want = _duck_query(duckdb.connect(), spec)
    assert_frames_equal(got, want, f"fuzz seed={seed} spec={spec}")


JOIN_DIMS = ["c_mktsegment", "o_orderstatus"]


@pytest.mark.parametrize("seed", range(8))
def test_random_join_query_matches_duckdb(spark, seed):
    """Random orders x customer join-aggregations: join type, group key,
    acctbal filter and aggregate set all drawn from the seed."""
    rng = random.Random(1000 + seed)
    group = rng.choice(JOIN_DIMS)
    how = rng.choice(["inner", "left"])
    min_bal = rng.choice([None, 0, 5000])
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    if min_bal is not None:
        c = c.filter(F.col("c_acctbal") >= min_bal)
    joined = o.join(c, o.o_custkey == c.c_custkey, how)
    got = (
        joined.groupBy(group)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("c_custkey").alias("n_matched"),
            dsum("o_totalprice").alias("total"),
        )
        .toPandas()
    )

    bal = f"WHERE c_acctbal >= {min_bal}" if min_bal is not None else ""
    sql = f"""
    SELECT {group},
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(c_custkey) AS BIGINT) AS n_matched,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
    FROM read_parquet('{SF_DIR}/orders.parquet') o
    {how.upper()} JOIN (SELECT * FROM read_parquet('{SF_DIR}/customer.parquet') {bal}) c
      ON o.o_custkey = c.c_custkey
    GROUP BY {group}
    """
    con = duckdb.connect()
    want = con.sql(sql).df()
    assert_frames_equal(got, want, f"join-fuzz seed={seed} {group} {how} {min_bal}")


WIN_PARTS = ["o_orderstatus", "o_orderpriority"]
WIN_FUNCS = ["row_number", "rank", "lag_price", "running_total", "cume_dist"]


@pytest.mark.parametrize("seed", range(8))
def test_random_window_query_matches_duckdb(spark, seed):
    """Random window specs — partition key, function set — row-for-row vs
    DuckDB. Order key always ends in the unique o_orderkey so every
    numbering is a total order; value columns go through the decimal
    conventions so running sums are exact."""
    from pyspark.sql import Window

    rng = random.Random(2000 + seed)
    part = rng.choice(WIN_PARTS)
    funcs = rng.sample(WIN_FUNCS, 3)

    w = Window.partitionBy(part).orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    price_dec = F.col("o_totalprice").cast("decimal(30,2)")
    spark_map = {
        "row_number": F.row_number().over(w).cast("long").alias("row_number"),
        "rank": F.rank().over(w).cast("long").alias("rank"),
        "lag_price": F.lag(price_dec).over(w).cast("double").alias("lag_price"),
        "running_total": F.sum(price_dec).over(wf).cast("double").alias(
            "running_total"
        ),
        "cume_dist": F.cume_dist().over(w).alias("cume_dist"),
    }
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    got = o.select(
        "o_orderkey", *[spark_map[f] for f in funcs]
    ).toPandas()

    duck_map = {
        "row_number": "CAST(ROW_NUMBER() OVER w AS BIGINT) AS row_number",
        "rank": "CAST(RANK() OVER w AS BIGINT) AS rank",
        "lag_price": "CAST(lag(CAST(o_totalprice AS DECIMAL(30,2))) OVER w"
        " AS DOUBLE) AS lag_price",
        "running_total": "CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2)))"
        " OVER (PARTITION BY {p} ORDER BY o_orderdate, o_orderkey"
        " ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total",
        "cume_dist": "cume_dist() OVER w AS cume_dist",
    }
    sel = ", ".join(duck_map[f].format(p=part) for f in funcs)
    sql = f"""
    SELECT o_orderkey, {sel}
    FROM read_parquet('{SF_DIR}/orders.parquet')
    WINDOW w AS (PARTITION BY {part} ORDER BY o_orderdate, o_orderkey)
    """
    con = duckdb.connect()
    want = con.sql(sql).df()
    assert_frames_equal(got, want, f"window-fuzz seed={seed} {part} {funcs}")


# ---------------------------------------------------------------------------
# Graph / mining fuzz: random structures vs
# pure-Python reference implementations. Triangles and PageRank batch 100
# random graphs each into ONE Spark call by giving every graph a disjoint
# node-id space (no cross edges => the union's result is the union of the
# per-graph results); PrefixSpan support thresholds are global, so those
# cases run as separate (smaller) calls.
# ---------------------------------------------------------------------------


def _random_undirected(rng: random.Random, offset: int):
    """Random simple undirected graph as (canonical_pairs, both_dir_edges)
    with node ids offset into a private range."""
    n = rng.randint(4, 12)
    p = rng.uniform(0.15, 0.6)
    pairs = set()
    for a in range(n):
        for b in range(a + 1, n):
            if rng.random() < p:
                pairs.add((offset + a, offset + b))
    both = [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs]
    return pairs, both


def test_fuzz_triangles_match_python_reference(spark):
    """100 random graphs, one triangle_count call, exact per-vertex
    counts vs brute-force triple enumeration."""
    from collections import Counter, defaultdict

    from f1_data_engineering_machine_learning_spark.operators.graph import (
        triangle_count,
    )

    rng = random.Random(404)
    want: Counter = Counter()
    edges = []
    for g in range(100):
        pairs, both = _random_undirected(rng, offset=1000 * g)
        edges.extend(both)
        adj = defaultdict(set)
        for u, v in pairs:
            adj[u].add(v)
            adj[v].add(u)
        for a in sorted(adj):
            for b in sorted(x for x in adj[a] if x > a):
                for c in sorted(adj[a] & adj[b]):
                    if c > b:
                        want[a] += 1
                        want[b] += 1
                        want[c] += 1
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_count(df).collect()}
    assert got == {n: c for n, c in want.items() if c > 0}


def test_fuzz_pagerank_matches_python_reference(spark):
    """100 random symmetric graphs, one 3-iteration pagerank call, BITWISE
    per-node ranks vs a Python replay of the exact quantized arithmetic
    (the determinism contract the oracle relies on)."""
    import math
    from collections import Counter, defaultdict

    from f1_data_engineering_machine_learning_spark.operators.graph import (
        pagerank,
    )

    rng = random.Random(505)
    edges = []
    for g in range(100):
        _, both = _random_undirected(rng, offset=1000 * g)
        edges.extend(both)
    outdeg = Counter(s for s, _ in edges)
    ranks = {s: 1.0 for s in outdeg}
    for _ in range(3):
        qsum: dict = defaultdict(int)
        for s, d in edges:
            if s in ranks:
                qsum[d] += math.floor(ranks[s] / outdeg[s] * 1e9)
        # (1.0 - 0.85) != 0.15 in IEEE — replicate the operator's exact
        # literal arithmetic (graph.py computes F.lit(1.0 - damping))
        ranks = {d: (1.0 - 0.85) + 0.85 * (qs / 1e9) for d, qs in qsum.items()}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.pr for r in pagerank(df, iterations=3).collect()}
    assert got == ranks  # exact float equality — quantized sums are integers


@pytest.mark.parametrize("seed", range(25))
def test_fuzz_prefixspan_matches_python_reference(spark, seed):
    """Random event streams vs a pure-Python subsequence counter for
    patterns of length <= 2 (support = #sessions containing the ordered
    subsequence, multiplicity-free — the PrefixSpan contract)."""
    from collections import Counter

    from f1_data_engineering_machine_learning_spark.dataops.mining import (
        frequent_sequences,
    )

    rng = random.Random(3000 + seed)
    steps_alphabet = ["a", "b", "c", "d"]
    rows = []
    sessions: dict = {}
    for sid in range(rng.randint(4, 10)):
        evs = [
            (rng.randint(0, 20), rng.choice(steps_alphabet))
            for _ in range(rng.randint(1, 6))
        ]
        sessions[sid] = evs
        rows.extend((sid, ts, st) for ts, st in evs)
    min_count = rng.randint(2, 3)

    support: Counter = Counter()
    for evs in sessions.values():
        seq = [s for _, s in sorted(evs)]
        for s in set(seq):
            support[s] += 1
        pairs = {
            (seq[i], seq[j])
            for i in range(len(seq))
            for j in range(i + 1, len(seq))
        }
        for a, b in pairs:
            support[f"{a}>{b}"] += 1
    want = {
        (p, 1 if ">" not in p else 2, c)
        for p, c in support.items()
        if c >= min_count
    }

    df = spark.createDataFrame(rows, "session_id long, ts long, step string")
    got = {
        (r.pattern, r.size, r.freq)
        for r in frequent_sequences(
            df, ["session_id"], "ts", "step", min_count=min_count, max_len=2
        ).collect()
    }
    assert got == want, f"seed={seed} min_count={min_count}"


@pytest.mark.parametrize("seed", range(10))
def test_fuzz_kmeans_lloyd_matches_python_replay(spark, seed):
    """Random corpora vs a pure-Python replay of the exact deterministic
    Lloyd arithmetic: smallest-id init, argmin sequential-fold L2 with
    smallest-cid ties, nano-quantized integer centroid updates, empty
    clusters retained — BITWISE equality of clusters and distances."""
    import math

    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        kmeans_lloyd_deterministic,
    )

    rng = random.Random(7000 + seed)
    n = rng.randint(12, 40)
    dim = rng.choice([3, 5, 8])
    k = rng.randint(2, 4)
    iters = rng.randint(1, 3)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(n)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def l2sq(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    def assign(vecs, cents):
        out = {}
        for vid, v in vecs:
            best = None
            for cid, cv in enumerate(cents):
                d = l2sq(v, cv)
                if best is None or (d, cid) < best:
                    best = (d, cid)
            out[vid] = best
        return out

    cents = [list(rows[i][1]) for i in range(k)]  # ids 0..k-1 are smallest
    for _ in range(iters):
        a = assign(rows, cents)
        sums = {}
        for vid, v in rows:
            cid = a[vid][1]
            qs, cnt = sums.setdefault(cid, ([0] * dim, 0))
            for p, x in enumerate(v):
                qs[p] += math.floor(x * 1e9)
            sums[cid] = (qs, cnt + 1)
        new_cents = [list(c) for c in cents]
        for cid, (qs, cnt) in sums.items():
            new_cents[cid] = [q / 1e9 / cnt for q in qs]
        cents = new_cents
    want = {
        vid: (d_cid[1], d_cid[0]) for vid, d_cid in assign(rows, cents).items()
    }

    got = {
        r.vec_id: (r.cluster, r.dist2)
        for r in kmeans_lloyd_deterministic(
            df, k=k, iterations=iters
        ).collect()
    }
    assert got == want, f"seed={seed} n={n} dim={dim} k={k} iters={iters}"


def test_fuzz_bigram_lm_matches_python_reference(spark):
    """Random mini-corpora vs a pure-Python replay of the exact fixed-point
    bigram-LM arithmetic (add-one smoothing, BIGINT floor-division q per
    transition, one trailing IEEE division) — exact equality of counts,
    q-sums, and the final double. The model is corpus-global (V and the
    counts), so each random corpus is its own operator call."""
    import re
    from collections import Counter

    from f1_data_engineering_machine_learning_spark.dataops.text import (
        bigram_lm_scores,
    )

    rng = random.Random(6006)
    words = ["the", "cat", "SAT", "on", "a", "Mat", "dog", "ran"]
    scale = 1 << 20
    for corpus_i in range(5):
        docs = []
        for did in range(rng.randint(3, 8)):
            n = rng.choice([0, 1, 2, 3, 5, 9])
            txt = (" " * rng.randint(0, 2)).join(
                rng.choice(words) + ("\t" if rng.random() < 0.2 else " ")
                for _ in range(n)
            )
            docs.append((did, txt))
        docs.append((99, ""))  # empty doc: no tokens, no output row
        docs.append((98, "   \t "))  # whitespace-only: ditto

        # --- pure-Python replay ---
        toks = {
            did: re.sub(r"\s+", " ", txt.lower()).strip(" ").split(" ")
            for did, txt in docs
        }
        c2: Counter = Counter()
        vocab = set()
        doc_bigrams = {}
        for did, ts in toks.items():
            vocab.update(w for w in ts if w != "")
            if len(ts) >= 2:
                doc_bigrams[did] = list(zip(ts, ts[1:]))
                c2.update(doc_bigrams[did])
        c1: Counter = Counter()
        for (w1, _), c in c2.items():
            c1[w1] += c
        v = len(vocab)
        q = {bg: (c + 1) * scale // (c1[bg[0]] + v) for bg, c in c2.items()}
        want = {}
        for did, bgs in doc_bigrams.items():
            if not bgs:
                continue
            qs = sum(q[bg] for bg in bgs)
            want[did] = (len(bgs), qs, qs / (len(bgs) * scale))

        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_bigrams, r.lm_q_sum, r.lm_mean_prob)
            for r in bigram_lm_scores(df).collect()
        }
        assert got == want, f"corpus={corpus_i} docs={docs}"


def test_fuzz_incremental_semantic_dedup_matches_python_replay(spark):
    """Random corpus+batch vector sets vs a pure-Python replay of the
    exact quantizer (smallest-id corpus centroids), argmin struct fold
    (max cosine, smallest-cid ties), max_cluster guard, and the
    sequential-fold cosine — EXACT float equality of every emitted
    (batch_id, corpus_id, centroid, cosine_sim)."""
    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        incremental_semantic_dedup,
    )

    rng = random.Random(8008)
    for trial in range(5):
        dim = rng.choice([3, 4, 6])
        k = rng.randint(2, 4)
        thr = rng.choice([0.8, 0.9, 0.95])
        max_cluster = rng.choice([100_000, 8])
        corpus_rows = [
            (i * 10, [rng.gauss(0, 1) for _ in range(dim)])
            for i in range(rng.randint(12, 25))
        ]
        batch_rows = [
            (1000 + i, [rng.gauss(0, 1) for _ in range(dim)])
            for i in range(rng.randint(3, 8))
        ]
        # plant a near-duplicate so matches exist at high thresholds
        batch_rows.append((2000, list(corpus_rows[3][1])))

        cents = seqfold.centroids(corpus_rows, k)
        c_assign = {cid: seqfold.assign(v, cents) for cid, v in corpus_rows}
        sizes: dict = {}
        for cl in c_assign.values():
            sizes[cl] = sizes.get(cl, 0) + 1
        want = set()
        for bid, bv in batch_rows:
            bc = seqfold.assign(bv, cents)
            for cid, cv in corpus_rows:
                if c_assign[cid] != bc or sizes[bc] > max_cluster:
                    continue
                sim = seqfold.cosine(bv, cv)
                if sim >= thr:
                    want.add((bid, cid, bc, sim))

        corpus = spark.createDataFrame(
            corpus_rows, "vec_id long, embedding array<double>"
        )
        batch = spark.createDataFrame(
            batch_rows, "vec_id long, embedding array<double>"
        )
        got = {
            (r.batch_id, r.corpus_id, r.centroid, r.cosine_sim)
            for r in incremental_semantic_dedup(
                batch,
                corpus,
                threshold=thr,
                n_centroids=k,
                max_cluster=max_cluster,
            ).collect()
        }
        assert got == want, f"trial={trial} k={k} thr={thr} mc={max_cluster}"


def test_fuzz_multimodal_pipeline_matches_python_replay(spark):
    """Random id sets x payload sizes x Arrow batch caps x partition
    counts vs a pure-Python replay of the full multimodal pipeline
    (attach_fake_media -> decode_media -> media_features): sha256-hex
    payload repeat/truncate, byte-cycle pseudo-decode, and the
    sequential-fold mean / min / max / 13 histogram bins — EXACT float
    equality of all 16 features. batch_rows and repartition vary while
    the expected values don't, pinning the Arrow-batch-shape and
    partitioning invariance the 100 TB contract relies on (results are a
    function of the row, never of how rows are batched)."""
    import hashlib

    from f1_data_engineering_machine_learning_spark.dataops.multimodal import (
        FEATURE_DIM,
        attach_fake_media,
        decode_media,
        media_features,
    )

    def replay(doc_id: int, payload_bytes: int) -> list[float]:
        hexs = hashlib.sha256(str(doc_id).encode()).hexdigest()
        payload = (hexs * (payload_bytes // 64 + 1))[:payload_bytes].encode()
        n = 16  # width * height of the fake meta
        if payload:
            px = [payload[i % len(payload)] / 255.0 for i in range(n)]
        else:
            px = [0.0] * n
        acc = 0.0
        for x in px:  # left fold, same order as F.aggregate
            acc = acc + x
        feats = [acc / n, min(px), max(px)]
        for i in range(FEATURE_DIM - 3):
            lo, hi = i / 13.0, (i + 1) / 13.0
            feats.append(sum(1 for x in px if lo <= x < hi) / n)
        return feats

    rng = random.Random(6060)
    for trial in range(5):
        ids = rng.sample(range(10**9), rng.randint(1, 12))
        payload_bytes = rng.choice([0, 1, 5, 64, 100, 256, 300])
        batch_rows = rng.choice([1, 2, 7, 64])
        parts = rng.choice([1, 3, 8])
        df = spark.createDataFrame(
            [(i,) for i in ids], "doc_id long"
        ).repartition(parts)
        media = attach_fake_media(df, "doc_id", payload_bytes=payload_bytes)
        out = media_features(
            decode_media(media, decoder="fake", batch_rows=batch_rows)
        )
        got = {r.doc_id: list(r.media_features) for r in out.collect()}
        want = {i: replay(i, payload_bytes) for i in ids}
        assert got == want, (
            f"trial={trial} payload_bytes={payload_bytes} "
            f"batch_rows={batch_rows} parts={parts}"
        )
