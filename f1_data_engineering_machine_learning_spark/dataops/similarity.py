"""Similarity search over an ``array<float>`` embedding column.

Three tiers, trading recall for scan cost:

- ``cosine_topk`` — brute force: broadcast the query set against the corpus,
  fold the dot product with array expressions (JVM, deterministic
  element-order accumulation), per-query top-k via window. Exact; O(Q x N).
  The baseline every ANN variant is measured against.
- ``lsh_topk`` — MLlib BucketedRandomProjectionLSH: hash both sides,
  approxSimilarityJoin prunes to colliding buckets. Sub-linear scans at the
  cost of recall; seeded, so reproducible.
- ``ivf_topk`` — inverted-file index: KMeans coarse quantizer, corpus
  bucketed by nearest centroid, queries probe the ``n_probe`` nearest
  centroids only — the classic IVF-Flat layout, built from MLlib + joins.
  At 100 TB the corpus is written bucketed/partitioned by centroid id so a
  probe touches only its partitions.

Numeric contract: embedding vectors must have NON-ZERO L2 norm (and no
NaN/Inf components). Cosine against a zero-norm vector is 0/0 = NaN, and
the argmax formulations here are deliberately NOT NaN-stable: the
``array_min(transform(...))`` struct argmin ranks NaN as greatest (so a
NaN cosine LOSES the argmax), while a fold-style scan or an
``ORDER BY cos DESC`` oracle would let NaN WIN — degenerate inputs make
engines disagree, so they are out of contract rather than papered over.
Normalize or drop zero vectors upstream (``l2_norm(v) > 0``);
``tests/test_similarity_contract.py`` pins that the oracle fixtures
satisfy this, so every value hash is NaN-free by construction.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.operators.partitioning import (
    ensure_min_parallelism,
)
from f1_data_engineering_machine_learning_spark.operators.windows import topk_per_group


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — deterministic accumulation order
    (element order), identical across partitionings and engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    ad, bd = _as_double(a), _as_double(b)
    return (dot(ad, bd) / (l2_norm(ad) * l2_norm(bd))).cast("double")


def _pair_cos_hoisted() -> Column:
    """Candidate-pair cosine over the conventional hoisted columns
    (``__qvec``/``__cvec`` with per-ROW norms ``__qn``/``__cn``): one
    array traversal per pair where :func:`cosine` walks both vectors
    three times (dot + both norms). Same fold, same ``dot/(nv*nc)``
    grouping — bitwise-equal to :func:`cosine` of the same arrays, so
    value-hash oracles are unaffected (norm hoisting only changes HOW
    OFTEN the identical folds run)."""
    return F.expr(
        "CAST(aggregate(zip_with(__qvec, __cvec, (x, y) -> x * y), "
        "0.0D, (a, x) -> a + x) / (__qn * __cn) AS DOUBLE)"
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Queries are broadcast (the small side by construction); the corpus scan
    stays partition-parallel, and per-query top-k is a window with
    deterministic (similarity desc, neighbor id) ordering.

    Pass ``dim`` when the embedding dimension is known: norms are then
    precomputed ONCE per side (not per pair) and each pair costs one
    array traversal (:func:`_dot_hof_sql`) — bitwise-identical results,
    a fraction of the work on the O(Q x N) scan."""
    # vectors pre-cast to array<double> once per side so the fixed-dim
    # path's SQL-text expressions (one parse each — the unrolled Column
    # chains cost hundreds of py4j calls per use) need no per-element
    # casts; float->double is exact, values unchanged
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cvec"),
    )
    c = ensure_min_parallelism(c)
    if dim is not None:
        q = q.withColumn("__qn", F.expr(_l2_fixed_sql("__qvec", dim)))
        c = c.withColumn("__cn", F.expr(_l2_fixed_sql("__cvec", dim)))
        sim = F.expr(
            f"CAST({_dot_hof_sql('__qvec', '__cvec')}"
            f" / (__qn * __cn) AS DOUBLE)"
        )
    else:
        sim = cosine(F.col("__qvec"), F.col("__cvec"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", sim)
        .select("query_id", "neighbor_id", "cosine_sim")
    )
    return topk_per_group(
        scored,
        ["query_id"],
        [F.desc("cosine_sim"), F.col("neighbor_id")],
        k,
        rn_col="rank",
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Approximate neighbors via random-projection LSH (Euclidean proxy for
    cosine on normalized vectors). Returns (query_id, neighbor_id, dist)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(
        F.col(id_col).alias("id"), array_to_vector(_as_double(F.col(vec_col))).alias("features")
    )
    q = queries.select(
        F.col(id_col).alias("id"), array_to_vector(_as_double(F.col(vec_col))).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(c)
    joined = model.approxSimilarityJoin(q, c, float("inf"), distCol="dist")
    pairs = joined.select(
        F.col("datasetA.id").alias("query_id"),
        F.col("datasetB.id").alias("neighbor_id"),
        F.col("dist"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    return topk_per_group(
        pairs, ["query_id"], [F.col("dist"), F.col("neighbor_id")], k, rn_col="rank"
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_iter: int = 8,
) -> DataFrame:
    """IVF-Flat: coarse-quantize the corpus with KMeans, probe only the
    ``n_probe`` closest centroids per query, exact cosine within probes.

    ``max_iter=8`` (vs MLlib's default 20): recall is governed by
    ``n_probe``, not centroid polish — a coarse quantizer converges enough
    in a few iterations and the fit is the dominant cost (measured 4.4s ->
    1.0s at 2k vectors with no recall change in tests)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cvec"),
        array_to_vector(_as_double(F.col(vec_col))).alias("features"),
    ).withColumn("__cn", l2_norm(F.col("__cvec")))
    km = KMeans(k=n_centroids, seed=seed, featuresCol="features", maxIter=max_iter)
    model = km.fit(c)
    assigned = model.transform(c).select(
        "neighbor_id", "__cvec", "__cn", F.col("prediction").alias("centroid")
    )

    centroids = [
        (i, [float(x) for x in center]) for i, center in enumerate(model.clusterCenters())
    ]
    cent_df = queries.sparkSession.createDataFrame(
        centroids, ["centroid", "centroid_vec"]
    )

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qvec")
    ).withColumn("__qn", l2_norm(F.col("__qvec")))
    q_cent = (
        q.join(F.broadcast(cent_df))
        .withColumn(
            "cdist", cosine(F.col("__qvec"), F.col("centroid_vec"))
        )
    )
    probes = topk_per_group(
        q_cent,
        ["query_id"],
        [F.desc("cdist"), F.col("centroid")],
        n_probe,
        rn_col="__pr",
    ).select("query_id", "centroid", "__qvec", "__qn")

    scored = (
        probes.join(assigned, "centroid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", _pair_cos_hoisted())
        .select("query_id", "neighbor_id", "cosine_sim")
    )
    return topk_per_group(
        scored,
        ["query_id"],
        [F.desc("cosine_sim"), F.col("neighbor_id")],
        k,
        rn_col="rank",
    )


def _rp_sign(t: int, p: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane component in {-1, +1} from a
    pure-integer xorshift-LCG mix over (table, plane, dim). Integer
    arithmetic only (products stay < 2^62 — no int64 overflow in any
    engine), so ANY engine reproduces it exactly — the property that lets
    a DuckDB oracle re-derive the same hyperplanes and value-check the
    whole ANN pipeline (catalog ``embedding_rp_lsh_topk``), unlike
    library LSH whose internals no second engine can replay.

    The xorshift steps between the LCG rounds are load-bearing: a bare
    LCG (or any chain of LCG rounds) is AFFINE in the seed, and bit 0 of
    ``odd*s + odd`` is just the parity of ``s`` — every (t, p) collapsed
    to ±one alternating-sign hyperplane, making the whole LSH a single
    2-way split (a real bug this replaced). With the xor mixing the
    planes are statistically independent: pairwise agreement 0.50 ± 0.06
    over 256 planes x 64 dims, matching true random signs."""
    x = (d + 97 * p + 389 * t) * 1103515245 + 12345
    x %= 2147483648
    x ^= x >> 13
    x = (x * 1103515245 + 12345) % 2147483648
    x ^= x >> 17
    x = (x * 69069 + 1) % 2147483648
    x ^= x >> 16
    return 1.0 if x % 2 == 1 else -1.0


def _rp_bucket(vec_col: str, t: int, n_planes: int, dim: int) -> Column:
    """LSH bucket id for one hash table: ``n_planes`` sign bits of random
    projections, packed into an int.

    The projection is a sequential fold (element order) so the float
    accumulation is engine-reproducible — this fold form is what the
    DuckDB oracle for ``embedding_rp_lsh_topk`` replays bit-for-bit.
    Built as ONE SQL expression string per (column, table): the
    ``F.lit``/Column-arithmetic form issues a py4j round-trip per
    hyperplane component (thousands of driver calls, ~seconds of pure
    plan CONSTRUCTION); a single parsed expression is ~50x cheaper to
    build and compiles to the same plan. For MANY planes (>= ~50) prefer
    :func:`_np_bucket_udf` — the interpreted lambda fold costs ~3 us per
    (row, plane, dim) while the Arrow/numpy path is vectorized."""
    terms = []
    for p in range(n_planes):
        arr = ",".join(f"{_rp_sign(t, p, d):.1f}D" for d in range(dim))
        proj = (
            f"aggregate(zip_with({vec_col}, array({arr}), (x, s) -> x * s), "
            f"0.0D, (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {proj} >= 0.0D THEN {1 << p} ELSE 0 END)")
    return F.expr(" + ".join(terms))


def _np_bucket_udf(n_tables: int, n_planes: int, dim: int):
    """All ``n_tables`` LSH bucket ids in one Arrow-vectorized pass: a
    (dim x tables*planes) numpy matmul per batch, sign bits packed per
    table. Used where the per-row plane count is large (the blocked
    near-dup path hashes 6x16 = 96 planes; the interpreted JVM fold costs
    seconds of pure lambda dispatch there, the matmul is milliseconds,
    and plan construction drops from ~5 s of expression parsing to
    nothing). Matmul accumulation order differs from the sequential fold
    — acceptable ONLY where buckets affect recall, not values: callers
    whose oracle re-derives buckets exactly (``rp_lsh_topk``) must stay
    on :func:`_rp_bucket`. Map-only, no shuffle; at 100 TB this is the
    standard vectorized-hash stage of a vector pipeline."""
    from pyspark.sql.types import ArrayType, IntegerType

    S = np.array(
        [
            [_rp_sign(t, p, d) for d in range(dim)]
            for t in range(n_tables)
            for p in range(n_planes)
        ]
    ).T  # (dim, tables*planes)
    weights = 1 << np.arange(n_planes)

    @F.pandas_udf(ArrayType(IntegerType()))
    def buckets(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        V = np.stack([np.asarray(x, dtype=np.float64) for x in vs])
        bits = (V @ S) >= 0.0  # (n, tables*planes)
        B = bits.reshape(len(V), n_tables, n_planes) @ weights
        return pd.Series([row.tolist() for row in B.astype(np.int32)])

    return buckets


def rp_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_tables: int = 8,
    n_planes: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Random-projection LSH top-k with engine-reproducible hyperplanes.

    Defaults (8 tables x 4 planes) are tuned for LOW-CONTRAST corpora
    where the true nearest neighbors sit near cosine ~0.5 (as here —
    recall@5 vs brute force ~0.7-0.8 while still pruning uncorrelated
    pairs 16x per table). Sign-bit LSH fundamentally trades recall
    against pruning through ``(1 - acos(cos)/pi)^planes`` per table: on
    a corpus with real near-duplicates (cosine >= 0.9) RAISE n_planes
    for sharper pruning; when neighbors barely beat random, an IVF
    structure (:func:`ivf_topk`) separates better than any plane count.

    Same sub-linear candidate structure as ``lsh_topk`` (sign-bit buckets,
    ``n_tables`` independent tables, exact cosine re-rank of candidates
    only) but every source of randomness is the integer LCG above — fully
    deterministic and re-derivable by a second engine, so this ANN path is
    VALUE-oracled, not rows-only. Scale shape: bucket assignment is a
    map-only projection (no shuffle); the candidate equi-join shuffles
    (table, bucket) keys, never the O(Q x N) cross product."""
    if dim is None:
        dim = corpus.select(F.size(F.col(vec_col))).first()[0]
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qvec")
    ).withColumn("__qn", l2_norm(F.col("__qvec")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("__cvec")
    ).withColumn("__cn", l2_norm(F.col("__cvec")))
    q_b = q.select(
        "query_id",
        "__qvec",
        "__qn",
        F.posexplode(
            F.array(*[_rp_bucket("__qvec", t, n_planes, dim) for t in range(n_tables)])
        ).alias("t", "bucket"),
    )
    c_b = c.select(
        "neighbor_id",
        "__cvec",
        "__cn",
        F.posexplode(
            F.array(*[_rp_bucket("__cvec", t, n_planes, dim) for t in range(n_tables)])
        ).alias("t", "bucket"),
    )
    cand = (
        q_b.join(c_b, ["t", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "__qvec", "__qn", "__cvec", "__cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # hoisted-norm re-rank: one traversal per candidate, same
    # dot/(nv*nc) grouping as cosine() — values bitwise-unchanged
    scored = cand.withColumn(
        "cosine_sim", _pair_cos_hoisted()
    ).select("query_id", "neighbor_id", "cosine_sim")
    return topk_per_group(
        scored,
        ["query_id"],
        [F.desc("cosine_sim"), F.col("neighbor_id")],
        k,
        rn_col="rank",
    )


def _dot_hof_sql(a: str, b: str) -> str:
    """The dot product for PAIR-SCAN hot paths: one array traversal via
    ``aggregate(zip_with(...))``, the sequential left fold
    ``((0.0 + t1) + t2) + ...`` in element order that the DuckDB oracles
    replay (bitwise against a Python fold in ``tests/test_dataops.py``).

    A join condition this large never reaches whole-stage codegen (the
    generated predicate blows the method limit and Spark falls back to
    the interpreted evaluator). An unrolled ``element_at`` chain would pay
    interpreted dispatch + boxing on each of its ``2*dim`` nodes PER PAIR
    (~25 us/pair at dim=64); the HOF is also interpreted but traverses the
    two arrays once with specialized getters, about 2x faster on a
    SemDeDup-sized pair scan. Per-ROW uses (norms) keep the unrolled
    :func:`_l2_fixed_sql`, evaluated once per row, not once per pair."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def _l2_fixed_sql(a: str, dim: int) -> str:
    """Unrolled L2 norm of an already-double array for a KNOWN dimension,
    as one SQL expression (one parse). The chain starts at ``x1*x1``;
    :func:`l2_norm`'s fold adds its ``0.0`` seed to the first square,
    which is exact, so the two are bitwise-equal."""
    acc = f"(element_at({a}, 1) * element_at({a}, 1))"
    for i in range(2, dim + 1):
        acc = f"({acc} + (element_at({a}, {i}) * element_at({a}, {i})))"
    return f"sqrt({acc})"


def _f64_lit(x: float) -> str:
    """A SQL double literal that round-trips ``x`` exactly: repr is the
    shortest exact decimal and Spark's ``D``-suffix literal re-reads the
    same bits (verified bitwise against the CAST('...' AS DOUBLE) form,
    which this replaces — half the text and one fewer expression node
    per element, which matters when a quantizer inlines thousands of
    them into one plan)."""
    return f"{x!r}D"


def _cos_sql(vec_expr: str, arr_sql: str) -> str:
    """Cosine of a vector column against one literal double array, as a SQL
    expression string: sequential folds only, so every engine (and the
    DuckDB oracle) reproduces the accumulation bit-for-bit."""
    dot = (
        f"aggregate(zip_with({vec_expr}, {arr_sql}, (x, y) -> x * y), "
        f"0.0D, (a, x) -> a + x)"
    )
    nv = f"sqrt(aggregate({vec_expr}, 0.0D, (a, x) -> a + x * x))"
    nc = f"sqrt(aggregate({arr_sql}, 0.0D, (a, x) -> a + x * x))"
    return f"({dot} / ({nv} * {nc}))"


def _sampled_centroid_literal(
    corpus: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> str:
    """SQL literal array of the ``n_centroids`` smallest-id corpus vectors
    — the deterministic, engine-reproducible coarse quantizer (a sampled
    quantizer, as FAISS permits; IVF/SemDeDup do not require KMeans). The
    collect is tiny (n_centroids rows) and the result embeds as ONE parsed
    literal expression (same py4j-storm avoidance as ``_rp_bucket``)."""
    cents = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_centroids)
        .collect()
    ]
    body = ", ".join(
        f"named_struct('cid', {cid}, 'cv', array({', '.join(_f64_lit(x) for x in vec)}))"
        for cid, vec in cents
    )
    return f"array({body})"


def _collected_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> list[tuple[int, list[float], float]]:
    """The deterministic sampled quantizer (``n_centroids`` smallest-id
    vectors, same rule as :func:`_sampled_centroid_literal`) collected
    driver-side as ``[(cid, cv, cn)]`` — one tiny O(k)-row job. ``cn``
    is the sequential sum-of-squares sqrt computed in Python: CPython
    floats are IEEE doubles with the same rounding as the JVM fold, so
    it is bitwise-equal to :func:`l2_norm` of the same array (and to the
    oracle's replay)."""
    rows = (
        corpus.select(F.col(id_col).cast("long"), _as_double(F.col(vec_col)))
        .orderBy(id_col)
        .limit(n_centroids)
        .collect()
    )
    out = []
    for r in rows:
        cv = [float(x) for x in r[1]]
        acc = 0.0
        for x in cv:
            acc += x * x
        out.append((int(r[0]), cv, math.sqrt(acc)))
    return out


def _centroid_frame(
    corpus: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> DataFrame:
    """The sampled quantizer as a ONE-ROW DataFrame holding
    ``__cents: array<struct<cid, cv, cn>>`` (cid-ascending), meant to be
    broadcast-joined under the corpus so the argmax fold reads the
    centroids as DATA instead of inlining k x dim literal expression
    nodes into the plan. Plan and codegen size become k-independent: at
    production SemDeDup scale (k in the tens of thousands) a literal
    centroid array makes the PLAN itself the bottleneck, while a one-row
    broadcast grows only the 16-bytes-per-double payload.

    Built from one tiny driver collect (k rows) into a LocalRelation:
    zero executor jobs at runtime and no lambda expressions in the
    centroid lineage, so per-side fresh frames stay trivially cheap and
    safe to join (see the Spark 4.1 DeduplicateRelations note in
    :func:`incremental_semantic_dedup`). ``cn`` is the precomputed
    centroid norm — hoisted out of the per-(row x centroid) cosine,
    bitwise-equal to the fold the oracle replays."""
    spark = corpus.sparkSession
    cents = _collected_centroids(corpus, id_col, vec_col, n_centroids)
    schema = (
        "__cents array<struct<cid: bigint, cv: array<double>, cn: double>>"
    )
    return spark.createDataFrame([(cents,)], schema)


def _argmax_centroid(vec: str, norm: str) -> Column:
    """Nearest centroid of the vector column ``vec`` (row norm ``norm``)
    over the joined :func:`_centroid_frame` column ``__cents``: one dot
    traversal per centroid, cos = dot/(nv*cn) with the centroid norm
    precomputed. ``array_min`` over struct(negs, cid) is "max cosine,
    smallest cid on ties" — the oracle's ``ORDER BY cos DESC, cid``
    ROW_NUMBER. (Zero vectors make cosine NaN; assignment is undefined
    for them — module docstring.)"""
    dot_c = (
        f"aggregate(zip_with({vec}, c.cv, (x, y) -> x * y), "
        "0.0D, (a, x) -> a + x)"
    )
    return F.expr(
        f"array_min(transform(__cents, c -> named_struct("
        f"'negs', -({dot_c} / ({norm} * c.cn)), 'cid', c.cid))).cid"
    )


def ivf_topk_deterministic(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-Flat top-k with a DETERMINISTIC, engine-reproducible coarse
    quantizer: the centroids are the ``n_centroids`` smallest-id corpus
    vectors (a sampled quantizer, as FAISS permits — IVF does not require
    KMeans), so a second engine can re-derive the exact same partitioning,
    probes, and ranking. This is the value-oracled twin of ``ivf_topk``
    (whose KMeans quantizer is MLlib-internal and only rows-checkable).

    Scale shape — one shuffle total:
    - centroid list is collected driver-side (tiny: n_centroids vectors) and
      embedded as ONE parsed literal array expression (same py4j-storm
      avoidance as ``_rp_bucket``);
    - corpus assignment is a map-only per-row argmax fold over that array —
      no shuffle, no window: the classic "assignment is embarrassingly
      parallel" property IVF needs at 100 TB;
    - query probing is a map-only sort/slice over the same array, then the
      candidate join broadcasts the (query, centroid) probe list against the
      assigned corpus — shuffle-free;
    - the only exchange is the final per-query top-k window over candidates
      (|Q| x n_probe bucket sizes, not |corpus|).

    Ties: assignment keeps the smallest centroid id at equal cosine;
    ranking breaks equal similarity by neighbor id — both mirrored in the
    catalog oracle SQL."""
    cent_arr = _sampled_centroid_literal(corpus, id_col, vec_col, n_centroids)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("__cvec")
    ).withColumn("__cn", l2_norm(F.col("__cvec")))
    # per-row argmax over the broadcast centroid frame (still map-only —
    # a 1-row broadcast adds no shuffle)
    assigned = (
        c.join(F.broadcast(_centroid_frame(corpus, id_col, vec_col, n_centroids)))
        .withColumn("centroid", _argmax_centroid("__cvec", "__cn"))
        .drop("__cents")
    )

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qvec")
    ).withColumn("__qn", l2_norm(F.col("__qvec")))
    # per-query centroid ranking: sort structs (neg-cosine asc, cid asc),
    # keep the first n_probe, explode into probe rows — all map-side
    # (query side is small; the literal-array form replays verbatim)
    cos_q = _cos_sql("__qvec", "c.cv")
    probe_expr = (
        f"slice(array_sort(transform({cent_arr}, "
        f"c -> named_struct('negs', -({cos_q}), 'cid', c.cid))), 1, {n_probe})"
    )
    probes = q.select(
        "query_id",
        "__qvec",
        "__qn",
        F.explode(F.expr(probe_expr)).alias("__p"),
    ).select("query_id", "__qvec", "__qn", F.col("__p.cid").alias("centroid"))

    scored = (
        assigned.join(F.broadcast(probes), "centroid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", _pair_cos_hoisted())
        .select("query_id", "neighbor_id", "cosine_sim")
    )
    return topk_per_group(
        scored,
        ["query_id"],
        [F.desc("cosine_sim"), F.col("neighbor_id")],
        k,
        rn_col="rank",
    )


def ann_recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
) -> DataFrame:
    """Per-query recall@k of an approximate top-k result against the exact
    one: |approx ∩ exact| / k on (query_id, neighbor_id). The quality
    contract every ANN variant is graded on — emitted as query output so a
    recall regression changes visible values, not just a hidden test."""
    hits = approx.select("query_id", "neighbor_id").join(
        exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi"
    )
    per_q = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits"))
    all_q = exact.select("query_id").distinct()
    return (
        all_q.join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("int").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(k)).cast("double").alias(
                "recall_at_k"
            ),
        )
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
    max_iter: int = 8,
) -> None:
    """Persist an IVF index: the corpus written as parquet PARTITIONED BY
    centroid id, plus the centroid table alongside. This is the layout
    that makes IVF sub-linear at rest, not just in one job: a probe scans
    ONLY its ``n_probe`` centroid partitions — partition pruning at the
    file listing, before a single corpus byte is read. At 100 TB that is
    the difference between touching ~n_probe/n_centroids of the data and
    touching all of it (asserted by plan test: PartitionFilters on the
    probe scan)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        array_to_vector(_as_double(F.col(vec_col))).alias("features"),
    )
    km = KMeans(k=n_centroids, seed=seed, featuresCol="features", maxIter=max_iter)
    model = km.fit(c)
    assigned = model.transform(c).select(
        "vec_id", "embedding", F.col("prediction").alias("centroid")
    )
    assigned.write.mode("overwrite").partitionBy("centroid").parquet(
        f"{path}/vectors"
    )
    spark = corpus.sparkSession
    cent = spark.createDataFrame(
        [
            (i, [float(x) for x in center])
            for i, center in enumerate(model.clusterCenters())
        ],
        ["centroid", "centroid_vec"],
    )
    cent.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_index_upsert(
    batch: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add vectors to a persisted IVF index WITHOUT
    rebuilding it: assign each new vector to its nearest EXISTING
    centroid (the stored quantizer is the contract — probes must keep
    seeing a consistent partitioning) and APPEND to the matching
    centroid partitions. Dynamic partition overwrite is NOT used —
    append mode only touches the probed layout additively, so a
    concurrent reader never loses vectors.

    This is how a 100 TB vector corpus actually grows: the quantizer is
    retrained rarely (when drift degrades recall — measure with
    ``ann_recall_at_k``); the daily ingest is a map-only assignment plus
    a partitioned append. Assignment broadcasts the tiny centroid table
    and picks argmin SQUARED EUCLIDEAN distance — the metric KMeans's
    own ``model.transform`` uses at build time — with a
    (distance, centroid-id) tie-break, so an upserted vector lands in
    the same partition a full rebuild with the same centroids would
    choose (parity-tested against an independent Euclidean argmin; a
    cosine argmax disagrees with the build-era placement for
    non-normalized vectors)."""
    spark = batch.sparkSession
    cent = spark.read.parquet(f"{index_path}/centroids")
    b = batch.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    dist2 = F.aggregate(
        F.zip_with(
            _as_double(F.col("embedding")),
            F.col("centroid_vec"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = b.join(F.broadcast(cent)).withColumn("cdist", dist2)
    assigned = topk_per_group(
        scored, ["vec_id"], [F.asc("cdist"), F.col("centroid")], 1, rn_col="__rn"
    ).select("vec_id", "embedding", "centroid")
    assigned.write.mode("append").partitionBy("centroid").parquet(
        f"{index_path}/vectors"
    )


def ivf_probe_indexed(
    queries: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Top-k probe against a persisted IVF index (``build_ivf_index``).

    The union of all queries' probed centroids prunes the vectors scan
    via a BROADCAST SEMI-JOIN on the partition column: Spark's dynamic
    partition pruning turns the broadcasted probe-centroid set into a
    runtime PartitionFilter (``dynamicpruning`` subquery in the scan,
    plan-asserted), so only the probed centroid directories are listed
    and read — with a CONSTANT-SIZE plan. Nothing is collected to the
    driver and no literal In-list grows with n_queries x n_probe, unlike
    a collect()+isin formulation whose predicate (and plan) balloons at
    production probe volume. Within the probed partitions, exact cosine
    re-rank as usual."""
    spark = queries.sparkSession
    cent = spark.read.parquet(f"{index_path}/centroids")

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qvec")
    ).withColumn("__qn", l2_norm(F.col("__qvec")))
    q_cent = q.join(F.broadcast(cent)).withColumn(
        "cdist", cosine(F.col("__qvec"), F.col("centroid_vec"))
    )
    probes = topk_per_group(
        q_cent, ["query_id"], [F.desc("cdist"), F.col("centroid")], n_probe,
        rn_col="__pr",
    ).select("query_id", "centroid", "__qvec", "__qn")

    # bounded by n_centroids rows; the rn<=n_probe filter upstream is the
    # selective predicate Spark's DPP rule requires to rewrite the scan
    probed = probes.select("centroid").distinct()
    vectors = (
        spark.read.parquet(f"{index_path}/vectors")
        .join(F.broadcast(probed), "centroid", "leftsemi")
        .select(
            "centroid",
            F.col("vec_id").alias("neighbor_id"),
            _as_double(F.col("embedding")).alias("__cvec"),
        )
        .withColumn("__cn", l2_norm(F.col("__cvec")))
    )
    scored = (
        probes.join(vectors, "centroid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", _pair_cos_hoisted())
        .select("query_id", "neighbor_id", "cosine_sim")
    )
    return topk_per_group(
        scored,
        ["query_id"],
        [F.desc("cosine_sim"), F.col("neighbor_id")],
        k,
        rn_col="rank",
    )


def embedding_cosine_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold (all pairs —
    use :func:`embedding_cosine_dup_pairs_blocked` to bound candidates at
    scale). With ``dim`` known, norms are precomputed per side (once per
    ROW) and the per-PAIR dot runs the single-traversal HOF form
    (:func:`_dot_hof_sql`) — bitwise-identical to the unrolled chain,
    ~2x faster in the interpreted join-condition tier."""
    a = ensure_min_parallelism(
        df.select(F.col(id_col).alias("i"), _as_double(F.col(vec_col)).alias("__va"))
    )
    b = df.select(F.col(id_col).alias("j"), _as_double(F.col(vec_col)).alias("__vb"))
    if dim is not None:
        a = a.withColumn("__na", F.expr(_l2_fixed_sql("__va", dim)))
        b = b.withColumn("__nb", F.expr(_l2_fixed_sql("__vb", dim)))
        sim = F.expr(
            f"CAST({_dot_hof_sql('__va', '__vb')}"
            f" / (__na * __nb) AS DOUBLE)"
        )
    else:
        sim = cosine(F.col("__va"), F.col("__vb"))
    # the threshold goes INTO the join condition, AFTER i<j: And
    # short-circuits left-to-right, so the 64-term dot never evaluates for
    # the i>=j half of the cross product (a pushed-down Filter would land
    # ahead of i<j and double the work)
    return (
        a.join(b, (F.col("i") < F.col("j")) & (sim >= threshold))
        .withColumn("cosine_sim", sim)
        .select("i", "j", "cosine_sim")
    )


def embedding_cosine_dup_pairs_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-dup pairs at scale: RP-LSH bucket blocking, then
    exact cosine verification inside each bucket — the scale path for
    ``embedding_cosine_dup_pairs`` (which is all-pairs / O(n^2)).

    Each of ``n_tables`` hash tables assigns every vector a bucket from
    ``n_planes`` signed random projections (the LCG hyperplanes of
    ``rp_lsh_topk`` — engine-reproducible, no RNG state). All tables
    hash in ONE corpus scan (``posexplode`` of the per-table bucket
    array). Candidate pairs are generated by a **bucket equi-join over
    (id, bucket) rows only** — the payload vectors never enter the join,
    so a hot bucket (clustered corpora collide heavily on sign-bit
    buckets) explodes 16-byte id pairs, not kilobyte embeddings; the
    vectors are re-fetched by id AFTER the cross-table distinct collapses
    the candidate set. Never ``collect_list`` either — a hot bucket
    degrades into a bigger join partition, not executor memory. Recall at
    cosine >= t is ``1 - (1 - (1 - acos(t)/pi)^n_planes)^n_tables``;
    verification recomputes exact cosine, so precision is always 1.0.
    """
    base = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    bucket_udf = _np_bucket_udf(n_tables, n_planes, dim)
    hashed = base.select(
        "__id",
        F.posexplode(bucket_udf(_as_double(F.col("__v")))).alias(
            "__table", "__bucket"
        ),
    )
    a = hashed.select("__table", "__bucket", F.col("__id").alias("i"))
    b = hashed.select("__table", "__bucket", F.col("__id").alias("j"))
    cand = (
        a.join(b, ["__table", "__bucket"])
        .filter(F.col("i") < F.col("j"))
        .select("i", "j")
        .dropDuplicates(["i", "j"])
    )
    # vectors re-enter with their norm precomputed ONCE per vector (not
    # per candidate pair); the pair-level dot is the unrolled codegen
    # form — bitwise identical to the sequential fold, ~5-10x faster
    withnorm = base.select(
        "__id",
        _as_double(F.col("__v")).alias("__vd"),
    ).select("__id", "__vd", F.expr(_l2_fixed_sql("__vd", dim)).alias("__n"))
    pairs = cand.join(
        withnorm.select(F.col("__id").alias("i"), F.col("__vd").alias("__va"),
                        F.col("__n").alias("__na")), "i"
    ).join(
        withnorm.select(F.col("__id").alias("j"), F.col("__vd").alias("__vb"),
                        F.col("__n").alias("__nb")), "j"
    )
    sim = F.expr(
        f"CAST({_dot_hof_sql('__va', '__vb')}"
        f" / (__na * __nb) AS DOUBLE)"
    )
    return (
        pairs.withColumn("cosine_sim", sim)
        .filter(F.col("cosine_sim") >= threshold)
        .select("i", "j", "cosine_sim")
    )


def _seq_dot_block(Vi: np.ndarray, Vj: np.ndarray) -> np.ndarray:
    """Pairwise dot products of two row-blocks with the JVM fold's EXACT
    accumulation: for every pair the sum is ``((0.0 + t1) + t2) + ...``
    in element order — one rounded IEEE multiply and one rounded IEEE
    add per term, which is precisely what ``aggregate(zip_with(a, b,
    (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)`` computes. NumPy
    evaluates ``acc += col_i * col_j`` as separate vectorized multiply
    and add instructions (no FMA fusion for distinct ufunc calls), so
    every element of the result is bitwise-equal to the sequential fold
    — the property that lets the Arrow pair-scan kernels replace the
    interpreted HOF without moving a single oracle hash. A BLAS matmul
    would NOT qualify: its blocked/pairwise accumulation order differs."""
    out = np.zeros((Vi.shape[0], Vj.shape[0]))
    for d in range(Vi.shape[1]):
        out += Vi[:, d, None] * Vj[None, :, d]
    return out


def _seq_norms(V: np.ndarray) -> np.ndarray:
    """Row L2 norms with the fold's accumulation order (acc starts at
    ``x1*x1``; adding the fold's 0.0 seed to the first square is exact),
    bitwise-equal to :func:`l2_norm` / ``_l2_fixed_sql``."""
    acc = V[:, 0] * V[:, 0]
    for d in range(1, V.shape[1]):
        acc = acc + V[:, d] * V[:, d]
    return np.sqrt(acc)


def semantic_dedup_deterministic(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 16,
    max_cluster: int = 100_000,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): cluster embeddings with
    a coarse quantizer, then inside each cluster drop every vector that
    has a smaller-id cluster-mate within ``threshold`` cosine — semantic
    near-duplicate pruning, the 6th member of the dedup family (exact /
    Jaccard / MinHash / SimHash / embedding-pairs / semantic). Returns one
    row per corpus vector: ``(id_col, centroid, kept)``.

    The quantizer is the deterministic sampled one (the ``n_centroids``
    smallest-id vectors, :func:`_centroid_frame`), so a second engine
    re-derives identical clusters and drop decisions; the KMeans variant
    would be engine-internal and only rows-checkable. The keep rule is
    "survivor = no smaller-id near-dup in my cluster" — deterministic and
    order-free (NOT the greedy sequential scan of the paper, which depends
    on visit order; on a chain a-b-c where only adjacent pairs exceed the
    threshold this drops both b and c, the conservative direction for
    training-data curation).

    Scale shape (the paper's own rationale — clustering makes the O(n^2)
    pair scan local):
    - assignment is a map-only per-row argmax over a ONE-ROW broadcast
      centroid frame — no shuffle, and plan and codegen size stay
      k-independent (production SemDeDup runs k ~ n/1000, tens of
      thousands of centroids);
    - one shuffle on the cluster key, then a per-cluster Arrow kernel
      (``applyInPandas``) computes every pairwise cosine with NumPy in
      the fold's exact accumulation order (:func:`_seq_dot_block` —
      vectorized across pairs, sequential across elements, so every
      double is bit-equal to the SQL fold the oracle replays). Each
      vector crosses the Python boundary ONCE, not once per pair;
    - per-cluster work is O(m^2) dot products with m ~ n/n_centroids,
      computed in blocks that bound kernel memory at O(block^2);
    - ``max_cluster`` is the degenerate-cluster guard (same role as the
      LSH ``max_bucket``): clusters above it skip the pair scan entirely
      and keep all members — recall loss, never a blow-up;
    - with ``dim`` the row norm feeding the assignment is one unrolled
      SQL expression (:func:`_l2_fixed_sql`) instead of a lambda fold.
    """
    from pyspark.sql import types as T

    nv = F.expr(_l2_fixed_sql("__v", dim)) if dim is not None else l2_norm(F.col("__v"))
    full = (
        corpus.select(
            F.col(id_col).alias("__id"),
            _as_double(F.col(vec_col)).alias("__v"),
        )
        .withColumn("__nv", nv)
        .join(F.broadcast(_centroid_frame(corpus, id_col, vec_col, n_centroids)))
        .withColumn("__c", _argmax_centroid("__v", "__nv"))
        .drop("__cents", "__nv")
    )
    thr = float(threshold)
    mc = int(max_cluster)
    out_schema = T.StructType(
        [
            T.StructField(id_col, corpus.schema[id_col].dataType),
            T.StructField("centroid", T.IntegerType()),
            T.StructField("kept", T.BooleanType()),
        ]
    )

    def _kern(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        cent = int(pdf["__c"].iloc[0])
        pdf = pdf.sort_values("__id", kind="mergesort")
        ids = pdf["__id"].to_numpy()
        kept = np.ones(m, dtype=bool)
        # clusters above max_cluster skip the pair scan (keep all)
        if 1 < m <= mc:
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
            )
            nrm = _seq_norms(V)
            blk = 2048  # bounds kernel memory at O(blk^2) doubles
            dropped = np.zeros(m, dtype=bool)
            with np.errstate(invalid="ignore", divide="ignore"):
                for j0 in range(1, m, blk):
                    j1 = min(j0 + blk, m)
                    jj = np.arange(j0, j1)[None, :]
                    for i0 in range(0, j1, blk):
                        i1 = min(i0 + blk, j1)
                        sim = _seq_dot_block(V[i0:i1], V[j0:j1]) / (
                            nrm[i0:i1, None] * nrm[None, j0:j1]
                        )
                        ii = np.arange(i0, i1)[:, None]
                        dropped[j0:j1] |= (
                            (sim >= thr) & (ii < jj)
                        ).any(axis=0)
            kept = ~dropped
        return pd.DataFrame(
            {
                id_col: ids,
                "centroid": np.full(m, cent, dtype=np.int32),
                "kept": kept,
            }
        )

    return full.groupBy("__c").applyInPandas(_kern, schema=out_schema)


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/transfer
    compression step of a large-scale vector pipeline (4x smaller than
    float32, 8x smaller than the double working type).

    ``scale = 127 / max(|x|)`` per vector; each element maps to
    ``round(x * scale)`` in [-127, 127] (the vector's largest-magnitude
    element lands exactly on +/-127). All arithmetic is element-order
    deterministic JVM expressions — no UDF, map-only (zero shuffles), so
    it streams through a 100 TB corpus at scan speed. A zero vector gets
    ``scale = 0`` and an all-zero code. Returns the input id plus
    ``qvec array<int>``, ``scale double`` (the DEquantization multiplier
    is ``1/scale``).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, F.abs))
    scale = F.when(max_abs == 0.0, F.lit(0.0)).otherwise(F.lit(127.0) / max_abs)
    return df.select(
        F.col(id_col),
        F.transform(v, lambda x: F.round(x * scale).cast("int")).alias("qvec"),
        scale.cast("double").alias("scale"),
    )


def pool_chunk_embeddings(
    df: DataFrame,
    group_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Chunk-to-document embedding pooling: MEAN-pool every group's chunk
    vectors elementwise (then optionally L2-normalize) — the standard
    reduction from chunk-level embeddings to one document/entity vector.

    Determinism is the design constraint: a float sum's value depends on
    accumulation ORDER, so a plain elementwise AVG would drift across
    partitionings and engines. Instead each group's vectors are collected
    SORTED by ``id_col`` and folded sequentially (``aggregate`` over
    ``zip_with`` addition) — one defined order, bit-identical everywhere,
    which is what lets the catalog value-oracle this against DuckDB's
    ``list_reduce`` replay of the same fold.

    Scale shape: one shuffle on ``group_col``; ``collect_list`` is safe
    here BECAUSE the group is a document's chunks — bounded by chunking
    policy (tens, not millions; this is the sanctioned bounded-group use,
    unlike LSH buckets which are data-dependent). Map-side combine does
    not apply to an order-sensitive fold — the cost of exactness.

    Output: ``group_col``, ``n_chunks``, ``pooled`` (array<double>).
    """
    d = _as_double(F.col(vec_col))
    grouped = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.array_sort(
            F.collect_list(F.struct(F.col(id_col).alias("__k"), d.alias("__v")))
        ).alias("__vs"),
    )
    summed = F.aggregate(
        F.expr("slice(__vs, 2, size(__vs) - 1)"),
        F.col("__vs")[0]["__v"],
        lambda acc, s: F.zip_with(acc, s["__v"], lambda a, b: a + b),
    )
    mean = F.transform(summed, lambda x: x / F.col("n_chunks"))
    if normalize:
        norm = F.sqrt(
            F.aggregate(mean, F.lit(0.0), lambda a, x: a + x * x)
        )
        pooled = F.when(norm == 0.0, mean).otherwise(
            F.transform(mean, lambda x: x / norm)
        )
    else:
        pooled = mean
    return grouped.select(group_col, "n_chunks", pooled.alias("pooled"))


def embedding_incremental_dup_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Incremental near-dup detection for embeddings: every pair between
    a NEW batch and the existing corpus (plus batch-internal pairs) at
    cosine >= threshold — NEVER corpus x corpus, which is what makes
    daily ingestion affordable: cost scales with |batch| x collisions,
    not the corpus (mirrors ``incremental_exact_dedup`` /
    ``incremental_minhash_pairs`` for the embedding family).

    Same RP-LSH blocking as :func:`embedding_cosine_dup_pairs_blocked`
    (deterministic hyperplanes, id-only candidate join, exact verify),
    but candidates come from joining BATCH bucket rows against
    (corpus + batch) bucket rows — the corpus side contributes only
    bucket collisions with the batch. Output: (batch_id, match_id,
    cosine_sim, match_side 'corpus'|'batch'); batch-internal pairs
    emit once (i < j).
    """
    bucket_udf = _np_bucket_udf(n_tables, n_planes, dim)

    def hashed(df: DataFrame, side: str) -> DataFrame:
        base = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        return base.select(
            "__id",
            F.lit(side).alias("__side"),
            F.posexplode(bucket_udf(_as_double(F.col("__v")))).alias(
                "__table", "__bucket"
            ),
        )

    hb = hashed(batch, "batch")
    hc = hashed(corpus, "corpus").unionByName(hb)
    a = hb.select("__table", "__bucket", F.col("__id").alias("i"))
    b = hc.select(
        "__table", "__bucket", F.col("__id").alias("j"), F.col("__side").alias("side")
    )
    cand = (
        a.join(b, ["__table", "__bucket"])
        .filter((F.col("side") == "corpus") | (F.col("i") < F.col("j")))
        .select("i", "j", "side")
        .dropDuplicates(["i", "j"])
    )
    withnorm_b = batch.select(
        F.col(id_col).alias("i"), _as_double(F.col(vec_col)).alias("__va")
    ).withColumn("__na", F.expr(_l2_fixed_sql("__va", dim)))

    def _corpus_side(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("j"), _as_double(F.col(vec_col)).alias("__vb")
        ).withColumn("__nb", F.expr(_l2_fixed_sql("__vb", dim)))

    allv = _corpus_side(corpus).unionByName(_corpus_side(batch))
    pairs = cand.join(withnorm_b, "i").join(allv, "j")
    sim = F.expr(
        f"CAST({_dot_hof_sql('__va', '__vb')}"
        f" / (__na * __nb) AS DOUBLE)"
    )
    return (
        pairs.withColumn("cosine_sim", sim)
        .filter(F.col("cosine_sim") >= threshold)
        .select(
            F.col("i").alias("batch_id"),
            F.col("j").alias("match_id"),
            "cosine_sim",
            F.col("side").alias("match_side"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance as a sequential left-fold — deterministic
    accumulation order (element order), identical across partitionings
    and engines; the distance PQ approximates."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _l2sq_sql(a: str, b: str) -> str:
    """The fold of :func:`l2sq` as a SQL expression string (for use inside
    ``F.expr`` lambdas where Column-level lambdas can't reach)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def l2_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k by squared L2 distance (ascending) — the baseline PQ's
    ADC scan is graded against. Same broadcast-queries shape as
    :func:`cosine_topk`; ties break by neighbor id.

    The broadcast-joined pairs are scored in a ``mapInPandas`` kernel: one
    NumPy pass per batch with the fold's exact accumulation order
    (sequential across elements, vectorized across pairs — bitwise-equal
    to :func:`l2sq`, see :func:`_seq_dot_block`) instead of an
    interpreted per-pair HOF lambda."""
    from pyspark.sql import types as T

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qvec")
    )
    c = ensure_min_parallelism(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("__cvec")
        )
    )
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    out_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[id_col].dataType),
            T.StructField("neighbor_id", corpus.schema[id_col].dataType),
            T.StructField("l2_dist", T.DoubleType()),
        ]
    )

    def _score(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            Q = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__qvec"]])
            C = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__cvec"]])
            acc = np.zeros(len(pdf))
            for d in range(Q.shape[1]):
                t = Q[:, d] - C[:, d]
                acc += t * t
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    "l2_dist": acc,
                }
            )

    scored = pairs.select(
        "query_id", "neighbor_id", "__qvec", "__cvec"
    ).mapInPandas(_score, schema=out_schema)
    return topk_per_group(
        scored, ["query_id"], [F.col("l2_dist"), F.col("neighbor_id")], k, rn_col="rank"
    )


def pq_codebooks_deterministic(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
) -> list[list[list[float]]]:
    """Deterministic, engine-reproducible PQ codebooks: subspace ``j``'s
    ``ksub`` codewords are the ``j``-th subvectors of the ``ksub``
    smallest-id corpus vectors — the same sampled-quantizer licence
    :func:`ivf_topk_deterministic` uses (PQ does not require k-means; any
    fixed codebook defines a valid quantizer), so a second engine can
    re-derive the identical codebooks, codes, and ADC ranking. Returns
    ``codebooks[j][code] = list[dsub floats]``. Driver-side cost: one
    ``limit(ksub)`` collect — m * ksub * dsub doubles, kilobytes."""
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    dsub = dim // m
    rows = (
        corpus.select(_as_double(F.col(vec_col)).alias("v"), F.col(id_col))
        .orderBy(id_col)
        .limit(ksub)
        .collect()
    )
    if len(rows) < ksub:
        raise ValueError(f"corpus has {len(rows)} rows; need >= ksub={ksub}")
    return [
        [[float(x) for x in r["v"][j * dsub : (j + 1) * dsub]] for r in rows]
        for j in range(m)
    ]


def _pq_cb_sql(codebooks: list[list[list[float]]], j: int) -> str:
    """Subspace ``j``'s codebook as ONE literal SQL array of
    ``named_struct('code', i, 'cv', array(...))`` in code order — parsed
    once per plan (the py4j-storm avoidance of ``ivf_topk_deterministic``)."""
    entries = ", ".join(
        f"named_struct('code', {code}, 'cv', "
        f"array({', '.join(_f64_lit(x) for x in cv)}))"
        for code, cv in enumerate(codebooks[j])
    )
    return f"array({entries})"


def pq_encode_deterministic(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every corpus vector to ``m`` one-byte codes: per subspace,
    the argmin-squared-L2 codeword (ties -> smallest code). Map-only —
    zero shuffles: encoding streams a 100 TB corpus at scan speed and the
    stored index is |corpus| x (id + m bytes) — with m=8 over dim=64
    doubles that is a 64x payload compression before any search work
    happens. Returns (neighbor_id, __codes array<int>).

    Codes are assigned in a vectorized pandas-UDF kernel: per (subspace,
    codeword) the distances accumulate sequentially across elements (one
    rounded subtract / multiply / add per term — bitwise the
    ``_l2sq_sql`` fold the DuckDB oracle replays, see
    :func:`_seq_dot_block`), and ``np.argmin``'s first minimum is the
    smallest-code tie rule. An interpreted HOF fold would pay
    ~m x ksub x dsub lambda steps PER ROW, the dominant cost of the PQ
    index build."""
    from pyspark.sql.types import ArrayType, IntegerType

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("__cvec")
    )
    cb = [[list(map(float, cw)) for cw in book] for book in codebooks]

    @F.pandas_udf(ArrayType(IntegerType()))
    def _codes(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        out = np.empty((len(V), m), dtype=np.int32)
        for j in range(m):
            base = j * dsub
            dists = np.empty((len(V), len(cb[j])))
            for code, cw in enumerate(cb[j]):
                acc = np.zeros(len(V))
                for d in range(dsub):
                    t = V[:, base + d] - cw[d]
                    acc += t * t
                dists[:, code] = acc
            out[:, j] = np.argmin(dists, axis=1)
        return pd.Series([row.tolist() for row in out])

    return c.select("neighbor_id", _codes(F.col("__cvec")).alias("__codes"))


def pq_topk_deterministic(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    rerank: int | None = None,
) -> DataFrame:
    """PQ-ADC top-k: asymmetric distance computation over the compressed
    corpus — the third ANN family next to IVF (partition pruning) and
    RP-LSH (bucket blocking), attacking the PER-PAIR cost instead of the
    candidate count.

    Scale shape:
    - codebooks: driver-side kilobytes (deterministic sampled quantizer,
      :func:`pq_codebooks_deterministic`), embedded as literal arrays;
    - corpus encoding: map-only (:func:`pq_encode_deterministic`) — at
      100 TB the encoded index is what you persist; the raw vectors
      never travel again;
    - each query precomputes its m x ksub ADC table ONCE (map-side fold
      against the literal codebooks), then every (query, corpus-row)
      distance is just m array lookups + adds on the broadcast-joined
      encoded rows — versus dim multiplies for brute force: the classic
      ADC trade (8 adds vs 64 mults here), on 1/64th the scanned bytes;
    - final per-query top-k is the only exchange.

    ``rerank=C`` adds the standard two-stage pipeline: ADC shortlists C
    candidates per query, then ONLY those C rows re-fetch their exact
    vectors for a true squared-L2 re-rank — the refine step every
    production PQ deployment runs, because a sampled/compressed quantizer
    alone plateaus (measured here: raw ADC recall@5 ~0.2-0.4; with
    C=128 over this corpus ~0.99). Exact distances touch |Q| x C rows
    instead of |Q| x |corpus| — the corpus-sized scan stays in the
    compressed domain. Output is then (query_id, neighbor_id, l2_dist,
    rank); without rerank, (query_id, neighbor_id, adc_dist, rank).

    Compose with IVF for candidate pruning (IVFPQ) when even the
    compressed scan is too much: assign + probe exactly as
    :func:`ivf_topk_deterministic`, score probed candidates with the ADC
    expression here. Every step is sequential-fold arithmetic over
    engine-reproducible codebooks, so the full output — codes, ADC
    distances, ranking — value-oracles bitwise (catalog
    ``embedding_pq_topk``). Ties: (adc_dist asc, neighbor_id)."""
    codebooks = pq_codebooks_deterministic(corpus, id_col, vec_col, m, ksub, dim)
    dsub = dim // m
    enc = pq_encode_deterministic(corpus, codebooks, id_col, vec_col)

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qvec")
    )
    tbl_exprs = []
    for j in range(m):
        sub = f"slice(__qvec, {j * dsub + 1}, {dsub})"
        tbl_exprs.append(
            f"transform({_pq_cb_sql(codebooks, j)}, e -> {_l2sq_sql(sub, 'e.cv')})"
        )
    qtbl = q.select(
        "query_id", F.array(*[F.expr(e) for e in tbl_exprs]).alias("__tbl")
    )

    scored = (
        enc.join(F.broadcast(qtbl), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "adc_dist",
            F.expr(
                "aggregate(zip_with(__tbl, __codes, (t, c) -> t[c]), "
                "0.0D, (acc, x) -> acc + x)"
            ).cast("double"),
        )
        .select("query_id", "neighbor_id", "adc_dist")
    )
    if rerank is None:
        return topk_per_group(
            scored,
            ["query_id"],
            [F.col("adc_dist"), F.col("neighbor_id")],
            k,
            rn_col="rank",
        )
    shortlist = topk_per_group(
        scored,
        ["query_id"],
        [F.col("adc_dist"), F.col("neighbor_id")],
        rerank,
        rn_col="__srn",
    ).select("query_id", "neighbor_id")
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("__cvec")
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qvec")
    )
    refined = (
        shortlist.join(cvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .withColumn("l2_dist", l2sq(F.col("__qvec"), F.col("__cvec")).cast("double"))
        .select("query_id", "neighbor_id", "l2_dist")
    )
    return topk_per_group(
        refined,
        ["query_id"],
        [F.col("l2_dist"), F.col("neighbor_id")],
        k,
        rn_col="rank",
    )


def kmeans_lloyd_deterministic(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iterations: int = 2,
) -> DataFrame:
    """Lloyd's k-means as pure DataFrame ops with EVERY number
    engine-reproducible — the iterative-ML counterpart of the
    CTE-replayable PageRank: a second engine can re-derive the exact
    assignments, the exact updated centroids, and the exact final
    distances, so the whole clustering is VALUE-oracled (MLlib's KMeans
    is rows-only checkable; this twin trades its sampling-based init
    for the deterministic smallest-id init, as the sampled quantizer
    family already does).

    Determinism contract, step by step:
    - init: the ``k`` smallest-id vectors, cluster ids 0..k-1 in id
      order (one tiny collect, the literal-quantizer pattern);
    - assignment: per-row argmin squared-L2 over a one-row broadcast
      centroid frame (k-independent plan, single-parse fold; ties ->
      smallest cluster id) — map-only;
    - update: per-(cluster, dim) sums of NANO-QUANTIZED elements
      (``floor(x * 1e9)`` as BIGINT — exact, associative, and identical
      in every engine; a DECIMAL(38,18) cast is NOT portable, the two
      engines round the 18th digit differently, measured 1-ulp drift).
      The mean is ``qsum / 1e9 / n`` — two exact-input double
      divisions; quantization error is 1e-9 per element, far inside
      Lloyd's own convergence tolerance (the same trick as pagerank's
      contributions and CUSUM's deviations). k x dim rows collect per
      iteration — driver traffic O(k*dim), like BPE's per-round argmax;
    - empty clusters keep their previous centroid (replayed by the
      oracle's LEFT JOIN + COALESCE);
    - output: (id, cluster, dist2) from a final assignment pass.

    Scale: each iteration is one map-only assignment + one
    (k x dim)-key aggregate over posexploded elements — shuffle rows
    are (cluster, dim) keys, payload one decimal; the corpus is
    scanned once per iteration. MLlib's KMeans remains the
    library path (``ivf_topk``); this operator is the auditable one."""
    spark = corpus.sparkSession
    base = corpus.select(
        F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
    )
    init_rows = base.orderBy("__id").limit(k).collect()
    cents = [[float(x) for x in r["__v"]] for r in init_rows]
    dim = len(cents[0])

    def _cents_row(cs: list[list[float]]) -> DataFrame:
        payload = [(i, v) for i, v in enumerate(cs)]
        return spark.createDataFrame(
            [(payload,)],
            "__cents array<struct<cid: int, cv: array<double>>>",
        )

    d2 = _l2sq_sql("__v", "c.cv")
    argmin = F.expr(
        f"array_min(transform(__cents, c -> named_struct("
        f"'d', {d2}, 'cid', c.cid))).cid"
    )

    for _ in range(iterations):
        assigned = (
            base.join(F.broadcast(_cents_row(cents)))
            .withColumn("__c", argmin)
            .drop("__cents")
        )
        sums = (
            assigned.select("__c", F.posexplode("__v").alias("__pos", "__x"))
            .groupBy("__c", "__pos")
            .agg(
                F.sum(
                    F.floor(F.col("__x") * F.lit(1e9)).cast("long")
                ).alias("__qs"),
                F.count(F.lit(1)).alias("__n"),
            )
            .collect()
        )
        new_cents = [list(c) for c in cents]  # empty clusters keep previous
        by_cluster: dict[int, list] = {}
        for r in sums:
            by_cluster.setdefault(int(r["__c"]), []).append(r)
        for cid, rows in by_cluster.items():
            vec = [0.0] * dim
            for r in rows:
                # int -> float is exact below 2^53; the two divisions
                # replay verbatim in the oracle (qs / 1e9 / n)
                vec[int(r["__pos"])] = int(r["__qs"]) / 1e9 / int(r["__n"])
            new_cents[cid] = vec
        cents = new_cents

    final = (
        base.join(F.broadcast(_cents_row(cents)))
        .withColumn("__c", argmin)
        .withColumn(
            "__d2",
            F.expr(
                f"array_min(transform(__cents, c -> named_struct("
                f"'d', {d2}, 'cid', c.cid))).d"
            ),
        )
        .drop("__cents")
    )
    return final.select(
        F.col("__id").alias(id_col),
        F.col("__c").cast("int").alias("cluster"),
        F.col("__d2").cast("double").alias("dist2"),
    )


def incremental_semantic_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 16,
    max_cluster: int = 100_000,
    dim: int | None = None,
) -> DataFrame:
    """Continuous-ingest SemDeDup: flag NEW batch vectors that are
    semantic near-duplicates of an EXISTING corpus — the incremental
    complement of :func:`semantic_dedup_deterministic`, completing the
    incremental-dedup family triple (exact / MinHash-LSH / semantic,
    dataops/dedup.py:307,334). Returns every (batch, corpus) match:
    ``(batch_id, corpus_id, centroid, cosine_sim)``.

    The quantizer derives from the CORPUS ONLY (the
    ``n_centroids``-smallest-id corpus vectors — the stable, already-
    built index): assignments of existing corpus vectors never move
    when a batch arrives, exactly like the IVF upsert contract
    (`ivf_index_upsert`). Both sides assign by the same deterministic
    argmax fold, then candidates are batch x corpus WITHIN a cluster
    only — the one-sided join shape of every incremental entry: no
    corpus x corpus rescan, no batch x batch pairs (an intra-batch pass
    is :func:`semantic_dedup_deterministic` on the batch alone).

    Scale: corpus side shuffles once on the cluster key (at production
    k ~ n/1000, clusters are ~1000 rows); the batch side is typically
    orders of magnitude smaller; ``max_cluster`` guards degenerate
    clusters on the CORPUS side (skip -> no pairs -> conservative
    keep-all, same direction as the full pass). Assignment itself is
    map-only (1-row broadcast centroid frame, k-independent plan).

    The batch x corpus scan is a per-cluster COGROUPED Arrow kernel:
    each side's vectors cross the Python boundary once and the pairwise
    cosines (including the emitted ``cosine_sim`` doubles) are computed
    in the fold's exact accumulation order (:func:`_seq_dot_block`)."""
    from pyspark.sql import types as T

    def _assigned(df: DataFrame) -> DataFrame:
        nv = (
            F.expr(_l2_fixed_sql("__v", dim))
            if dim is not None
            else l2_norm(F.col("__v"))
        )
        # a fresh centroid frame per side: both sides carry the argmax's
        # lambda variables, and Catalyst's DeduplicateRelations re-alias
        # of one shared subtree under them hits a Spark 4.1 bug
        # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND); a distinct, job-free
        # LocalRelation per side sidesteps the rewrite
        return (
            df.select(
                F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
            )
            .withColumn("__nv", nv)
            .join(F.broadcast(_centroid_frame(corpus, id_col, vec_col, n_centroids)))
            .withColumn("__c", _argmax_centroid("__v", "__nv"))
            .select("__id", "__v", "__c")
        )

    thr = float(threshold)
    mc = int(max_cluster)
    out_schema = T.StructType(
        [
            T.StructField("batch_id", batch.schema[id_col].dataType),
            T.StructField("corpus_id", corpus.schema[id_col].dataType),
            T.StructField("centroid", T.IntegerType()),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )

    def _kern(bp: pd.DataFrame, cp: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"batch_id": [], "corpus_id": [], "centroid": [], "cosine_sim": []}
        )
        # corpus-side degenerate-cluster guard
        if len(bp) == 0 or len(cp) == 0 or len(cp) > mc:
            return empty
        cent = int(bp["__c"].iloc[0])
        Vb = np.stack([np.asarray(v, dtype=np.float64) for v in bp["__v"]])
        Vc = np.stack([np.asarray(v, dtype=np.float64) for v in cp["__v"]])
        nb, nc = _seq_norms(Vb), _seq_norms(Vc)
        bids = bp["__id"].to_numpy()
        cids = cp["__id"].to_numpy()
        outs = []
        blk = 2048
        with np.errstate(invalid="ignore", divide="ignore"):
            for i0 in range(0, len(Vb), blk):
                i1 = min(i0 + blk, len(Vb))
                for j0 in range(0, len(Vc), blk):
                    j1 = min(j0 + blk, len(Vc))
                    sim = _seq_dot_block(Vb[i0:i1], Vc[j0:j1]) / (
                        nb[i0:i1, None] * nc[None, j0:j1]
                    )
                    hit = sim >= thr
                    if hit.any():
                        ii, jj = np.nonzero(hit)
                        outs.append(
                            pd.DataFrame(
                                {
                                    "batch_id": bids[i0 + ii],
                                    "corpus_id": cids[j0 + jj],
                                    "centroid": np.full(
                                        len(ii), cent, dtype=np.int32
                                    ),
                                    "cosine_sim": sim[ii, jj],
                                }
                            )
                        )
        return pd.concat(outs) if outs else empty

    return (
        _assigned(batch)
        .groupBy("__c")
        .cogroup(_assigned(corpus).groupBy("__c"))
        .applyInPandas(_kern, schema=out_schema)
    )
