"""Reproducible sampling for training-data pipelines.

Sampling at 100 TB must be DETERMINISTIC and RESUMABLE: a re-run (or a
late-arriving partition) must make the same keep/drop decision per row.
Spark's ``df.sample`` is seeded per-partition — repartitioning changes the
sample. The operators here decide from row CONTENT, not partition layout:

- ``hash_sample``   : keep rows where ``xxhash64(key) mod N < k`` — exact
  fraction k/N in expectation, same rows on any cluster shape, and the
  decision is recomputable for audit.
- ``mod_sample``    : ``key mod N == r`` for integer keys — the simplest
  reproducible slice (used for data splits that external systems must be
  able to reproduce without xxhash).
- ``stratified_sample`` : per-class fractions via content hashing — e.g.
  downsample the dominant language while keeping rare classes whole.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket(key: Column | str, n: int, salt: str) -> Column:
    c = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.xxhash64(c, F.lit(salt)), F.lit(n))


def hash_sample(
    df: DataFrame,
    key: Column | str,
    fraction: float,
    salt: str = "sample",
    resolution: int = 10_000,
) -> DataFrame:
    """Content-hash sampling: keeps ~fraction of rows, decision stable per
    key across runs/partitionings. ``salt`` decorrelates independent
    samples over the same keys."""
    keep_below = int(round(fraction * resolution))
    return df.filter(_bucket(key, resolution, salt) < keep_below)


def mod_sample(df: DataFrame, key: str, n: int, remainder: int = 0) -> DataFrame:
    """Modulo slice over an integer key — externally reproducible without
    any hash implementation (the slice contract: key % n == r)."""
    return df.filter(F.pmod(F.col(key), F.lit(n)) == remainder)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    key: Column | str,
    default_fraction: float = 1.0,
    salt: str = "strata",
    resolution: int = 10_000,
) -> DataFrame:
    """Per-stratum content-hash sampling: each class keeps its own
    fraction (unlisted classes keep ``default_fraction``). Deterministic
    twin of ``df.sampleBy`` (whose kept set depends on partition layout)."""
    frac = F.lit(default_fraction)
    for value, f in fractions.items():
        frac = F.when(F.col(strata_col) == value, F.lit(f)).otherwise(frac)
    keep_below = (frac * resolution).cast("long")
    return df.filter(_bucket(key, resolution, salt) < keep_below)


def mixture_sample(
    df: DataFrame,
    domain_col: str,
    weight: Column,
    target: Mapping[str, float],
    key: str,
    resolution: int = 100,
) -> tuple[DataFrame, dict[str, float]]:
    """Domain-mixture sampling: downsample each domain so the OUTPUT
    weight shares match ``target`` (e.g. token-share per language — the
    pre-training mixture knob). Returns (sampled rows, per-domain keep
    fractions).

    Math: with current weights W_d and targets t_d, the largest achievable
    total is ``scale = min_d(W_d / t_d)``; each domain keeps fraction
    ``t_d * scale / W_d`` (<= 1 — sampling only removes; upweighting is a
    repeat-factor concern, not a filter). Domains absent from ``target``
    are dropped.

    The per-domain totals are one tiny aggregate collected to the driver
    (rows = |domains|); the keep decision is ``key % resolution <
    floor(frac * resolution)`` — pure integer/IEEE arithmetic any engine
    reproduces (unlike seeded RNG or engine-specific hashes), which is
    what makes the sample auditable and value-oracle-checkable. Use a
    hash-distributed integer key; resolution bounds the fraction
    granularity."""
    totals = {
        r[0]: float(r[1])
        for r in df.groupBy(domain_col).agg(F.sum(weight)).collect()
        if r[0] in target and r[1]
    }
    missing = set(target) - set(totals)
    if missing:
        raise ValueError(f"target domains absent from data: {sorted(missing)}")
    scale = min(totals[d] / target[d] for d in totals)
    fractions = {d: min(1.0, target[d] * scale / totals[d]) for d in totals}
    thresh = F.lit(None)
    expr = None
    for d, frac in fractions.items():
        cond = F.col(domain_col) == d
        t = F.lit(int(frac * resolution))
        expr = F.when(cond, t) if expr is None else expr.when(cond, t)
    thresh = expr.otherwise(F.lit(0))
    out = df.filter(F.pmod(F.col(key), F.lit(resolution)) < thresh)
    return out, fractions


def mixture_sample_lazy(
    df: DataFrame,
    domain_col: str,
    weight: Column,
    key: str,
    target: Mapping[str, float] | None = None,
    alpha: float | None = None,
    resolution: int = 100,
) -> DataFrame:
    """Fully LAZY domain-mixture sampling — the same math as
    :func:`mixture_sample` (and for ``alpha`` set, as
    :func:`temperature_targets` feeding it), but the per-domain totals,
    scale, and keep thresholds all live INSIDE the plan: a tiny
    domain-count aggregate broadcast-joined back under the corpus scan.
    Construction runs zero Spark jobs (the eager
    variants collected a |domains|-row frame at DataFrame-construction
    time), and the whole mixture stays one lazy plan a scheduler can
    re-optimize end-to-end.

    Exactly one of ``target`` (explicit weight map) or ``alpha``
    (temperature targets ``t_d = W_d ** alpha``; only 0.5 is supported —
    ``sqrt`` is correctly rounded in every engine, libm ``pow`` is not)
    must be given. Arithmetic parity with the eager path is exact: one
    IEEE op per step (min of exact ratios, ``least(1.0, t*scale/W)``,
    floor to an integer threshold), so results are bitwise identical
    (equivalence-tested) and the same SQL oracle replays both.

    Semantic difference, documented: the eager path RAISES when a target
    domain is absent from the data; this lazy path cannot raise at
    construction — absent target domains simply contribute no rows and
    do not constrain the scale (the inner join drops them), matching the
    oracle CTE's ``tot JOIN tgt`` shape."""
    if (target is None) == (alpha is None):
        raise ValueError("give exactly one of target= or alpha=")
    if alpha is not None and alpha != 0.5:
        raise ValueError("alpha=0.5 is the only engine-portable temperature")
    spark = df.sparkSession
    tot = df.groupBy(F.col(domain_col).alias("__dom")).agg(
        F.sum(weight).cast("double").alias("__W")
    )
    if target is not None:
        tgt = spark.createDataFrame(
            [(d, float(w)) for d, w in target.items()], "__dom string, __t double"
        )
        tot = tot.join(F.broadcast(tgt), "__dom").filter(F.col("__W") > 0)
    else:
        tot = tot.filter(F.col("__W") > 0).withColumn("__t", F.sqrt(F.col("__W")))
    scale = tot.agg(F.min(F.col("__W") / F.col("__t")).alias("__scale"))
    thresholds = (
        tot.join(F.broadcast(scale))
        .select(
            "__dom",
            F.floor(
                F.least(F.lit(1.0), F.col("__t") * F.col("__scale") / F.col("__W"))
                * resolution
            )
            .cast("long")
            .alias("__thresh"),
        )
    )
    return (
        df.join(
            F.broadcast(thresholds), F.col(domain_col) == F.col("__dom")
        )
        .filter(F.pmod(F.col(key), F.lit(resolution)) < F.col("__thresh"))
        .drop("__dom", "__thresh")
    )


def temperature_targets(
    totals: Mapping[str, float], alpha: float = 0.5
) -> dict[str, float]:
    """Temperature-sampling mixture targets: ``t_d = W_d ** alpha``.

    The standard multilingual/pre-training rebalancing knob (alpha=1
    keeps natural proportions, alpha->0 approaches uniform): raising the
    per-domain mass to ``alpha`` flattens the distribution, so
    low-resource domains keep a larger share of the mix. The targets are
    deliberately UNNORMALIZED — ``mixture_sample`` fractions are
    invariant to a common scaling of the targets, and skipping the
    normalizing sum keeps every number on the path a single IEEE
    operation per domain (no accumulation-order dependence), which is
    what lets a SQL oracle replay the whole mixture bit-for-bit.
    ``alpha=0.5`` routes through ``math.sqrt`` (correctly rounded and
    identical in every engine, unlike the libm ``pow`` family).
    """
    import math

    if alpha == 0.5:
        return {d: math.sqrt(float(w)) for d, w in totals.items()}
    return {d: float(w) ** alpha for d, w in totals.items()}


def weighted_sample(
    df: DataFrame,
    key: str,
    weight: Column | str,
    k: int,
    by: list[str] | None = None,
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): each row gets a reproducible pseudo-uniform
    ``u in (0,1)`` from a Knuth multiplicative hash of its integer key
    (pure 64-bit arithmetic — portable across engines, unlike xxhash), and
    the k rows with the largest ``u^(1/w)`` form an exact weighted sample.
    Heavier rows draw keys closer to 1 — inclusion probability
    proportional to weight, yet every decision is recomputable from row
    content alone (cluster-shape independent, audit-friendly).

    One pass, no global sort: per-stratum top-k via window (or
    TakeOrderedAndProject when ``by`` is empty) — at 100 TB the partial
    top-k folds map-side, shuffling only candidates. Zero-or-negative
    weights are excluded (their sample key is undefined)."""
    w = F.col(weight) if isinstance(weight, str) else weight
    hkey = (
        (F.col(key) % F.lit(4294967296)) * F.lit(2654435761) + F.lit(97531)
    ) % F.lit(4294967296)
    # (h + 0.5) / 2^32: strictly inside (0,1) so log/pow never hit 0 or 1
    u = (hkey.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    skey = F.pow(u, F.lit(1.0) / w.cast("double"))
    scored = df.filter(w > 0).withColumn("__skey", skey.cast("double"))
    order = [F.desc("__skey"), F.col(key)]
    if by:
        from pyspark.sql import Window

        win = Window.partitionBy(*by).orderBy(*order)
        return (
            scored.withColumn("__rn", F.row_number().over(win))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )
    # global sample: orderBy+limit plans as TakeOrderedAndProject — each
    # task keeps its local top-k and only k-row heads reach the driver
    # stage; a Window.partitionBy(lit(1)) here would instead sort ALL
    # rows into one task (single-partition global window, the exact
    # shape the plan audit bans on data-scaled frames)
    return scored.orderBy(*order).limit(k)


def upsample_with_repeats(
    df: DataFrame,
    domain_col: str,
    epochs: Mapping[str, float],
    key: str,
    resolution: int = 100,
) -> DataFrame:
    """Deterministic fractional upsampling: domain ``d`` rows appear
    ``floor(e_d)`` or ``ceil(e_d)`` times so multiplicity averages
    ``e_d`` — the repeat-factor half of mixture control (downsampling is
    ``mixture_sample``; epochs > 1 express "train 2.5 epochs of the
    high-quality domain"). The extra repeat goes to rows with
    ``key % resolution < floor(frac(e_d) * resolution)`` — the same
    content-keyed integer rule as the samplers, so the choice of which
    rows repeat is partition-invariant, resumable, and engine-replayable.
    Output adds ``repeat_idx`` (1..n, BIGINT) so downstream shuffles/
    dedup see distinct rows. Domains absent from ``epochs`` keep one
    copy; ``e_d < 1`` probabilistically DROPS rows (0 or 1 copies) —
    mixture_sample with exact shares is usually the better tool there.

    Scale: map-side only (one ``explode(sequence(...))``, no shuffle,
    no driver state); the blow-up factor is exactly ``e_d``, declared
    up front.
    """
    base_expr = None
    thresh_expr = None
    for d, e in epochs.items():
        if e < 0:
            raise ValueError(f"epochs must be >= 0, got {d}={e}")
        base, frac = int(e), e - int(e)
        t = int(frac * resolution)
        cond = F.col(domain_col) == d
        base_expr = (
            F.when(cond, base) if base_expr is None else base_expr.when(cond, base)
        )
        thresh_expr = (
            F.when(cond, t) if thresh_expr is None else thresh_expr.when(cond, t)
        )
    base_expr = base_expr.otherwise(F.lit(1)) if base_expr is not None else F.lit(1)
    thresh_expr = thresh_expr.otherwise(F.lit(0)) if thresh_expr is not None else F.lit(0)
    n = base_expr + (
        F.pmod(F.col(key), F.lit(resolution)) < thresh_expr
    ).cast("int")
    return (
        df.withColumn("__n", n)
        .filter(F.col("__n") >= 1)
        .withColumn(
            "repeat_idx",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("__n").cast("long"))),
        )
        .drop("__n")
    )


def split_by_content_hash(
    df: DataFrame,
    key: Column | str,
    splits: Mapping[str, float],
    hex_chars: int = 4,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment from CONTENT — the split a
    row lands in depends only on its key bytes, never on partitioning,
    cluster shape, or engine: the assignment hashes with MD5 (every
    engine and language has an identical implementation, unlike
    xxhash64) and buckets on the first ``hex_chars`` hex digits
    lexicographically. Any system — Spark, DuckDB, a Python one-liner —
    reproduces the exact same membership, which is the property an
    eval-contamination audit needs from a split.

    Fractions are realized as integer cutoffs over ``16**hex_chars``
    buckets (the achieved fraction is exact to 1/65536 at the default) —
    document the cutoffs, not the nominal fractions, when exactness
    matters. Map-only: no shuffle, streams at scan speed.
    """
    n_buckets = 16 ** hex_chars
    names = list(splits)
    fracs = [splits[n] for n in names]
    if any(f < 0 for f in fracs) or abs(sum(fracs) - 1.0) > 1e-9:
        raise ValueError("split fractions must be non-negative and sum to 1")
    cuts, acc = [], 0.0
    for f in fracs[:-1]:
        acc += f
        cuts.append(format(int(acc * n_buckets), f"0{hex_chars}x"))
    c = F.col(key) if isinstance(key, str) else key
    prefix = F.substring(F.md5(c.cast("string").cast("binary")), 1, hex_chars)
    expr = F.lit(names[-1])
    for name, cut in zip(reversed(names[:-1]), reversed(cuts)):
        expr = F.when(prefix < F.lit(cut), F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def bottomk_sample(
    df: DataFrame, key: Column | str, k: int, salt: str = ""
) -> DataFrame:
    """Deterministic fixed-size uniform sample — the k rows whose
    ``md5(salt || key)`` is smallest (KMV / bottom-k sketch): the
    streaming-era replacement for reservoir sampling. Three properties
    reservoir sampling lacks:

    - DETERMINISTIC: membership depends only on key bytes (same MD5
      portability contract as :func:`split_by_content_hash`) — any
      engine reproduces the exact sample, so it is value-oracle-able
      and audit-stable across reruns/partitionings.
    - MERGEABLE: ``bottomk(A ∪ B) == bottomk(bottomk(A) ∪ bottomk(B))``
      — slices/micro-batches maintain the sample with k rows of state
      (``streaming/jobs.py::sample_ingest_stream``), no history rescan,
      where a reservoir's merge is not well-defined without row counts
      and randomness coordination.
    - UNIFORM over distinct keys: md5 is uniform on its input, so the
      k smallest hashes are a uniform without-replacement sample of the
      distinct keys.

    The determinism/bitwise contract holds for UNIQUE keys (an id).
    Duplicate keys hash identically, so when the k-th smallest hash is
    shared by more rows than the remaining budget the ``limit`` cuts
    within that tie arbitrarily — membership at the boundary becomes
    partition/engine-dependent. Sample by doc_id, not by a repeated
    value; if only a non-unique key is available, dropDuplicates on it
    first and accept one representative row per key.

    NULL keys are excluded (their hash is NULL, and engines disagree on
    NULL sort position — sample by a non-null key). ``salt``
    decorrelates independent samples over the same keys. Plan:
    TakeOrderedAndProject — per-partition top-k then a k-row driver
    merge; no global sort, no full shuffle, scan-speed at any volume.
    """
    c = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(F.lit(salt), c.cast("string")).cast("binary"))
    return (
        df.filter(c.isNotNull())
        .withColumn("__h", h)
        .orderBy("__h")
        .limit(k)
        .drop("__h")
    )


def grouped_bottomk_sample(
    df: DataFrame,
    key: Column | str,
    k: int,
    group_cols: list[str],
    salt: str = "",
) -> DataFrame:
    """Per-GROUP deterministic bottom-k sample: one k-row uniform sample
    per group (per language / source / day — the stratified eval-set
    shape) in a single pass, via row_number over md5(salt || key) within
    each group (reuses ``operators/windows.py::topk_per_group``; Spark 4
    plans WindowGroupLimit, pushing the k-filter map-side so only ~k
    rows per group per partition reach the exchange). Same determinism +
    mergeability contract as :func:`bottomk_sample`, per group; the
    sample key should be unique per row (an id) — duplicate keys hash
    identically and make boundary picks engine-dependent. For the
    few-groups / giant-group regime use ``topk_per_group_salted`` with
    the same hash as sort key."""
    from f1_data_engineering_machine_learning_spark.operators.windows import (
        topk_per_group,
    )

    c = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(F.lit(salt), c.cast("string")).cast("binary"))
    return (
        topk_per_group(
            df.filter(c.isNotNull()).withColumn("__h", h),
            group_cols,
            [F.col("__h")],
            k,
            rn_col="__rn",
        )
        .drop("__h", "__rn")
    )


def bottomk_distinct_estimate(
    df: DataFrame, key: Column | str, k: int, salt: str = ""
) -> DataFrame:
    """KMV distinct-count estimator read off the bottom-k sample: with
    h_(k) = the k-th smallest hash mapped to (0, 1], distinct-count ≈
    (k - 1) / h_(k) — the classic k-minimum-values sketch (Bar-Yossef et
    al.), here on the first 13 md5 hex chars (52 bits — exact in a
    double; mapped via (v + 1) / 2^52 so an all-zero prefix cannot
    divide by zero). ONE row ``(n_seen, estimate)``; when fewer than k
    distinct keys exist the count is exact (= n_seen). Mergeable the
    same way the sample is — estimate off the maintained store at any
    time. Expected relative error ~ 1/sqrt(k-2)."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(F.lit(salt), c.cast("string")).cast("binary"))
    ranked = (
        df.select(h.alias("__h"))
        .filter(F.col("__h").isNotNull())
        .distinct()
        .orderBy("__h")
        .limit(k)
        .select(
            "__h",
            (
                (F.conv(F.substring("__h", 1, 13), 16, 10).cast("double") + F.lit(1.0))
                / F.lit(float(16**13))
            ).alias("__u"),
        )
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_seen"),
        F.when(
            F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double")
        )
        .otherwise((F.lit(float(k - 1))) / F.max("__u"))
        .alias("estimate"),
    )


def grouped_bottomk_distinct_estimate(
    df: DataFrame,
    key: Column | str,
    k: int,
    group_cols: list[str],
    salt: str = "",
) -> DataFrame:
    """Per-GROUP KMV distinct-count estimates — the keyed twin of
    :func:`bottomk_distinct_estimate`, completing the keyed summary
    family (keyed CMS / keyed histogram / keyed sample): one
    ``(group_cols..., n_seen, estimate)`` row per group, estimate =
    (k-1)/h_(k) off the k smallest distinct ``md5(salt || key)`` hashes
    WITHIN the group, exact (= n_seen) below k distinct. Same
    (0, 1] hash mapping and determinism contract as the unkeyed form —
    engine-replayable bit-for-bit.

    Plan: distinct on (group, hash) then a per-group window top-k
    (``topk_per_group`` — Spark 4 plans WindowGroupLimit, k-filtering
    map-side), so cost is one shuffle on the group keys and state is
    groups x k; no global sort at any group count. The per-group
    distinct-count shape (docs per language, users per day) at 100 TB
    without an exact COUNT(DISTINCT) shuffle of every key."""
    from f1_data_engineering_machine_learning_spark.operators.windows import (
        topk_per_group,
    )

    c = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(F.lit(salt), c.cast("string")).cast("binary"))
    hashed = (
        df.select(*group_cols, h.alias("__h"))
        .filter(F.col("__h").isNotNull())
        .dropDuplicates([*group_cols, "__h"])
    )
    ranked = topk_per_group(
        hashed, group_cols, [F.col("__h")], k, rn_col="__rn"
    ).withColumn(
        "__u",
        (F.conv(F.substring("__h", 1, 13), 16, 10).cast("double") + F.lit(1.0))
        / F.lit(float(16**13)),
    )
    return ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_seen"),
        F.when(F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double"))
        .otherwise((F.lit(float(k - 1))) / F.max("__u"))
        .alias("estimate"),
    )


def exact_stratified_split(
    df: DataFrame,
    strata_cols: list[str],
    splits: list[tuple[str, int]],
    key: str,
    out_col: str = "split",
) -> DataFrame:
    """EXACT-count stratified train/val/test assignment: within every
    stratum, split sizes hit their quota exactly (integer parts, e.g.
    ``[("train", 8), ("val", 1), ("test", 1)]``), not just in
    expectation — the guarantee :func:`split_by_content_hash` trades
    away for map-only speed, and the one an eval set with a hard row
    budget per language/source actually needs. Rows are ordered inside
    each stratum by ``md5(key)`` (content-derived, engine-portable,
    partition-independent) with ``key`` as the total-order tiebreak, so
    membership is a pure function of the data; split *i* takes ranks in
    ``(floor(n * cum_{i-1} / total), floor(n * cum_i / total)]`` —
    integer arithmetic, identical in any engine (no float cut drift).

    Plan: one count aggregate per stratum (broadcast back) + one window
    rank PARTITIONED BY the strata — each stratum sorts in its own
    task(s), never a global single-task sort. A pathologically huge
    single stratum concentrates in one task, exactly like any
    per-stratum rank; pre-split such strata on a sub-key or use
    range_partitioned_rank per stratum."""
    names = [n for n, _ in splits]
    parts = [int(p) for _, p in splits]
    if len(names) < 2 or any(p <= 0 for p in parts):
        raise ValueError("need >= 2 splits with positive integer parts")
    total = sum(parts)
    from pyspark.sql import Window

    h = F.md5(F.col(key).cast("string").cast("binary"))
    w = Window.partitionBy(*strata_cols).orderBy(h, F.col(key))
    n = Window.partitionBy(*strata_cols)
    ranked = df.withColumn("__rk", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(n)
    )
    expr = F.lit(names[-1])
    acc = 0
    bounds = []
    for p in parts[:-1]:
        acc += p
        bounds.append(acc)
    for name, cum in zip(reversed(names[:-1]), reversed(bounds)):
        expr = F.when(
            F.col("__rk") <= F.floor(F.col("__n") * F.lit(cum) / F.lit(total)),
            F.lit(name),
        ).otherwise(expr)
    return ranked.withColumn(out_col, expr).drop("__rk", "__n")


def _portable_mix(x: Column) -> Column:
    """Engine-portable pseudo-random mix of a non-negative integer:
    ``((x % 999999937) * 2654435761 + 97531) % 2^32``. The pre-reduction
    by a prime keeps the product under 2^63 (999999936 * 2654435761 ~
    2.65e18), so the identical expression evaluates without overflow in
    any 64-bit-integer engine — the portability the samplers' oracles
    depend on (xxhash64 would be Spark-only)."""
    return ((x % F.lit(999999937)) * F.lit(2654435761) + F.lit(97531)) % F.lit(
        4294967296
    )


def contrastive_negatives(
    df: DataFrame,
    key: str,
    k: int,
    n_buckets: int = 64,
    n_probes: int = 2,
    dedup_key: str | None = None,
    anchor_col: str = "anchor_id",
    neg_col: str = "neg_id",
    rank_col: str = "neg_rank",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    every document (anchor), pick ``k`` pseudo-random "negative"
    documents from the same corpus — reproducibly, from row content
    alone, with no all-pairs join.

    The trick is hash bucketing on BOTH sides. Every document lands in
    candidate bucket ``mix(key) % n_buckets``; every anchor probes
    ``n_probes`` buckets starting at its own hash (consecutive bucket
    ids — since bucket membership is itself a hash assignment, adjacent
    buckets are as random as independent draws, and disjoint by
    construction so no candidate repeats). The equi-join
    anchors x candidates on bucket yields ~``n_probes * N / n_buckets``
    candidates per anchor; each anchor keeps the ``k`` with the smallest
    pair hash ``mix(31 * anchor + cand)`` (tie-broken by candidate id).

    Self-pairs are excluded, and when ``dedup_key`` names a column
    (e.g. a content hash), candidates sharing the anchor's value are
    excluded too — a near-duplicate of the anchor is a FALSE negative
    that poisons a contrastive batch, so the dedup signal plugs in here.

    Scale: size ``n_buckets ~ n_probes * N / c`` for a target of ``c``
    candidates per anchor — the join output is ``N * c`` rows,
    LINEAR in corpus size, and the per-anchor top-k window partitions
    by anchor (millions of small groups, no skew). Keys must be
    non-negative integers (the portable mix is sign-sensitive across
    engines)."""
    if n_probes > n_buckets:
        raise ValueError("n_probes must be <= n_buckets")
    kc = F.col(key).cast("long")
    sel = [kc.alias("__cid"), (_portable_mix(kc) % F.lit(n_buckets)).alias("__bucket")]
    if dedup_key is not None:
        sel.append(F.col(dedup_key).alias("__cdk"))
    cands = df.select(*sel)

    probe_sel = [kc.alias("__aid"), _portable_mix(kc).alias("__h")]
    if dedup_key is not None:
        probe_sel.append(F.col(dedup_key).alias("__adk"))
    probes = (
        df.select(*probe_sel)
        .select(
            "__aid",
            *(["__adk"] if dedup_key is not None else []),
            F.explode(
                F.sequence(F.lit(0), F.lit(n_probes - 1))
            ).alias("__i"),
            "__h",
        )
        .select(
            "__aid",
            *(["__adk"] if dedup_key is not None else []),
            ((F.col("__h") % F.lit(n_buckets) + F.col("__i")) % F.lit(n_buckets)).alias(
                "__bucket"
            ),
        )
    )
    pairs = probes.join(cands, "__bucket").filter(F.col("__cid") != F.col("__aid"))
    if dedup_key is not None:
        pairs = pairs.filter(~F.col("__cdk").eqNullSafe(F.col("__adk")))
    ph = _portable_mix(F.col("__aid") * F.lit(31) + F.col("__cid"))
    from pyspark.sql import Window

    win = Window.partitionBy("__aid").orderBy(ph.asc(), F.col("__cid").asc())
    return (
        pairs.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("__aid").alias(anchor_col),
            F.col("__cid").alias(neg_col),
            F.col("__rn").cast("int").alias(rank_col),
        )
    )


def bottomk_pairwise_overlap(
    df: DataFrame,
    key: Column | str,
    k: int,
    label_col: str,
    salt: str = "",
) -> DataFrame:
    """Pairwise set-overlap estimates between labeled slices off their
    bottom-k signatures (Beyer et al. 2007, "On Synopses for
    Distinct-Value Estimation Under Multiset Operations") — the corpus
    question "how much does crawl A share with crawl B?" answered from
    k hashes per slice instead of a distinct-join of the full slices —
    a beyond-reference training-data operator (the reference's surface
    stops at exact GROUP BY profiling; SURVEY.md extension family).

    For each unordered label pair (a, b), with L_a / L_b the k smallest
    distinct ``md5(salt || key)`` hashes within each label:

    - the k smallest of ``L_a ∪ L_b`` are EXACTLY the union's bottom-k
      signature (mergeability), so ``union_est = (k-1)/h_(k)`` is the
      KMV distinct estimate of ``|A ∪ B|``;
    - ``k_inter`` = how many of those union-sketch hashes appear in
      BOTH L_a and L_b; ``jaccard_est = k_inter / k`` is the classic
      unbiased Jaccard estimator (each of the union's k smallest
      distinct values is a uniform draw; it lands in both slices with
      probability J);
    - ``inter_est = jaccard_est * union_est`` estimates ``|A ∩ B|``.

    When the union sketch holds fewer than k hashes the pair's numbers
    are EXACT (both sides were retained in full): union_est = n_sketch,
    jaccard_est = k_inter / n_sketch. Deterministic and bit-replayable
    like every bottom-k member (md5 over key bytes, 13-hex-char (0, 1]
    mapping — identical in any engine), so the whole estimator is
    value-oracle-able. Relative error ~ 1/sqrt(k) per pair.

    Returns one row per unordered pair: ``(label_a, label_b, n_sketch,
    k_inter, union_est, jaccard_est, inter_est)`` with label_a <
    label_b. NULL keys and NULL labels are excluded.

    Plan shape (the 100 TB contract): one shuffle builds per-label
    signatures (distinct on (label, hash), then WindowGroupLimit top-k
    — map-side k-filter, no global sort); the pair table (labels²/2
    rows — labels are sources/languages, tens not millions) is
    BROADCAST into two hash-join expansions bounded by labels x k x
    (labels-1) rows; one more (pair, hash) shuffle + WindowGroupLimit
    forms the union sketches. Data-sized cost is the signature build;
    everything after is sketch-sized.
    """
    from f1_data_engineering_machine_learning_spark.operators.windows import (
        topk_per_group,
    )

    c = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(F.lit(salt), c.cast("string")).cast("binary"))
    sigs = (
        df.select(F.col(label_col).alias("__lab"), h.alias("__h"))
        .filter(F.col("__h").isNotNull() & F.col("__lab").isNotNull())
        .dropDuplicates(["__lab", "__h"])
    )
    sigs = topk_per_group(
        sigs, ["__lab"], [F.col("__h")], k, rn_col="__rn"
    ).drop("__rn")
    # the signature frame (labels x k rows) feeds FOUR consumers (labs,
    # both pair expansions, and through them the union sketch); without
    # materialization Catalyst re-executes the data-sized signature
    # build per consumer. localCheckpoint(eager=False) computes it once
    # and releases with the DataFrame via the ContextCleaner (same
    # convention as bigram_collocations, GC-release pinned by
    # test_bigram_collocations_checkpoint_blocks_released).
    sigs = sigs.localCheckpoint(eager=False)

    labs = sigs.select("__lab").distinct()
    pairs = labs.select(F.col("__lab").alias("label_a")).join(
        labs.select(F.col("__lab").alias("label_b")),
        F.col("label_a") < F.col("label_b"),
    )
    # two broadcast EQUI-joins, not one OR-predicate nested loop: each
    # signature row fans out only to the pairs its label leads/trails
    exp_a = sigs.join(
        F.broadcast(pairs), sigs["__lab"] == pairs["label_a"]
    ).select(
        "label_a",
        "label_b",
        "__h",
        F.lit(1).alias("__in_a"),
        F.lit(0).alias("__in_b"),
    )
    exp_b = sigs.join(
        F.broadcast(pairs), sigs["__lab"] == pairs["label_b"]
    ).select(
        "label_a",
        "label_b",
        "__h",
        F.lit(0).alias("__in_a"),
        F.lit(1).alias("__in_b"),
    )
    flags = (
        exp_a.unionByName(exp_b)
        .groupBy("label_a", "label_b", "__h")
        .agg(F.max("__in_a").alias("__in_a"), F.max("__in_b").alias("__in_b"))
    )
    sketch = topk_per_group(
        flags, ["label_a", "label_b"], [F.col("__h")], k, rn_col="__rn"
    )
    u = (
        F.conv(F.substring("__h", 1, 13), 16, 10).cast("double") + F.lit(1.0)
    ) / F.lit(float(16**13))
    agg = sketch.groupBy("label_a", "label_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_sketch"),
        F.sum((F.col("__in_a") * F.col("__in_b")).cast("long")).alias("k_inter"),
        F.max(u).alias("__u_max"),
    )
    n = F.col("n_sketch")
    ki = F.col("k_inter")
    union_est = F.when(n < k, n.cast("double")).otherwise(
        F.lit(float(k - 1)) / F.col("__u_max")
    )
    jaccard_est = F.when(n < k, ki.cast("double") / n.cast("double")).otherwise(
        ki.cast("double") / F.lit(float(k))
    )
    return agg.select(
        "label_a",
        "label_b",
        "n_sketch",
        "k_inter",
        union_est.alias("union_est"),
        jaccard_est.alias("jaccard_est"),
        (jaccard_est * union_est).alias("inter_est"),
    )
