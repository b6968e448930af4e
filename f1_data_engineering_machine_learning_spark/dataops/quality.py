"""Data-quality constraint checking over arbitrary tables.

The guardrail stage of a training-data pipeline: declarative constraints
evaluated in ONE aggregation pass (every check is a conditional count —
map-side combinable, no per-constraint jobs), emitting a long-format
violations report. At 100 TB this runs as a single scan over the table,
typically piggybacked on an ingest job.

Constraint kinds:
- ``not_null(col)``
- ``unique(col)``          (needs one extra groupBy on the column)
- ``in_set(col, values)``
- ``in_range(col, lo, hi)``
- ``expr(name, bool_col)`` — arbitrary boolean expression, True = valid
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.operators.checkpoints import (
    lineage_cut,
)


@dataclass
class Constraint:
    name: str
    valid: Column | None  # None => handled specially (unique)
    unique_col: str | None = None


def not_null(col: str) -> Constraint:
    return Constraint(f"not_null({col})", F.col(col).isNotNull())


def in_set(col: str, values: list) -> Constraint:
    return Constraint(
        f"in_set({col})", F.col(col).isNotNull() & F.col(col).isin(values)
    )


def in_range(col: str, lo, hi) -> Constraint:
    return Constraint(
        f"in_range({col})",
        F.col(col).isNotNull() & (F.col(col) >= lo) & (F.col(col) <= hi),
    )


def expr(name: str, valid: Column) -> Constraint:
    return Constraint(name, valid)


def unique(col: str) -> Constraint:
    return Constraint(f"unique({col})", None, unique_col=col)


def table_profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """ANALYZE-style column profile: per column — row count, null count,
    exact distinct count, min/max (stringified for a uniform long-format
    report).

    Plan shape: ONE LAZY PLAN — a union of per-column aggregation
    branches, each computing that column's full stat row (count / nulls
    / exact distinct / min / max) over a scan pruned to exactly that
    column. Nothing executes until the caller acts on the report, and
    when it does, all branches run inside ONE job with their stages
    scheduled concurrently — not the serial one-job-per-column loop this
    replaces, and with no driver-side collect in the operator at all.

    Why branches instead of folding the distincts into a shared
    aggregation: several ``count_distinct``s on different columns in one
    agg plan an Expand that replicates every input row once per distinct
    column — (1+n_cols)x the row volume through the shuffle; one
    single-distinct aggregation per branch has no Expand. At 100 TB swap
    in approx_count_distinct (the catalog's approx_stats_scale_mode
    shows the sketch twin) and the branches collapse back into a single
    shared pass."""
    cols = columns or df.columns
    parts = []
    for c in cols:
        parts.append(
            df.select(F.col(c)).agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.coalesce(
                    F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)), F.lit(0)
                ).cast("long").alias("n_null"),
                F.count_distinct(F.col(c)).cast("long").alias("n_distinct"),
                F.min(F.col(c)).cast("string").alias("min_value"),
                F.max(F.col(c)).cast("string").alias("max_value"),
            ).select(F.lit(c).alias("column"), "*")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def check_constraints(df: DataFrame, constraints: list[Constraint]) -> DataFrame:
    """Long-format report: (constraint, n_rows, n_violations), as ONE lazy
    plan — no driver collect. All non-unique constraints evaluate in a
    single aggregation pass over the table, unpivoted to report rows with
    an explode of literal structs; each unique() contributes one extra
    aggregation branch (groupBy on its column, counting rows in duplicated
    groups), unioned in. The report materializes only when the caller acts
    on it, so at 100 TB the gate is exactly one scan (+1 shuffle per unique
    constraint) and composes with downstream plans instead of forcing
    eager jobs at construction time."""
    scalar = [c for c in constraints if c.valid is not None]
    uniques = [c for c in constraints if c.unique_col is not None]

    parts = []
    if scalar:
        agg = df.agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.sum(F.when(~c.valid, 1).otherwise(0)).alias(f"__v{i}")
                for i, c in enumerate(scalar)
            ],
        )
        parts.append(
            agg.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(c.name).alias("constraint"),
                                F.col("__n").alias("n_rows"),
                                F.coalesce(F.col(f"__v{i}"), F.lit(0)).alias(
                                    "n_violations"
                                ),
                            )
                            for i, c in enumerate(scalar)
                        ]
                    )
                ).alias("__r")
            ).select("__r.*")
        )
    for c in uniques:
        parts.append(
            df.groupBy(c.unique_col)
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .agg(
                F.sum("__cnt").alias("__n"),
                F.sum(F.when(F.col("__cnt") > 1, F.col("__cnt")).otherwise(0)).alias(
                    "__v"
                ),
            )
            .select(
                F.lit(c.name).alias("constraint"),
                F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_rows"),
                F.coalesce(F.col("__v"), F.lit(0)).cast("long").alias("n_violations"),
            )
        )
    if not parts:
        return df.sparkSession.createDataFrame(
            [], "constraint string, n_rows long, n_violations long"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def numeric_histogram(
    df: DataFrame,
    col: str,
    bucket_width: float,
    origin: float = 0.0,
    key_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Equi-width histogram: (bucket, lo, hi, n) with fixed-width buckets
    anchored at ``origin`` — one map-side-combinable aggregation, shuffle
    rows = distinct buckets (bounded by range/width, independent of data
    volume). Fixed widths rather than data-derived bounds keep the
    histogram composable: partial histograms from different slices/days
    merge by summing counts on the bucket id.

    ``key_cols`` builds one INDEPENDENT histogram per key in the same
    single aggregation (the keyed-CMS idiom, heavyhitters.py): output
    gains the key columns, shuffle rows = keys x buckets — the
    per-segment drift-monitor shape."""
    keys = list(key_cols)
    b = F.floor((F.col(col) - F.lit(origin)) / F.lit(bucket_width)).cast("long")
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(*keys, b.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *keys,
            "bucket",
            (F.lit(origin) + F.col("bucket") * F.lit(bucket_width))
            .cast("double")
            .alias("lo"),
            (F.lit(origin) + (F.col("bucket") + 1) * F.lit(bucket_width))
            .cast("double")
            .alias("hi"),
            "n",
        )
    )


def merge_numeric_histograms(
    *hists: DataFrame, key_cols: tuple[str, ...] | list[str] = ()
) -> DataFrame:
    """Merge partial equi-width histograms (same ``bucket_width`` /
    ``origin``) by summing counts on the bucket id — the mergeability
    contract of :func:`numeric_histogram` exposed as a batch helper (the
    streaming twin is ``streaming/jobs.py::histogram_ingest_stream``'s
    merge lambda). Shuffle rows = distinct (key x) buckets, never data
    rows."""
    if not hists:
        raise ValueError("need at least one histogram")
    keys = list(key_cols)
    cols = [*keys, "bucket", "lo", "hi", "n"]
    out = hists[0].select(*cols)
    for h in hists[1:]:
        out = out.unionByName(h.select(*cols))
    return out.groupBy(*keys, "bucket", "lo", "hi").agg(
        F.sum("n").cast("bigint").alias("n")
    )


def histogram_quantiles(
    hist: DataFrame,
    fracs: list[float],
    key_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """APPROXIMATE quantiles read off a mergeable equi-width histogram:
    ``(frac, qvalue)`` rows with ``|qvalue - exact quantile| <= one
    bucket width`` — deterministic, no sampling, no sketch randomness.

    This is the streamable arm of the equi-depth family. Exact
    equi-depth boundaries are data-derived and non-mergeable
    (:func:`equidepth_histogram`'s documented limit), but a
    :func:`numeric_histogram` IS mergeable — and maintained continuously
    on ingest by ``histogram_ingest_stream`` — so bucket-width-bounded
    quantiles are readable at ANY time without rescanning history:
    locate each frac's continuous rank ``r = 1 + f*(N-1)`` in the bucket
    cumulative counts (the (prev, cum] intervals partition [0, N], so
    exactly one bucket matches) and interpolate linearly inside the
    containing bucket, ``qvalue = lo + (r - prev)/n * (hi - lo)``. The
    exact rank-``ceil(r)`` order statistic (the type-1 quantile at that
    rank) lies in that SAME bucket, so the error against it is bounded
    by the bucket width — a knob the CALLER controls, independent of
    data volume or skew. (Linear-interpolation (type-7) quantiles can
    differ further by the gap between adjacent order statistics when a
    frac lands between two values separated by empty buckets — that
    spread is a property of the data, not of this summary; no histogram
    can locate a value inside a gap it has no mass in.) All arithmetic
    is IEEE-double in a fixed order, so
    the result is bitwise reproducible (and DuckDB-replayable: see
    catalog ``order_price_histogram_quantiles``).

    ``key_cols`` reads each key's quantiles off its own per-key
    histogram (built with the same ``key_cols`` — the keyed-CMS idiom,
    heavyhitters.py): output gains the key columns, and BITWISE equals
    running the unkeyed read-off on each key's filtered histogram
    (pinned by test).

    Plan shape, scale-first: ONE pass over the histogram lineage —
    cumulative counts by bucket, then the (per-key) total as a window
    max; no second aggregation branch re-scanning the data that built
    the histogram. Unkeyed, the frame is BOUNDED (<= value-range /
    bucket_width rows, independent of data volume), so the global window
    is a broadcast-scale no-op; KEYED, both windows partition by key —
    per-key state only, no single-task global sort no matter how many
    keys. The tiny fracs frame is the broadcast side of the rank-locate
    join, so the histogram side streams. The only data-scaled work is
    building the histogram itself — one map-side-combinable pass,
    already paid (or already maintained by the ingest stream). Empty
    histogram => empty result. Reference parity: the reference's
    quantile summaries (``scripts/04_feature_store.py``
    describe/approx-quantile calls) rescan raw rows per refresh; this
    reads a maintained summary."""
    from pyspark.sql.window import Window

    keys = list(key_cols)
    spark = hist.sparkSession
    fr = spark.createDataFrame([(float(f),) for f in fracs], "frac double")
    w = (
        Window.partitionBy(*keys)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        hist.select(
            *keys,
            "bucket",
            "lo",
            "hi",
            F.col("n").cast("double").alias("__n"),
            F.sum("n").over(w).cast("double").alias("__cum"),
        )
        .withColumn("__prev", F.col("__cum") - F.col("__n"))
        .withColumn("__total", F.max("__cum").over(Window.partitionBy(*keys)))
        .drop("bucket")
    )
    rr = F.lit(1.0) + F.col("frac") * (F.col("__total") - F.lit(1.0))
    return cum.join(
        F.broadcast(fr), (F.col("__prev") < rr) & (rr <= F.col("__cum"))
    ).select(
        *keys,
        "frac",
        (
            F.col("lo")
            + (rr - F.col("__prev")) / F.col("__n") * (F.col("hi") - F.col("lo"))
        ).alias("qvalue"),
    )


def referential_integrity(
    child: DataFrame,
    fk_cols: list[str],
    parent: DataFrame,
    pk_cols: list[str],
    relationship: str | None = None,
) -> DataFrame:
    """Foreign-key integrity audit for one child->parent relationship:
    ONE summary row ``(relationship, child_rows, null_fks,
    orphan_children, childless_parents)``.

    - ``orphan_children``: child rows whose (non-null) FK has no parent —
      broken references, the classic silent-corruption signal after a
      partial backfill or out-of-order ingest.
    - ``childless_parents``: parent keys no child row points at — not an
      error, but the coverage number a join-fanout sanity check needs.

    Plan shape, scale-first: both checks are ANTI-joins on the key with
    the payload projected away before any exchange — the child side
    shuffles (or broadcasts against) key columns only, never rows. The
    childless check first collapses child FKs to DISTINCT keys (map-side
    combinable), so its join input is |parent keys| + |distinct FKs|,
    independent of child row count. The three aggregate branches
    cross-join their 1-row results into one lazy summary row — nothing
    executes until the caller acts, and Catalyst broadcasts every 1-row
    side. At 100 TB each branch is one scan + one key-only exchange; AQE
    turns the anti-joins into broadcasts whenever a side's keys fit."""
    if len(fk_cols) != len(pk_cols):
        raise ValueError("fk_cols and pk_cols must align")
    rel = relationship or f"({','.join(fk_cols)})->({','.join(pk_cols)})"
    fk_nonnull = [F.col(c).isNotNull() for c in fk_cols]
    nonnull_pred = fk_nonnull[0]
    for p in fk_nonnull[1:]:
        nonnull_pred = nonnull_pred & p

    ckeys = child.select(*[F.col(c) for c in fk_cols])
    pkeys = parent.select(*[F.col(c) for c in pk_cols]).distinct()

    base = ckeys.agg(
        F.count(F.lit(1)).cast("long").alias("child_rows"),
        F.coalesce(F.sum(F.when(~nonnull_pred, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("null_fks"),
    )
    cond = [F.col(f"__c.{f}") == F.col(f"__p.{p}") for f, p in zip(fk_cols, pk_cols)]
    on = cond[0]
    for c in cond[1:]:
        on = on & c
    orphans = (
        ckeys.filter(nonnull_pred)
        .alias("__c")
        .join(pkeys.alias("__p"), on, "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("orphan_children"))
    )
    childless = (
        pkeys.alias("__p")
        .join(ckeys.filter(nonnull_pred).distinct().alias("__c"), on, "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("childless_parents"))
    )
    return (
        base.crossJoin(orphans)
        .crossJoin(childless)
        .select(
            F.lit(rel).alias("relationship"),
            "child_rows",
            "null_fks",
            "orphan_children",
            "childless_parents",
        )
    )


def key_skew_profile(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Key-distribution skew profile for one grouping key: ONE row
    ``(key, n_rows, n_keys, avg_per_key, max_per_key, p99_per_key,
    skew_ratio, top_key, top_key_n)``.

    This is the measurement behind every skew decision in the engine
    (operators/skew.py salting, AQE skew-join, `range_partitioned_rank`
    partition sizing): before salting a join at 100 TB you ask "what does
    the hottest key hold, and how far above the mean is it?" —
    ``skew_ratio`` (max/avg) is exactly the factor by which the straggler
    task outweighs the average one.

    One shuffle total: the per-key counts (map-side combinable), then the
    profile is a single aggregate over |keys| count rows — max/percentile
    /sum fold per partition and merge tiny states. ``top_key`` uses the
    max-of-struct idiom, tie-broken by key string so the report is
    deterministic."""
    key_name = ",".join(key_cols)
    kstr = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
    counts = (
        df.groupBy(*[F.col(c) for c in key_cols])
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .select(kstr.alias("__k"), F.col("__cnt"))
    )
    return counts.agg(
        F.sum("__cnt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        (F.sum("__cnt").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avg_per_key"
        ),
        F.max("__cnt").cast("long").alias("max_per_key"),
        F.percentile(F.col("__cnt"), F.lit(0.99))
        .cast("double")
        .alias("p99_per_key"),
        (
            F.max("__cnt").cast("double")
            / (F.sum("__cnt").cast("double") / F.count(F.lit(1)).cast("double"))
        ).alias("skew_ratio"),
        F.max(F.struct(F.col("__cnt"), F.col("__k"))).alias("__top"),
    ).select(
        F.lit(key_name).alias("key"),
        "n_rows",
        "n_keys",
        "avg_per_key",
        "max_per_key",
        "p99_per_key",
        "skew_ratio",
        F.col("__top.__k").alias("top_key"),
        F.col("__top.__cnt").cast("long").alias("top_key_n"),
    )


def category_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    cat_col: str,
    label_a: str = "a",
    label_b: str = "b",
) -> DataFrame:
    """Categorical distribution drift between two datasets (train vs val
    split, yesterday's batch vs today's, corpus v1 vs v2): one row per
    category value —
    ``(category, n_a, n_b, share_a, share_b, share_gap)`` plus the
    dataset-level total-variation distance ``tvd`` stamped on every row
    (``0.5 * sum(|share_a - share_b|)`` — the fraction of probability
    mass that moved; 0 = identical, 1 = disjoint).

    TVD is chosen over PSI/KL deliberately: it is exact rational
    arithmetic (counts and divisions only, no ``ln``), so the report is
    bit-reproducible across engines — the same reason the rest of the
    catalog avoids transcendentals in oracled outputs. The summary is
    computed from INTEGER cross-products
    (``sum|n_a * total_b - n_b * total_a| / (2 * total_a * total_b)``,
    decimal-exact sum, one final double division) rather than summing
    per-row double gaps — float summation is order-dependent across
    engines, integer summation is not. A category absent from one side
    contributes its full share on the other (counts coalesce to 0),
    which is exactly the mass TVD should count.

    Plan shape: each side collapses to per-category counts (map-side
    combinable, one small shuffle each), the two count tables full-outer
    join on category (tiny — |categories| rows), and totals/TVD ride as
    1-row broadcast cross joins. At 100 TB the cost is two scans; the
    comparison itself never touches row-level data. NULL category is a
    real category (null-safe join key)."""
    ca = df_a.groupBy(F.col(cat_col).alias("category")).agg(
        F.count(F.lit(1)).alias("__na")
    )
    cb = df_b.groupBy(F.col(cat_col).alias("category")).agg(
        F.count(F.lit(1)).alias("__nb")
    )
    joined = ca.alias("__a").join(
        cb.alias("__b"),
        F.col("__a.category").eqNullSafe(F.col("__b.category")),
        "full_outer",
    ).select(
        F.coalesce(F.col("__a.category"), F.col("__b.category")).alias("category"),
        F.coalesce(F.col("__na"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.col("__nb"), F.lit(0)).cast("long").alias("n_b"),
    )
    totals = joined.agg(
        F.sum("n_a").alias("__ta"), F.sum("n_b").alias("__tb")
    )
    shared = joined.crossJoin(totals).select(
        "category",
        "n_a",
        "n_b",
        (F.col("n_a").cast("double") / F.col("__ta").cast("double")).alias("share_a"),
        (F.col("n_b").cast("double") / F.col("__tb").cast("double")).alias("share_b"),
        F.col("__ta"),
        F.col("__tb"),
    )
    gapped = shared.withColumn(
        "share_gap", F.abs(F.col("share_a") - F.col("share_b"))
    )
    dec = "decimal(38,0)"
    tvd = gapped.agg(
        (
            F.sum(
                F.abs(
                    F.col("n_a").cast(dec) * F.col("__tb").cast(dec)
                    - F.col("n_b").cast(dec) * F.col("__ta").cast(dec)
                )
            ).cast("double")
            / (
                F.lit(2.0)
                * F.max("__ta").cast("double")
                * F.max("__tb").cast("double")
            )
        ).alias("tvd")
    )
    return gapped.drop("__ta", "__tb").crossJoin(tvd)


def _rank_order_stats(
    rows: DataFrame, col: str, fracs: list[float]
) -> tuple[DataFrame, list[float], float, float] | None:
    """Exact percentile boundaries WITHOUT the value->count map: the
    two-pass range-partitioned ORDER-STATISTICS path for
    unbounded-cardinality columns. Pass 1 range-partitions the column
    and counts rows per range (an O(P)-row collect); pass 2 is one
    map-only JVM filter that keeps just the rows sitting at the globally
    needed ranks (<= 2*len(fracs)+2 rows total), matched by their
    ``monotonically_increasing_id`` — partition id plus local offset
    inside the partition's sorted run. The driver then interpolates with
    Spark's own ``percentile`` formula
    ``(ceil(p)-p)*lower + (p-floor(p))*higher`` at ``p = f*(n-1)``
    (including the equal-endpoint shortcut), so on inputs where the
    interpolation is exact this arm is BITWISE the map arm — pinned by
    ``tests/test_quality.py``. Memory per task is one range partition's
    sorted run (spillable sort; the pick streams it row by row, no
    Python worker) regardless of distinct-value count.

    Returns ``(ranged, bounds, vmin, vmax)`` — ``ranged`` is the
    MATERIALIZED (lineage-cut) range-partitioned frame holding the
    cast column as ``__v``, which callers needing a subsequent full
    pass (the equi-depth bin count) reuse instead of re-scanning the
    source — or ``None`` on empty input."""
    import bisect
    import math

    spark = rows.sparkSession
    # Some deployments set shuffle.partitions to a non-numeric sentinel
    # (e.g. "auto"); fall back to a sane default rather than crash the
    # rank arm on int() — the value only sizes the range exchange.
    try:
        parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except (TypeError, ValueError):
        parts = 200
    ranged = (
        rows.select(F.col(col).cast("double").alias("__v"))
        .repartitionByRange(parts, "__v")
        .sortWithinPartitions("__v")
    )
    # Pin partition membership across the two passes: without the cut the
    # range exchange may execute twice with re-sampled boundaries and the
    # offsets disagree (the range_partitioned_rank contract,
    # operators/windows.py).
    ranged = lineage_cut(ranged).withColumn("__pid", F.spark_partition_id())
    counts = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__c")).collect()
    by_pid = sorted((int(r["__pid"]), int(r["__c"])) for r in counts)
    total = sum(c for _, c in by_pid)
    if total == 0:
        return None
    cum = []  # global rank of each partition's first row
    acc = 0
    for _, c in by_pid:
        cum.append(acc)
        acc += c
    pos = [f * (total - 1) for f in fracs]
    need = {0, total - 1}
    for p in pos:
        need.add(int(math.floor(p)))
        need.add(int(math.ceil(p)))
    # monotonically_increasing_id is (partition id << 33) + the row's
    # position in its partition, so rank g, in partition i of the cut
    # frame's sorted runs, has id (pid_i << 33) + (g - cum[i]). That
    # holds only because the id is projected straight off the cut scan
    # (no exchange, filter or union in between); Spark never pushes the
    # id filter below that nondeterministic projection.
    rank_of_id: dict[int, int] = {}
    for g in need:
        i = bisect.bisect_right(cum, g) - 1
        rank_of_id[(by_pid[i][0] << 33) + g - cum[i]] = g
    picked = (
        ranged.select(F.monotonically_increasing_id().alias("__id"), "__v")
        .filter(F.col("__id").isin(list(rank_of_id)))
        .collect()
    )
    vals = {rank_of_id[int(r["__id"])]: float(r["__v"]) for r in picked}
    bnds: list[float] = []
    for p in pos:
        lo_i, hi_i = int(math.floor(p)), int(math.ceil(p))
        if lo_i == hi_i or vals[lo_i] == vals[hi_i]:
            bnds.append(vals[lo_i])  # Spark's no-interpolation shortcut
        else:
            bnds.append((hi_i - p) * vals[lo_i] + (p - lo_i) * vals[hi_i])
    return ranged, bnds, vals[0], vals[total - 1]


def _rank_percentile_bounds(
    rows: DataFrame, col: str, fracs: list[float]
) -> DataFrame:
    """:func:`_rank_order_stats` packaged as the one-row
    (__bounds, __min, __max) frame the map arm aggregates — the shared
    downstream shape of :func:`exact_percentiles`. The driver's floats
    enter as typed literals over a one-partition, one-row range, so the
    frame reads as one task instead of a parallelize of driver rows."""
    info = _rank_order_stats(rows, col, fracs)
    # the map arm's global agg yields one all-null row on empty input
    _, bnds, vmin, vmax = info or (None, None, None, None)
    return rows.sparkSession.range(1, numPartitions=1).select(
        F.lit(bnds).cast("array<double>").alias("__bounds"),
        F.lit(vmin).cast("double").alias("__min"),
        F.lit(vmax).cast("double").alias("__max"),
    )


def exact_percentiles(
    df: DataFrame,
    col: str,
    fracs: list[float],
    distinct_threshold: int = 1_000_000,
    route: str | None = None,
) -> DataFrame:
    """EXACT percentiles of a column as a (frac, value) frame — the
    general p50/p95/p99 building block, with the same adaptive routing
    as :func:`equidepth_histogram`: ``route=None`` measures
    ``approx_count_distinct`` and picks Spark's exact ``percentile``
    map aggregate at or below ``distinct_threshold`` (state bounded by
    distinct values) or the two-pass range-partitioned order-statistics
    arm above it (state bounded by one spillable partition sort,
    :func:`_rank_percentile_bounds`); ``route="map"``/``"rank"`` force
    an arm; neither starts a Python worker. Both arms share
    percentile's interpolation formula, so on exact-interpolation
    inputs the result is bitwise arm-independent, whatever the shuffle
    partition count (pinned by tests). NULLs are excluded (SQL
    percentile semantics); an empty input returns zero rows."""
    if not fracs:
        raise ValueError("fracs must be non-empty")
    if any(f < 0.0 or f > 1.0 for f in fracs):
        raise ValueError("fracs must be within [0, 1]")
    if route not in (None, "map", "rank"):
        raise ValueError("route must be None, 'map', or 'rank'")
    fracs = list(fracs)
    rows = df.filter(F.col(col).isNotNull())
    if route is None:
        ndv = rows.agg(F.approx_count_distinct(col).alias("__d")).first()["__d"]
        route = "map" if int(ndv) <= distinct_threshold else "rank"
    if route == "rank":
        bounds = _rank_percentile_bounds(rows, col, fracs)
    else:
        # ONE percentile aggregate with an ARRAY of fractions, not one
        # aggregate per fraction: each F.percentile(col, lit) builds its
        # own value->count map over the column, so n fractions paid n
        # map builds + n sorts (measured 3.1 s vs 0.57 s for 9 deciles
        # over 150k distinct values — identical output bitwise; the
        # array form reads all fractions off one sorted map).
        bounds = rows.agg(
            F.percentile(
                F.col(col), F.array(*[F.lit(float(f)) for f in fracs])
            ).alias("__bounds")
        )
    return bounds.select(
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(float(f)) for f in fracs]).alias("frac"),
                F.col("__bounds").alias("value"),
            )
        ).alias("__fv")
    ).select(
        F.col("__fv.frac").alias("frac"),
        F.col("__fv.value").cast("double").alias("value"),
    ).filter(F.col("value").isNotNull())


def equidepth_histogram(
    df: DataFrame,
    col: str,
    n_bins: int = 10,
    distinct_threshold: int = 1_000_000,
    route: str | None = None,
) -> DataFrame:
    """Equi-DEPTH histogram: bin boundaries at the exact ``i / n_bins``
    percentiles, then one count pass — each bin holds ~equal mass, so
    resolution concentrates where the data is (the summary a query
    optimizer or drift monitor wants for a skewed column; the equi-WIDTH
    twin is :func:`numeric_histogram`, which is mergeable across slices
    — this one is not, its boundaries are data-derived).

    Output: ``(bin, lo, hi, n)`` with ``lo``/``hi`` the percentile
    boundaries (first/last bin extend to the column min/max). Ties
    spanning a boundary land in the LOWER bin (assignment is
    ``sum(x > boundary)``), so heavy ties make uneven bins — exact
    counts, honestly uneven, rather than pretending tied values split.

    ADAPTIVE boundary computation (the near_dup_clusters /
    frequent-itemsets decision-scalar idiom): Spark's exact
    ``percentile`` aggregates a value->count map, so its memory is
    bounded by DISTINCT values, not rows — ideal for quantized inputs
    (integer cents: the domain bounds the map no matter how many rows)
    but a per-task OOM for unbounded-cardinality raw doubles at 100 TB.
    ``route=None`` (default) measures ``approx_count_distinct(col)``
    (one cheap HLL scan) and takes the map-aggregate arm at or below
    ``distinct_threshold``, else the two-pass range-partitioned
    order-statistics arm (:func:`_rank_percentile_bounds`) whose memory
    is one spillable range-partition sort regardless of cardinality.
    ``route="map"`` / ``route="rank"`` force an arm (skipping the
    decision scan — "map" is the historical two-scan plan). Both arms
    interpolate identically, so on exact-interpolation inputs
    (integral/pre-quantized — the catalog's oracle rule) the routed
    result is bitwise the same; pinned by the equivalence test.

    Plan (map arm): one percentile aggregate (single row, broadcast) +
    one map-side-combinable count — two scans, shuffle rows = n_bins.
    Rank arm: one range exchange (+O(P)-row counts collect), one
    map-only order-statistics pick (a JVM row-id filter, no Python
    worker), then one count pass over the same cut frame with the
    boundaries inlined as literals.
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    if route not in (None, "map", "rank"):
        raise ValueError("route must be None, 'map', or 'rank'")
    fracs = [i / n_bins for i in range(1, n_bins)]
    rows = df.filter(F.col(col).isNotNull())
    if route is None:
        ndv = rows.agg(F.approx_count_distinct(col).alias("__d")).first()["__d"]
        route = "map" if int(ndv) <= distinct_threshold else "rank"
    if route == "rank":
        # The rank arm's boundaries are DRIVER-SIDE floats and the range
        # pass has already materialized the cast column (lineage-cut
        # ``ranged``). The count pass therefore (a) reuses that
        # materialization instead of a second full scan of the source,
        # and (b) assigns bins with a chain of literal comparisons —
        # whole-stage-codegen'd — instead of the broadcast-array HOF
        # fold, which Spark evaluates interpreted per row. Bin ids and
        # counts are identical (same ``__v > boundary`` predicates in
        # the same order); lo/hi come from the same driver floats the
        # one-row bounds frame would carry — bitwise-equal output,
        # pinned by the map/rank equivalence tests.
        info = _rank_order_stats(rows, col, fracs)
        if info is None:  # empty input: zero bins, like the map arm
            return df.sparkSession.createDataFrame(
                [], "bin int, lo double, hi double, n bigint"
            )
        ranged, bnds, vmin, vmax = info
        bin_expr = F.lit(0)
        for b in bnds:
            bin_expr = bin_expr + F.when(F.col("__v") > F.lit(b), 1).otherwise(0)
        counted = ranged.groupBy(bin_expr.alias("__bin")).agg(
            F.count(F.lit(1)).alias("n")
        )
        lo_arr = F.array(*[F.lit(float(b)) for b in bnds])
        return counted.select(
            F.col("__bin").cast("int").alias("bin"),
            F.when(F.col("__bin") == 0, F.lit(float(vmin)))
            .otherwise(F.element_at(lo_arr, F.col("__bin")))
            .cast("double")
            .alias("lo"),
            F.when(F.col("__bin") == F.lit(len(fracs)), F.lit(float(vmax)))
            .otherwise(F.element_at(lo_arr, F.col("__bin") + 1))
            .cast("double")
            .alias("hi"),
            "n",
        )
    else:
        # single array-fraction percentile: one value->count map + one
        # sort for ALL boundaries (see exact_percentiles; measured 5.4x
        # on 9 deciles at 150k distinct, bitwise-identical bounds)
        bounds = rows.agg(
            F.percentile(
                F.col(col), F.array(*[F.lit(float(f)) for f in fracs])
            ).alias("__bounds"),
            F.min(F.col(col)).cast("double").alias("__min"),
            F.max(F.col(col)).cast("double").alias("__max"),
        )
    tagged = rows.crossJoin(F.broadcast(bounds)).withColumn(
        "__bin",
        F.aggregate(
            F.col("__bounds"),
            F.lit(0),
            lambda acc, b: acc + F.when(F.col(col).cast("double") > b, 1).otherwise(0),
        ),
    )
    return (
        tagged.groupBy("__bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("__bounds").alias("__bounds"),
            F.first("__min").alias("__min"),
            F.first("__max").alias("__max"),
        )
        .select(
            F.col("__bin").cast("int").alias("bin"),
            F.when(F.col("__bin") == 0, F.col("__min"))
            .otherwise(F.element_at(F.col("__bounds"), F.col("__bin")))
            .cast("double")
            .alias("lo"),
            F.when(F.col("__bin") == F.lit(len(fracs)), F.col("__max"))
            .otherwise(F.element_at(F.col("__bounds"), F.col("__bin") + 1))
            .cast("double")
            .alias("hi"),
            "n",
        )
    )


def join_fanout_estimate(
    left: DataFrame,
    right: DataFrame,
    left_keys: list[str],
    right_keys: list[str] | None = None,
    top: int = 1,
) -> DataFrame:
    """EXACT inner-join output size and hot-key report — without running
    the join. ONE summary row: ``(left_rows, right_rows, matching_keys,
    join_rows, max_key_fanout, top_key, left_only_keys,
    right_only_keys)``.

    ``join_rows = sum over matching keys of n_left(k) * n_right(k)`` —
    the number the 100 TB join would materialize. Running this first
    costs two KEY-ONLY count shuffles (map-side combinable, payload
    never moves) plus a join of two |keys|-sized count tables; running
    the real join to discover a 10^13-row fanout costs the cluster.
    ``top_key`` is the key with the largest count product (ties broken
    by key string, deterministic) — the row you hand to
    ``key_skew_profile``'s salting decision. ``left_only_keys`` /
    ``right_only_keys`` quantify miss rates (the semi/anti split a
    left-join planner wants). NULL keys never match (SQL join
    semantics): they are excluded from both key frames."""
    right_keys = right_keys or left_keys
    if len(left_keys) != len(right_keys):
        raise ValueError("left_keys and right_keys must align")

    # The count tables join on CANONICALIZED KEY COLUMNS (k0..kn), not a
    # concatenated string: "a|b","c" and "a","b|c" would collide as
    # "a|b|c" and silently merge two different composite keys' counts.
    # The display string (top_key) is built only after the join.
    def _counts(df: DataFrame, keys: list[str]) -> DataFrame:
        pred = F.col(keys[0]).isNotNull()
        for k in keys[1:]:
            pred = pred & F.col(k).isNotNull()
        return (
            df.filter(pred)
            .groupBy(*[F.col(k) for k in keys])
            .agg(F.count(F.lit(1)).alias("__n"))
            .select(
                *[
                    F.col(k).alias(f"__k{i}")
                    for i, k in enumerate(keys)
                ],
                "__n",
            )
        )

    kcols = [f"__k{i}" for i in range(len(left_keys))]
    lc = _counts(left, left_keys)
    rc = _counts(right, right_keys)
    on = F.col(f"__l.{kcols[0]}") == F.col(f"__r.{kcols[0]}")
    for k in kcols[1:]:
        on = on & (F.col(f"__l.{k}") == F.col(f"__r.{k}"))
    j = lc.alias("__l").join(rc.alias("__r"), on, "full_outer").select(
        F.concat_ws(
            "|",
            *[
                F.coalesce(F.col(f"__l.{k}"), F.col(f"__r.{k}")).cast("string")
                for k in kcols
            ],
        ).alias("__k"),
        F.col("__l.__n").alias("__nl"),
        F.col("__r.__n").alias("__nr"),
    )
    dec = "decimal(38,0)"
    prod = F.col("__nl").cast(dec) * F.col("__nr").cast(dec)
    return j.agg(
        F.coalesce(F.sum("__nl"), F.lit(0)).cast("long").alias("left_rows"),
        F.coalesce(F.sum("__nr"), F.lit(0)).cast("long").alias("right_rows"),
        F.sum(
            (F.col("__nl").isNotNull() & F.col("__nr").isNotNull()).cast("long")
        ).cast("long").alias("matching_keys"),
        F.coalesce(F.sum(prod), F.lit(0).cast(dec)).cast("long").alias("join_rows"),
        F.coalesce(F.max(prod), F.lit(0).cast(dec)).cast("long").alias(
            "max_key_fanout"
        ),
        F.max(
            F.when(
                prod.isNotNull(), F.struct(prod.alias("__p"), F.col("__k"))
            )
        ).alias("__top"),
        F.sum(F.col("__nr").isNull().cast("long")).cast("long").alias(
            "left_only_keys"
        ),
        F.sum(F.col("__nl").isNull().cast("long")).cast("long").alias(
            "right_only_keys"
        ),
    ).select(
        "left_rows",
        "right_rows",
        "matching_keys",
        "join_rows",
        "max_key_fanout",
        F.col("__top.__k").alias("top_key"),
        "left_only_keys",
        "right_only_keys",
    )


def numeric_drift_ks(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic — the NUMERIC twin of
    :func:`category_drift`: the largest vertical gap between the two
    empirical CDFs, evaluated at every distinct value. ONE summary row
    ``(n_a, n_b, ks_stat, ks_at_value)`` (``ks_at_value`` = where the
    distributions diverge most — the actionable part of the report).

    Exactness: the maximized quantity is the INTEGER cross-product gap
    ``|cum_a * n_b - cum_b * n_a|`` (decimal-held, order-independent
    max); the single division by ``n_a * n_b`` happens once at the end —
    no per-row float ECDFs whose max could tie-break on rounding.

    Scale shape — no single-task global window: per-value counts
    (map-side combinable) range-partition by value; per-partition total
    counts become broadcast PREFIX OFFSETS as a lazy O(P)-row subplan
    (the `range_partitioned_rank` construction), and the running sums
    are offset + a window WITHIN each range partition. Cost: one count
    shuffle per side + one range exchange over |distinct values| rows —
    the raw tables stream through their count aggregations only."""
    from pyspark.sql import Window

    counts = (
        df_a.select(F.col(value_col).alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(
            F.count(F.lit(1)).alias("__na"), F.lit(0).cast("long").alias("__nb")
        )
        .unionByName(
            df_b.select(F.col(value_col).alias("v"))
            .filter(F.col("v").isNotNull())
            .groupBy("v")
            .agg(
                F.lit(0).cast("long").alias("__na"),
                F.count(F.lit(1)).alias("__nb"),
            )
        )
        .groupBy("v")
        .agg(F.sum("__na").alias("na"), F.sum("__nb").alias("nb"))
    )
    # lazy checkpoint pins (row -> __pid) before the fork into per_part
    # and the cumulative branch — re-executed range exchanges re-sample
    # their boundaries and the branches then disagree on membership
    # (the divergence reproduced in
    # operators/windows.py::range_partitioned_rank; same fix)
    ranged = (
        counts.repartitionByRange(32, F.col("v"))
        .withColumn("__pid", F.spark_partition_id())
        .transform(lineage_cut)
    )
    per_part = ranged.groupBy("__pid").agg(
        F.sum("na").alias("__pa"), F.sum("nb").alias("__pb")
    )
    offsets = (
        per_part.alias("__x")
        .join(
            per_part.alias("__y"),
            F.col("__y.__pid") < F.col("__x.__pid"),
            "left",
        )
        .groupBy(F.col("__x.__pid").alias("__pid"))
        .agg(
            F.coalesce(F.sum("__y.__pa"), F.lit(0)).alias("__offa"),
            F.coalesce(F.sum("__y.__pb"), F.lit(0)).alias("__offb"),
        )
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = ranged.join(F.broadcast(offsets), "__pid").select(
        "v",
        (F.col("__offa") + F.sum("na").over(w)).alias("cuma"),
        (F.col("__offb") + F.sum("nb").over(w)).alias("cumb"),
    )
    dec = "decimal(38,0)"
    totals = counts.agg(
        F.sum("na").cast("long").alias("ta"), F.sum("nb").cast("long").alias("tb")
    )
    gapped = cum.crossJoin(F.broadcast(totals)).select(
        "v",
        "ta",
        "tb",
        F.abs(
            F.col("cuma").cast(dec) * F.col("tb").cast(dec)
            - F.col("cumb").cast(dec) * F.col("ta").cast(dec)
        ).alias("__gap"),
    )
    return gapped.agg(
        F.max("ta").alias("n_a"),
        F.max("tb").alias("n_b"),
        (
            F.max("__gap").cast("double")
            / (F.max("ta").cast("double") * F.max("tb").cast("double"))
        ).alias("ks_stat"),
        F.max(F.struct(F.col("__gap"), F.col("v"))).alias("__m"),
    ).select(
        "n_a",
        "n_b",
        "ks_stat",
        F.col("__m.v").alias("ks_at_value"),
    )


def file_row_profile(df: DataFrame) -> DataFrame:
    """Physical-layout profile of a file-backed frame: rows per underlying
    file — the small-file detector feeding compaction decisions
    (plans/ingest.py::compact; thousands of kilobyte files turn a 100 TB
    scan into a metadata stampede long before bytes matter). One
    map-side-combinable aggregate over ``input_file_name()``; the file
    name is reduced to its basename so reports compare across
    URI schemes (file:// vs s3:// vs an engine reading the bare path).
    Returns ``(file_name, n_rows)``."""
    base = F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1)
    return df.groupBy(base.alias("file_name")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )


# Benford first-digit probabilities log10(1 + 1/d), embedded as the SAME
# double literals the oracle SQL carries (cross-engine log10 is not
# guaranteed correctly rounded; shared literals are bitwise by
# construction). Values are shortest-exact reprs of math.log10(1 + 1/d).
BENFORD_P = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def benford_digit_test(df: DataFrame, col: str) -> DataFrame:
    """Benford's-law first-digit screen over a positive numeric column —
    the classic fabricated-data / unit-mixing detector for financial and
    measurement columns (naturally-grown magnitudes follow
    P(d) = log10(1 + 1/d); keyed sequences, capped values, and invented
    numbers do not). Returns one row per digit 1-9:
    ``(digit, observed, expected, cell_chisq)``; sum the cell terms for
    the chi-square statistic (df = 8).

    Determinism: the first significant digit is extracted from the
    DECIMAL(18,2) string form (both engines print plain decimal
    digits — no scientific-notation divergence, no log10 on data) via
    the first [1-9] in the string; expected counts multiply the exact
    integer total by the shared BENFORD_P literals. One aggregate
    shuffle over 9 keys + a 9-row window — trivially scale-safe."""
    digit = F.regexp_extract(
        F.col(col).cast("decimal(18,2)").cast("string"), "[1-9]", 0
    )
    counts = (
        df.filter(F.col(col).isNotNull() & (F.col(col) > 0))
        .groupBy(digit.cast("int").alias("digit"))
        .agg(F.count(F.lit(1)).cast("double").alias("observed"))
    )
    from pyspark.sql import Window

    total = F.sum("observed").over(Window.partitionBy())  # 9-row window
    expected = F.when(F.lit(False), F.lit(None).cast("double"))
    for d, p in BENFORD_P.items():
        expected = F.when(F.col("digit") == d, total * F.lit(p)).otherwise(
            expected
        )
    return (
        counts.withColumn("expected", expected.cast("double"))
        .select(
            "digit",
            F.col("observed").cast("bigint").alias("observed"),
            "expected",
            (
                F.pow(F.col("observed") - F.col("expected"), F.lit(2))
                / F.col("expected")
            )
            .cast("double")
            .alias("cell_chisq"),
        )
    )


def cusum_changepoint(
    df: DataFrame,
    order_col: str,
    value_col: str,
    quantize: float = 100.0,
) -> DataFrame:
    """CUSUM changepoint signal over an ordered series (one row per
    ``order_col`` value): ``cusum_t = sum_{s<=t} (x_s - mean(x))``. A
    mean-shift at time T makes |cusum| peak at T (the classic
    distribution-drift localizer, the sequential complement of the
    two-sample KS test above). Returns
    ``(order_col, value_col, cusum, is_peak)`` with ``is_peak`` marking
    every row attaining the max |cusum| (bitwise float ties all mark).

    Determinism: the global mean is the decimal-exact sum over the
    exact count (one number, no accumulation-order dependence). A float
    running sum would NOT be cross-engine bitwise — windowed SUM
    accumulation order is an engine choice (DuckDB's segment trees sum
    pairwise, Spark accumulates sequentially) — so per-row deviations
    are quantized to integers (``floor((x - mean) * quantize)``, exact
    in IEEE) and cumulated as BIGINT: exact, associative,
    order-independent — the same trick as operators/graph.py::pagerank.
    Quantization bounds the signal error at ``rows/quantize`` absolute
    (24 cents over 2400 daily rows at the default), far below any real
    mean shift. The series is one row per order key (PRE-AGGREGATED
    input — pass daily totals, not raw events); a series that outgrows
    one task should be swept with the range-partitioned prefix idiom of
    operators/windows.py."""
    from pyspark.sql import Window

    dec = "decimal(30,2)"
    stats = df.agg(
        (F.sum(F.col(value_col).cast(dec)).cast("double") / F.count(value_col))
        .cast("double")
        .alias("__mean")
    )
    w = Window.orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    qdev = F.floor(
        (F.col(value_col).cast("double") - F.col("__mean")) * F.lit(quantize)
    ).cast("long")
    cum = (
        df.crossJoin(F.broadcast(stats))
        .withColumn("cusum", (F.sum(qdev).over(w) / F.lit(quantize)).cast("double"))
        .drop("__mean")
    )
    # peak = max |cusum| over the whole (pre-aggregated, small) series;
    # the window is partition-free over the series frame, same tier as
    # the marginal windows in segment_priority_chisq (post-agg trivia)
    wp = Window.partitionBy()
    peak_abs = F.max(F.abs(F.col("cusum"))).over(wp)
    return cum.withColumn("is_peak", F.abs(F.col("cusum")) == peak_abs)
