"""Window-function operators (SURVEY §2.5 W1, §2.6 O4, §2.9 M9).

``top1_per_group`` is the champions idiom
(/root/reference/sql/champions.sql:17,25). The reference's ROW_NUMBER tie
break is nondeterministic; here a deterministic tie-break column list is
required so results are stable across partitionings (a hard requirement for
oracle checks and for reproducibility at scale).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.operators.checkpoints import (
    lineage_cut,
)


def _cols(cols: Sequence[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in cols]


def top1_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str | Column],
    rn_col: str = "rn",
    keep_rn: bool = False,
) -> DataFrame:
    """``ROW_NUMBER() OVER (PARTITION BY ... ORDER BY ...)`` + ``rn = 1``
    (/root/reference/sql/champions.sql:17,25). ``order_by`` should include a
    unique tie-break key — see module docstring."""
    w = Window.partitionBy(*partition_by).orderBy(*_cols(order_by))
    out = df.withColumn(rn_col, F.row_number().over(w)).filter(F.col(rn_col) == 1)
    return out if keep_rn else out.drop(rn_col)


def topk_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str | Column],
    k: int,
    rn_col: str = "rn",
) -> DataFrame:
    """Generalized per-group top-k (rank column retained)."""
    w = Window.partitionBy(*partition_by).orderBy(*_cols(order_by))
    return df.withColumn(rn_col, F.row_number().over(w)).filter(F.col(rn_col) <= k)


def topk(df: DataFrame, order_by: Sequence[str | Column], k: int) -> DataFrame:
    """Global top-k — ``ORDER BY ... LIMIT k``
    (/root/reference/scripts/05_ml_model.py:260-266 done driver-side in
    pandas; here it stays distributed: Spark plans TakeOrderedAndProject,
    per-partition heaps + a k-row merge, no full sort)."""
    return df.orderBy(*_cols(order_by)).limit(k)


def dedup_keep_last(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str | Column],
) -> DataFrame:
    """Keep the LAST row per key under ``order_by``
    (pandas ``drop_duplicates(keep='last')``,
    /root/reference/scripts/05_ml_model.py:441). Spark's ``dropDuplicates``
    gives no ordering guarantee, so this is row_number over the reversed
    order — ``order_by`` must totally order rows within a key."""
    w = Window.partitionBy(*keys).orderBy(*[c.desc() for c in _cols(order_by)])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def range_partitioned_rank(
    df: DataFrame,
    order_by: Sequence[str],
    rank_col: str | None = None,
    row_number_col: str | None = None,
    percent_rank_col: str | None = None,
    cume_dist_col: str | None = None,
    ntile: int | None = None,
    ntile_col: str = "ntile",
    tiebreak: Sequence[str] = (),
    num_partitions: int | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """GLOBAL rank / percent_rank / cume_dist / ntile without the
    single-task global window (``Window.orderBy`` with no partitionBy
    funnels the whole dataset through one task — the classic scale
    killer). Two-pass distributed plan:

    1. ``repartitionByRange`` on ``order_by`` — equal keys colocate, so
       every tie group lives in exactly one range partition;
    2. count rows per range partition and turn the counts into
       cumulative offsets — AS A PLAN, not a driver action: the
       O(num_partitions)-row counts frame self-joins (broadcast
       nested-loop over tiny frames) into prefix/suffix sums and
       broadcast-joins back onto the data by partition id. The operator
       is fully LAZY — construction runs zero jobs, the driver never
       holds anything — and the tagged frame is lazily
       local-checkpointed so both branches read ONE materialization of
       the range exchange (exchange reuse alone is best-effort under
       AQE; see the divergence note below);
    3. rank locally inside each range partition (parallel sorts of
       N/partitions rows) and add the range's offset:
       ``global_rank = offset[p] + local_rank``. Descending-order local
       ranks plus the suffix offsets give exact tie-aware ``cume_dist``
       (rows <= x == N - rows > x) without a RANGE window frame.

    All four outputs agree exactly with the single-window formulation
    (equivalence-tested, ties included):

    - ``rank_col``: tie-aware RANK() over ``order_by``.
    - ``row_number_col``: ROW_NUMBER() over ``(order_by, tiebreak)`` —
      pass a ``tiebreak`` making that a total order, or intra-tie
      numbering is partition luck, exactly as with a plain window.
    - ``percent_rank_col``: (rank - 1) / (N - 1); 0.0 when N == 1.
    - ``cume_dist_col``: tie-inclusive rows-at-or-below / N.
    - ``ntile``: SQL NTILE(n) bucket from the global row number (first
      ``N mod n`` buckets get the extra row), needs the total order too.

    Tie-aware outputs (rank / percent_rank / cume_dist) ignore
    ``tiebreak`` — peers tie exactly as ``OVER (ORDER BY order_by)``
    would — while row_number / ntile use the full order: one hash
    exchange, three per-partition sorts, matching the mixed-window SQL
    formulation (``PERCENT_RANK() OVER (ORDER BY v)`` next to
    ``NTILE(k) OVER (ORDER BY v, id)``) in a single operator.

    Cost: one range exchange + one hash exchange on the partition id
    (each moving N rows, all partitions in parallel) + the O(P)-row
    counts subplan. The largest single task holds ~N/num_partitions
    rows — sized by the range sampler, vs N for the naive global window.
    """
    order_by = [str(c) for c in order_by]
    tiebreak = [str(c) for c in tiebreak]
    parts = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "200"
    )
    ranged = df.repartitionByRange(int(parts), *[F.col(c) for c in order_by])
    # LAZY localCheckpoint pins (row -> __pid) before the frame forks
    # into the counts branch and the data branch. Without it the range
    # exchange may EXECUTE TWICE (AQE re-plans the branches separately
    # and exchange reuse is best-effort, not a contract), and each
    # execution re-SAMPLES its range boundaries — the two branches then
    # disagree on partition membership and the offsets join assigns
    # wrong global ranks. Reproduced at sf0.1 as a nondeterministic
    # 10-vs-11-row NTILE(10) result (sf0.1 oracle sweep);
    # invisible at sf0.01 where the sampled boundaries coincide. Same
    # contract as the iterative-graph checkpoints in operators/graph.py.
    tagged = ranged.withColumn("__pid", F.spark_partition_id()).transform(lineage_cut)

    # prefix offset __lo (rows in ranges BELOW p), suffix offset __hi
    # (rows ABOVE p), and the global total __n — computed lazily from the
    # tiny counts frame via a broadcast non-equi self-join (O(P^2) pairs
    # over O(P) rows; P = num_partitions), then broadcast back onto the
    # data. No driver collect anywhere.
    counts = tagged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    other = counts.select(
        F.col("__pid").alias("__q"), F.col("__cnt").alias("__qc")
    )
    offsets = (
        counts.crossJoin(F.broadcast(other))
        .groupBy("__pid", "__cnt")
        .agg(
            F.sum(
                F.when(F.col("__q") < F.col("__pid"), F.col("__qc")).otherwise(0)
            ).alias("__lo"),
            F.sum("__qc").alias("__n"),
        )
        .select(
            "__pid",
            F.col("__lo").cast("bigint").alias("__lo"),
            (F.col("__n") - F.col("__lo") - F.col("__cnt"))
            .cast("bigint")
            .alias("__hi"),
            F.col("__n").cast("bigint").alias("__n"),
        )
    )
    tagged = tagged.join(F.broadcast(offsets), "__pid")

    asc = Window.partitionBy("__pid").orderBy(*[F.col(c).asc() for c in order_by])
    desc = Window.partitionBy("__pid").orderBy(*[F.col(c).desc() for c in order_by])
    full = Window.partitionBy("__pid").orderBy(
        *[F.col(c).asc() for c in [*order_by, *tiebreak]]
    )

    out = tagged
    n = F.col("__n")
    g_rank = (F.col("__lo") + F.rank().over(asc)).cast("bigint")
    g_rn = (F.col("__lo") + F.row_number().over(full)).cast("bigint")
    # tie-aware rows-at-or-below: N - (strictly greater) where strictly
    # greater = global desc-rank - 1 (desc rank is tie-aware too)
    g_cume_n = n - (F.col("__hi") + F.rank().over(desc)) + 1
    if rank_col:
        out = out.withColumn(rank_col, g_rank)
    if row_number_col:
        out = out.withColumn(row_number_col, g_rn)
    if percent_rank_col:
        pr = F.when(n == 1, F.lit(0.0)).otherwise(
            (g_rank - 1).cast("double") / (n - 1).cast("double")
        )
        out = out.withColumn(percent_rank_col, pr)
    if cume_dist_col:
        out = out.withColumn(
            cume_dist_col, g_cume_n.cast("double") / n.cast("double")
        )
    if ntile:
        base = (n / ntile).cast("bigint")  # exact for N < 2^53
        rem = n % ntile
        boundary = rem * (base + 1)
        tile = (
            F.when(
                g_rn <= boundary, ((g_rn - 1) / (base + 1)).cast("bigint") + 1
            ).otherwise(
                # base > 0 whenever any row lands here: boundary covers
                # all rows when N < ntile (base == 0 => boundary == N)
                rem + ((g_rn - 1 - boundary) / base).cast("bigint") + 1
            )
        )
        out = out.withColumn(ntile_col, tile.cast("int"))
    if total_col:
        # the global row count rides the offsets broadcast already joined
        # onto every row — exposing it costs nothing, while the caller's
        # alternative is a SECOND full scan of the input just to count it
        out = out.withColumn(total_col, F.col("__n").cast("long"))
    return out.drop("__pid", "__lo", "__hi", "__n", "__cnt")


def topk_per_group_salted(
    df: DataFrame,
    partition_by: Sequence[str],
    sort_key: Column,
    k: int,
    n_salt: int = 32,
    rn_col: str = "rn",
) -> DataFrame:
    """Skew-safe per-group top-k for the few-groups / many-rows regime.

    ``topk_per_group`` (window row_number) shuffles EVERY row of a group
    into ONE task and sorts it there — correct, but with 3 groups over
    10^10 rows the job is three giant straggler tasks. This is the
    two-phase heap merge instead:

    1. rows are salted by a deterministic row hash into
       ``(group, salt)`` sub-groups; each sub-group keeps only its local
       top-k (``slice(array_sort(collect_list(item)), 1, k)``) — the
       aggregation is map-side combinable, so no task ever materializes
       more than its partition's rows, and the reduce-side buffer holds
       a sub-group (~group_rows / n_salt), not the group;
    2. the ≤ ``k x n_salt`` per-group survivors re-aggregate (same
       sort+slice) into the exact top-k, with rank from ``posexplode``.

    Exactly the partial-TopK-then-merge plan TakeOrderedAndProject uses
    for GLOBAL top-k, expressed per group. Output = input columns +
    ``rn_col`` (1-based), identical to ``topk_per_group`` given the same
    total order (equivalence-tested).

    ``sort_key``: a Column (struct for multi-key) whose ASCENDING order
    is the desired rank order — negate numerics for descending. It must
    totally order rows within a group (include a unique tie-break) and
    be non-null; struct comparison is lexicographic by field.

    Size ``n_salt`` ~ group_rows / target_task_rows at the expected hot
    group; ``k x n_salt`` stays tiny so stage 2 is never the problem."""
    cols = df.columns
    item = F.struct(
        sort_key.alias("__o"),
        F.struct(*[F.col(c) for c in cols]).alias("__p"),
    )
    salt = F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(n_salt))
    partial = (
        df.groupBy(*[F.col(c) for c in partition_by], salt.alias("__salt"))
        .agg(F.slice(F.array_sort(F.collect_list(item)), 1, k).alias("__t"))
    )
    merged = (
        partial.select(*partition_by, F.explode("__t").alias("__i"))
        .groupBy(*partition_by)
        .agg(F.slice(F.array_sort(F.collect_list("__i")), 1, k).alias("__t"))
    )
    return merged.select(
        F.posexplode("__t").alias("__pos", "__i")
    ).select(
        "__i.__p.*", (F.col("__pos") + 1).cast("int").alias(rn_col)
    )


def ewma_trailing(
    df: DataFrame,
    entity_cols: Sequence[str],
    order_col: str,
    value_col: str,
    alpha_halves: int = 1,
    depth: int = 8,
    out_col: str = "ewma",
) -> DataFrame:
    """Trailing exponentially-weighted moving average over the last
    ``depth`` observations per entity: weight ``(1/2)^(alpha_halves * j)``
    for the value ``j`` steps back, renormalized over the observations
    actually present (a series head with 3 points averages those 3, it
    does not decay toward a phantom zero history).

    The decay base is a POWER OF TWO by construction (``alpha_halves``
    halvings per step) — every weight is an exact binary fraction, so the
    weighted sum is engine-bit-reproducible; an arbitrary ``alpha=0.3``
    would put ``0.3^j`` libm drift in every row (the same reason the
    catalog avoids ln/exp in oracled outputs).

    Plan: a ``lag`` chain of ``depth`` offsets inside ONE window — a
    single exchange + sort on the entity key, all arithmetic in
    whole-stage codegen, no self-join and no per-row array state. A
    left-to-right sum chain fixes the accumulation order. ``depth``
    bounds both the expression size and the history an observation can
    influence — the windowed (finite-memory) EWMA, which is also the
    form that does not need an order-sensitive fold."""
    from pyspark.sql import Window

    w = Window.partitionBy(*[F.col(c) for c in entity_cols]).orderBy(
        F.col(order_col)
    )
    num = None
    den = None
    for j in range(depth):
        weight = 2.0 ** (-alpha_halves * j)
        lv = F.lag(F.col(value_col).cast("double"), j).over(w)
        term = F.when(lv.isNotNull(), lv * F.lit(weight))
        mass = F.when(lv.isNotNull(), F.lit(weight))
        num = term if num is None else num + F.coalesce(term, F.lit(0.0))
        den = mass if den is None else den + F.coalesce(mass, F.lit(0.0))
    return df.withColumn(out_col, num / den)


def range_partitioned_prefix_sum(
    df: DataFrame,
    order_by: Sequence[str],
    value: str | dict[str, str],
    out_col: str = "prefix_sum",
    tiebreak: Sequence[str] = (),
    num_partitions: int | None = None,
) -> DataFrame:
    """GLOBAL running sum over a total order without the single-task
    global window — the cumulative-distribution primitive (Lorenz
    curves, Pareto shares, global CDFs) built with the exact two-pass
    shape of :func:`range_partitioned_rank`:

    1. range-partition on ``(order_by, tiebreak)`` and lazily
       local-checkpoint the (row -> partition) assignment (the forked
       exchange re-sampling hazard documented above);
    2. per-partition totals of ``value`` fold into per-partition prefix
       OFFSETS through a broadcast non-equi self-join over the
       O(P)-row totals frame — a plan, not a collect;
    3. within each partition an ordinary partitioned running-sum window
       adds the local prefix: ``global = offset[p] + local``.

    ``value`` is one column name (emitted as ``out_col``) or a dict
    ``{out_col: value_col}`` — MULTIPLE prefix sums share the one range
    exchange, one checkpoint, and one ordered window (e.g. a running
    revenue next to a running row count = global rank, as
    ``customer_revenue_pareto`` does). Values must be EXACT types
    (integer/decimal — the point of a distributed prefix sum is
    exactness; float accumulation order would make the result
    partitioning-dependent, quantize first as pagerank/CUSUM do).
    ``(order_by, tiebreak)`` must totally order the rows, exactly as a
    single ``SUM() OVER (ORDER BY ...)`` would require for
    deterministic output. Largest task holds ~N/num_partitions rows."""
    order_by = [str(c) for c in order_by]
    tiebreak = [str(c) for c in tiebreak]
    values = value if isinstance(value, dict) else {out_col: value}
    keys = [*order_by, *tiebreak]
    parts = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "200"
    )
    ranged = df.repartitionByRange(int(parts), *[F.col(c) for c in keys])
    tagged = ranged.withColumn("__pid", F.spark_partition_id()).transform(lineage_cut)
    totals = tagged.groupBy("__pid").agg(
        *[F.sum(F.col(v)).alias(f"__pt_{o}") for o, v in values.items()]
    )
    other = totals.select(
        F.col("__pid").alias("__q"),
        *[F.col(f"__pt_{o}").alias(f"__qt_{o}") for o in values],
    )
    offsets = (
        totals.crossJoin(F.broadcast(other))
        .groupBy("__pid")
        .agg(
            *[
                F.coalesce(
                    F.sum(
                        F.when(F.col("__q") < F.col("__pid"), F.col(f"__qt_{o}"))
                    ),
                    F.lit(0),
                ).alias(f"__off_{o}")
                for o in values
            ]
        )
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*[F.col(c).asc() for c in keys])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = tagged.join(F.broadcast(offsets), "__pid")
    for o, v in values.items():
        out = out.withColumn(o, F.col(f"__off_{o}") + F.sum(F.col(v)).over(w))
    return out.drop("__pid", *[f"__off_{o}" for o in values])
