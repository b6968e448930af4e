"""Query catalog: every operator from SURVEY.md §2 as a named (spark_fn,
oracle_sql) pair over the driver's testdata tables.

The driver runs each Spark query AND its DuckDB oracle at sf0.01 and compares
row count + schema + order-insensitive value hash. Design rules that make the
hashes match exactly (not approximately):

- **Decimal-exact aggregation.** Floating SUM/AVG is accumulation-order
  dependent; Spark's partial-agg order is nondeterministic across partitions.
  Every money aggregate therefore sums in DECIMAL (exact, associative — the
  same value on 1 partition or 10,000) and casts the final value to double:
  one deterministic rounding, identical in Spark and DuckDB.
- **Integral columns** (l_quantity, counts, years) are exact in double, so
  plain AVG/SUM are already deterministic.
- **Medians only over integral columns** — Spark ``percentile`` and DuckDB
  ``quantile_cont`` both interpolate; over integers the midpoint arithmetic
  is exact in both, so formula differences cannot surface.
- **Deterministic tie-breaks** on every row_number / top-k.
- **Timestamps leave as strings or dates** (``date_format`` ↔ ``strftime``)
  to dodge engine timezone/typing differences.
- Explicit BIGINT/INTEGER/DOUBLE casts on both sides so schemas line up.

Each docstring cites the reference operator(s) it reproduces (SURVEY §2 ids
+ /root/reference file:line).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.functions import dsum, davg, sentinel_int
from f1_data_engineering_machine_learning_spark.operators import (
    anti_join,
    asof_filter,
    conditional_avg,
    conditional_count,
    conditional_median,
    current_period_filter,
    dedup_keep_last,
    exact_median,
    label_join,
    pivot_agg,
    semi_join,
    scoped_agg_fanout,
    top1_per_group,
    trailing_window_filter,
)

#: snapshot cutoff used by the point-in-time / trailing / current-period
#: queries (order dates span 1995-01..2001-08)
CUTOFF = "1998-06-30"

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # pin the session tz so date extraction from timestamps matches the
    # (naive) DuckDB oracle even under a non-UTC driver session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with ``ts`` normalized to a microsecond TimestampType.

    The testdata writes ``ts`` as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects outright; with
    ``spark.sql.legacy.parquet.nanosAsLong`` it surfaces as a long of
    epoch-nanos, converted here via ``timestamp_micros(ns / 1000)`` —
    truncation, matching DuckDB's ns->us behavior."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = _t(spark, sf_dir, "events")
    if dict(ev.dtypes)["ts"] in ("bigint", "long"):
        ev = ev.withColumn(
            "ts", F.timestamp_micros(F.floor(F.col("ts") / F.lit(1000)).cast("long"))
        )
    return ev


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


#: Queries surfaced FIRST by ``queries()``. The external correctness
#: gate snapshots the first 50 entries in iteration order; every oracled
#: entry has been hard-verified at least once (only the rows-only
#: embedding_lsh_topk stays out by design). The gate rotates by evidence
#: freshness, MACHINE-DERIVED via tools/gate_basis.py: exactly the first
#: 50 oracled queries sorted by (newest driver round with a CORRECTNESS
#: row, name), computed from the committed CORRECTNESS_r*.json files and
#: snapshotted in GATE_BASIS_r13.json (repo root). tests/test_catalog.py::
#: test_gate_priority_queries_in_first_50 recomputes the set from that
#: basis file and fails on any drift. Slots 1-2 are the two queries
#: added after the last rotation (never driver-gated); slots 3-5 the
#: stalest-evidence tier; slots 6-50 the 45 alphabetically-first entries
#: of the next-stalest tier. embedding_lsh_topk stays past the cutoff by design: the catalog's
#: one rows-only entry (MLlib hyperplanes aren't SQL-reproducible; its
#: recall contract is pytest-oracled), kept out so every gated row is
#: a full value oracle. Everything not listed keeps registration
#: (file) order behind these; total content is identical.
_GATE_PRIORITY = [
    # -- slots 1-2: never driver-gated (added after the last rotation) --
    "lang_vocab_overlap_kmv",
    "order_price_mrl_quantiles",
    # -- slots 3-5: the stalest-evidence tier --
    "user_state_cdc",
    "weekly_distinct_users_bitmap",
    "winsorized_quantity_stats",
    # -- slots 6-50: the 45 alphabetically-first next-stalest entries --
    "benchmark_contamination_docs",
    "big_quantity_orders",
    "bigram_collocations",
    "brand_price_size_slope",
    "click_next_purchase",
    "corpus_mixture_sample",
    "customer_cohort_retention",
    "customer_order_gaps",
    "customer_time_weighted_balance",
    "daily_user_value_gapfill",
    "daily_user_value_interpolated",
    "disjunctive_part_revenue",
    "doc_chunks_overlap",
    "doc_media_features",
    "doc_repetition_profile",
    "doc_stratified_split_exact",
    "embedding_int8_quantized",
    "excess_shipper_suppliers",
    "f1_abt_fixture",
    "idle_high_balance_by_nation",
    "incremental_exact_dedup_docs",
    "incremental_minhash_pairs_docs",
    "kanonymity_customer_segments",
    "lang_token_cms_estimates",
    "late_shipment_priority_counts",
    "ldiversity_customer_segments",
    "lineitem_correlation_matrix",
    "lineitem_price_equidepth_hist_ranked",
    "lineitem_quantity_percentiles_ranked",
    "nation_market_share",
    "nation_year_profit",
    "orders_in_quarter_ranges",
    "preferred_daily_event",
    "promo_revenue_share",
    "returned_revenue_customers",
    "segment_priority_chisq",
    "signup_conversion_lag_quantiles",
    "signup_purchase_funnel",
    "similar_customer_names",
    "sliding_event_counts",
    "small_lot_part_revenue",
    "term_posting_lists",
    "token_cms_estimates",
    "top_parts_per_brand_ranked",
    "top_supplier_by_revenue",
    # -- rows-only entry, intentionally past the 50-slot cutoff --
    "embedding_lsh_topk",
]


def queries() -> dict[str, QueryFn]:
    front = {n: _QUERIES[n] for n in _GATE_PRIORITY if n in _QUERIES}
    rest = {n: fn for n, fn in _QUERIES.items() if n not in front}
    return {**front, **rest}


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


def _cond_dsum(cond: Column, col: Column, scale: int = 2) -> Column:
    """Conditional deterministic sum: SUM(CASE WHEN cond THEN decimal(x) END)."""
    return F.sum(F.when(cond, col.cast(f"decimal(30,{scale})"))).cast("double")


def _cond_davg(cond: Column, col: Column, scale: int = 2) -> Column:
    """Conditional deterministic avg (exact decimal sum / non-null count)."""
    return (
        F.sum(F.when(cond, col.cast(f"decimal(30,{scale})"))).cast("double")
        / F.count(F.when(cond, col))
    ).cast("double")


# ---------------------------------------------------------------------------
# Relational core (SURVEY §2.2-2.7)
# ---------------------------------------------------------------------------


@query(
    "top_customer_per_year",
    f"""
    WITH rev AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
             o.o_custkey AS o_custkey,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_year ORDER BY revenue DESC, o_custkey) AS rn
      FROM rev
    )
    SELECT o_year, o_custkey, revenue FROM ranked WHERE rn = 1
    """,
)
def top_customer_per_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP — the champions pattern (A1 + W1 + P8 + J1):
    top customer by lineitem revenue per order-year.
    Reference: /root/reference/sql/champions.sql:1-25 (SUM + ROW_NUMBER
    PARTITION BY year + rn=1), transposed to the testdata star schema.
    Tie-break deterministic by customer key (the reference's tie is
    nondeterministic — SURVEY §2.5 W1)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.col("o_custkey"),
        )
        .agg(dsum("l_extendedprice").alias("revenue"))
    )
    return top1_per_group(rev, ["o_year"], [F.desc("revenue"), F.col("o_custkey")])


@query(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS count_order,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(AVG(l_quantity) AS DOUBLE) AS avg_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE)
                / COUNT(l_extendedprice) AS DOUBLE) AS avg_price
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary (P3 + A1-A5 + F8): filter pushdown to
    the scan, one map-side-combinable groupBy. Covers SUM over derived
    expressions (/root/reference/sql/feature_store_drivers.sql:43 computes
    AVG(GridPosition - Position) the same way)."""
    li = _t(spark, sf_dir, "lineitem")
    price_dec = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_dec = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.filter(F.to_date("l_shipdate") <= F.lit("2000-12-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("count_order"),
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(price_dec * (F.lit(1) - disc_dec)).cast("double").alias("sum_disc_price"),
            F.avg("l_quantity").cast("double").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
        )
    )


@query(
    "asof_order_snapshot",
    f"""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS qtd_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total_spend,
           strftime(MAX(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS last_order_date
    FROM orders
    WHERE CAST(o_orderdate AS DATE) <= DATE '{CUTOFF}'
    GROUP BY o_custkey
    """,
)
def asof_order_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time snapshot gate (P3 + A2 + A8): per-customer history as of
    CUTOFF. Reference: /root/reference/sql/feature_store_drivers.sql:16
    (``TO_DATE(TO_TIMESTAMP(date)) <= '{date}'``) + lifetime aggregates."""
    o = asof_filter(_t(spark, sf_dir, "orders"), "o_orderdate", CUTOFF)
    return o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("qtd_orders"),
        dsum("o_totalprice").alias("total_spend"),
        F.date_format(F.max(F.to_date("o_orderdate")), "yyyy-MM-dd").alias(
            "last_order_date"
        ),
    )


@query(
    "trailing_year_orders",
    f"""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS qtd_orders_1y,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total_spend_1y
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >= DATE '{CUTOFF}' - INTERVAL 1 YEAR
      AND CAST(o_orderdate AS DATE) <= DATE '{CUTOFF}'
    GROUP BY o_custkey
    """,
)
def trailing_year_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing calendar-year window (P4): calendar INTERVAL arithmetic, not
    365-day (/root/reference/sql/feature_store_drivers.sql:27,88)."""
    o = trailing_window_filter(_t(spark, sf_dir, "orders"), "o_orderdate", CUTOFF, 1)
    return o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("qtd_orders_1y"),
        dsum("o_totalprice").alias("total_spend_1y"),
    )


@query(
    "current_year_orders",
    f"""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS qtd_orders_cur,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total_spend_cur
    FROM orders
    WHERE year(CAST(o_orderdate AS DATE)) >= year(DATE '{CUTOFF}')
      AND CAST(o_orderdate AS DATE) <= DATE '{CUTOFF}'
    GROUP BY o_custkey
    """,
)
def current_year_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current-period predicate (P5):
    /root/reference/sql/feature_store_drivers.sql:118."""
    o = current_period_filter(_t(spark, sf_dir, "orders"), "o_orderdate", CUTOFF)
    return o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("qtd_orders_cur"),
        dsum("o_totalprice").alias("total_spend_cur"),
    )


@query(
    "conditional_supplier_stats",
    """
    SELECT l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS qtd_lines,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS qtd_return,
           CAST(AVG(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS DOUBLE) AS avg_qty_f,
           CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS med_qty,
           CAST(quantile_cont(CASE WHEN l_returnflag = 'R' THEN l_quantity END, 0.5) AS DOUBLE) AS med_qty_r
    FROM lineitem
    GROUP BY l_suppkey
    """,
)
def conditional_supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional count / NULL-skipping conditional AVG / exact + conditional
    median (A3, A5, A6): the feature-store aggregate vocabulary
    (/root/reference/sql/feature_store_drivers.sql:35-57). Exact
    ``percentile`` (not approx) ↔ DuckDB ``quantile_cont`` — SURVEY §7
    'hard parts' (a)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("qtd_lines"),
        conditional_count(F.col("l_returnflag") == "R").cast("long").alias("qtd_return"),
        conditional_avg(F.col("l_linestatus") == "F", F.col("l_quantity"))
        .cast("double")
        .alias("avg_qty_f"),
        exact_median("l_quantity").cast("double").alias("med_qty"),
        conditional_median(F.col("l_returnflag") == "R", F.col("l_quantity"))
        .cast("double")
        .alias("med_qty_r"),
    )


@query(
    "customer_scope_fanout",
    f"""
    SELECT o_custkey,
           CAST(SUM(1) AS BIGINT) AS qtdLife,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS totalLife,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
                / COUNT(o_totalprice) AS DOUBLE) AS avgSpendLife,
           CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '{CUTOFF}' - INTERVAL 1 YEAR
                         THEN 1 ELSE 0 END) AS BIGINT) AS qtd1y,
           CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '{CUTOFF}' - INTERVAL 1 YEAR
                         THEN CAST(o_totalprice AS DECIMAL(30,2)) END) AS DOUBLE) AS total1y,
           CAST(CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '{CUTOFF}' - INTERVAL 1 YEAR
                              THEN CAST(o_totalprice AS DECIMAL(30,2)) END) AS DOUBLE)
                / COUNT(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '{CUTOFF}' - INTERVAL 1 YEAR
                             THEN o_totalprice END) AS DOUBLE) AS avgSpend1y,
           CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) >= year(DATE '{CUTOFF}')
                         THEN 1 ELSE 0 END) AS BIGINT) AS qtdCur,
           CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) >= year(DATE '{CUTOFF}')
                         THEN CAST(o_totalprice AS DECIMAL(30,2)) END) AS DOUBLE) AS totalCur,
           CAST(CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) >= year(DATE '{CUTOFF}')
                              THEN CAST(o_totalprice AS DECIMAL(30,2)) END) AS DOUBLE)
                / COUNT(CASE WHEN year(CAST(o_orderdate AS DATE)) >= year(DATE '{CUTOFF}')
                             THEN o_totalprice END) AS DOUBLE) AS avgSpendCur
    FROM orders
    WHERE CAST(o_orderdate AS DATE) <= DATE '{CUTOFF}'
    GROUP BY o_custkey
    """,
)
def customer_scope_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-scope aggregate fan-out (A10 + J1) in SINGLE-PASS scale mode.

    The reference computes lifetime / trailing-1y / current-season aggregate
    blocks as 3 separate GROUP BYs left-joined on the key
    (/root/reference/sql/feature_store_drivers.sql:30-120,168-170) — 3
    shuffles + 2 joins. Here each scope is a CASE-WHEN guard inside one
    aggregate pass: 1 shuffle, 0 joins, identical NULL semantics (scope with
    no rows → NULL, like the reference's join miss). SURVEY §7 step 3 scale
    mode."""
    o = asof_filter(_t(spark, sf_dir, "orders"), "o_orderdate", CUTOFF)
    d = F.to_date("o_orderdate")
    cut = F.lit(CUTOFF).cast("date")
    scopes = {
        "Life": F.lit(True),
        "1y": d >= cut - F.expr("INTERVAL 1 YEAR"),
        "Cur": F.year(d) >= F.year(cut),
    }
    price = F.col("o_totalprice")
    aggs = {
        "qtd": lambda c: conditional_count(c).cast("long"),
        "total": lambda c: _cond_dsum(c, price),
        "avgSpend": lambda c: _cond_davg(c, price),
    }
    out = scoped_agg_fanout(o, ["o_custkey"], scopes, aggs)
    # reorder to scope-major layout to match the oracle's column list
    cols = ["o_custkey"] + [f"{a}{s}" for s in scopes for a in aggs]
    return out.select(*cols)


@query(
    "recent_customer_semi",
    f"""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_custkey IN (
      SELECT o_custkey FROM orders
      WHERE CAST(o_orderdate AS DATE) >= DATE '{CUTOFF}' - INTERVAL 1 YEAR
        AND CAST(o_orderdate AS DATE) <= DATE '{CUTOFF}'
    )
    """,
)
def recent_customer_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi membership join (J5): the reference's ``DriverId IN (SELECT
    ...)`` active-driver restriction
    (/root/reference/sql/feature_store_drivers.sql:59,87,117). The membership
    set is aggregated-small → broadcast."""
    c = _t(spark, sf_dir, "customer")
    recent = (
        trailing_window_filter(_t(spark, sf_dir, "orders"), "o_orderdate", CUTOFF, 1)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return semi_join(c, recent, "c_custkey", broadcast_right=True).select(
        "c_custkey", "c_name", "c_acctbal"
    )


@query(
    "lapsed_customer_anti",
    f"""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND CAST(o.o_orderdate AS DATE) >= DATE '{CUTOFF}' - INTERVAL 1 YEAR
        AND CAST(o.o_orderdate AS DATE) <= DATE '{CUTOFF}'
    )
    """,
)
def lapsed_customer_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti complement of the membership join: customers with NO order in
    the trailing year (no reference counterpart; completes the J5 family —
    SURVEY §2.3)."""
    c = _t(spark, sf_dir, "customer")
    recent = (
        trailing_window_filter(_t(spark, sf_dir, "orders"), "o_orderdate", CUTOFF, 1)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return anti_join(c, recent, "c_custkey", broadcast_right=True).select(
        "c_custkey", "c_name"
    )


@query(
    "top_customer_label",
    f"""
    WITH rev AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year, o.o_custkey,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ), winners AS (
      SELECT DISTINCT o_custkey FROM (
        SELECT o_custkey, ROW_NUMBER() OVER (
          PARTITION BY o_year ORDER BY revenue DESC, o_custkey) AS rn
        FROM rev) WHERE rn = 1
    )
    SELECT c.c_custkey,
           CASE WHEN w.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS fl_top
    FROM customer c LEFT JOIN winners w ON c.c_custkey = w.o_custkey
    """,
)
def top_customer_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label join + existence flag (J3 + J4): decorate every customer with a
    binary was-ever-top-customer label — the ABT label semantics
    (/root/reference/sql/abt_champions.sql:16-21, ``flChamp``). Winner set is
    tiny by construction → broadcast left join."""
    c = _t(spark, sf_dir, "customer")
    winners = top_customer_per_year(spark, sf_dir).select("o_custkey").distinct()
    return label_join(
        c, winners, c.c_custkey == winners.o_custkey, "fl_top", "o_custkey"
    ).select("c_custkey", "fl_top")


@query(
    "dedup_keep_last_events",
    """
    SELECT user_id, event_type, event_id, CAST(value AS DOUBLE) AS value
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dedup_keep_last_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup keep-LAST (M9): pandas ``drop_duplicates(keep='last')``
    (/root/reference/scripts/05_ml_model.py:441) as row_number over the
    reversed total order — plain dropDuplicates has no order guarantee."""
    ev = _events(spark, sf_dir)
    return dedup_keep_last(ev, ["user_id", "event_type"], ["ts", "event_id"]).select(
        "user_id", "event_type", "event_id", F.col("value").cast("double").alias("value")
    )


@query(
    "pivot_event_counts",
    """
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events
    GROUP BY user_id
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long->wide pivot (M8): pandas ``pivot().fillna(0)``
    (/root/reference/scripts/05_ml_model.py:444-448). Explicit value list —
    no discovery job, bounded width (module docstring of operators.reshape)."""
    ev = _events(spark, sf_dir)
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = pivot_agg(ev, ["user_id"], "event_type", kinds, F.count(F.lit(1)), fill=0)
    return out.select("user_id", *[F.col(k).cast("long").alias(k) for k in kinds])


@query(
    "sentinel_cast_props",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(COALESCE(TRY_CAST(TRY_CAST(regexp_extract(props, '[0-9]+') AS FLOAT)
                                      AS INTEGER), 99)) AS BIGINT) AS sum_k,
           CAST(SUM(COALESCE(TRY_CAST(TRY_CAST(event_type AS FLOAT) AS INTEGER), 99))
                AS BIGINT) AS sum_sentinel
    FROM events
    GROUP BY event_type
    """,
)
def sentinel_cast_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentinel cast (P2): ``COALESCE(INT(FLOAT(x)), 99)`` — the reference's
    DNF-position handling (/root/reference/sql/feature_store_drivers.sql:5-6).
    ``sum_k`` parses a numeric substring; ``sum_sentinel`` exercises the
    unparseable path (always 99)."""
    ev = _events(spark, sf_dir)
    k = sentinel_int(F.regexp_extract("props", "[0-9]+", 0))
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).cast("long").alias("sum_k"),
        F.sum(sentinel_int(F.col("event_type"))).cast("long").alias("sum_sentinel"),
    )


@query(
    "distinct_event_days",
    """
    SELECT DISTINCT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date
    FROM events
    """,
)
def distinct_event_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT dimension extraction (A9): the reference's event-date /
    active-driver dims (/root/reference/sql/feature_store_drivers.sql:19-28,
    /root/reference/scripts/03_feature_store.py:33)."""
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("event_date"),
    ).distinct()


@query(
    "rollup_lineitem_counts",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (no reference counterpart — SURVEY §2.4 notes the
    gap; added for engine completeness). Subtotals + grand total in one
    pass."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").cast("double").alias("sum_qty"),
    )


@query(
    "price_quantity_correlation",
    """
    WITH comp AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_x,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_y,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_xy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_x2,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_y2
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n, sum_x, sum_y, sum_xy,
           CAST((n * sum_xy - sum_x * sum_y)
                / (sqrt(n * sum_x2 - sum_x * sum_x)
                   * sqrt(n * sum_y2 - sum_y * sum_y)) AS DOUBLE) AS corr_qty_price
    FROM comp
    """,
)
def price_quantity_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed Pearson correlation: the moment components
    (n, Σx, Σy, Σxy, Σx², Σy²) accumulate in DECIMAL — exact and
    order-independent — and the final coefficient is one deterministic
    double expression over identical components on both engines. (Built-in
    ``corr`` accumulates in floating point and drifts with partitioning —
    unusable under an exact-match gate; this is the decomposition that
    makes second-order statistics reproducible at any scale.) The
    oracle's product sums cast to DOUBLE via VARCHAR: once a decimal's
    scaled integer exceeds 2^53 (squares of prices do), DuckDB's direct
    decimal->double cast double-rounds (int128 then /10^scale) and can
    land 1 ulp off the JVM's correctly-rounded cast — the string route
    is correctly rounded in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    comp = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sum_x"),
        F.sum(y).cast("double").alias("sum_y"),
        F.sum(x * y).cast("double").alias("sum_xy"),
        F.sum(x * x).cast("double").alias("sum_x2"),
        F.sum(y * y).cast("double").alias("sum_y2"),
    )
    n = F.col("n")
    corr = (
        (n * F.col("sum_xy") - F.col("sum_x") * F.col("sum_y"))
        / (
            F.sqrt(n * F.col("sum_x2") - F.col("sum_x") * F.col("sum_x"))
            * F.sqrt(n * F.col("sum_y2") - F.col("sum_y") * F.col("sum_y"))
        )
    ).cast("double")
    return comp.select(
        "l_returnflag", "n", "sum_x", "sum_y", "sum_xy",
        corr.alias("corr_qty_price"),
    )


@query(
    "cube_order_counts",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INTEGER)
             AS grouping_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets with a GROUPING() disambiguator (no reference
    counterpart — completes the grouping-sets family with rollup). The
    grouping id distinguishes a real NULL key from a subtotal row."""
    o = _t(spark, sf_dir, "orders")
    gid = (
        F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")
    ).cast("int")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        gid.alias("grouping_id"),
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice").alias("total"),
    )


@query(
    "quantile_spread_by_flag",
    """
    SELECT l_returnflag,
           CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE) AS q25,
           CAST(quantile_cont(l_quantity, 0.50) AS DOUBLE) AS q50,
           CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE) AS q75,
           CAST(quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25)
                AS DOUBLE) AS iqr
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def quantile_spread_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-fraction exact percentiles (q25/q50/q75 + IQR) — generalizes
    the reference's median-only surface
    (/root/reference/sql/feature_store_drivers.sql:46). Exact over the
    integral quantity column, so quarter-point interpolation is
    engine-identical."""
    li = _t(spark, sf_dir, "lineitem")
    # ONE array-fraction percentile per group (one value->count map +
    # one sort for all three quarter points) instead of one aggregate
    # per fraction — identical interpolation, bitwise-same output
    # (dataops/quality.py::exact_percentiles has the measured 5.4x)
    qp = F.percentile(
        "l_quantity", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(qp.alias("__q"))
        .select(
            "l_returnflag",
            F.col("__q")[0].cast("double").alias("q25"),
            F.col("__q")[1].cast("double").alias("q50"),
            F.col("__q")[2].cast("double").alias("q75"),
            (F.col("__q")[2] - F.col("__q")[0]).cast("double").alias("iqr"),
        )
    )


@query(
    "running_customer_spend",
    """
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_spend
    FROM orders
    """,
)
def running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative windowed aggregate with an explicit ROWS frame (no reference
    counterpart — reference uses only ROW_NUMBER, SURVEY §2.5; this is the
    window-native alternative to its per-snapshot re-aggregation)."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
        .over(w)
        .cast("double")
        .alias("cum_spend"),
    )


@query(
    "string_filter_orders",
    f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o_orderdate AS DATE) <= DATE '{CUTOFF}'
      AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def string_filter_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-string predicate filter (P7): the reference passes raw SQL
    strings to ``df.filter`` (/root/reference/scripts/03_feature_store.py:31,
    /root/reference/scripts/05_ml_model.py:305) — identical mechanism
    here, parsed by Catalyst into the same pushed-down predicates."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(
            f"to_date(o_orderdate) >= '1997-01-01' AND "
            f"to_date(o_orderdate) <= '{CUTOFF}' AND o_orderstatus = 'F'"
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("total"),
        )
    )


@query(
    "selected_pairs_inner_join",
    """
    WITH pairs AS (
      SELECT DISTINCT o_custkey, CAST(year(o_orderdate) AS INTEGER) AS o_year
      FROM orders WHERE o_totalprice > 400000
    )
    SELECT o.o_orderkey, o.o_custkey,
           CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders o
    JOIN pairs p ON o.o_custkey = p.o_custkey
                AND CAST(year(o.o_orderdate) AS INTEGER) = p.o_year
    """,
)
def selected_pairs_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner join on a composite (entity, period) key (J6): the reference's
    train/test merge attaches sampled driver-years back to their rows
    (/root/reference/scripts/05_ml_model.py:79-80). The pair set is small
    and aggregated -> broadcast."""
    o = _t(spark, sf_dir, "orders")
    o_year = F.year("o_orderdate").cast("int")
    pairs = (
        o.filter(F.col("o_totalprice") > 400000)
        .select("o_custkey", o_year.alias("o_year"))
        .distinct()
    )
    return (
        o.withColumn("o_year", o_year)
        .join(F.broadcast(pairs), ["o_custkey", "o_year"], "inner")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_year",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
    )


@query(
    "loyal_customers_intersect",
    """
    SELECT o_custkey FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1997
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1998
    """,
)
def loyal_customers_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op (SURVEY §2.7 notes the reference has none):
    customers active in both 1997 and 1998."""
    o = _t(spark, sf_dir, "orders")
    yr = F.year(F.to_date("o_orderdate"))
    y97 = o.filter(yr == 1997).select("o_custkey")
    y98 = o.filter(yr == 1998).select("o_custkey")
    return y97.intersect(y98)


@query(
    "churned_customers_except",
    """
    SELECT o_custkey FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1997
    EXCEPT
    SELECT o_custkey FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1998
    """,
)
def churned_customers_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set op (absent from the reference, SURVEY §2.7): customers
    active in 1997 but not 1998."""
    o = _t(spark, sf_dir, "orders")
    yr = F.year(F.to_date("o_orderdate"))
    y97 = o.filter(yr == 1997).select("o_custkey")
    y98 = o.filter(yr == 1998).select("o_custkey")
    # subtract = EXCEPT DISTINCT (set semantics); exceptAll would keep
    # leftover multiset copies of keys present in both years
    return y97.subtract(y98)


@query(
    "rolling_90d_spend",
    """
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) OVER (
             PARTITION BY o_custkey
             ORDER BY CAST(o_orderdate AS DATE)
             RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS spend_90d
    FROM orders
    """,
)
def rolling_90d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-interval ROLLING window as a window FUNCTION — the
    alternative SURVEY §2.5 notes the reference lacks (its 'rolling'
    features are re-aggregation per snapshot). Spark's rangeBetween needs a
    numeric ordering, so the date is projected to epoch days; DuckDB uses
    RANGE ... INTERVAL directly — same frame, same rows."""
    o = _t(spark, sf_dir, "orders")
    days = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(days)
        .rangeBetween(-90, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
        .over(w)
        .cast("double")
        .alias("spend_90d"),
    )


@query(
    "event_props_json",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT), 0))
                AS BIGINT) AS sum_k,
           CAST(MAX(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON column extraction (`get_json_object` ↔ DuckDB
    `json_extract_string`) — the props payload parsed and aggregated
    JVM-side, no UDF. Beyond the reference's scalar surface (no JSON ops,
    SURVEY §2.8)."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").try_cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.coalesce(k, F.lit(0))).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "customer_order_sequence",
    """
    SELECT o_custkey, o_orderkey,
           CAST(ROW_NUMBER() OVER w AS INTEGER) AS seq,
           CAST(RANK() OVER (PARTITION BY o_custkey
                             ORDER BY CAST(o_orderdate AS DATE)) AS INTEGER) AS date_rank,
           CAST(datediff('day',
                lag(CAST(o_orderdate AS DATE)) OVER w,
                CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_prev,
           strftime(first_value(CAST(o_orderdate AS DATE)) OVER w, '%Y-%m-%d')
             AS first_order_date,
           CAST(NTILE(4) OVER (PARTITION BY o_custkey
                               ORDER BY CAST(o_totalprice AS DECIMAL(18,2)),
                                        o_orderkey) AS INTEGER) AS price_quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
    """,
)
def customer_order_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window breadth beyond the reference's single ROW_NUMBER
    (SURVEY §2.5 notes the gap): row_number, rank (with ties), lag deltas,
    first_value, ntile — one window pass, deterministic orderings."""
    o = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    w = Window.partitionBy("o_custkey").orderBy(d, "o_orderkey")
    w_date = Window.partitionBy("o_custkey").orderBy(d)
    w_price = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").cast("decimal(18,2)"), "o_orderkey"
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("seq"),
        F.rank().over(w_date).alias("date_rank"),
        F.datediff(d, F.lag(d).over(w)).alias("days_since_prev"),
        F.date_format(F.first(d).over(w), "yyyy-MM-dd").alias("first_order_date"),
        F.ntile(4).over(w_price).alias("price_quartile"),
    )


@query(
    "customer_name_strings",
    """
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           substring(c_name, 1, 8) AS name_prefix,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
           replace(c_name, '#', '-') AS name_dashed,
           concat_ws('|', c_mktsegment, trim(c_name)) AS seg_name,
           CAST(length(c_name) AS INTEGER) AS name_len,
           CAST(position('#' IN c_name) AS INTEGER) AS hash_pos
    FROM customer
    """,
)
def customer_name_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function breadth (beyond the reference's scalar surface,
    SURVEY §2.8 notes no string ops): case, substring, pad, replace,
    concat_ws, length, position — all codegen expressions."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.regexp_replace("c_name", "#", "-").alias("name_dashed"),
        F.concat_ws("|", F.col("c_mktsegment"), F.trim(F.col("c_name"))).alias(
            "seg_name"
        ),
        F.length("c_name").cast("int").alias("name_len"),
        F.instr(F.col("c_name"), "#").cast("int").alias("hash_pos"),
    )


@query(
    "regional_supplier_volume",
    """
    SELECT r.r_name, n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE year(CAST(o.o_orderdate AS DATE)) = 1997
    GROUP BY r.r_name, n.n_name
    """,
)
def regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped 5-way star join: fact (lineitem) against a chain of
    shrinking dimensions (orders-filtered year, supplier, nation, region).
    The dims are broadcast (verified in tests: >=3 BroadcastHashJoins, no
    sort-merge) so the fact table is never shuffled for the join — the
    pattern that survives a 100x fact-table scale-up unchanged."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        F.year(F.to_date("o_orderdate")) == 1997
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"),
        )
    )


@query(
    "brand_share_of_revenue",
    """
    SELECT p.p_brand,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS brand_revenue,
           CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                         THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(4,2))) END)
                AS DOUBLE) AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def brand_share_of_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-flavored: fact x broadcast part dim with a conditional
    (LIKE-guarded) revenue aggregate — string predicate pushed into the
    aggregation, NULL when a brand has no promo lines."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    rev = price * (F.lit(1) - disc)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(rev).cast("double").alias("brand_revenue"),
            F.sum(F.when(F.col("p_type").like("PROMO%"), rev))
            .cast("double")
            .alias("promo_revenue"),
        )
    )


@query(
    "top_urgent_order_revenue",
    """
    SELECT o.o_orderkey, o.o_custkey, o.o_orderpriority,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o.o_orderkey, o.o_custkey, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def top_urgent_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: selective dimension filter -> fact join -> per-order
    revenue -> global top-10 (TakeOrderedAndProject after the aggregate —
    only 10 rows ever reach the driver side of the final exchange)."""
    from f1_data_engineering_machine_learning_spark.operators.windows import topk

    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    rev = (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_custkey", "o_orderpriority")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
    )
    return topk(rev, [F.desc("revenue"), F.col("o_orderkey")], 10)


@query(
    "priority_supplier_diversity",
    """
    SELECT o.o_orderpriority,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS n_suppliers,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def priority_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT DISTINCT over two columns per group (TPC-H-Q16 flavor):
    Catalyst plans multi-distinct via expand — the exact twin of the HLL
    sketch in approx_stats_scale_mode."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count_distinct("l_suppkey").alias("n_suppliers"),
            F.count_distinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "global_top_customers",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 10
    """,
)
def global_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (O4): ``orderBy().limit(k)`` — Spark plans
    TakeOrderedAndProject (per-partition heaps + k-row merge, no full
    sort). The reference does this driver-side in pandas
    (/root/reference/scripts/05_ml_model.py:260-266); here it's
    distributed."""
    from f1_data_engineering_machine_learning_spark.operators.windows import topk

    c = _t(spark, sf_dir, "customer")
    return topk(c, [F.desc("c_acctbal"), F.col("c_custkey")], 10).select(
        "c_custkey", "c_name", "c_acctbal"
    )


@query(
    "union_order_year_slices",
    """
    SELECT * FROM (
      SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
             'early' AS slice
      FROM orders WHERE year(CAST(o_orderdate AS DATE)) <= 1996
      UNION ALL
      SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
             'late' AS slice
      FROM orders WHERE year(CAST(o_orderdate AS DATE)) >= 2000
    )
    """,
)
def union_order_year_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertical union by name (U1/U2): pandas ``pd.concat``
    (/root/reference/scripts/05_ml_model.py:414) as ``unionByName``."""
    from f1_data_engineering_machine_learning_spark.operators.reshape import union_all

    o = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    base = ["o_orderkey", "o_custkey"]
    early = o.filter(F.year(d) <= 1996).select(
        *base, F.col("o_totalprice").cast("double"), F.lit("early").alias("slice")
    )
    late = o.filter(F.year(d) >= 2000).select(
        *base, F.col("o_totalprice").cast("double"), F.lit("late").alias("slice")
    )
    return union_all([early, late])


@query(
    "event_date_expr_join",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ), dim AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, event_type FROM events
      WHERE event_type = 'error'
    )
    SELECT strftime(daily.d, '%Y-%m-%d') AS day, daily.n_events,
           CASE WHEN dim.event_type IS NOT NULL THEN 1 ELSE 0 END AS had_errors
    FROM daily LEFT JOIN dim ON daily.d = dim.d
    """,
)
def event_date_expr_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT join on a date EXPRESSION (J2): the reference joins
    ``TO_DATE(t1.dtRef) = TO_DATE(t4.dtEvent)`` to recover the round number
    (/root/reference/sql/feature_store_drivers.sql:171); here daily counts
    join an error-day dim on the derived date, + existence flag (J4)."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    dim = (
        ev.filter(F.col("event_type") == "error")
        .select(F.to_date("ts").alias("d2"), "event_type")
        .distinct()
    )
    joined = daily.join(F.broadcast(dim), F.col("d") == F.col("d2"), "left")
    return joined.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n_events",
        F.when(F.col("event_type").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias(
            "had_errors"
        ),
    )


@query(
    "pivot_event_avg_value",
    """
    SELECT user_id,
           CAST(CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(30,2)) END) AS DOUBLE)
                / COUNT(CASE WHEN event_type = 'click' THEN value END) AS DOUBLE) AS click,
           CAST(CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(30,2)) END) AS DOUBLE)
                / COUNT(CASE WHEN event_type = 'purchase' THEN value END) AS DOUBLE) AS purchase
    FROM events
    GROUP BY user_id
    """,
)
def pivot_event_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with a value aggregate (M8's ``pivot(values=...)`` form,
    /root/reference/scripts/05_ml_model.py:444-448) — deterministic decimal
    avg inside the pivot cells; NULL cells kept (no fill) to exercise the
    sparse case."""
    ev = _events(spark, sf_dir)
    out = pivot_agg(
        ev,
        ["user_id"],
        "event_type",
        ["click", "purchase"],
        _cond_davg(F.lit(True), F.col("value")),
        fill=None,
    )
    return out.select("user_id", "click", "purchase")


#: snapshot series dates for order_snapshot_series
_SNAP_DATES = [
    "1996-12-31",
    "1997-06-30",
    "1997-12-31",
    "1998-06-30",
    "1998-12-31",
    "1999-06-30",
    "1999-12-31",
    "2000-06-30",
]


@query(
    "order_snapshot_series",
    f"""
    WITH dates(d) AS (
      VALUES {", ".join(f"(DATE '{d}')" for d in _SNAP_DATES)}
    ), expl AS (
      SELECT d.d AS dref, o.o_custkey, o.o_totalprice,
             CAST(o.o_orderdate AS DATE) AS od
      FROM orders o JOIN dates d ON CAST(o.o_orderdate AS DATE) <= d.d
    )
    SELECT strftime(dref, '%Y-%m-%d') AS dtRef, o_custkey,
           CAST(SUM(1) AS BIGINT) AS qtd_life,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total_life,
           CAST(SUM(CASE WHEN od >= dref - INTERVAL 90 DAY THEN 1 END) AS BIGINT)
             AS qtd_90d,
           CAST(SUM(CASE WHEN od >= dref - INTERVAL 90 DAY
                         THEN CAST(o_totalprice AS DECIMAL(30,2)) END) AS DOUBLE)
             AS total_90d
    FROM expl GROUP BY 1, 2
    """,
)
def order_snapshot_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time snapshot SERIES in one pass — the generic engine behind
    the reference's feature store (/root/reference/sql/feature_store_drivers.sql
    + the per-date loop at /root/reference/scripts/spark_ops.py:189-191),
    run in scale mode: per-customer running windows over the orders plus
    one marker row per (customer, snapshot date), all 8 snapshots in one
    pass (plans/snapshot.py)."""
    from f1_data_engineering_machine_learning_spark.plans.snapshot import (
        SnapshotSpec,
        asof,
        scoped_count,
        scoped_sum,
        snapshot_single_pass,
        trailing,
    )

    price = F.col("o_totalprice").cast("decimal(30,2)")
    spec = SnapshotSpec(
        entity_keys=["o_custkey"],
        date_col="o_orderdate",
        scopes={"life": asof(), "90d": trailing("90 DAY")},
        aggs=[
            ("qtd_life", "life", scoped_count()),
            ("total_life", "life", scoped_sum(price)),
            ("qtd_90d", "90d", scoped_count()),
            ("total_90d", "90d", scoped_sum(price)),
        ],
    )
    out = snapshot_single_pass(_t(spark, sf_dir, "orders"), spec, _SNAP_DATES)
    return out.select(
        F.date_format("dtRef", "yyyy-MM-dd").alias("dtRef"),
        "o_custkey",
        F.col("qtd_life").cast("long").alias("qtd_life"),
        F.col("total_life").cast("double").alias("total_life"),
        F.col("qtd_90d").cast("long").alias("qtd_90d"),
        F.col("total_90d").cast("double").alias("total_90d"),
    )


# ---------------------------------------------------------------------------
# Event-stream analytics (batch form of the streaming surface)
# ---------------------------------------------------------------------------


@query(
    "hourly_event_stats",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation, batch form (SURVEY §7 step 7 / §2.10):
    the streaming module reuses this exact aggregation under readStream with
    a watermark. Window emitted as string to dodge engine timestamp-tz
    differences."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_ts"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("total_value"),
        )
    )


@query(
    "sessionize_events",
    """
    WITH flagged AS (
      SELECT user_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    )
    SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions
    FROM flagged GROUP BY user_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization by inactivity gap (>30 min), the lag + cumulative-flag
    idiom (no reference counterpart; batch twin of
    ``F.session_window`` in the streaming module)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull() | (F.col("ts") - prev > F.expr("INTERVAL 30 MINUTES")),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        ev.select("user_id", is_new.alias("is_new"))
        .groupBy("user_id")
        .agg(F.sum("is_new").cast("long").alias("n_sessions"))
    )


# ---------------------------------------------------------------------------
# Documents / text (north-star LLM-data surface, SQL-expressible subset)
# ---------------------------------------------------------------------------


@query(
    "doc_token_stats",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(AVG(len(string_split(text, ' '))) AS DOUBLE) AS avg_tokens,
           CAST(AVG(n_chars) AS DOUBLE) AS avg_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text statistics per language (north-star text-analysis surface):
    whitespace token counts + char stats, all JVM-side expressions (integral
    values → exact in double)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(F.split("text", " "))).cast("double").alias("avg_tokens"),
        F.avg("n_chars").cast("double").alias("avg_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


def _lang_score_sql(lang: str, words: tuple[str, ...]) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return (
        f"CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), "
        f"t -> list_contains({arr}, t))) AS DOUBLE) "
        f"/ len(regexp_split_to_array(text, '\\s+'))"
    )


def _text_profile_oracle() -> str:
    from f1_data_engineering_machine_learning_spark.dataops.text import STOPWORDS

    langs = list(STOPWORDS)
    scores = {
        lang: _lang_score_sql(lang, words) for lang, words in STOPWORDS.items()
    }
    score_cols = ",\n           ".join(
        f"CAST({scores[lang]} AS DOUBLE) AS score_{lang}" for lang in langs
    )
    best = "GREATEST(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    pred = f"CASE WHEN {best} <= 0 THEN 'und' "
    for lang in langs:
        pred += f"WHEN score_{lang} = {best} THEN '{lang}' "
    pred += "ELSE 'und' END"
    return f"""
    WITH base AS (
      SELECT doc_id, text,
             CAST(len(regexp_split_to_array(text, '\\s+')) AS INTEGER) AS n_tokens,
             CAST(len(regexp_extract_all(text,
                  '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_tokens_bpe,
             CAST(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                  AS DOUBLE) / length(text) AS DOUBLE) AS punct_ratio,
             {score_cols}
      FROM documents
    ), scored AS (
      SELECT *, {pred} AS lang_pred,
             CASE WHEN length(text) BETWEEN 50 AND 20000 THEN 1.0
                  WHEN length(text) > 0 THEN 0.5 ELSE 0.0 END AS len_ok,
             CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.3 END AS punct_ok,
             CASE WHEN {best} > 0 THEN 1.0 ELSE 0.2 END AS stop_ok,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
      FROM base
    )
    SELECT doc_id, n_tokens, n_tokens_bpe, punct_ratio,
           {", ".join("score_" + lang for lang in langs)},
           lang_pred,
           CAST((len_ok + punct_ok + stop_ok) / 3.0 AS DOUBLE) AS quality,
           fingerprint
    FROM scored
    """


@query("doc_text_profile", _text_profile_oracle())
def doc_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text analysis (north-star text surface): whitespace +
    BPE-ish token counts, punctuation ratio, per-language stopword scores,
    heuristic language ID, composite quality score, MD5 content
    fingerprint — all JVM-side expressions (dataops/text.py)."""
    from f1_data_engineering_machine_learning_spark.dataops.text import (
        STOPWORDS,
        text_profile,
    )

    docs = _t(spark, sf_dir, "documents")
    prof = text_profile(docs, "text")
    return prof.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_tokens_bpe").cast("int").alias("n_tokens_bpe"),
        "punct_ratio",
        *[f"score_{lang}" for lang in STOPWORDS],
        "lang_pred",
        "quality",
        "fingerprint",
    )


@query(
    "ngram_jaccard_pairs_docs",
    """
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),
             '\\s+', ' ', 'g')), '\\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    END) AS s
      FROM docs
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i, j,
           CAST(CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = i
    JOIN sizes sb ON sb.doc_id = j
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
    """,
)
def ngram_jaccard_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard near-dup pairs >= 0.5 via inverted
    shingle index (north-star dedup; dataops/dedup.py). The testdata plants
    near-duplicates (max pair jaccard ~0.99 vs p99 ~0.03)."""
    from f1_data_engineering_machine_learning_spark.dataops.dedup import (
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5)


@query(
    "minhash_dedup_pairs_docs",
    """
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),
             '\\s+', ' ', 'g')), '\\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    END) AS s
      FROM docs
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i, j,
           CAST(CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = i
    JOIN sizes sb ON sb.doc_id = j
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
    """,
)
def minhash_dedup_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline (candidate buckets -> exact Jaccard
    verification, dataops/dedup.py). The oracle is the EXACT pairwise
    result: with 32 hashes / 8 bands, recall at the planted duplicates'
    similarity (~0.9+) is >0.999, so LSH output == exhaustive output here —
    verified deterministic (hash seeds are fixed)."""
    from f1_data_engineering_machine_learning_spark.dataops.dedup import (
        minhash_dedup_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup_pairs(
        docs, "doc_id", "text", n_hashes=32, bands=8, k=3, verify_threshold=0.5
    )


@query(
    "embedding_cosine_topk",
    """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 20
    ), c AS (
      SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings
    ), scored AS (
      SELECT query_id, neighbor_id,
             CAST(list_reduce(list_transform(list_zip(qv, cv),
                                             p -> p[1] * p[2]), (a, b) -> a + b)
                  / (sqrt(list_reduce(list_transform(qv, x -> x * x), (a, b) -> a + b))
                     * sqrt(list_reduce(list_transform(cv, x -> x * x), (a, b) -> a + b)))
                  AS DOUBLE) AS cosine_sim
      FROM q JOIN c ON query_id != neighbor_id
    ), ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= 5
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for 20 query vectors (north-star
    similarity search baseline, dataops/similarity.py). Dot product as a
    sequential array fold — deterministic accumulation order makes Spark
    and DuckDB agree bitwise."""
    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        cosine_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = cosine_topk(emb.filter(F.col("vec_id") < 20), emb, k=5, dim=64)
    return out.select(
        "query_id", "neighbor_id", "cosine_sim", F.col("rank").cast("int").alias("rank")
    )


@query(
    "doc_constraint_report",
    """
    WITH scalar AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_text,
             CAST(SUM(CASE WHEN lang IS NULL
                            OR lang NOT IN ('en','es','fr','de','zh')
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_lang,
             CAST(SUM(CASE WHEN n_chars IS NULL OR n_chars < 1
                            OR n_chars > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
             CAST(SUM(CASE WHEN NOT (n_chars = length(text)) OR n_chars IS NULL
                            OR text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_len
      FROM documents
    ), uniq AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS v
      FROM (SELECT doc_id, COUNT(*) AS cnt FROM documents GROUP BY doc_id)
    )
    SELECT 'not_null(text)' AS constraint, n AS n_rows, v_text AS n_violations FROM scalar
    UNION ALL SELECT 'in_set(lang)', n, v_lang FROM scalar
    UNION ALL SELECT 'in_range(n_chars)', n, v_range FROM scalar
    UNION ALL SELECT 'n_chars_matches_text', n, v_len FROM scalar
    UNION ALL SELECT 'unique(doc_id)', n, v FROM uniq
    """,
)
def doc_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (dataops/quality.py): five constraints
    over documents evaluated in one aggregation pass (+1 groupBy for the
    uniqueness check) — the guardrail stage of a training-data pipeline."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        check_constraints,
        expr,
        in_range,
        in_set,
        not_null,
        unique,
    )

    docs = _t(spark, sf_dir, "documents")
    return check_constraints(
        docs,
        [
            not_null("text"),
            in_set("lang", ["en", "es", "fr", "de", "zh"]),
            in_range("n_chars", 1, 100000),
            expr(
                "n_chars_matches_text",
                F.col("n_chars").isNotNull()
                & F.col("text").isNotNull()
                & (F.col("n_chars") == F.length("text")),
            ),
            unique("doc_id"),
        ],
    )


@query(
    "orders_column_profile",
    """
    SELECT * FROM (
      SELECT 'o_custkey' AS column, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
             CAST(MIN(o_custkey) AS VARCHAR) AS min_value,
             CAST(MAX(o_custkey) AS VARCHAR) AS max_value
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
             MIN(o_orderstatus), MAX(o_orderstatus)
      FROM orders
      UNION ALL
      SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
             CAST(MIN(o_totalprice) AS VARCHAR), CAST(MAX(o_totalprice) AS VARCHAR)
      FROM orders
    )
    """,
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style table profile (dataops/quality.py::table_profile):
    per-column null/distinct/min/max in one aggregation pass. Doubles are
    stringified via repr-stable formatting on both engines (numeric
    values here are exact)."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import table_profile

    o = _t(spark, sf_dir, "orders")
    return table_profile(o, ["o_custkey", "o_orderstatus", "o_totalprice"])


@query(
    "fk_integrity_audit",
    """
    SELECT 'lineitem.l_orderkey->orders' AS relationship,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS child_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
             WHERE l_orderkey IS NULL) AS null_fks,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
             WHERE l_orderkey IS NOT NULL
               AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
             AS orphan_children,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
             WHERE o_orderkey NOT IN
               (SELECT l_orderkey FROM lineitem WHERE l_orderkey IS NOT NULL))
             AS childless_parents
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
             WHERE l_partkey IS NULL),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
             WHERE l_partkey IS NOT NULL
               AND l_partkey NOT IN (SELECT p_partkey FROM part)),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM part
             WHERE p_partkey NOT IN
               (SELECT l_partkey FROM lineitem WHERE l_partkey IS NOT NULL))
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
             WHERE o_custkey IS NULL),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
             WHERE o_custkey IS NOT NULL
               AND o_custkey NOT IN (SELECT c_custkey FROM customer)),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
             WHERE c_custkey NOT IN
               (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL))
    """,
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key integrity audit across three relationships
    (dataops/quality.py::referential_integrity): orphan children (broken
    references) and childless parents (coverage) per FK edge, as key-only
    anti-joins — the post-ingest consistency gate a 100 TB medallion
    pipeline runs before promoting a bronze batch. The testdata is
    TPC-H-consistent, so orphans are 0 and childless_parents is the
    real signal (customers with no orders, parts never ordered) — both
    sides of the audit are in the value hash."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        referential_integrity,
    )

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part")
    c = _t(spark, sf_dir, "customer")
    edges = [
        referential_integrity(
            li, ["l_orderkey"], o, ["o_orderkey"], "lineitem.l_orderkey->orders"
        ),
        referential_integrity(
            li, ["l_partkey"], p, ["p_partkey"], "lineitem.l_partkey->part"
        ),
        referential_integrity(
            o, ["o_custkey"], c, ["c_custkey"], "orders.o_custkey->customer"
        ),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out


@query(
    "key_skew_report",
    """
    WITH k1 AS (
      SELECT CAST(l_partkey AS VARCHAR) AS k, COUNT(*) AS c
      FROM lineitem GROUP BY 1
    ), k2 AS (
      SELECT CAST(l_orderkey AS VARCHAR) AS k, COUNT(*) AS c
      FROM lineitem GROUP BY 1
    ), k3 AS (
      SELECT CAST(o_custkey AS VARCHAR) AS k, COUNT(*) AS c
      FROM orders GROUP BY 1
    ),
    t1 AS (SELECT k, c FROM k1 ORDER BY c DESC, k DESC LIMIT 1),
    t2 AS (SELECT k, c FROM k2 ORDER BY c DESC, k DESC LIMIT 1),
    t3 AS (SELECT k, c FROM k3 ORDER BY c DESC, k DESC LIMIT 1)
    SELECT 'l_partkey' AS key,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_per_key,
           CAST(MAX(c) AS BIGINT) AS max_per_key,
           CAST(quantile_cont(c, 0.99) AS DOUBLE) AS p99_per_key,
           CAST(MAX(c) AS DOUBLE)
             / (CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
             AS skew_ratio,
           (SELECT k FROM t1) AS top_key,
           (SELECT CAST(c AS BIGINT) FROM t1) AS top_key_n
    FROM k1
    UNION ALL
    SELECT 'l_orderkey', CAST(SUM(c) AS BIGINT), CAST(COUNT(*) AS BIGINT),
           CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
           CAST(MAX(c) AS BIGINT), CAST(quantile_cont(c, 0.99) AS DOUBLE),
           CAST(MAX(c) AS DOUBLE)
             / (CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)),
           (SELECT k FROM t2), (SELECT CAST(c AS BIGINT) FROM t2)
    FROM k2
    UNION ALL
    SELECT 'o_custkey', CAST(SUM(c) AS BIGINT), CAST(COUNT(*) AS BIGINT),
           CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
           CAST(MAX(c) AS BIGINT), CAST(quantile_cont(c, 0.99) AS DOUBLE),
           CAST(MAX(c) AS DOUBLE)
             / (CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)),
           (SELECT k FROM t3), (SELECT CAST(c AS BIGINT) FROM t3)
    FROM k3
    """,
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution skew profiles (dataops/quality.py::
    key_skew_profile) for the three join keys the relational catalog
    shuffles on most — the measurement that justifies (or vetoes)
    salting/AQE-skew handling before a 100 TB join. One count shuffle +
    one tiny aggregate per key; top key is deterministic (max-of-struct,
    key-string tie-break, mirrored by ORDER BY c DESC, k DESC in the
    oracle)."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        key_skew_profile,
    )

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    parts = [
        key_skew_profile(li, ["l_partkey"]),
        key_skew_profile(li, ["l_orderkey"]),
        key_skew_profile(o, ["o_custkey"]),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "lineitem_distinct_stats",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS med_qty,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def lineitem_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT half of the exact/sketch pair (see
    approx_stats_scale_mode): COUNT DISTINCT + exact interpolated median
    per return flag, fully value-oracled. l_quantity is integral so the
    median midpoint arithmetic is exact in both engines. Two aggregation
    passes joined on the 3-row key: count_distinct alongside a percentile
    in one agg plans an Expand that doubles every input row pre-shuffle
    (same trap measured at 13s in approx_stats_scale_mode)."""
    li = _t(spark, sf_dir, "lineitem")
    distinct_half = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
    )
    median_half = li.groupBy("l_returnflag").agg(
        exact_median(F.col("l_quantity").cast("double")).cast("double").alias("med_qty"),
        F.count(F.lit(1)).alias("n"),
    )
    return distinct_half.join(median_half, "l_returnflag").select(
        "l_returnflag", "n_parts", "med_qty", "n"
    )


@query(
    "approx_stats_scale_mode",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS hll_err_ok,
           TRUE AS tdigest_err_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def approx_stats_scale_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB alternates to the exact aggregates: HLL
    ``approx_count_distinct`` (vs COUNT DISTINCT's full shuffle of keys)
    and t-digest ``percentile_approx`` (vs the sort-buffering exact
    percentile), graded against their exact twins IN-QUERY: the output
    carries booleans asserting the HLL estimate is within 5% relative
    error and the approx median within 5% of the exact one. The oracle
    encodes the CLAIM (every group within bounds, i.e. TRUE) and Spark
    computes the FACT — a sketch-accuracy regression flips a value the
    driver hashes. Exact values live in lineitem_distinct_stats."""
    li = _t(spark, sf_dir, "lineitem")
    # two aggregation passes joined on the (3-row) group key: folding
    # count_distinct in with the percentiles would plan an Expand that
    # doubles every input row before the shuffle — measured 13 s vs 2 s
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_quantity", F.lit(0.5), F.lit(10000)).alias(
            "approx_med_qty"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("exact_parts"),
        exact_median(F.col("l_quantity").cast("double")).alias("exact_med_qty"),
    )
    both = approx.join(exact, "l_returnflag")
    rel = lambda a, b: F.abs(a.cast("double") - b.cast("double")) / b.cast("double")
    return both.select(
        "l_returnflag",
        "n",
        (rel(F.col("approx_parts"), F.col("exact_parts")) <= 0.05).alias("hll_err_ok"),
        (rel(F.col("approx_med_qty"), F.col("exact_med_qty")) <= 0.05).alias(
            "tdigest_err_ok"
        ),
    )


@query(
    "vocabulary_top_terms",
    """
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM documents
    ), per_doc AS (
      SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM documents
    ), tc AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS term_count FROM toks GROUP BY token
    ), dc AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_count
      FROM (SELECT DISTINCT doc_id, token FROM per_doc) GROUP BY token
    )
    SELECT tc.token, term_count, doc_count
    FROM tc JOIN dc ON tc.token = dc.token
    ORDER BY term_count DESC, tc.token
    LIMIT 50
    """,
)
def vocabulary_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-50 tokens by term frequency with doc
    frequency (dataops/text.py::vocabulary) — the Zipf-skewed aggregation
    every text pipeline starts with; deterministic (count, token)
    tie-break."""
    from f1_data_engineering_machine_learning_spark.dataops.text import vocabulary

    docs = _t(spark, sf_dir, "documents")
    vocab = vocabulary(docs, "text")
    return vocab.orderBy(F.desc("term_count"), F.col("token")).limit(50)


@query(
    "doc_salient_terms",
    """
    WITH tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
            FROM documents)
      GROUP BY doc_id, token
    ), df AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_count
      FROM (SELECT DISTINCT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
            FROM documents)
      GROUP BY token
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             CAST(CAST(tf.tf AS DOUBLE) * n.n_docs / df.doc_count AS DOUBLE) AS score
      FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, token) AS rn
      FROM scored
    )
    SELECT doc_id, token, score, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= 3
    """,
)
def doc_salient_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document salient terms: top-3 by a log-free tf-idf score
    (``tf * N / doc_freq`` — same ordering as tf-idf for fixed tf, exact
    across engines where ``log`` would differ in ulps). One explode, two
    aggregations, a broadcast-sized term-frequency join."""
    docs = _t(spark, sf_dir, "documents")
    from f1_data_engineering_machine_learning_spark.dataops.text import tokens as _toks

    n_docs = docs.count()
    tok = docs.select("doc_id", F.explode(_toks("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tok.distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_count"))
    )
    scored = tf.join(F.broadcast(dfreq), "token").select(
        "doc_id",
        "token",
        (F.col("tf").cast("double") * F.lit(n_docs) / F.col("doc_count"))
        .cast("double")
        .alias("score"),
    )
    from f1_data_engineering_machine_learning_spark.operators.windows import topk_per_group

    return topk_per_group(
        scored, ["doc_id"], [F.desc("score"), F.col("token")], 3, rn_col="rn"
    ).select("doc_id", "token", "score", F.col("rn").cast("int").alias("rn"))


@query(
    "doc_bottomk_sample",
    """
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
    FROM documents
    WHERE doc_id IS NOT NULL
    ORDER BY md5(CAST(doc_id AS VARCHAR))
    LIMIT 64
    """,
)
def doc_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size uniform sample
    (dataops/sampling.py::bottomk_sample): the 64 docs whose
    md5(doc_id) ranks smallest — the KMV / bottom-k sketch that replaces
    reservoir sampling at scale: membership depends only on key bytes
    (engine-portable, this oracle re-derives it verbatim), the sample is
    MERGEABLE across slices/micro-batches with k rows of state
    (streaming/jobs.py::sample_ingest_stream), and the plan is
    TakeOrderedAndProject — per-partition top-k, no global sort."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        bottomk_sample,
    )

    d = _t(spark, sf_dir, "documents")
    return bottomk_sample(d.select("doc_id", "lang"), "doc_id", 64).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang"
    )


@query(
    "lang_bottomk_sample",
    """
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
      FROM documents WHERE doc_id IS NOT NULL
    ) WHERE rn <= 16
    """,
)
def lang_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LANGUAGE deterministic uniform sample
    (dataops/sampling.py::grouped_bottomk_sample): 16 docs per language
    by smallest md5(doc_id) within the language — the stratified
    eval-set build, one pass, WindowGroupLimit pushing the k-filter
    map-side. Engine-portable membership: the oracle re-derives it with
    the same hash and window."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        grouped_bottomk_sample,
    )

    d = _t(spark, sf_dir, "documents")
    return grouped_bottomk_sample(
        d.select("doc_id", "lang"), "doc_id", 16, ["lang"]
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "lang")


@query(
    "doc_kmv_distinct_estimate",
    """
    WITH h AS (
      SELECT DISTINCT md5(CAST(doc_id AS VARCHAR)) AS hv
      FROM documents WHERE doc_id IS NOT NULL
    ), r AS (
      SELECT hv FROM h ORDER BY hv LIMIT 128
    ), u AS (
      SELECT hv,
             (CAST(CAST(('0x' || substr(hv, 1, 13)) AS BIGINT) AS DOUBLE) + 1.0)
             / 4503599627370496.0 AS uv
      FROM r
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_seen,
           CASE WHEN COUNT(*) < 128 THEN CAST(COUNT(*) AS DOUBLE)
                ELSE 127.0 / MAX(uv) END AS estimate
    FROM u
    """,
)
def doc_kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count estimate over doc_id
    (dataops/sampling.py::bottomk_distinct_estimate, k=128): the k-th
    smallest md5 mapped to (0,1] estimates distinct = (k-1)/h_(k) —
    the third distinct sketch in the catalog (HLL rollups for speed,
    exact bitmaps for dense ids, KMV here because it falls out of the
    maintained bottom-k sample for free and is engine-replayable
    bit-for-bit: 13 hex chars = 52 bits, exact in a double, identical
    division in both engines). Exact (= n_seen) below k distinct."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        bottomk_distinct_estimate,
    )

    d = _t(spark, sf_dir, "documents")
    return bottomk_distinct_estimate(d, "doc_id", 128)


@query(
    "lang_kmv_distinct_estimates",
    """
    WITH h AS (
      SELECT DISTINCT lang, md5(CAST(doc_id AS VARCHAR)) AS hv
      FROM documents WHERE doc_id IS NOT NULL
    ), r AS (
      SELECT lang, hv,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv) AS rn
      FROM h
    ), u AS (
      SELECT lang,
             (CAST(CAST(('0x' || substr(hv, 1, 13)) AS BIGINT) AS DOUBLE) + 1.0)
             / 4503599627370496.0 AS uv
      FROM r WHERE rn <= 64
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_seen,
           CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                ELSE 63.0 / MAX(uv) END AS estimate
    FROM u GROUP BY lang
    """,
)
def lang_kmv_distinct_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LANGUAGE KMV distinct-doc estimates
    (dataops/sampling.py::grouped_bottomk_distinct_estimate, k=64) —
    the keyed member that completes the keyed summary family (keyed
    CMS, keyed histogram, keyed sample): one (lang, n_seen,
    estimate) row per language off the k smallest per-group md5 hashes,
    WindowGroupLimit map-side k-filter, no global sort. Bit-replayable:
    the oracle re-derives hash, rank, and the (0,1] division
    identically."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        grouped_bottomk_distinct_estimate,
    )

    d = _t(spark, sf_dir, "documents")
    return grouped_bottomk_distinct_estimate(d, "doc_id", 64, ["lang"])


@query(
    "lang_vocab_overlap_kmv",
    """
    WITH sig0 AS (
      SELECT DISTINCT lang AS lab, md5(tok) AS hv
      FROM (SELECT lang,
                   unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
            FROM documents)
      WHERE tok IS NOT NULL AND lang IS NOT NULL
    ), sig AS (
      SELECT lab, hv FROM (
        SELECT lab, hv, ROW_NUMBER() OVER (PARTITION BY lab ORDER BY hv) AS rn
        FROM sig0
      ) WHERE rn <= 64
    ), labs AS (
      SELECT DISTINCT lab FROM sig
    ), pairs AS (
      SELECT a.lab AS label_a, b.lab AS label_b
      FROM labs a JOIN labs b ON a.lab < b.lab
    ), flags AS (
      SELECT label_a, label_b, hv,
             MAX(CASE WHEN lab = label_a THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN lab = label_b THEN 1 ELSE 0 END) AS in_b
      FROM pairs JOIN sig ON sig.lab = pairs.label_a OR sig.lab = pairs.label_b
      GROUP BY label_a, label_b, hv
    ), sk AS (
      SELECT label_a, label_b, in_a, in_b,
             (CAST(CAST(('0x' || substr(hv, 1, 13)) AS BIGINT) AS DOUBLE) + 1.0)
             / 4503599627370496.0 AS uv
      FROM (
        SELECT label_a, label_b, hv, in_a, in_b,
               ROW_NUMBER() OVER (PARTITION BY label_a, label_b ORDER BY hv)
               AS rn
        FROM flags
      ) WHERE rn <= 64
    )
    SELECT label_a, label_b,
           CAST(COUNT(*) AS BIGINT) AS n_sketch,
           CAST(SUM(in_a * in_b) AS BIGINT) AS k_inter,
           CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                ELSE 63.0 / MAX(uv) END AS union_est,
           CASE WHEN COUNT(*) < 64
                THEN CAST(SUM(in_a * in_b) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                ELSE CAST(SUM(in_a * in_b) AS DOUBLE) / 64.0 END AS jaccard_est,
           (CASE WHEN COUNT(*) < 64
                 THEN CAST(SUM(in_a * in_b) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 ELSE CAST(SUM(in_a * in_b) AS DOUBLE) / 64.0 END)
           * (CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                   ELSE 63.0 / MAX(uv) END) AS inter_est
    FROM sk GROUP BY label_a, label_b
    """,
)
def lang_vocab_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise VOCABULARY overlap between languages from bottom-k
    signatures (dataops/sampling.py::bottomk_pairwise_overlap, k=64):
    per language pair, the KMV union-size estimate, the k_inter/k
    Jaccard estimate, and their product estimating the shared-token
    count — the "how much does slice A share with slice B" corpus
    question answered from 64 hashes per slice, no distinct-join of
    the full vocabularies. Bit-replayable end-to-end (md5 + 13-hex-char
    (0,1] mapping, rank tie-break on the hash itself), so the full
    estimator pipeline — signatures, union sketch, membership flags,
    the CASE-exact below-k arm — is value-oracled, not just row-counted."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        bottomk_pairwise_overlap,
    )
    from f1_data_engineering_machine_learning_spark.dataops.text import tokens

    d = _t(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(tokens("text")).alias("token"))
    return bottomk_pairwise_overlap(toks, "token", 64, "lang")


@query(
    "order_price_mrl_quantiles",
    """
    WITH o AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
    )
    SELECT 0.1 AS q, CAST((SELECT COUNT(*) FROM o) AS BIGINT) AS n,
           (SELECT quantile_cont(v, 0.1) FROM o) AS exact_p,
           TRUE AS mrl_rank_ok
    UNION ALL SELECT 0.25, CAST((SELECT COUNT(*) FROM o) AS BIGINT),
           (SELECT quantile_cont(v, 0.25) FROM o), TRUE
    UNION ALL SELECT 0.5, CAST((SELECT COUNT(*) FROM o) AS BIGINT),
           (SELECT quantile_cont(v, 0.5) FROM o), TRUE
    UNION ALL SELECT 0.75, CAST((SELECT COUNT(*) FROM o) AS BIGINT),
           (SELECT quantile_cont(v, 0.75) FROM o), TRUE
    UNION ALL SELECT 0.9, CAST((SELECT COUNT(*) FROM o) AS BIGINT),
           (SELECT quantile_cont(v, 0.9) FROM o), TRUE
    """,
)
def order_price_mrl_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRL mergeable quantile summary graded against exact truth
    IN-QUERY (dataops/quantiles.py — the summary family's rank member:
    deterministic Manku-Rajagopalan-Lindsay collapse ladder, k=512,
    state k x (levels+2) over an UNKNOWN value range where the
    equi-width histogram needs fixed buckets). Same contract shape as
    approx_stats_scale_mode: the oracle carries the exact
    ``quantile_cont`` values (real value oracle) plus the CLAIM
    (mrl_rank_ok = TRUE); Spark computes the FACT — for each q, the
    true rank interval of the ladder's estimate, widened by the
    classical bound ``levels * n / (2k) + k``, must contain the target
    rank q*n. A ladder regression flips a boolean the driver hashes.
    The rank-audit crossJoin (data x 5 quantiles, map-side broadcast)
    is the VALIDATION arm only; production reads come straight off the
    k x (levels+2)-value summary."""
    from f1_data_engineering_machine_learning_spark.dataops.quantiles import (
        mrl_build,
        mrl_quantiles,
    )

    qs = [0.1, 0.25, 0.5, 0.75, 0.9]
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("value")
    )
    k = 512
    # localCheckpoint(eager=False): the summary feeds three consumers
    # (read-off, max-level, rank audit) — materialize the 2k-row ladder
    # once; blocks GC-release with the DataFrame (bigram convention,
    # pinned by test_bigram_collocations_checkpoint_blocks_released)
    s = mrl_build(o, "value", k).localCheckpoint(eager=False)
    # Merging the rank audit and the exact-percentile
    # truth into ONE aggregate (ests collected — or lazily pivoted — to
    # literals/columns, lo/hi as conditional sums next to the array
    # percentile) was built, value-verified equal, and A/B-measured at
    # sf0.1: old 3.87s vs merged 4.58s median (collect variant) and
    # 5.51 vs 6.78 (lazy-pivot variant, 6 alternating rounds each) —
    # SLOWER, because the exact arm currently runs CONCURRENTLY with the
    # ladder build in the one action, while any merged shape chains it
    # behind the build's range exchange. The 3-scan shape is the
    # measured local optimum; at cluster saturation the 2-scan merged
    # shape wins on total work and is recorded in OPTIMIZATION_r13.md.
    ests = mrl_quantiles(s, qs)
    lv = s.agg(
        F.max(
            F.when(F.col("level") >= 0, F.col("level")).otherwise(0)
        ).alias("max_level")
    )
    ranks = (
        o.crossJoin(F.broadcast(ests))
        .groupBy("q", "est")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("value") < F.col("est")).cast("long")).alias("lo"),
            F.sum((F.col("value") <= F.col("est")).cast("long")).alias("hi"),
        )
    )
    exact = o.agg(
        F.percentile("value", F.array(*[F.lit(q) for q in qs])).alias("eps")
    ).select(F.posexplode("eps").alias("pos", "exact_p"))
    exact = exact.select(
        F.element_at(
            F.array(*[F.lit(float(q)) for q in qs]), F.col("pos") + 1
        ).alias("q"),
        "exact_p",
    )
    bound = (
        F.col("max_level").cast("double") * F.col("n") / F.lit(2.0 * k)
        + F.lit(float(k))
    )
    target = F.col("q") * F.col("n")
    return (
        ranks.crossJoin(F.broadcast(lv))
        .join(exact, "q")
        .select(
            "q",
            "n",
            "exact_p",
            (
                (target >= F.col("lo").cast("double") - bound)
                & (target <= F.col("hi").cast("double") + bound)
            ).alias("mrl_rank_ok"),
        )
    )


@query(
    "mod_sampled_docs",
    """
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE doc_id % 7 = 3
    """,
)
def mod_sampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible modulo-slice sampling (dataops/sampling.py::mod_sample):
    the keep decision is a pure function of the key — identical on any
    cluster shape, re-run, or external system (unlike seeded df.sample,
    which is partition-layout dependent)."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import mod_sample

    docs = _t(spark, sf_dir, "documents")
    return mod_sample(docs, "doc_id", 7, 3).select("doc_id", "lang", "n_chars")


@query(
    "daily_event_rollup_cascade",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total,
           CAST(CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*)
                AS DOUBLE) AS avg_v,
           CAST(MIN(value) AS DOUBLE) AS min_v,
           CAST(MAX(value) AS DOUBLE) AS max_v
    FROM events
    GROUP BY 1, 2
    """,
)
def daily_event_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style CASCADED rollup (plans/rollup.py): the daily level
    is composed FROM the hourly pre-aggregate, never from raw — exact
    because only composable partials (count / decimal sum / min / max)
    cascade, with avg finalized at read time. The oracle aggregates raw
    directly: cascade == direct is the correctness contract."""
    from f1_data_engineering_machine_learning_spark.plans.rollup import (
        cascade,
        finalize,
    )

    ev = _events(spark, sf_dir)
    day = cascade(ev, "ts", ["event_type"], "value", levels=("hour", "day"))["day"]
    out = finalize(day)
    return out.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n",
        "total",
        "avg_v",
        F.col("min_v").cast("double").alias("min_v"),
        F.col("max_v").cast("double").alias("max_v"),
    )


@query(
    "orders_in_quarter_ranges",
    """
    WITH quarters AS (
      SELECT CAST(q AS TIMESTAMP) AS q_start,
             CAST(q + INTERVAL 3 MONTH AS TIMESTAMP) AS q_end,
             strftime(q, '%Y-%m-%d') AS quarter
      FROM (SELECT unnest(generate_series(DATE '1995-01-01', DATE '2001-10-01',
                                          INTERVAL 3 MONTH)) AS q)
    )
    SELECT quarter,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
    FROM orders o JOIN quarters qs
      ON o.o_orderdate >= qs.q_start AND o.o_orderdate < qs.q_end
    GROUP BY quarter
    """,
)
def orders_in_quarter_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE JOIN (operators/range_join.py): orders matched to the quarter
    interval containing them, via the BUCKETED strategy (quantize ->
    explode intervals -> equi-join -> refine) — the formulation that scales
    when both sides are large; oracle is the plain BETWEEN join."""
    from f1_data_engineering_machine_learning_spark.operators.range_join import range_join

    o = _t(spark, sf_dir, "orders")
    # interval dim generated in-plan (sequence + explode — no Scan
    # ExistingRDD / driver-side literal rows; stays whole-stage codegen)
    quarters = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit("1995-01-01").cast("date"),
                    F.lit("2001-10-01").cast("date"),
                    F.expr("interval 3 months"),
                )
            ).alias("q")
        )
        .select(
            F.col("q").cast("timestamp").alias("q_start"),
            F.add_months(F.col("q"), 3).cast("timestamp").alias("q_end"),
            F.date_format(F.col("q"), "yyyy-MM-dd").alias("quarter"),
        )
    )
    joined = range_join(
        o,
        quarters,
        "o_orderdate",
        "q_start",
        "q_end",
        strategy="bucketed",
        bucket_seconds=86400 * 30,
    )
    return joined.groupBy("quarter").agg(
        F.count("o_orderkey").alias("n_orders"),
        dsum("o_totalprice").alias("total"),
    )


@query(
    "purchase_asof_click",
    """
    WITH purchases AS (
      SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS value
      FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts, event_id AS click_id, CAST(value AS DOUBLE) AS click_value
      FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id, p.value,
           c.click_id AS click_id_asof,
           c.click_value AS click_value_asof
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def purchase_asof_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN (operators/asof.py): each purchase matched to the user's
    latest click at-or-before it. Spark has no native as-of join — this is
    the union-and-carry implementation (one shuffle, no row explosion);
    the oracle is DuckDB's NATIVE ``ASOF LEFT JOIN``, making this a
    row-for-row cross-engine check of a custom operator."""
    from f1_data_engineering_machine_learning_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").cast("double").alias("value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("value").cast("double").alias("click_value"),
    )
    out = asof_join(
        purchases, clicks, ["user_id"], "ts", ["click_id", "click_value"]
    )
    return out.select(
        "event_id", "user_id", "value", "click_id_asof", "click_value_asof"
    )


@query(
    "signup_purchase_funnel",
    """
    WITH stages AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN first_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_signed_up,
           CAST(SUM(CASE WHEN first_signup IS NOT NULL
                          AND first_purchase > first_signup
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
    FROM stages
    """,
)
def signup_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel analysis: users whose first purchase follows their
    first signup — conditional min-timestamp stages then ordering
    comparison, two aggregation passes, no self-join (the naive funnel is
    an events-to-events self-join; this shape scales linearly)."""
    ev = _events(spark, sf_dir)
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "first_signup"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("first_signup").isNotNull(), 1).otherwise(0)).alias(
            "n_signed_up"
        ),
        F.sum(
            F.when(
                F.col("first_signup").isNotNull()
                & (F.col("first_purchase") > F.col("first_signup")),
                1,
            ).otherwise(0)
        ).alias("n_converted"),
    )


@query(
    "simhash_dup_candidates_docs",
    """
    WITH tok AS (
      SELECT doc_id AS id, unnest(string_split_regex(lower(text), '\\s+')) AS t
      FROM documents
    ), hashed AS (
      SELECT id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tok
    ), votes AS (
      SELECT id, COUNT(*) AS n,
           SUM((h >> 0) & 1) AS b0,
           SUM((h >> 1) & 1) AS b1,
           SUM((h >> 2) & 1) AS b2,
           SUM((h >> 3) & 1) AS b3,
           SUM((h >> 4) & 1) AS b4,
           SUM((h >> 5) & 1) AS b5,
           SUM((h >> 6) & 1) AS b6,
           SUM((h >> 7) & 1) AS b7,
           SUM((h >> 8) & 1) AS b8,
           SUM((h >> 9) & 1) AS b9,
           SUM((h >> 10) & 1) AS b10,
           SUM((h >> 11) & 1) AS b11,
           SUM((h >> 12) & 1) AS b12,
           SUM((h >> 13) & 1) AS b13,
           SUM((h >> 14) & 1) AS b14,
           SUM((h >> 15) & 1) AS b15,
           SUM((h >> 16) & 1) AS b16,
           SUM((h >> 17) & 1) AS b17,
           SUM((h >> 18) & 1) AS b18,
           SUM((h >> 19) & 1) AS b19,
           SUM((h >> 20) & 1) AS b20,
           SUM((h >> 21) & 1) AS b21,
           SUM((h >> 22) & 1) AS b22,
           SUM((h >> 23) & 1) AS b23,
           SUM((h >> 24) & 1) AS b24,
           SUM((h >> 25) & 1) AS b25,
           SUM((h >> 26) & 1) AS b26,
           SUM((h >> 27) & 1) AS b27,
           SUM((h >> 28) & 1) AS b28,
           SUM((h >> 29) & 1) AS b29,
           SUM((h >> 30) & 1) AS b30,
           SUM((h >> 31) & 1) AS b31,
           SUM((h >> 32) & 1) AS b32,
           SUM((h >> 33) & 1) AS b33,
           SUM((h >> 34) & 1) AS b34,
           SUM((h >> 35) & 1) AS b35,
           SUM((h >> 36) & 1) AS b36,
           SUM((h >> 37) & 1) AS b37,
           SUM((h >> 38) & 1) AS b38,
           SUM((h >> 39) & 1) AS b39,
           SUM((h >> 40) & 1) AS b40,
           SUM((h >> 41) & 1) AS b41,
           SUM((h >> 42) & 1) AS b42,
           SUM((h >> 43) & 1) AS b43,
           SUM((h >> 44) & 1) AS b44,
           SUM((h >> 45) & 1) AS b45,
           SUM((h >> 46) & 1) AS b46,
           SUM((h >> 47) & 1) AS b47,
           SUM((h >> 48) & 1) AS b48,
           SUM((h >> 49) & 1) AS b49,
           SUM((h >> 50) & 1) AS b50,
           SUM((h >> 51) & 1) AS b51,
           SUM((h >> 52) & 1) AS b52,
           SUM((h >> 53) & 1) AS b53,
           SUM((h >> 54) & 1) AS b54,
           SUM((h >> 55) & 1) AS b55,
           SUM((h >> 56) & 1) AS b56,
           SUM((h >> 57) & 1) AS b57,
           SUM((h >> 58) & 1) AS b58,
           SUM((h >> 59) & 1) AS b59
      FROM hashed GROUP BY id
    ), sh AS (
      SELECT id,
             (CASE WHEN b0 * 2 > n THEN (CAST(1 AS BIGINT) << 0) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b1 * 2 > n THEN (CAST(1 AS BIGINT) << 1) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b2 * 2 > n THEN (CAST(1 AS BIGINT) << 2) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b3 * 2 > n THEN (CAST(1 AS BIGINT) << 3) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b4 * 2 > n THEN (CAST(1 AS BIGINT) << 4) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b5 * 2 > n THEN (CAST(1 AS BIGINT) << 5) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b6 * 2 > n THEN (CAST(1 AS BIGINT) << 6) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b7 * 2 > n THEN (CAST(1 AS BIGINT) << 7) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b8 * 2 > n THEN (CAST(1 AS BIGINT) << 8) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b9 * 2 > n THEN (CAST(1 AS BIGINT) << 9) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b10 * 2 > n THEN (CAST(1 AS BIGINT) << 10) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b11 * 2 > n THEN (CAST(1 AS BIGINT) << 11) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b12 * 2 > n THEN (CAST(1 AS BIGINT) << 12) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b13 * 2 > n THEN (CAST(1 AS BIGINT) << 13) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b14 * 2 > n THEN (CAST(1 AS BIGINT) << 14) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b15 * 2 > n THEN (CAST(1 AS BIGINT) << 15) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b16 * 2 > n THEN (CAST(1 AS BIGINT) << 16) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b17 * 2 > n THEN (CAST(1 AS BIGINT) << 17) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b18 * 2 > n THEN (CAST(1 AS BIGINT) << 18) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b19 * 2 > n THEN (CAST(1 AS BIGINT) << 19) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b20 * 2 > n THEN (CAST(1 AS BIGINT) << 20) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b21 * 2 > n THEN (CAST(1 AS BIGINT) << 21) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b22 * 2 > n THEN (CAST(1 AS BIGINT) << 22) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b23 * 2 > n THEN (CAST(1 AS BIGINT) << 23) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b24 * 2 > n THEN (CAST(1 AS BIGINT) << 24) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b25 * 2 > n THEN (CAST(1 AS BIGINT) << 25) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b26 * 2 > n THEN (CAST(1 AS BIGINT) << 26) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b27 * 2 > n THEN (CAST(1 AS BIGINT) << 27) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b28 * 2 > n THEN (CAST(1 AS BIGINT) << 28) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b29 * 2 > n THEN (CAST(1 AS BIGINT) << 29) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b30 * 2 > n THEN (CAST(1 AS BIGINT) << 30) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b31 * 2 > n THEN (CAST(1 AS BIGINT) << 31) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b32 * 2 > n THEN (CAST(1 AS BIGINT) << 32) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b33 * 2 > n THEN (CAST(1 AS BIGINT) << 33) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b34 * 2 > n THEN (CAST(1 AS BIGINT) << 34) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b35 * 2 > n THEN (CAST(1 AS BIGINT) << 35) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b36 * 2 > n THEN (CAST(1 AS BIGINT) << 36) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b37 * 2 > n THEN (CAST(1 AS BIGINT) << 37) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b38 * 2 > n THEN (CAST(1 AS BIGINT) << 38) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b39 * 2 > n THEN (CAST(1 AS BIGINT) << 39) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b40 * 2 > n THEN (CAST(1 AS BIGINT) << 40) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b41 * 2 > n THEN (CAST(1 AS BIGINT) << 41) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b42 * 2 > n THEN (CAST(1 AS BIGINT) << 42) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b43 * 2 > n THEN (CAST(1 AS BIGINT) << 43) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b44 * 2 > n THEN (CAST(1 AS BIGINT) << 44) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b45 * 2 > n THEN (CAST(1 AS BIGINT) << 45) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b46 * 2 > n THEN (CAST(1 AS BIGINT) << 46) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b47 * 2 > n THEN (CAST(1 AS BIGINT) << 47) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b48 * 2 > n THEN (CAST(1 AS BIGINT) << 48) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b49 * 2 > n THEN (CAST(1 AS BIGINT) << 49) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b50 * 2 > n THEN (CAST(1 AS BIGINT) << 50) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b51 * 2 > n THEN (CAST(1 AS BIGINT) << 51) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b52 * 2 > n THEN (CAST(1 AS BIGINT) << 52) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b53 * 2 > n THEN (CAST(1 AS BIGINT) << 53) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b54 * 2 > n THEN (CAST(1 AS BIGINT) << 54) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b55 * 2 > n THEN (CAST(1 AS BIGINT) << 55) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b56 * 2 > n THEN (CAST(1 AS BIGINT) << 56) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b57 * 2 > n THEN (CAST(1 AS BIGINT) << 57) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b58 * 2 > n THEN (CAST(1 AS BIGINT) << 58) ELSE CAST(0 AS BIGINT) END)
             + (CASE WHEN b59 * 2 > n THEN (CAST(1 AS BIGINT) << 59) ELSE CAST(0 AS BIGINT) END) AS simhash
      FROM votes
    ), chunks AS (
      SELECT id, simhash, u.c AS chunk_idx,
             (simhash >> (15 * u.c)) & 32767 AS chunk_val
      FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) u
    ), cand AS (
      SELECT DISTINCT a.id AS i, b.id AS j, a.simhash AS si, b.simhash AS sj
      FROM chunks a JOIN chunks b
        ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
       AND a.id < b.id
    )
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           CAST(bit_count(xor(si, sj)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(si, sj)) <= 3
    """,
)
def simhash_dup_candidates_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates, Hamming <= 3, via 4-chunk pigeonhole
    (dataops/dedup.py) — now the PORTABLE 60-bit sketch (token hash = 15
    md5 hex chars), so the DuckDB oracle re-derives the ENTIRE pipeline
    bit-for-bit: per-bit majority votes, sketch assembly, chunk blocking,
    Hamming verification. This upgrades simhash from the catalog's last
    text rows-only check to a full value oracle; the xxhash64 64-bit
    variant remains the fast default in the library (identity-tested
    against the Arrow/NumPy twin)."""
    from f1_data_engineering_machine_learning_spark.dataops.dedup import simhash_candidates

    docs = _t(spark, sf_dir, "documents")
    out = simhash_candidates(docs, "doc_id", "text", max_hamming=3, portable=True)
    return out.select(
        F.col("i").cast("bigint").alias("i"),
        F.col("j").cast("bigint").alias("j"),
        F.col("hamming").cast("int").alias("hamming"),
    )


@query("embedding_lsh_topk")
def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via MLlib BucketedRandomProjectionLSH
    (dataops/similarity.py) for 20 query vectors, each row stamped with the
    query's recall@5 against the exact baseline (``ann_recall_at_k``) — the
    quality contract is part of the output, so a recall regression changes
    visible values. Rows-only check (MLlib LSH internals are engine-
    specific; the fully value-oracled ANN path is embedding_rp_lsh_topk)."""
    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        ann_recall_at_k,
        cosine_topk,
        lsh_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    approx = lsh_topk(q, emb, k=5)
    recall = ann_recall_at_k(approx, cosine_topk(q, emb, k=5), k=5)
    return approx.join(recall.select("query_id", "recall_at_k"), "query_id").select(
        "query_id", "neighbor_id", "dist", F.col("rank").cast("int").alias("rank"),
        "recall_at_k",
    )


_DUCK_COS = (
    "list_reduce(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]), "
    "(x, y) -> x + y) "
    "/ (sqrt(list_reduce(list_transform({a}, x -> x * x), (x, y) -> x + y)) "
    "* sqrt(list_reduce(list_transform({b}, x -> x * x), (x, y) -> x + y)))"
)


@query(
    "embedding_ivf_topk",
    f"""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cent AS (
      SELECT vec_id AS centroid, v AS cv FROM vecs ORDER BY vec_id LIMIT 16
    ), assigned AS (
      SELECT neighbor_id, centroid FROM (
        SELECT c.vec_id AS neighbor_id, cent.centroid,
               {_DUCK_COS.format(a="c.v", b="cent.cv")} AS cdist,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                 ORDER BY {_DUCK_COS.format(a="c.v", b="cent.cv")} DESC,
                          cent.centroid) AS rn
        FROM vecs c CROSS JOIN cent)
      WHERE rn = 1
    ), q AS (
      SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 20
    ), probes AS (
      SELECT query_id, centroid FROM (
        SELECT query_id, centroid,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY {_DUCK_COS.format(a="qv", b="cv")} DESC,
                          centroid) AS rn
        FROM q CROSS JOIN cent)
      WHERE rn <= 4
    ), approx AS (
      SELECT query_id, neighbor_id, cosine_sim,
             CAST(rnk AS INTEGER) AS rank FROM (
        SELECT p.query_id, a.neighbor_id,
               CAST({_DUCK_COS.format(a="qa.v", b="nb.v")} AS DOUBLE) AS cosine_sim,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                 ORDER BY {_DUCK_COS.format(a="qa.v", b="nb.v")} DESC,
                          a.neighbor_id) AS rnk
        FROM probes p JOIN assigned a ON p.centroid = a.centroid
        JOIN vecs qa ON qa.vec_id = p.query_id
        JOIN vecs nb ON nb.vec_id = a.neighbor_id
        WHERE p.query_id != a.neighbor_id)
      WHERE rnk <= 5
    ), exact_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c2.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY {_DUCK_COS.format(a="q.qv", b="c2.v")} DESC,
                          c2.vec_id) AS rn
        FROM q JOIN vecs c2 ON q.query_id != c2.vec_id)
      WHERE rn <= 5
    ), recall AS (
      SELECT a.query_id,
             CAST(CAST(SUM(CASE WHEN e.neighbor_id IS NOT NULL
                                THEN 1 ELSE 0 END) AS DOUBLE) / 5
                  AS DOUBLE) AS recall_at_k
      FROM approx a LEFT JOIN exact_topk e
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY a.query_id
    )
    SELECT a.query_id, a.neighbor_id, a.cosine_sim, a.rank, r.recall_at_k
    FROM approx a JOIN recall r ON a.query_id = r.query_id
    """,
)
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-5 neighbors for 20 query vectors, stamped
    with per-query recall@5 vs the exact baseline — FULLY value-oracled:
    the coarse quantizer is deterministic (the 16 smallest-id corpus
    vectors, a FAISS-style sampled quantizer), assignment/probing/re-rank
    are sequential float folds, so DuckDB re-derives the identical inverted
    lists, probe sets, ranking, AND recall numbers
    (dataops/similarity.py::ivf_topk_deterministic). The KMeans-quantizer
    variant (``ivf_topk``) keeps its recall contract in pytest — MLlib
    centroids are engine-internal, so that path cannot be value-oracled."""
    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        ann_recall_at_k,
        cosine_topk,
        ivf_topk_deterministic,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    approx = ivf_topk_deterministic(q, emb, k=5, n_centroids=16, n_probe=4)
    recall = ann_recall_at_k(approx, cosine_topk(q, emb, k=5), k=5)
    return approx.join(recall.select("query_id", "recall_at_k"), "query_id").select(
        "query_id", "neighbor_id", "cosine_sim",
        F.col("rank").cast("int").alias("rank"), "recall_at_k",
    )


@query(
    "embedding_rp_lsh_topk",
    """
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), tables AS (
      SELECT unnest(range(0, 8)) AS t
    ), planes AS (
      SELECT t, unnest(range(0, 4)) AS p FROM tables
    ), dims AS (
      SELECT t, p, unnest(range(0, 64)) AS d FROM planes
    ), mx0 AS (
      SELECT t, p, d,
             ((d + 97 * p + 389 * t) * 1103515245 + 12345) % 2147483648 AS x0
      FROM dims
    ), mx1 AS (
      SELECT t, p, d, xor(x0, x0 >> 13) AS x1 FROM mx0
    ), mx2 AS (
      SELECT t, p, d, (x1 * 1103515245 + 12345) % 2147483648 AS x2 FROM mx1
    ), mx3 AS (
      SELECT t, p, d, xor(x2, x2 >> 17) AS x3 FROM mx2
    ), mx4 AS (
      SELECT t, p, d, (x3 * 69069 + 1) % 2147483648 AS x4 FROM mx3
    ), plane_signs AS (
      SELECT t, p,
             list(CASE WHEN xor(x4, x4 >> 16) % 2 = 1
                       THEN 1.0 ELSE -1.0 END ORDER BY d) AS signs
      FROM mx4 GROUP BY t, p
    ), proj AS (
      SELECT vec_id, t, p,
             list_reduce(list_transform(list_zip(v, signs),
                                        z -> z[1] * z[2]), (a, b) -> a + b) AS pr
      FROM vecs CROSS JOIN plane_signs
    ), buckets AS (
      SELECT vec_id, t,
             SUM(CASE WHEN pr >= 0 THEN 1 << p ELSE 0 END) AS bucket
      FROM proj GROUP BY vec_id, t
    ), cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM buckets q JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket
      WHERE q.vec_id < 20 AND q.vec_id != c.vec_id
    ), scored AS (
      SELECT query_id, neighbor_id,
             CAST(list_reduce(list_transform(list_zip(a.v, b.v),
                                             z -> z[1] * z[2]), (x, y) -> x + y)
                  / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
                     * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y)))
                  AS DOUBLE) AS cosine_sim
      FROM cand JOIN vecs a ON a.vec_id = query_id
                JOIN vecs b ON b.vec_id = neighbor_id
    ), ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= 5
    """,
)
def embedding_rp_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection LSH ANN with engine-reproducible hyperplanes
    (dataops/similarity.py::rp_lsh_topk): the pseudo-random plane signs come
    from an integer LCG, so DuckDB re-derives the SAME buckets, the SAME
    candidate set, and the SAME cosine re-rank — a full value-hash oracle
    for an approximate-nearest-neighbor pipeline (not just rows-only)."""
    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        rp_lsh_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = rp_lsh_topk(
        emb.filter(F.col("vec_id") < 20), emb, k=5, n_tables=8, n_planes=4, dim=64
    )
    return out.select(
        "query_id", "neighbor_id", "cosine_sim", F.col("rank").cast("int").alias("rank")
    )


@query(
    "exact_dedup_docs",
    """
    SELECT text, CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication by content (north-star dedup baseline): group on
    the text, keep the smallest id. At 100 TB the group key would be
    ``sha2(text)`` to keep shuffle rows narrow — semantics identical."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").cast("long").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@query(
    "sole_returning_supplier",
    """
    WITH f_orders AS (
      SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
    ), l1 AS (
      SELECT DISTINCT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN f_orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_returnflag = 'R'
        AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l.l_orderkey
            AND l2.l_suppkey != l.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l.l_orderkey
            AND l3.l_suppkey != l.l_suppkey
            AND l3.l_returnflag = 'R')
    ), counts AS (
      SELECT s.s_suppkey, s.s_name,
             CAST(COUNT(*) AS BIGINT) AS numwait
      FROM l1 JOIN supplier s ON l1.l_suppkey = s.s_suppkey
      GROUP BY s.s_suppkey, s.s_name
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        ORDER BY numwait DESC, s_suppkey) AS rn
      FROM counts
    )
    SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, numwait
    FROM ranked WHERE rn <= 10
    """,
)
def sole_returning_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped correlated-subquery composition: for multi-supplier
    'F' orders, the suppliers who were the ONLY one with a returned line —
    EXISTS (another supplier on the order) AND NOT EXISTS (another supplier
    with a return). Both correlations compile to one left-semi and one
    left-anti join on the order key (operators/joins.py semantics) — no
    per-row subquery execution, which is the point at 100 TB."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    f_orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(f_orders, "l_orderkey", "left_semi")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    other = li.select(
        F.col("l_orderkey").alias("o_key"),
        F.col("l_suppkey").alias("o_supp"),
        "l_returnflag",
    )
    exists_other = l1.join(
        other,
        (F.col("l_orderkey") == F.col("o_key"))
        & (F.col("l_suppkey") != F.col("o_supp")),
        "left_semi",
    )
    no_other_return = exists_other.join(
        other.filter(F.col("l_returnflag") == "R"),
        (F.col("l_orderkey") == F.col("o_key"))
        & (F.col("l_suppkey") != F.col("o_supp")),
        "left_anti",
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    counts = (
        no_other_return.join(
            sup, F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    # top-10 via orderBy+limit (TakeOrderedAndProject): the per-supplier
    # count frame is dimension-scaled (millions of suppliers at large SF),
    # so the partial top-k must fold map-side — a global row_number window
    # would sort the whole frame in one task. Same rows as rn <= 10 under
    # the identical deterministic (numwait DESC, s_suppkey) order.
    return (
        counts.orderBy(F.desc("numwait"), F.col("s_suppkey"))
        .limit(10)
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            "numwait",
        )
    )


@query(
    "lineitem_measures_unpivot",
    """
    WITH long AS (
      SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
    )
    SELECT l_returnflag, measure,
           CAST(COUNT(val) AS BIGINT) AS n,
           CAST(SUM(CAST(val AS DECIMAL(30,2))) AS DOUBLE) AS sum_val,
           CAST(CAST(SUM(CAST(val AS DECIMAL(30,2))) AS DOUBLE)
                / COUNT(val) AS DOUBLE) AS avg_val
    FROM long GROUP BY l_returnflag, measure
    """,
)
def lineitem_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long melt of the lineitem measures (operators/reshape.py::
    unpivot_melt — M8's inverse), then per-(flag, measure) stats. Spark
    plans the unpivot as ONE Expand over ONE scan; the oracle's UNION-ALL
    formulation is the semantic spec (4 scans), not the plan."""
    from f1_data_engineering_machine_learning_spark.operators import unpivot_melt

    li = _t(spark, sf_dir, "lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    long = unpivot_melt(
        li.select("l_returnflag", *measures), ["l_returnflag"], measures
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count("val").alias("n"),
        dsum("val").alias("sum_val"),
        davg("val").alias("avg_val"),
    )


@query(
    "user_state_scd2",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ), changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE rn = 1 OR event_type IS DISTINCT FROM prev_type
    ), versioned AS (
      SELECT user_id, event_type, ts AS valid_from,
             LEAD(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      FROM changes
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
           strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(valid_to, '%Y-%m-%d %H:%M:%S') AS valid_to,
           valid_to IS NULL AS is_current
    FROM versioned
    """,
)
def user_state_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension built from the event stream (operators/
    scd.py::scd2_build): each user's event_type episodes as half-open
    [valid_from, valid_to) intervals, current episode open-ended. The
    warehouse-standard versioning twin of the snapshot/as-of family
    (SURVEY §2.2 P3) — build the dimension once, then point-in-time
    lookups are an as-of join, not a per-date re-derivation."""
    from f1_data_engineering_machine_learning_spark.operators.scd import scd2_build

    ev = _events(spark, sf_dir)
    scd = scd2_build(
        ev, ["user_id"], ["event_type"], "ts", order_cols=["event_id"]
    )
    return scd.select(
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
    )


def _curated_survivors_oracle() -> str:
    from f1_data_engineering_machine_learning_spark.dataops.text import STOPWORDS

    langs = list(STOPWORDS)
    scores = {
        lang: _lang_score_sql(lang, words) for lang, words in STOPWORDS.items()
    }
    score_cols = ",\n             ".join(
        f"CAST({scores[lang]} AS DOUBLE) AS score_{lang}" for lang in langs
    )
    best = "GREATEST(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    return f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, text,
             CAST(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                  AS DOUBLE) / length(text) AS DOUBLE) AS punct_ratio,
             {score_cols}
      FROM documents
    ), gated AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               CASE WHEN length(text) BETWEEN 50 AND 20000 THEN 1.0
                    WHEN length(text) > 0 THEN 0.5 ELSE 0.0 END AS len_ok,
               CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.3 END AS punct_ok,
               CASE WHEN {best} > 0 THEN 1.0 ELSE 0.2 END AS stop_ok
        FROM base)
      WHERE (len_ok + punct_ok + stop_ok) / 3.0 >= 0.5
    ), ek AS (
      SELECT g.doc_id, g.text FROM gated g
      JOIN (SELECT text, MIN(doc_id) AS keeper FROM gated GROUP BY text) k
        ON g.doc_id = k.keeper
    ), toks AS (
      SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),
             '\\s+', ' ', 'g')), '\\s+') AS t
      FROM ek
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                    ELSE list_transform(range(1, len(t) - 1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                    END) AS s
      FROM toks
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), pairs AS (
      SELECT i, j FROM (
        SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2) x
      JOIN sizes sa ON sa.doc_id = i
      JOIN sizes sb ON sb.doc_id = j
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8
    ), edges AS (
      SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs
    ), reach AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), losers AS (
      SELECT a AS doc_id FROM reach GROUP BY a HAVING MIN(b) < a
    )
    SELECT CAST(ek.doc_id AS BIGINT) AS doc_id
    FROM ek LEFT JOIN losers ON ek.doc_id = losers.doc_id
    WHERE losers.doc_id IS NULL
    """


@query("curated_docs_survivors", _curated_survivors_oracle())
def curated_docs_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation pass, value-oracled: quality gate (score >= 0.5)
    -> exact dedup (keep min id per text) -> MinHash-LSH near-dedup at 0.8
    with connected components (adaptive: driver union-find under 500k
    edges, distributed label propagation above) keeping each cluster's
    min id
    (dataops/curate.py::curation_stages). The oracle replays the whole
    policy in SQL — the quality formula from doc_text_profile's oracle,
    exact-pairwise Jaccard for the near-dup edges (LSH == exact at the
    planted similarities, verified at sf0.001 and sf0.01), and a
    WITH RECURSIVE transitive closure for the cluster labels."""
    from f1_data_engineering_machine_learning_spark.dataops.curate import (
        curation_stages,
    )

    docs = _t(spark, sf_dir, "documents")
    _, _, near_kept = curation_stages(
        docs, "doc_id", "text", min_quality=0.5, near_dup_threshold=0.8
    )
    return near_kept.select(F.col("doc_id").cast("long").alias("doc_id"))


@query(
    "incremental_exact_dedup_docs",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 400
    ), batch AS (
      SELECT doc_id + 1000 AS doc_id, text FROM documents WHERE doc_id < 10
      UNION ALL
      SELECT doc_id, text FROM documents WHERE doc_id >= 400
    ), cf AS (
      SELECT text, MIN(doc_id) AS keeper_id FROM corpus GROUP BY text
    )
    SELECT CAST(b.doc_id AS BIGINT) AS batch_id,
           CAST(cf.keeper_id AS BIGINT) AS keeper_id
    FROM batch b JOIN cf ON b.text = cf.text
    """,
)
def incremental_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest exact dedup (dataops/dedup.py::
    incremental_exact_dedup): a new batch — the docs with id >= 400 plus 10
    re-crawled copies of corpus docs under shifted ids — is checked against
    the existing corpus (id < 400) by content fingerprint. Only the 10
    re-crawls collide; bodies never shuffle (16-byte fingerprints do)."""
    from f1_data_engineering_machine_learning_spark.dataops.dedup import (
        incremental_exact_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 400)
    batch = (
        docs.filter(F.col("doc_id") < 10)
        .select((F.col("doc_id") + 1000).alias("doc_id"), "text")
        .unionByName(docs.filter(F.col("doc_id") >= 400).select("doc_id", "text"))
    )
    out = incremental_exact_dedup(batch, corpus, "doc_id", "text")
    return out.select(
        F.col("batch_id").cast("long").alias("batch_id"),
        F.col("keeper_id").cast("long").alias("keeper_id"),
    )


@query(
    "incremental_minhash_pairs_docs",
    """
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),
             '\\s+', ' ', 'g')), '\\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    END) AS s
      FROM docs
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s
      WHERE a.doc_id >= 400 AND b.doc_id < 400
      GROUP BY 1, 2
    )
    SELECT batch_id, corpus_id,
           CAST(CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = batch_id
    JOIN sizes sb ON sb.doc_id = corpus_id
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
    """,
)
def incremental_minhash_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest near-dup detection (dataops/dedup.py::
    incremental_minhash_dedup_pairs): new docs (id >= 400) LSH-banded
    against the existing corpus (id < 400) — corpus x corpus pairs never
    generated. Oracle is the EXACT one-sided Jaccard result: at the planted
    duplicates' similarity, 32-hash/8-band LSH recall is >0.999, same
    argument as minhash_dedup_pairs_docs."""
    from f1_data_engineering_machine_learning_spark.dataops.dedup import (
        incremental_minhash_dedup_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return incremental_minhash_dedup_pairs(
        docs.filter(F.col("doc_id") >= 400),
        docs.filter(F.col("doc_id") < 400),
        "doc_id",
        "text",
        n_hashes=32,
        bands=8,
        k=3,
        verify_threshold=0.5,
    )


@query(
    "token_budget_packing",
    """
    WITH t AS (
      SELECT doc_id, doc_id % 8 AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT *, SUM(n_tokens) OVER (
        PARTITION BY shard ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM t
    )
    SELECT doc_id, CAST(shard AS BIGINT) AS shard,
           CAST(FLOOR((cum_tokens - n_tokens) / 2048.0) AS BIGINT) AS bin,
           n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c
    """,
)
def token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training-data assembly
    (dataops/packing.py::pack_by_token_budget): shard by id, running token
    total per shard, 2048-token bins from each document's start offset.
    Deterministic cumulative-offset binning — the distributed stand-in for
    sequential greedy packing (module docstring has the trade-off)."""
    from f1_data_engineering_machine_learning_spark.dataops.packing import (
        pack_by_token_budget,
    )

    docs = _t(spark, sf_dir, "documents")
    return pack_by_token_budget(
        docs, "doc_id", F.size(F.split("text", " ")), budget=2048, n_shards=8
    )


@query(
    "benchmark_contamination_docs",
    """
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),
             '\\s+', ' ', 'g')), '\\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
                    ELSE list_transform(range(1, len(toks) - 3),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                              || ' ' || toks[i+3] || ' ' || toks[i+4])
                    END) AS s
      FROM docs
    ), bench AS (
      SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0
    ), corp AS (
      SELECT * FROM sh WHERE doc_id % 50 != 0
    ), tot AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
      FROM corp GROUP BY doc_id
    ), hit AS (
      SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM corp c JOIN bench b ON c.s = b.s GROUP BY c.doc_id
    )
    SELECT t.doc_id, t.n_shingles,
           COALESCE(h.n_shared, 0) AS n_shared,
           CAST(CAST(COALESCE(h.n_shared, 0) AS DOUBLE) / t.n_shingles
                AS DOUBLE) AS contamination
    FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
    """,
)
def benchmark_contamination_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (dataops/decontam.py): every 50th document
    plays the eval set; the rest of the corpus is scored by the fraction
    of its distinct 5-shingles appearing in that set. The planted near-dup
    clusters make some corpus docs contaminated by construction. Exact-
    string shingles here for oracle parity; the scale path joins on
    xxhash64 fingerprints (hash_shingles=True) with the benchmark side
    broadcast."""
    from f1_data_engineering_machine_learning_spark.dataops.decontam import (
        benchmark_contamination,
    )

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return benchmark_contamination(
        corpus, bench, "doc_id", "text", k=5, hash_shingles=False
    )


@query(
    "doc_repetition_profile",
    """
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),
             '\\s+', ' ', 'g')), '\\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    END) AS s
      FROM docs
    ), per AS (
      SELECT doc_id, s, COUNT(*) AS c FROM sh GROUP BY doc_id, s
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS total_shingles,
           CAST(COUNT(*) AS BIGINT) AS distinct_shingles,
           CAST(MAX(c) AS BIGINT) AS top_shingle_count,
           CAST(CAST(MAX(c) AS DOUBLE) / SUM(c) AS DOUBLE) AS rep_ratio
    FROM per GROUP BY doc_id
    """,
)
def doc_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition detector
    (dataops/text.py::repetition_profile): hottest-3-shingle share per
    document — the looped-boilerplate / degenerate-generation signal a
    curation pass filters on."""
    from f1_data_engineering_machine_learning_spark.dataops.text import (
        repetition_profile,
    )

    docs = _t(spark, sf_dir, "documents")
    return repetition_profile(docs, "doc_id", "text", k=3)


@query(
    "corpus_mixture_sample",
    """
    WITH tot AS (
      SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) AS toks
      FROM documents GROUP BY lang
    ), tgt(lang, w) AS (
      VALUES ('en', 0.4), ('es', 0.15), ('fr', 0.15), ('de', 0.15), ('zh', 0.15)
    ), s AS (
      SELECT MIN(toks / w) AS scale FROM tot JOIN tgt USING (lang)
    ), fr AS (
      SELECT lang, LEAST(1.0, w * scale / toks) AS frac
      FROM tot JOIN tgt USING (lang) CROSS JOIN s
    )
    SELECT d.doc_id, d.lang,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
    FROM documents d JOIN fr USING (lang)
    WHERE d.doc_id % 100 < CAST(FLOOR(frac * 100) AS BIGINT)
    """,
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling (dataops/sampling.py::mixture_sample): keep
    fractions computed so output token shares hit the target language mix
    (en 40% / others 15%), keep decision by ``doc_id % 100`` threshold —
    deterministic integer arithmetic the oracle replays exactly. Fully
    lazy (mixture_sample_lazy): the |domains|-row totals/threshold
    frames live inside the plan as broadcast joins — construction runs
    zero jobs (the eager collect survives in
    mixture_sample as the dict-returning API twin, equivalence-tested)."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        mixture_sample_lazy,
    )

    docs = _t(spark, sf_dir, "documents")
    target = {"en": 0.4, "es": 0.15, "fr": 0.15, "de": 0.15, "zh": 0.15}
    sampled = mixture_sample_lazy(
        docs, "lang", F.size(F.split("text", " ")), key="doc_id",
        target=target, resolution=100,
    )
    return sampled.select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )


@query(
    "daily_user_value_gapfill",
    """
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS d, ts, value FROM events
    ), lastd AS (
      SELECT user_id, d, value FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY user_id, d ORDER BY ts DESC, value DESC) AS rn
        FROM ev) WHERE rn = 1
    ), b AS (
      SELECT MIN(d) AS d0, MAX(d) AS d1 FROM ev
    ), days AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
      FROM b
    ), users AS (
      SELECT DISTINCT user_id FROM ev
    ), sc AS (
      SELECT user_id, d FROM users CROSS JOIN days
    ), j AS (
      SELECT sc.user_id, sc.d, l.value
      FROM sc LEFT JOIN lastd l ON sc.user_id = l.user_id AND sc.d = l.d
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
           CAST(last_value(value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS value_ff,
           value IS NOT NULL AS observed
    FROM j
    """,
)
def daily_user_value_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill (operators/gapfill.py): dense per-user daily
    scaffold over the events month, each day carrying the last observed
    event value forward (LOCF) with an ``observed`` flag. Verified against
    DuckDB's ``last_value(x IGNORE NULLS)`` — the operator Spark lacks
    natively, composed from sequence+explode and a running window."""
    from f1_data_engineering_machine_learning_spark.operators.gapfill import gap_fill

    ev = _events(spark, sf_dir).withColumn("d", F.to_date("ts"))
    daily = dedup_keep_last(
        ev.select("user_id", "d", "ts", "value"), ["user_id", "d"], ["ts", "value"]
    ).drop("ts")
    out = gap_fill(daily, ["user_id"], "d", ["value"])
    return out.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("value_ff").cast("double").alias("value_ff"),
        "observed",
    )


@query(
    "order_price_histogram",
    """
    SELECT bucket,
           CAST(bucket * 20000.0 AS DOUBLE) AS lo,
           CAST((bucket + 1) * 20000.0 AS DOUBLE) AS hi,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT CAST(FLOOR(o_totalprice / 20000.0) AS BIGINT) AS bucket
      FROM orders WHERE o_totalprice IS NOT NULL
    )
    GROUP BY bucket
    """,
)
def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width price histogram (dataops/quality.py::numeric_histogram):
    fixed 20k-wide buckets — partial histograms from any data slice merge
    by bucket id, the property that makes distribution profiling cheap at
    100 TB (no global min/max pass, no sort)."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        numeric_histogram,
    )

    o = _t(spark, sf_dir, "orders")
    return numeric_histogram(o, "o_totalprice", 20000.0)


@query(
    "order_price_histogram_quantiles",
    """
    WITH hist AS (
      SELECT CAST(FLOOR(o_totalprice / 20000.0) AS BIGINT) AS bucket,
             COUNT(*) AS n
      FROM orders WHERE o_totalprice IS NOT NULL
      GROUP BY bucket
    ), c AS (
      SELECT CAST(bucket * 20000.0 AS DOUBLE) AS lo,
             CAST((bucket + 1) * 20000.0 AS DOUBLE) AS hi,
             CAST(n AS DOUBLE) AS bn,
             CAST(SUM(n) OVER (ORDER BY bucket) AS DOUBLE) AS cum
      FROM hist
    ), c2 AS (
      SELECT lo, hi, bn, cum, cum - bn AS prev, MAX(cum) OVER () AS total
      FROM c
    ), fr AS (
      SELECT CAST(frac AS DOUBLE) AS frac
      FROM (VALUES (0.1),(0.25),(0.5),(0.75),(0.9),(0.99)) AS v(frac)
    )
    SELECT frac,
           lo + ((1.0 + frac * (total - 1.0)) - prev) / bn * (hi - lo) AS qvalue
    FROM fr JOIN c2
      ON prev < 1.0 + frac * (total - 1.0)
     AND 1.0 + frac * (total - 1.0) <= cum
    """,
)
def order_price_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles read off the MERGEABLE equi-width histogram
    (dataops/quality.py::histogram_quantiles): the streamable arm of the
    equi-depth family. Exact equi-depth boundaries are non-mergeable
    (order_price_equidepth_hist recomputes them from raw rows), but the
    20k-wide histogram is maintained incrementally — by
    merge_numeric_histograms over slices or histogram_ingest_stream on
    ingest — and each frac's continuous rank interpolates inside its
    cumulative-count bucket, with error vs the exact rank-ceil(r) order
    statistic provably <= one bucket width (20k here).
    The oracle replays the identical double arithmetic (rank locate +
    in-bucket interpolation) in SQL, so this is a full value oracle of
    the approximation itself, not just its error bound. Only the
    histogram build touches data rows; everything after is
    bounded-cardinality (<= price-range / 20k buckets)."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        histogram_quantiles,
        numeric_histogram,
    )

    o = _t(spark, sf_dir, "orders")
    hist = numeric_histogram(o, "o_totalprice", 20000.0)
    return histogram_quantiles(hist, [0.1, 0.25, 0.5, 0.75, 0.9, 0.99])


@query(
    "priority_price_histogram_quantiles",
    """
    WITH hist AS (
      SELECT o_orderpriority,
             CAST(FLOOR(o_totalprice / 20000.0) AS BIGINT) AS bucket,
             COUNT(*) AS n
      FROM orders WHERE o_totalprice IS NOT NULL
      GROUP BY o_orderpriority, bucket
    ), c AS (
      SELECT o_orderpriority,
             CAST(bucket * 20000.0 AS DOUBLE) AS lo,
             CAST((bucket + 1) * 20000.0 AS DOUBLE) AS hi,
             CAST(n AS DOUBLE) AS bn,
             CAST(SUM(n) OVER (PARTITION BY o_orderpriority ORDER BY bucket)
                  AS DOUBLE) AS cum
      FROM hist
    ), c2 AS (
      SELECT o_orderpriority, lo, hi, bn, cum, cum - bn AS prev,
             MAX(cum) OVER (PARTITION BY o_orderpriority) AS total
      FROM c
    ), fr AS (
      SELECT CAST(frac AS DOUBLE) AS frac
      FROM (VALUES (0.5),(0.9),(0.99)) AS v(frac)
    )
    SELECT o_orderpriority, frac,
           lo + ((1.0 + frac * (total - 1.0)) - prev) / bn * (hi - lo) AS qvalue
    FROM fr JOIN c2
      ON prev < 1.0 + frac * (total - 1.0)
     AND 1.0 + frac * (total - 1.0) <= cum
    """,
)
def priority_price_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP quantiles off keyed mergeable histograms
    (dataops/quality.py::histogram_quantiles(key_cols=...)): one
    independent 20k-wide histogram per order priority built in a single
    aggregation (the keyed-CMS idiom), each key's p50/p90/p99 read off
    its own cumulative counts. Keyed mode partitions BOTH windows by the
    key — per-key state only, no global sort regardless of key count —
    which is what makes per-segment distribution monitoring (per
    language, per day, per tenant) maintainable on ingest via
    histogram_ingest_stream(key_cols=...). Full value oracle: DuckDB
    replays the identical per-key rank-locate + interpolation."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        histogram_quantiles,
        numeric_histogram,
    )

    o = _t(spark, sf_dir, "orders")
    hist = numeric_histogram(
        o, "o_totalprice", 20000.0, key_cols=["o_orderpriority"]
    )
    return histogram_quantiles(
        hist, [0.5, 0.9, 0.99], key_cols=["o_orderpriority"]
    )


@query(
    "doc_chunks_overlap",
    r"""
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),
             '\s+', ' ', 'g')), '\s+') AS toks
      FROM documents WHERE trim(text) != ''
    ), st AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, greatest(1, len(toks) - 10), 40)) AS s
      FROM docs
    )
    SELECT doc_id,
           CAST(FLOOR((s - 1) / 40.0) AS BIGINT) AS chunk_idx,
           CAST(s AS BIGINT) AS start_token,
           CAST(len(list_slice(toks, s, s + 49)) AS BIGINT) AS n_tokens,
           array_to_string(list_slice(toks, s, s + 49), ' ') AS chunk_text
    FROM st
    """,
)
def doc_chunks_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window document chunking with overlap
    (dataops/packing.py::chunk_by_tokens): 50-token windows every 40
    tokens (10-token overlap) — the standard long-document split before
    packing/embedding in a training pipeline. Pure map-side
    (tokenize -> sequence -> explode -> slice), zero shuffles: the dense
    chunk rows are produced exactly where the documents were read."""
    from f1_data_engineering_machine_learning_spark.dataops.packing import (
        chunk_by_tokens,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    toks = F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), r"\s+")
    return chunk_by_tokens(docs, "doc_id", toks, chunk_size=50, stride=40)


@query(
    "small_lot_part_revenue",
    """
    WITH pa AS (
      SELECT l_partkey, 0.2 * AVG(l_quantity) AS thresh
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_small_lots,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,2))) AS DOUBLE)
             AS small_lot_revenue
    FROM lineitem l
    JOIN pa ON l.l_partkey = pa.l_partkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity < pa.thresh
    GROUP BY p.p_brand
    """,
)
def small_lot_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped correlated-aggregate join: each lineitem compared
    to 0.2x its part's average quantity, small-lot revenue rolled up per
    brand. Plan shape at scale: the per-part average and the fact table
    shuffle on the SAME key (l_partkey), so Catalyst reuses the exchange
    for the second join — one fact-table shuffle total, then a map-side
    combinable groupBy on brand. AVG(l_quantity) over integral doubles is
    exact, so the 0.2x threshold is engine-identical."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    pa = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("thresh")
    )
    return (
        li.join(pa, "l_partkey")
        .filter(F.col("l_quantity") < F.col("thresh"))
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small_lots"),
            dsum("l_extendedprice").alias("small_lot_revenue"),
        )
    )


@query(
    "big_quantity_orders",
    """
    WITH big AS (
      SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 200
    )
    SELECT c.c_name, o.o_orderkey,
           strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(b.total_qty AS DOUBLE) AS total_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def big_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped HAVING + join-back: orders whose summed lineitem
    quantity exceeds 200, enriched with customer and order detail. The
    HAVING filter runs on the aggregate BEFORE the joins, so only the
    qualifying keys (a tiny fraction) reach the orders join — AQE sees
    the post-filter size at runtime and broadcasts it against the fact
    tables. SUM over integral quantities is exact in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 200)
    )
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias(
                "order_date"
            ),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


@query(
    "idle_high_balance_by_nation",
    f"""
    WITH thresh AS (
      SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE)
                  / COUNT(c_acctbal) AS DOUBLE) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    ), idle AS (
      SELECT c.c_nationkey, c.c_acctbal
      FROM customer c
      WHERE c.c_acctbal > (SELECT avg_bal FROM thresh)
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND CAST(o.o_orderdate AS DATE) > DATE '{CUTOFF}')
    )
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(i.c_acctbal AS DECIMAL(30,2))) AS DOUBLE)
             AS total_balance
    FROM idle i JOIN nation n ON i.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def idle_high_balance_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped scalar-subquery + anti-join: customers with an
    above-average positive balance and no orders after the snapshot
    cutoff, totalled per nation. The scalar threshold stays in-plan (a
    1-row broadcast cross join, no driver collect); the NOT EXISTS is a
    left-anti shuffle join on custkey with the date predicate pushed to
    the orders scan; nation is a broadcast. The threshold average is
    decimal-exact (davg) so the filter cut is engine-identical."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    thresh = c.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("avg_bal")
    )
    recent = o.filter(F.to_date("o_orderdate") > F.lit(CUTOFF).cast("date"))
    idle = (
        c.join(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return (
        idle.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal").alias("total_balance"),
        )
    )


@query(
    "customer_order_gaps",
    """
    WITH seq AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
             lag(CAST(o_orderdate AS DATE)) OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev_d
      FROM orders
    )
    SELECT o_custkey,
           CAST(COUNT(prev_d) AS BIGINT) AS n_gaps,
           CAST(AVG(date_diff('day', prev_d, d)) AS DOUBLE) AS avg_gap_days,
           CAST(MAX(date_diff('day', prev_d, d)) AS BIGINT) AS max_gap_days,
           CAST(MIN(date_diff('day', prev_d, d)) AS BIGINT) AS min_gap_days
    FROM seq GROUP BY o_custkey HAVING COUNT(prev_d) > 0
    """,
)
def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap analysis via LAG: days between consecutive orders
    per customer, aggregated to gap stats (returning-customer cadence).
    One shuffle on the window partition key; the groupBy that follows
    re-uses the same key, so the aggregate is exchange-free. Deterministic
    tie-break (date, orderkey) pins LAG under same-day orders; day-count
    averages are integral-exact."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.to_date("o_orderdate"), "o_orderkey")
    seq = o.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        F.lag(F.to_date("o_orderdate")).over(w).alias("prev_d"),
    )
    gap = F.datediff("d", "prev_d")
    return (
        seq.groupBy("o_custkey")
        .agg(
            F.count("prev_d").alias("n_gaps"),
            F.avg(gap).cast("double").alias("avg_gap_days"),
            F.max(gap).cast("bigint").alias("max_gap_days"),
            F.min(gap).cast("bigint").alias("min_gap_days"),
        )
        .filter(F.col("n_gaps") > 0)
    )


@query(
    "customer_spend_deciles",
    """
    WITH spend AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS s
      FROM orders GROUP BY o_custkey
    ), t AS (
      SELECT o_custkey, s, ntile(10) OVER (ORDER BY s, o_custkey) AS decile
      FROM spend
    )
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(MIN(s) AS DOUBLE) AS min_spend,
           CAST(MAX(s) AS DOUBLE) AS max_spend,
           CAST(SUM(s) AS DOUBLE) AS decile_spend
    FROM t GROUP BY decile
    """,
)
def customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE decile banding of per-customer lifetime spend with per-band
    stats. Exact decile ASSIGNMENT now comes from
    ``operators/windows.py::range_partitioned_rank`` — parallel
    range-local sorts + broadcast offsets, no single-task global window
    (plan-asserted); the cheaper-but-approximate alternative at 100 TB
    remains approx-percentile band EDGES (see approx_stats_scale_mode)
    applied map-side. Ties broken by (spend, custkey) so band membership
    is deterministic; spend sums stay in DECIMAL through the ranking."""
    from f1_data_engineering_machine_learning_spark.operators.windows import (
        range_partitioned_rank,
    )

    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("s")
    )
    t = range_partitioned_rank(
        spend, ["s"], ntile=10, ntile_col="decile", tiebreak=["o_custkey"]
    )
    return (
        t.groupBy(F.col("decile").cast("int").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("s").cast("double").alias("min_spend"),
            F.max("s").cast("double").alias("max_spend"),
            F.sum("s").cast("double").alias("decile_spend"),
        )
    )


@query(
    "brand_price_size_slope",
    """
    WITH s AS (
      SELECT p_brand,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(p_size) AS BIGINT) AS sx,
             SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS sy,
             CAST(SUM(p_size * p_size) AS BIGINT) AS sxx,
             SUM(p_size * CAST(p_retailprice AS DECIMAL(18,2))) AS sxy
      FROM part GROUP BY p_brand
    )
    SELECT p_brand, n,
           CAST((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
                AS DOUBLE) AS slope,
           CAST((CAST(sy AS DOUBLE)
                 - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
                   * CAST(sx AS DOUBLE))
                / CAST(n AS DOUBLE) AS DOUBLE) AS intercept
    FROM s
    """,
)
def brand_price_size_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exact least-squares: per-brand slope/intercept of
    retail price vs size from the five classic sufficient statistics
    (n, Sx, Sy, Sxx, Sxy) — one map-side-combinable aggregation, closed
    form on the combined sums. The cross-product sums accumulate in
    DECIMAL (exact, order-independent — a float Sxy drifts with partition
    count), then one deterministic double evaluation; this is how a
    regression stays bit-reproducible on a 1000-executor cluster. Built-in
    regr_slope is the convenience twin; it accumulates in doubles and is
    not partition-order stable."""
    p = _t(spark, sf_dir, "part")
    price_dec = F.col("p_retailprice").cast("decimal(18,2)")
    s = p.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("p_size").cast("bigint").alias("sx"),
        F.sum(price_dec).alias("sy"),
        F.sum(F.col("p_size") * F.col("p_size")).cast("bigint").alias("sxx"),
        F.sum(F.col("p_size") * price_dec).alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    sxx_d = F.col("sxx").cast("double")
    sxy_d = F.col("sxy").cast("double")
    denom = F.nullif(n_d * sxx_d - sx_d * sx_d, F.lit(0.0))
    slope = (n_d * sxy_d - sx_d * sy_d) / denom
    return s.select(
        "p_brand",
        "n",
        slope.cast("double").alias("slope"),
        ((sy_d - slope * sx_d) / n_d).cast("double").alias("intercept"),
    )


@query(
    "returnflag_top_parts",
    """
    WITH rev AS (
      SELECT l_returnflag, l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))
                      * (1 - CAST(l_discount AS DECIMAL(30,2))))
                  AS DOUBLE) AS net_revenue
      FROM lineitem GROUP BY 1, 2
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY l_returnflag
        ORDER BY net_revenue DESC, l_partkey) AS rn
      FROM rev
    )
    SELECT l_returnflag, l_partkey, net_revenue, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= 5
    """,
)
def returnflag_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 parts by net revenue per return flag — the FEW-GROUPS /
    MANY-ROWS top-k regime (3 flags x |parts| candidate rows) where a
    window row_number funnels each group through ONE task. Runs the
    skew-safe two-phase plan instead
    (operators/windows.py::topk_per_group_salted): salted sub-group
    heaps -> k x n_salt survivors -> exact merge; no task ever holds a
    whole group. Ordering is encoded ascending (negated revenue, partkey
    tie-break), equivalence-tested against the window path; the exact
    decimal revenue sum keeps ranks engine-reproducible."""
    from f1_data_engineering_machine_learning_spark.operators.windows import (
        topk_per_group_salted,
    )

    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_returnflag", "l_partkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(30,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(30,2)"))
        )
        .cast("double")
        .alias("net_revenue")
    )
    return topk_per_group_salted(
        rev,
        ["l_returnflag"],
        F.struct((-F.col("net_revenue")).alias("o1"), F.col("l_partkey").alias("o2")),
        k=5,
        rn_col="rn",
    )


@query(
    "top_parts_per_brand_ranked",
    """
    SELECT p_brand, p_partkey,
           CAST(p_retailprice AS DOUBLE) AS p_retailprice,
           CAST(rnk AS INTEGER) AS rnk,
           CAST(drnk AS INTEGER) AS drnk
    FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC)
               AS rnk,
             dense_rank() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC) AS drnk
      FROM part
    )
    WHERE drnk <= 3
    """,
)
def top_parts_per_brand_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK vs DENSE_RANK with ties: top-3 price points per brand, ALL
    tied parts retained (unlike row_number top-k, which breaks ties).
    Because the rank filter keeps every tying row, the result set is
    deterministic with no tie-break column. The rank predicate is pushed
    into the shuffle by WindowGroupLimit at scale (each partition
    pre-prunes to its local top ranks before the exchange)."""
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"))
    return (
        p.select(
            "p_brand",
            "p_partkey",
            F.col("p_retailprice").cast("double").alias("p_retailprice"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("drnk") <= 3)
        .select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.col("rnk").cast("int").alias("rnk"),
            F.col("drnk").cast("int").alias("drnk"),
        )
    )


@query(
    "corpus_shuffle_assignment",
    """
    WITH h AS (
      SELECT doc_id,
             ((doc_id % 4294967296) * 2654435761 + 40503) % 4294967296 AS hkey
      FROM documents
    )
    SELECT doc_id,
           CAST(hkey AS BIGINT) AS hkey,
           CAST(hkey % 64 AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY hkey % 64
                                   ORDER BY hkey, doc_id) AS BIGINT) AS pos
    FROM h
    """,
)
def corpus_shuffle_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle for training order: a Knuth
    multiplicative hash (pure integer arithmetic — engine-portable,
    unlike xxhash64/rand) pseudo-randomizes documents, 64 hash shards
    give each reader a stream, and within-shard position comes from a
    PARTITIONED row_number — reproducible epoch ordering with no global
    sort anywhere. At 100 TB: one shuffle on the shard key, each shard
    written as its own file group; re-keying the constant re-seeds the
    epoch. The input id is range-reduced before the multiply so the
    arithmetic never overflows BIGINT at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    hkey = (
        (F.col("doc_id") % F.lit(4294967296)) * F.lit(2654435761) + F.lit(40503)
    ) % F.lit(4294967296)
    h = docs.select("doc_id", hkey.cast("bigint").alias("hkey"))
    shard = F.col("hkey") % 64
    w = Window.partitionBy(shard).orderBy("hkey", "doc_id")
    return h.select(
        "doc_id",
        "hkey",
        shard.cast("bigint").alias("shard"),
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


@query(
    "nation_pair_trade_volume",
    """
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(YEAR(l.l_shipdate) AS INTEGER) AS ship_year,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(30,4))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      AND l.l_shipdate >= DATE '1996-01-01'
      AND l.l_shipdate <  DATE '1998-01-01'
    GROUP BY supp_nation, cust_nation, ship_year
    """,
)
def nation_pair_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the same dimension (nation) joined under TWO roles
    (supplier side, customer side) with a disjunctive pair predicate —
    exercises multi-role dimension joins the reference builds via repeated
    LEFT JOINs of driver blocks (/root/reference/sql/feature_store_drivers.sql).
    Scale design: the nation filter is applied to each role FIRST, shrinking
    customer and supplier to the two nations before they touch lineitem, so
    both dimension joins broadcast; the only big-big shuffle is
    lineitem<->orders on the natural key, which AQE plans. The pair
    disjunction runs post-join on two broadcast-sized columns."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    pair = ("NATION_3", "NATION_7")
    n_small = n.filter(F.col("n_name").isin(*pair))
    cust = c.join(
        F.broadcast(n_small.select("n_nationkey", F.col("n_name").alias("cust_nation"))),
        c.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey", "cust_nation")
    supp = s.join(
        F.broadcast(n_small.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    j = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("ship_year")
    ).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias(
            "revenue"
        )
    )


@query(
    "nation_market_share",
    """
    WITH vol AS (
      SELECT CAST(YEAR(o.o_orderdate) AS INTEGER) AS order_year,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,4)) AS v,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n2.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA'
    )
    SELECT order_year,
           CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN v END) AS DOUBLE)
                / CAST(SUM(v) AS DOUBLE) AS DOUBLE) AS mkt_share,
           CAST(SUM(v) AS DOUBLE) AS total_volume
    FROM vol
    GROUP BY order_year
    """,
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: market share of one supplier nation within a region's
    customer volume, per year — conditional share = SUM(CASE)/SUM over a
    6-table star. Scale design: region+nation prune the customer side
    before the fact join (broadcast chain), the supplier role stays
    unfiltered but broadcast-sized after its nation join; numerator and
    denominator come out of ONE aggregation pass (no second scan, no
    self-join). Decimal sums keep the share bit-reproducible."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    asia_nations = n.join(
        F.broadcast(r.filter(F.col("r_name") == "ASIA")),
        n.n_regionkey == F.col("r_regionkey"),
    ).select("n_nationkey")
    cust = c.join(
        F.broadcast(asia_nations), c.c_nationkey == F.col("n_nationkey")
    ).select("c_custkey")
    supp = s.join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    v = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
    )
    agg = j.groupBy(F.year("o_orderdate").cast("int").alias("order_year")).agg(
        _cond_dsum(F.col("supp_nation") == "NATION_5", v, scale=4).alias("num"),
        dsum(v, scale=4).alias("total_volume"),
    )
    return agg.select(
        "order_year",
        (F.col("num") / F.col("total_volume")).cast("double").alias("mkt_share"),
        "total_volume",
    )


@query(
    "disjunctive_part_revenue",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS matched_lines,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(30,4))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 35)
       OR (p.p_brand = 'Brand#21' AND p.p_size BETWEEN 25 AND 50
           AND l.l_quantity BETWEEN 25 AND 50)
    """,
)
def disjunctive_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR-of-ANDs predicate spanning both join sides.
    Scale design: Catalyst splits the disjunction — the part-only
    conjuncts (brand x size) reduce the broadcast build side, and the
    l_quantity bounds common to all branches (1..50 here widened per
    branch) stay as a fact-scan filter; the residual OR evaluates
    post-join inside codegen. One broadcast join, one scan, single-row
    aggregate via partial merge."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    br = (
        ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 35))
        | ((F.col("p_brand") == "Brand#21") & F.col("p_size").between(25, 50)
           & F.col("l_quantity").between(25, 50))
    )
    return j.filter(br).agg(
        F.count(F.lit(1)).cast("bigint").alias("matched_lines"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias(
            "revenue"
        ),
    )


@query(
    "customer_spend_distribution",
    """
    WITH spend AS (
      SELECT o_custkey AS custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total_spend
      FROM orders GROUP BY o_custkey
    )
    SELECT CAST(custkey AS BIGINT) AS custkey,
           total_spend,
           CAST(PERCENT_RANK() OVER (ORDER BY total_spend) AS DOUBLE) AS pct_rank,
           CAST(CUME_DIST()   OVER (ORDER BY total_spend) AS DOUBLE) AS cume,
           CAST(NTILE(100)    OVER (ORDER BY total_spend, custkey) AS INTEGER)
             AS centile
    FROM spend
    """,
)
def customer_spend_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution analytics over per-customer spend: PERCENT_RANK and
    CUME_DIST (tie-aware — peers get equal values in both engines) plus a
    deterministic NTILE centile. Scale design: the aggregation
    distributes on custkey; the ranks come from
    ``operators/windows.py::range_partitioned_rank`` — the two-pass
    range-partitioned plan (per-range counts -> broadcast offsets ->
    parallel local ranks), so NO unpartitioned global window exists in
    the plan (plan-asserted in tools/plan_audit.py); the largest single
    task holds ~|customers|/32 rows instead of all of them. The decimal
    spend sum keeps ordering (and thus ranks) reproducible."""
    from f1_data_engineering_machine_learning_spark.operators.windows import (
        range_partitioned_rank,
    )

    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").cast("bigint").alias("custkey")).agg(
        dsum("o_totalprice").alias("total_spend")
    )
    ranked = range_partitioned_rank(
        spend,
        ["total_spend"],
        percent_rank_col="pct_rank",
        cume_dist_col="cume",
        ntile=100,
        ntile_col="centile",
        tiebreak=["custkey"],
    )
    return ranked.select(
        "custkey",
        "total_spend",
        F.col("pct_rank").cast("double").alias("pct_rank"),
        F.col("cume").cast("double").alias("cume"),
        F.col("centile").cast("int").alias("centile"),
    )


def _embeddings_with_planted_twins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings corpus plus deterministic planted near-duplicates:
    every 10th vector gets a twin (id + 10,000,000) perturbed by
    ``0.002 * (((vec_id + i) % 5) - 2)`` per element — integer-derived,
    so DuckDB re-derives the identical twin (planted cosine ~0.9997).
    The natural corpus has no embedding dups (max pairwise cosine ~0.6),
    so the dedup-family queries share this fixture. Columns: (vec_id, v)."""
    base, twins = _twin_frames(spark, sf_dir)
    return base.unionByName(twins)


def _twin_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(base corpus, planted twins) as SEPARATE frames — the incremental
    queries use twins as the arriving batch against the base corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    twins = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000000).alias("vec_id"),
        F.transform(
            "v",
            lambda x, i: x
            + F.lit(0.002)
            * (((F.col("vec_id") + i) % 5) - 2).cast("double"),
        ).alias("v"),
    )
    return base, twins


#: the same planted-twin fixture as DuckDB CTEs (text shared by every
#: oracle that uses it — keeps Spark fixture and oracle fixture in one
#: place each)
_DUCK_TWINS_CTES = """
    base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), twins AS (
      SELECT vec_id + 10000000 AS vec_id,
             list_transform(
               list_zip(v, range(0, len(v))),
               p -> p[1] + 0.002 * CAST(((vec_id + p[2]) % 5) - 2 AS DOUBLE)
             ) AS v
      FROM base WHERE vec_id % 10 = 0
    ), allv AS (
      SELECT * FROM base UNION ALL SELECT * FROM twins
    )"""


@query(
    "embedding_near_dup_pairs",
    """
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), twins AS (
      SELECT vec_id + 10000000 AS vec_id,
             list_transform(
               list_zip(v, range(0, len(v))),
               p -> p[1] + 0.002 * CAST(((vec_id + p[2]) % 5) - 2 AS DOUBLE)
             ) AS v
      FROM base WHERE vec_id % 10 = 0
    ), allv AS (
      SELECT * FROM base UNION ALL SELECT * FROM twins
    )
    SELECT a.vec_id AS i, b.vec_id AS j,
           CAST(list_reduce(list_transform(list_zip(a.v, b.v),
                                           p -> p[1] * p[2]), (x, y) -> x + y)
                / (sqrt(list_reduce(list_transform(a.v, x -> x * x),
                                    (x, y) -> x + y))
                   * sqrt(list_reduce(list_transform(b.v, x -> x * x),
                                      (x, y) -> x + y)))
                AS DOUBLE) AS cosine_sim
    FROM allv a JOIN allv b ON a.vec_id < b.vec_id
    WHERE CAST(list_reduce(list_transform(list_zip(a.v, b.v),
                                          p -> p[1] * p[2]), (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(a.v, x -> x * x),
                                   (x, y) -> x + y))
                  * sqrt(list_reduce(list_transform(b.v, x -> x * x),
                                     (x, y) -> x + y)))
               AS DOUBLE) >= 0.95
    """,
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the 5th dedup family:
    exact / Jaccard / MinHash / SimHash / embedding) — headlined by the
    SCALE path: RP-LSH bucket blocking + exact in-bucket verification
    (``embedding_cosine_dup_pairs_blocked``), never the O(n^2) all-pairs
    scan. The corpus has no natural embedding dups (max pairwise cosine
    ~0.6), so near-dups are PLANTED deterministically: every 10th vector
    gets a twin perturbed by ``0.002 * (((vec_id + i) % 5) - 2)`` per
    element — integer-derived, so DuckDB re-derives the identical twin —
    yielding planted cosine ~0.9997 vs threshold 0.95. At that gap the
    blocked path's per-pair miss probability is ~3e-8, so the EXACT
    all-pairs oracle (the WHERE >= 0.95 self-join in SQL) value-matches
    bitwise: recall 1.0 is part of the hash, the same structure the
    MinHash family uses. The exact Spark-side all-pairs twin
    (``embedding_cosine_dup_pairs``) remains library + equivalence-tested
    (test_dataops.py) but is no longer a benched entry."""
    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        embedding_cosine_dup_pairs_blocked,
    )

    allv = _embeddings_with_planted_twins(spark, sf_dir)
    # n_planes=16 (vs the 8-plane default) because this corpus is
    # CLUSTERED: at 8 sign bits half the vectors share one bucket and the
    # candidate join quadratically explodes the hot bucket; 16 bits
    # disperse the clusters while the planted pairs (cosine ~0.9997,
    # per-table collision 0.9928^16 ~ 0.89, miss over 6 tables ~2e-6)
    # still all collide — plane count tunes to the DUP cosine, not the
    # report threshold.
    return embedding_cosine_dup_pairs_blocked(
        allv, id_col="vec_id", vec_col="v", threshold=0.95,
        n_planes=16, n_tables=6, dim=64,
    )


@query(
    "semantic_dedup_embeddings",
    f"""
    WITH {_DUCK_TWINS_CTES},
    cent AS (
      SELECT vec_id AS cid, v AS cv FROM allv ORDER BY vec_id LIMIT 16
    ), assigned AS (
      SELECT vec_id, v, cid AS centroid FROM (
        SELECT a.vec_id, a.v, cent.cid,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                 ORDER BY {_DUCK_COS.format(a="a.v", b="cent.cv")} DESC,
                          cent.cid) AS rn
        FROM allv a CROSS JOIN cent)
      WHERE rn = 1
    ), dropped AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b
        ON a.centroid = b.centroid AND a.vec_id < b.vec_id
      WHERE {_DUCK_COS.format(a="a.v", b="b.v")} >= 0.95
    )
    SELECT s.vec_id,
           CAST(s.centroid AS INTEGER) AS centroid,
           d.vec_id IS NULL AS kept
    FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.vec_id
    """,
)
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic near-duplicate pruning over the planted-twin
    embedding corpus (dataops/similarity.py::semantic_dedup_deterministic)
    — cluster with the deterministic sampled quantizer, drop smaller-id
    near-dups (cosine >= 0.95) WITHIN a cluster only. Every planted twin
    lands in its base vector's cluster (cosine ~0.9997 to the base, so
    their argmax centroids agree) and is dropped; all natural vectors
    survive. FULLY value-oracled: assignment, in-cluster pair cosines and
    the keep flag are sequential float folds DuckDB re-derives exactly —
    same oracle structure as embedding_ivf_topk. The kept flag (not just
    the survivor set) is in the hash, so both drop and keep decisions are
    checked."""
    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        semantic_dedup_deterministic,
    )

    allv = _embeddings_with_planted_twins(spark, sf_dir)
    return semantic_dedup_deterministic(
        allv, id_col="vec_id", vec_col="v",
        threshold=0.95, n_centroids=16, dim=64,
    )


@query(
    "doc_line_dedup",
    """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), lines AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(0, CAST(ceil(len(t) / 12.0) AS INT) - 1),
               i -> {'pos': i,
                     'line': array_to_string(t[(i*12+1):(i*12+12)], ' ')}
             )) AS s
      FROM tok
    ), tagged AS (
      SELECT doc_id, s.pos AS pos, s.line AS line,
             ROW_NUMBER() OVER (PARTITION BY s.line
                                ORDER BY doc_id, s.pos) = 1 AS keep
      FROM lines
    )
    SELECT doc_id,
           COALESCE(string_agg(line, ' ' ORDER BY pos)
                      FILTER (WHERE keep), '') AS dedup_text,
           CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS kept_paras,
           CAST(COUNT(*) AS BIGINT) AS total_paras
    FROM tagged
    GROUP BY doc_id
    """,
)
def doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph/line-level exact dedup (C4-style) via
    dataops/dedup.py::paragraph_dedup. The corpus has no natural newlines,
    so documents are first resegmented into 12-token lines (itself a real
    preprocessing op) and the dedup keeps each distinct line's globally
    first occurrence, reassembling documents in order. The oracle replays
    the whole policy in SQL — full reassembled-text value hash."""
    from f1_data_engineering_machine_learning_spark.dataops.dedup import (
        paragraph_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(toks) / F.lit(12.0)).cast("int")
    reseg = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.array_join(F.slice(toks, i * 12 + 1, 12), " "),
            ),
            "\n\n",
        ).alias("text"),
    )
    out = paragraph_dedup(reseg, id_col="doc_id", text_col="text", join_sep=" ")
    return out.select("doc_id", "dedup_text", "kept_paras", "total_paras")


@query(
    "embedding_int8_quantized",
    """
    WITH q AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS v,
             list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x)),
                            'max') AS max_abs
      FROM embeddings
    ), scaled AS (
      SELECT vec_id,
             CASE WHEN max_abs = 0 THEN 0.0 ELSE 127.0 / max_abs END AS scale,
             v
      FROM q
    )
    SELECT vec_id,
           CAST(scale AS DOUBLE) AS scale,
           CAST(u.pos AS INTEGER) AS pos,
           CAST(u.qval AS INTEGER) AS qval
    FROM (
      SELECT vec_id, scale,
             unnest(list_transform(generate_series(1, len(v)),
               i -> {'pos': i - 1,
                     'qval': CAST(round(v[i] * scale) AS INT)})) AS u
      FROM scaled
    )
    """,
)
def embedding_int8_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization
    (dataops/similarity.py::quantize_embeddings) — map-only, zero-shuffle
    vector compression. Output exploded to (vec_id, pos, qval) so the
    driver value-hashes every quantized element plus the per-vector scale;
    round-half-away-from-zero agrees between Spark and DuckDB on identical
    double inputs."""
    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        quantize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb)
    return q.select(
        "vec_id",
        "scale",
        F.posexplode("qvec").alias("pos", "qval"),
    ).select(
        "vec_id", "scale", F.col("pos").cast("int").alias("pos"),
        F.col("qval").cast("int").alias("qval"),
    )


@query(
    "customer_cohort_retention",
    """
    WITH firsts AS (
      SELECT o_custkey AS custkey,
             MIN(date_trunc('month', o_orderdate)) AS cohort
      FROM orders GROUP BY o_custkey
    ), activity AS (
      SELECT DISTINCT o_custkey AS custkey,
             date_trunc('month', o_orderdate) AS amonth
      FROM orders
    )
    SELECT strftime(f.cohort, '%Y-%m') AS cohort_month,
           CAST(datediff('month', f.cohort, a.amonth) AS INTEGER) AS month_offset,
           CAST(COUNT(DISTINCT a.custkey) AS BIGINT) AS active_customers
    FROM activity a JOIN firsts f ON f.custkey = a.custkey
    GROUP BY cohort_month, month_offset
    """,
)
def customer_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: customers grouped by first-order month,
    counted as active per months-since-cohort offset — the standard
    retention triangle. Scale design: both the cohort frame and the
    distinct-activity frame aggregate on custkey, so the equi-join reuses
    ONE hash partitioning end-to-end (exchange reuse, no extra shuffle
    beyond the final small-group count)."""
    o = _t(spark, sf_dir, "orders")
    firsts = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.min(F.trunc("o_orderdate", "MM")).alias("cohort")
    )
    activity = o.select(
        F.col("o_custkey").alias("custkey"),
        F.trunc("o_orderdate", "MM").alias("amonth"),
    ).distinct()
    j = activity.join(firsts, "custkey")
    return j.groupBy(
        F.date_format("cohort", "yyyy-MM").alias("cohort_month"),
        F.months_between(F.col("amonth"), F.col("cohort"))
        .cast("int")
        .alias("month_offset"),
    ).agg(F.count_distinct(F.col("custkey")).cast("bigint").alias("active_customers"))


@query(
    "weighted_doc_sample",
    """
    WITH scored AS (
      SELECT doc_id, n_chars,
             pow(
               (CAST(((doc_id % 4294967296) * 2654435761 + 97531) % 4294967296
                     AS DOUBLE) + 0.5) / 4294967296.0,
               1.0 / CAST(n_chars AS DOUBLE)
             ) AS skey
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM scored
    ORDER BY skey DESC, doc_id
    LIMIT 25
    """,
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (dataops/sampling.py::weighted_sample, Efraimidis-Spirakis A-ES keyed
    by a portable multiplicative hash): 25 documents drawn with
    probability proportional to length. The sort key is excluded from the
    output (Java vs C pow may differ in the last ulp; the SELECTION is
    stable because adjacent keys differ by ~1e-7, 9 orders above ulp)."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        weighted_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample(docs, "doc_id", "n_chars", k=25)
    return out.select("doc_id", F.col("n_chars").cast("bigint").alias("n_chars"))


@query(
    "term_posting_lists",
    """
    WITH pairs AS (
      SELECT DISTINCT doc_id, t.term
      FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
      WHERE t.term != ''
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
    FROM pairs
    GROUP BY term
    HAVING COUNT(*) BETWEEN CAST(0.02 * (SELECT COUNT(*) FROM documents) AS INT)
                       AND CAST(0.80 * (SELECT COUNT(*) FROM documents) AS INT)
    """,
)
def term_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index (dataops/text.py::inverted_index): term -> sorted
    posting list + document frequency, df-bounded to drop hapaxes and
    stop-terms. Posting lists serialize to comma-joined strings so the
    driver value-hashes every element. One distinct + one term shuffle."""
    from f1_data_engineering_machine_learning_spark.dataops.text import inverted_index

    docs = _t(spark, sf_dir, "documents")
    # corpus-relative df bounds (2%..80%) so the query stays meaningful at
    # any scale factor; the count is a parquet-metadata read, not a scan
    ndocs = docs.count()
    idx = inverted_index(docs, min_df=int(0.02 * ndocs), max_df=int(0.80 * ndocs))
    return idx.select(
        "term",
        "df",
        F.array_join(F.transform("postings", lambda x: x.cast("string")), ",").alias(
            "postings"
        ),
    )


@query(
    "segment_priority_chisq",
    """
    WITH cells AS (
      SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
             CAST(COUNT(*) AS DOUBLE) AS observed
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY segment, priority
    ), tot AS (
      SELECT segment, priority, observed,
             SUM(observed) OVER (PARTITION BY segment) AS row_total,
             SUM(observed) OVER (PARTITION BY priority) AS col_total,
             SUM(observed) OVER () AS grand
      FROM cells
    )
    SELECT segment, priority,
           CAST(observed AS BIGINT) AS observed,
           CAST(row_total * col_total / grand AS DOUBLE) AS expected,
           CAST(pow(observed - row_total * col_total / grand, 2)
                / (row_total * col_total / grand) AS DOUBLE) AS cell_chisq
    FROM tot
    """,
)
def segment_priority_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square contingency table between two categorical columns
    (market segment x order priority) — the feature-independence screen of
    an ML pipeline, fully distributed. Counts are integers (exact in
    double); expected counts and per-cell chi-square terms are single
    deterministic double expressions. The window sums run over the
    ALREADY-AGGREGATED cell table (|segments| x |priorities| rows), so the
    three marginal passes are post-shuffle trivia, not data scans."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cells = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("observed"))
    )
    w_row = Window.partitionBy("segment")
    w_col = Window.partitionBy("priority")
    w_all = Window.partitionBy()
    t = cells.select(
        "segment",
        "priority",
        "observed",
        F.sum("observed").over(w_row).alias("row_total"),
        F.sum("observed").over(w_col).alias("col_total"),
        F.sum("observed").over(w_all).alias("grand"),
    )
    expected = F.col("row_total") * F.col("col_total") / F.col("grand")
    return t.select(
        "segment",
        "priority",
        F.col("observed").cast("bigint").alias("observed"),
        expected.cast("double").alias("expected"),
        (F.pow(F.col("observed") - expected, F.lit(2)) / expected)
        .cast("double")
        .alias("cell_chisq"),
    )


@query(
    "sliding_event_counts",
    """
    WITH starts AS (
      SELECT user_id,
             unnest([date_trunc('hour', ts),
                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS wstart
      FROM events
    )
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM starts
    GROUP BY 1
    """,
)
def sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregation (2-hour windows sliding 1 hour) via
    ``F.window(ts, '2 hours', '1 hour')`` — every event lands in exactly
    two windows; the oracle replays that expansion explicitly. This is the
    batch twin of a sliding-window stream: at scale the window struct is
    just a derived grouping key, so the agg is ONE shuffle with map-side
    partials (the 2x explode happens inside the aggregate's input, never
    materialized)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_events",
            "n_users",
        )
    )


@query(
    "lineitem_quantity_mad",
    """
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med_qty
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag AS returnflag,
           CAST(m.med_qty AS DOUBLE) AS med_qty,
           CAST(quantile_cont(abs(l.l_quantity - m.med_qty), 0.5) AS DOUBLE)
             AS mad_qty
    FROM lineitem l JOIN med m ON m.l_returnflag = l.l_returnflag
    GROUP BY 1, 2
    """,
)
def lineitem_quantity_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust dispersion stat
    (outlier-immune twin of stddev). Two exact-percentile passes: group
    medians, broadcast back, median of absolute deviations. Exactness:
    l_quantity is integral, so both medians interpolate on .5/.25 binary
    fractions — bit-identical across engines. Scale: each pass is one
    shuffle on the group key; the 3-row median frame broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("med_qty")
    )
    j = li.join(F.broadcast(med), "l_returnflag")
    return j.groupBy(
        F.col("l_returnflag").alias("returnflag"),
        F.col("med_qty").cast("double").alias("med_qty"),
    ).agg(
        F.percentile(F.abs(F.col("l_quantity") - F.col("med_qty")), F.lit(0.5))
        .cast("double")
        .alias("mad_qty")
    )


# ---------------------------------------------------------------------------
# TPC-H shape completion: Q2 / Q4 / Q9 / Q11 / Q13 / Q15 / Q20 analogues over
# the available tables (the testdata has no partsupp, so supply-cost shapes
# are re-anchored on lineitem unit prices / shipped quantities).
# ---------------------------------------------------------------------------


@query(
    "cheapest_supplier_per_part",
    """
    WITH unit AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS min_unit_price
      FROM lineitem GROUP BY 1, 2
    ), best AS (
      SELECT l_partkey, MIN(min_unit_price) AS best_price FROM unit GROUP BY 1
    )
    SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name,
           CAST(u.min_unit_price AS DOUBLE) AS unit_price
    FROM unit u
    JOIN best b ON u.l_partkey = b.l_partkey AND u.min_unit_price = b.best_price
    JOIN part p ON p.p_partkey = u.l_partkey
    JOIN supplier s ON s.s_suppkey = u.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_size >= 40
    """,
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (correlated min-per-group + join-back): for every
    large part, the supplier(s) offering the minimum observed unit price.
    The reference has no correlated-subquery machinery at all (pandas
    scripts); here the correlation is decorated as a window MIN over the
    already-aggregated (part, supplier) frame, so the fact table shuffles
    ONCE on (partkey, suppkey) and the per-part min needs only the
    aggregated frame — no second fact-table pass, no subquery re-execution
    per row (what a naive Q2 translation would do). Determinism: unit
    price is a per-row IEEE division and every aggregate is MIN (a
    selection, not arithmetic) — bit-identical across engines and
    partition counts. Ties (two suppliers at the same min price) are
    emitted on both sides, matching the SQL.
    Scale: |unit| ~= |parts| x avg-suppliers-per-part << |lineitem|; the
    window shuffle moves only that. Part dim joins by key (shuffle-safe,
    no broadcast assumption); supplier/nation broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") >= 40)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    unit = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("min_unit_price")
    )
    w = Window.partitionBy("l_partkey")
    best = unit.withColumn("best_price", F.min("min_unit_price").over(w)).filter(
        F.col("min_unit_price") == F.col("best_price")
    )
    return (
        best.join(p, best.l_partkey == p.p_partkey)
        .join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            "n_name",
            F.col("min_unit_price").cast("double").alias("unit_price"),
        )
    )


@query(
    "late_shipment_priority_counts",
    """
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    )
    GROUP BY o.o_orderpriority
    """,
)
def late_shipment_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a cross-table range predicate (a
    lineitem shipped >30 days after its order date), counted per
    priority. Planned as ONE left-semi hash join on the order key with
    the range predicate evaluated as the join's residual condition —
    existence short-circuits (each order key emits at most once), so the
    semi side never materializes the multiplicity of matching lineitems.
    At scale: semi-join shuffles both tables on orderkey once; the
    residual is evaluated post-probe, JVM-side."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cond = (o.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("interval 30 days")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "nation_year_profit",
    """
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%ol%'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2
    """,
)
def nation_year_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation x order year for a
    name-filtered part family. The part filter is applied BEFORE its join
    (Catalyst pushes the LIKE into the parquet scan as a StringContains
    filter) so the fact rows for non-matching parts are dropped at the
    first join, not carried to the aggregate. Dim chain
    (part-filtered, supplier, nation) broadcasts; orders joins on the
    already-reduced fact. Decimal-exact revenue sum as everywhere."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%ol%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("integer").alias("o_year"),
        )
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("profit"))
    )


@query(
    "significant_parts_by_revenue",
    """
    WITH pr AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev
      FROM lineitem GROUP BY 1
    )
    SELECT l_partkey, CAST(rev AS DOUBLE) AS revenue
    FROM pr
    WHERE CAST(rev AS DOUBLE) >
          (SELECT CAST(SUM(rev) AS DOUBLE) / COUNT(*) FROM pr) * 1.5
    """,
)
def significant_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups whose aggregate exceeds a FRACTION OF THE
    GLOBAL AGGREGATE (scalar subquery over the same aggregation) — here
    1.5x the mean per-part revenue, a threshold that scales with SF
    (a fixed fraction-of-total goes empty as the part count grows). The
    per-part frame is computed once; the global stats re-aggregate that
    frame (a few-KB exchange, reused — never a second fact scan) and ride
    in as a 1-row broadcast. Determinism at the threshold: per-part sums
    and the total are exact decimal sums cast once to double; the
    divide-by-count and x1.5 are single IEEE ops — identical in both
    engines, so the boundary comparison cannot flap."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    pr = li.groupBy("l_partkey").agg(F.sum(price * (F.lit(1) - disc)).alias("rev"))
    total = pr.agg(
        (F.sum("rev").cast("double") / F.count(F.lit(1))).alias("__mean")
    )
    return (
        pr.join(F.broadcast(total))
        .filter(F.col("rev").cast("double") > F.col("__mean") * F.lit(1.5))
        .select("l_partkey", F.col("rev").cast("double").alias("revenue"))
    )


@query(
    "customer_order_count_distribution",
    """
    WITH co AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY 1
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(COUNT(*) AS BIGINT) AS custdist
    FROM co GROUP BY 1
    """,
)
def customer_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts
    INCLUDING the zero bucket — the left outer join is what makes
    never-ordered customers countable (an inner-join groupBy silently
    drops them; the classic survivorship bug). The join predicate filter
    (priority <> URGENT) lives in the ON clause, not a WHERE, so filtered
    customers still appear with count 0. Two shuffles by construction
    (custkey join+agg, then count histogram); the second input is
    |customers| rows of two ints."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    co = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "top_supplier_by_revenue",
    """
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def top_supplier_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) whose quarterly revenue EQUALS the
    maximum — an equality against an aggregate of the same derived view
    (Q15's CREATE VIEW + MAX). Safe because the compared values are exact
    decimal sums (double equality on derived floats would be the bug
    here). The max rides in as a 1-row broadcast against the aggregated
    frame — the revenue view is never recomputed. Shipdate range pushes
    to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(price * (F.lit(1) - disc)).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("__max_rev"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("__max_rev"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue")
        )
    )


@query(
    "excess_shipper_suppliers",
    """
    WITH shipped AS (
      SELECT l.l_suppkey, SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS qty_1997
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%ol%'
      WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (
      SELECT l_suppkey FROM shipped
      WHERE CAST(qty_1997 AS DOUBLE) >
            (SELECT CAST(MAX(qty_1997) AS DOUBLE) FROM shipped) / 2
    )
    GROUP BY 1, 2, 3
    """,
)
def excess_shipper_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: a nested semi chain — suppliers selected by
    membership in a derived aggregate-filtered set (those who shipped more
    than half the max shipped quantity of a name-filtered part family in
    1997). Three nesting levels collapse into: part-filtered fact agg
    (one shuffle on suppkey), scalar max (1-row broadcast), LEFT-SEMI
    into supplier (supplier never duplicated, no DISTINCT cleanup needed
    on the Spark side — GROUP BY in the oracle mirrors the semi's
    set semantics). Threshold arithmetic: exact decimal max, one cast,
    one IEEE divide — deterministic on both engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%ol%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    shipped = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_1997"))
    )
    mx = shipped.agg(F.max("qty_1997").cast("double").alias("__max_qty"))
    heavy = (
        shipped.join(F.broadcast(mx))
        .filter(F.col("qty_1997").cast("double") > F.col("__max_qty") / F.lit(2))
        .select("l_suppkey")
    )
    return (
        s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )


@query(
    "similar_customer_names",
    """
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
    FROM customer a JOIN customer b
      ON a.c_custkey < b.c_custkey
     AND levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def similar_customer_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string self-join (operators/fuzzy_join.py): all customer-name
    pairs within edit distance 1, found via FastSS deletion-neighborhood
    blocking — candidates come from a hash equi-join on deletion variants
    (O(n x len) keys), never an O(n^2) cross join; the exact
    ``levenshtein`` refine runs only on candidates. The oracle IS the
    brute-force cross join, so equality here is a direct test of the
    blocking scheme's exact-recall claim at distance 1."""
    from f1_data_engineering_machine_learning_spark.operators.fuzzy_join import (
        edit_distance_pairs,
    )

    c = _t(spark, sf_dir, "customer")
    return edit_distance_pairs(c, "c_custkey", "c_name", max_dist=1).withColumn(
        "dist", F.col("dist").cast("integer")
    )


@query(
    "order_status_priority_marginals",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def order_status_priority_marginals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with an arbitrary (non-cube, non-rollup) set list:
    the two 1-D marginals plus the grand total — the contingency-table
    margins query. Catalyst plans all sets in ONE pass via Expand (each
    input row fans to one row per grouping set before the single
    aggregate exchange) — vs running 3 separate groupBys and unioning,
    which would scan the fact 3x. Complements cube_order_counts /
    rollup_lineitem_counts, which exercise the fixed-shape variants."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


@query(
    "daily_user_value_interpolated",
    """
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS d, ts, value FROM events
    ), lastd AS (
      SELECT user_id, d, CAST(value AS DOUBLE) AS v FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY user_id, d ORDER BY ts DESC, value DESC) AS rn
        FROM ev) WHERE rn = 1
    ), obs AS (
      SELECT user_id, d, v,
             LEAD(d) OVER (PARTITION BY user_id ORDER BY d) AS nd,
             LEAD(v) OVER (PARTITION BY user_id ORDER BY d) AS nv
      FROM lastd
    ), expanded AS (
      SELECT o.user_id, CAST(gs.g AS DATE) AS d2, o.d, o.v, o.nd, o.nv
      FROM obs o, LATERAL (
        SELECT unnest(generate_series(
          o.d, COALESCE(o.nd - INTERVAL 1 DAY, o.d), INTERVAL 1 DAY)) AS g
      ) gs
    )
    SELECT user_id, strftime(d2, '%Y-%m-%d') AS day,
           CAST(CASE WHEN d2 = d THEN v
                     ELSE v + (nv - v) *
                          (CAST(date_diff('day', d, d2) AS DOUBLE)
                           / date_diff('day', d, nd)) END AS DOUBLE)
             AS value_lerp,
           d2 = d AS observed
    FROM expanded
    """,
)
def daily_user_value_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill (operators/gapfill.py::
    interpolate_linear) — the smooth twin of daily_user_value_gapfill's
    step-function LOCF. Same span-explode scale story: shuffles move only
    the sparse observations; the dense daily frame materializes map-side
    after the lead() window. No extrapolation past the last observation.
    Determinism: integer day offsets, one IEEE divide/multiply/add per
    row — bit-identical to the DuckDB replay."""
    from f1_data_engineering_machine_learning_spark.operators.gapfill import (
        interpolate_linear,
    )

    ev = _events(spark, sf_dir).withColumn("d", F.to_date("ts"))
    daily = dedup_keep_last(
        ev.select("user_id", "d", "ts", "value"), ["user_id", "d"], ["ts", "value"]
    ).drop("ts")
    out = interpolate_linear(daily, ["user_id"], "d", "value")
    return out.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("value_lerp").cast("double").alias("value_lerp"),
        "observed",
    )


@query(
    "preferred_daily_event",
    """
    WITH pe AS (
      SELECT event_id, user_id, CAST(ts AS DATE) AS d, ts, event_type, value,
             CASE event_type WHEN 'purchase' THEN 0 WHEN 'signup' THEN 1
                  WHEN 'click' THEN 2 WHEN 'view' THEN 3 ELSE 4 END AS prio,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY CASE event_type WHEN 'purchase' THEN 0
                             WHEN 'signup' THEN 1 WHEN 'click' THEN 2
                             WHEN 'view' THEN 3 ELSE 4 END,
                        ts, event_id) AS rn
      FROM events
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS day, event_type,
           CAST(prio AS INTEGER) AS prio, event_id,
           CAST(value AS DOUBLE) AS value
    FROM pe WHERE rn = 1
    """,
)
def preferred_daily_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference dedup (dataops/dedup.py::dedup_by_preference): one event
    per user-day, chosen by a business priority over event types
    (purchase > signup > click > view > error), tie-broken by earliest
    timestamp then id. The third dedup-keep policy next to first-occurrence
    (exact_dedup) and keep-last (dedup_keep_last). Unlike the oracle's
    row_number formulation, the operator is a single hash aggregation —
    ``min(struct(prio, ts, id, row))`` map-side combines, so the shuffle
    carries one candidate per (partition, key) instead of sorting every
    duplicate group; at 100 TB that's the difference between an agg and a
    full window sort."""
    from f1_data_engineering_machine_learning_spark.dataops.dedup import (
        dedup_by_preference,
    )

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "event_type", "value",
        F.to_date("ts").alias("d"),
        F.when(F.col("event_type") == "purchase", 0)
        .when(F.col("event_type") == "signup", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "view", 3)
        .otherwise(4)
        .alias("prio"),
    )
    out = dedup_by_preference(ev, ["user_id", "d"], ["prio", "ts", "event_id"])
    return out.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.col("prio").cast("integer").alias("prio"),
        "event_id",
        F.col("value").cast("double").alias("value"),
    )


@query(
    "doc_long_words",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]{5,}')) AS BIGINT)
             AS n_long,
           CAST(len(list_distinct(regexp_extract_all(text, '[a-z]{5,}')))
             AS BIGINT) AS n_distinct_long,
           array_to_string(
             list_sort(list_distinct(regexp_extract_all(text, '[a-z]{5,}'))),
             ' ') AS long_words
    FROM documents
    """,
)
def doc_long_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction surface: ``regexp_extract_all`` + array
    distinct/sort/join, all JVM built-ins evaluated map-side in one pass
    over the input — no aggregation, no join. The full sorted-distinct
    word list is emitted so the oracle value-hash covers every extracted
    token, not just the counts. The only exchange is the min-parallelism
    widen: the regex work would otherwise inherit the single-file scan's
    1-task layout (at real corpus scale the widen short-circuits and the
    plan is exchange-free)."""
    from f1_data_engineering_machine_learning_spark.operators.partitioning import (
        ensure_min_parallelism,
    )

    docs = ensure_min_parallelism(_t(spark, sf_dir, "documents"))
    # idx=0 (whole match): Spark defaults to capture group 1 and throws on
    # a group-less pattern; DuckDB defaults to group 0
    words = F.regexp_extract_all("text", F.lit("[a-z]{5,}"), 0)
    return docs.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_long"),
        F.size(F.array_distinct(words)).cast("bigint").alias("n_distinct_long"),
        F.array_join(F.array_sort(F.array_distinct(words)), " ").alias("long_words"),
    )


@query(
    "orders_price_neighborhood",
    """
    SELECT o_orderkey, o_orderpriority,
           CAST(o_totalprice AS DOUBLE) AS price,
           CAST(COUNT(*) OVER (
             PARTITION BY o_orderpriority ORDER BY o_totalprice
             RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS BIGINT)
             AS n_near
    FROM orders
    """,
)
def orders_price_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-based RANGE window (vs rolling_90d_spend's time-based one):
    for every order, how many same-priority orders are priced within
    +-1000. Spark evaluates this as a sliding frame over the sorted
    partition — one shuffle on the partition key, O(n) frame advance
    (both frame edges only move forward), never the O(n^2) self-join a
    naive formulation would use. Frame bounds via the SQL window form
    (typed literal) since the DataFrame ``rangeBetween`` API takes only
    integer offsets against a double ordering column."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
        F.expr(
            "COUNT(*) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice "
            "RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING)"
        )
        .cast("bigint")
        .alias("n_near"),
    )


@query(
    "bigram_collocations",
    """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bg AS (
      SELECT u.w1 AS w1, u.w2 AS w2 FROM (
        SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                     i -> {'w1': t[i], 'w2': t[i+1]})) AS u
        FROM tok
      )
    ), bgc AS (
      SELECT w1, w2, COUNT(*) AS n_xy FROM bg GROUP BY 1, 2
    ), uni AS (
      SELECT w, COUNT(*) AS n_w FROM (
        SELECT unnest(t) AS w FROM tok) GROUP BY 1
    ), totals AS (
      SELECT (SELECT SUM(n_xy) FROM bgc) AS n_bi,
             (SELECT SUM(n_w) FROM uni) AS n_uni
    )
    SELECT b.w1, b.w2, CAST(b.n_xy AS BIGINT) AS n_xy,
           CAST(CAST(b.n_xy AS DOUBLE) * t.n_uni * t.n_uni
                / t.n_bi / ux.n_w / uy.n_w AS DOUBLE) AS pmi_ratio
    FROM bgc b
    JOIN uni ux ON ux.w = b.w1
    JOIN uni uy ON uy.w = b.w2
    CROSS JOIN totals t
    WHERE b.n_xy >= 5
    """,
)
def bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: bigram counts with the PMI likelihood RATIO
    p(xy)/(p(x)p(y)) — the corpus-linguistics screen for multiword
    expressions. The log is deliberately left off: the ratio is a chain
    of IEEE ops over exact integer counts (bit-identical across engines),
    while log() would hash-drift on libm differences — callers can take
    the log client-side.

    Plan shape (recomputing the unigram-count subtree for each of its
    three consumers costs 24 exchanges): the corpus
    is scanned ONCE, each doc exploding a single tagged array carrying
    both its adjacent-pair structs and its unigram structs, so ONE
    corpus-wide shuffle produces the combined (is_uni, w1, w2) count
    table. That table (vocab + distinct-bigram bounded, tiny next to
    the corpus) is persisted and let-bound: the bigram branch, the two
    broadcast unigram sides, and the 1-row totals agg all read the
    cached counts instead of re-tokenizing — at 100 TB that is the
    difference between one corpus pass and five. Adjacent-pair
    construction stays a map-side higher-order transform, never a
    self-join on position."""
    from f1_data_engineering_machine_learning_spark.operators.partitioning import (
        ensure_min_parallelism,
    )

    docs = ensure_min_parallelism(_t(spark, sf_dir, "documents"))
    toks = docs.select(F.split("text", " ").alias("t"))
    # one tagged explode: is_uni=0 rows are adjacent pairs (identical
    # expression to the oracle's generate_series construction), is_uni=1
    # rows are unigrams — the tag (not w2 IS NULL) discriminates, so any
    # NULL produced by the pair arm stays classified as a pair
    pairs = toks.select(
        F.explode(
            F.expr(
                "concat("
                "transform(sequence(0, size(t) - 2), "
                "i -> struct(0 AS is_uni, t[i] AS w1, t[i+1] AS w2)), "
                "transform(t, w -> struct(1 AS is_uni, w AS w1, "
                "CAST(NULL AS STRING) AS w2)))"
            )
        ).alias("p")
    ).select("p.is_uni", "p.w1", "p.w2")
    # localCheckpoint, not persist: the four consumers below live in ONE
    # returned (lazy) plan, so there is no post-action seam inside this
    # function to unpersist from — a persist() here would stay resident
    # until session end for every caller that doesn't clearCache()
    # (bench reruns, 200-query selfcheck sweeps). The lazy local
    # checkpoint materializes the counts once on first use exactly like
    # the persist did, but the blocks belong to the checkpointed RDD,
    # which the ContextCleaner frees as soon as the returned DataFrame
    # is garbage-collected — harness-releasable, no cache-manager entry.
    counts = (
        pairs.groupBy("is_uni", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    bgc = counts.filter(F.col("is_uni") == 0).select(
        "w1", "w2", F.col("n").alias("n_xy")
    )
    uni = counts.filter(F.col("is_uni") == 1).select("w1", "n")
    totals = counts.agg(
        F.sum(F.when(F.col("is_uni") == 0, F.col("n"))).alias("n_bi"),
        F.sum(F.when(F.col("is_uni") == 1, F.col("n"))).alias("n_uni"),
    )
    ux = uni.select(F.col("w1").alias("__wx"), F.col("n").alias("__nx"))
    uy = uni.select(F.col("w1").alias("__wy"), F.col("n").alias("__ny"))
    return (
        bgc.filter(F.col("n_xy") >= 5)
        .join(F.broadcast(ux), F.col("w1") == F.col("__wx"))
        .join(F.broadcast(uy), F.col("w2") == F.col("__wy"))
        .join(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            F.col("n_xy").cast("bigint").alias("n_xy"),
            (
                F.col("n_xy").cast("double")
                * F.col("n_uni")
                * F.col("n_uni")
                / F.col("n_bi")
                / F.col("__nx")
                / F.col("__ny")
            )
            .cast("double")
            .alias("pmi_ratio"),
        )
    )


@query(
    "order_price_iqr_outliers",
    """
    WITH ranked AS (
      SELECT o_orderpriority, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ), q AS (
      SELECT o_orderpriority,
             MIN(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT)
                      THEN o_totalprice END) AS q1,
             MIN(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT)
                      THEN o_totalprice END) AS q3
      FROM ranked GROUP BY 1
    )
    SELECT r.o_orderpriority,
           CAST(q.q1 AS DOUBLE) AS q1, CAST(q.q3 AS DOUBLE) AS q3,
           CAST(COUNT(CASE WHEN r.o_totalprice
                                < q.q1 - 1.5 * (q.q3 - q.q1) THEN 1 END)
                AS BIGINT) AS n_below,
           CAST(COUNT(CASE WHEN r.o_totalprice
                                > q.q3 + 1.5 * (q.q3 - q.q1) THEN 1 END)
                AS BIGINT) AS n_above
    FROM ranked r JOIN q ON r.o_orderpriority = q.o_orderpriority
    GROUP BY 1, 2, 3
    """,
)
def order_price_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen: Tukey fences at Q1/Q3 +- 1.5 IQR per group.
    The quartiles are DISCRETE (the value AT row ceil(q*n), selected via
    row_number — no interpolation), which sidesteps every cross-engine
    interpolation-formula hazard on non-integral doubles; the same
    selection is spelled out in the oracle. One shuffle computes rank and
    group size together (two windows, same partition spec); the 5-row
    quartile frame broadcasts back for the fence counts. 0.25*n and the
    fence arithmetic are exact/IEEE-deterministic."""
    o = _t(spark, sf_dir, "orders")
    wsort = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wall = Window.partitionBy("o_orderpriority")
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(wsort).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    q = ranked.groupBy("o_orderpriority").agg(
        F.min(
            F.when(
                F.col("rn") == F.ceil(0.25 * F.col("n")).cast("bigint"),
                F.col("o_totalprice"),
            )
        ).alias("q1"),
        F.min(
            F.when(
                F.col("rn") == F.ceil(0.75 * F.col("n")).cast("bigint"),
                F.col("o_totalprice"),
            )
        ).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        ranked.join(
            F.broadcast(q.withColumnRenamed("o_orderpriority", "__p")),
            F.col("o_orderpriority") == F.col("__p"),
        )
        .groupBy(
            "o_orderpriority",
            F.col("q1").cast("double").alias("q1"),
            F.col("q3").cast("double").alias("q3"),
        )
        .agg(
            F.count(
                F.when(
                    F.col("o_totalprice") < F.col("q1") - 1.5 * iqr, F.lit(1)
                )
            )
            .cast("bigint")
            .alias("n_below"),
            F.count(
                F.when(
                    F.col("o_totalprice") > F.col("q3") + 1.5 * iqr, F.lit(1)
                )
            )
            .cast("bigint")
            .alias("n_above"),
        )
    )


@query(
    "copurchased_parts",
    """
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
)
def copurchased_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in >= 2
    orders. The pair explosion is a WITHIN-GROUP self-join on the order
    key — output per order is C(k,2) for basket size k, bounded by the
    basket, never |parts|^2; the distinct-first projection keeps repeated
    part lines from inflating pairs. One shuffle co-locates baskets, the
    pair count is a map-side-combining groupBy. This is the candidate
    generator of frequent-itemset mining (the A-priori step-2 shape) —
    at 100 TB the same plan holds because basket sizes, not corpus size,
    drive the explosion factor."""
    li = _t(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    # unordered pairs by combination expansion over the SORTED collected
    # basket (part_a < part_b comes free from sorted order) — one basket
    # shuffle + one count shuffle; the equivalent basket self-join pays
    # a third exchange. Same shape as _enumerated_itemsets size-2.
    baskets = op.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("items")
    )
    return (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(items, (x, i) -> "
                    "transform(slice(items, i + 2, size(items) - i - 1), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.a").alias("part_a"), F.col("p.b").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@query(
    "kanonymity_customer_segments",
    """
    SELECT c_nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           COUNT(*) < 5 AS violates_k5
    FROM customer
    GROUP BY 1, 2
    """,
)
def kanonymity_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-governance screen: k-anonymity over the quasi-identifier pair
    (nation, market segment) — any equivalence class smaller than k=5
    can re-identify members on release. One map-side-combining groupBy;
    at scale the violating-groups frame (the only thing a reviewer needs)
    is tiny regardless of input size. Training-data pipelines run this
    before publishing derived corpora; pairs with `redact_pii`
    (dataops/text.py) as the remediation step."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size"),
        (F.count(F.lit(1)) < 5).alias("violates_k5"),
    )


@query(
    "throttled_user_events",
    """
    WITH RECURSIVE ev AS (
      SELECT user_id, event_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), walk AS (
      SELECT user_id, event_id, ts, rn, TRUE AS kept, ts AS last_kept
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.event_id, e.ts, e.rn,
             e.ts >= w.last_kept + INTERVAL 1 HOUR AS kept,
             CASE WHEN e.ts >= w.last_kept + INTERVAL 1 HOUR
                  THEN e.ts ELSE w.last_kept END AS last_kept
      FROM ev e JOIN walk w ON e.user_id = w.user_id AND e.rn = w.rn + 1
    )
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM walk WHERE kept
    """,
)
def throttled_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event throttling (operators/throttle.py): per user, keep an event
    only if >= 1 hour has passed since the last KEPT event. Sequential
    semantics no window composition can express (see the operator's
    docstring for the counter-example) — Spark side is an applyInPandas
    per-entity scan; the oracle replays the identical walk with a DuckDB
    RECURSIVE CTE, making this one of the few Python-path operators with
    a full value-level oracle rather than a rows-only check."""
    from f1_data_engineering_machine_learning_spark.operators.throttle import (
        throttle_events,
    )

    ev = _events(spark, sf_dir).select("user_id", "event_id", "ts")
    out = throttle_events(ev, ["user_id"], "ts", 3600.0, ["event_id"])
    return out.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )


@query(
    "weekly_revenue_growth",
    """
    WITH wk AS (
      SELECT date_trunc('week', o_orderdate) AS week,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT strftime(week, '%Y-%m-%d') AS week_start,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(CAST(rev AS DOUBLE)
                / CAST(LAG(rev) OVER (ORDER BY week) AS DOUBLE)
                AS DOUBLE) AS wow_ratio
    FROM wk
    """,
)
def weekly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth: weekly decimal-exact revenue plus the ratio
    to the previous week (NULL on the first week — no fabricated
    baseline; ratio not log, so the only float op is one IEEE divide).
    The LAG runs on the POST-AGGREGATE weekly frame — a few hundred rows
    regardless of input scale, so the unpartitioned window (a
    single-task stage) is a non-issue by construction; the heavy lifting
    is the one map-side-combining groupBy."""
    o = _t(spark, sf_dir, "orders")
    wk = o.groupBy(F.date_trunc("week", "o_orderdate").alias("week")).agg(
        dsum("o_totalprice", 2).alias("revenue")
    )
    w = Window.orderBy("week")
    return wk.select(
        F.date_format("week", "yyyy-MM-dd").alias("week_start"),
        "revenue",
        (F.col("revenue") / F.lag("revenue").over(w))
        .cast("double")
        .alias("wow_ratio"),
    )


@query(
    "unshipped_order_revenue",
    """
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def unshipped_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: revenue of orders placed before a date whose lines
    ship after it, one market segment, top 10. Both date filters push to
    their scans, the segment-filtered customer dim broadcasts, and the
    final top-10 is TakeOrderedAndProject (per-partition heaps) with a
    deterministic orderkey tie-break — no global sort."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
    )
    return agg.select("l_orderkey", "revenue", "orderdate", "o_orderpriority").orderBy(
        F.col("revenue").desc(), "l_orderkey"
    ).limit(10)


@query(
    "discounted_revenue_probe",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def discounted_revenue_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure scan-filter-aggregate probe — no join, no
    group. Its whole point at scale is pushdown: all four predicates
    reach the parquet reader (date range, discount band, quantity bound
    appear in PushedFilters), the scan reads exactly four columns, and
    the single global aggregate is two levels of map-side partials. The
    canonical 'is the fast path actually fast' canary."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return li.agg(
        F.sum(price * disc).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "returned_revenue_customers",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS lost_revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-10-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY lost_revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def returned_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: customers ranked by revenue lost to returns in a
    quarter, top 20. Return-flag and date filters push down; the quarter-
    filtered orders dim and nation broadcast; customer joins by key after
    the aggregate has collapsed lineitems (join small-side-late). Top-k
    via TakeOrderedAndProject with custkey tie-break."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    per_cust = (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(price * (F.lit(1) - disc)).alias("__rev"))
    )
    return (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.col("__rev").cast("double").alias("lost_revenue"),
        )
        .orderBy(F.col("lost_revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "late_line_priority_classes",
    """
    SELECT l.l_returnflag,
           CAST(COUNT(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 END) AS BIGINT) AS high_line_count,
           CAST(COUNT(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                           THEN 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def late_line_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (l_shipmode re-anchored on l_returnflag — the
    testdata has no shipmode column): among badly-late lines (shipped
    >60 days after ordering) in one year, conditional counts of
    urgent-vs-other order priorities per line class. The cross-table
    lateness predicate is the join residual; the IN-list conditionals
    compile to one pass of CASE aggregation (no second join, no union)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate > F.col("o_orderdate") + F.expr("interval 60 days")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


@query(
    "promo_revenue_share",
    """
    SELECT CAST(100 AS DOUBLE)
           * CAST(CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l.l_discount AS DECIMAL(4,2))) END)
                  AS VARCHAR) AS DOUBLE)
           / CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(4,2))))
                  AS VARCHAR) AS DOUBLE) AS promo_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-06-01'
      AND l.l_shipdate <  TIMESTAMP '1997-07-01'
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue as a share of one month's total —
    numerator and denominator in ONE aggregation pass (conditional sum
    over the same join), never two scans. The month filter pushes down;
    part broadcasts. Division order: exact decimal sums, each cast to
    double EXPLICITLY (JVM decimal->double is correctly rounded; the
    oracle goes through VARCHAR so strtod correctly rounds too — at
    sf1 the scaled sums exceed 2^53, where DuckDB's direct
    decimal->double double-rounds off by 1 ulp, caught by an
    sf1 value sweep), then identical double arithmetic both engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    rev = price * (F.lit(1) - disc)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev)).cast("double")
                / F.sum(rev).cast("double")
            )
            .alias("promo_pct")
        )
    )


@query(
    "user_state_cdc",
    """
    WITH snap AS (
      SELECT user_id, event_type AS last_type, CAST(value AS DOUBLE) AS last_value
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
        FROM events WHERE ts < TIMESTAMP '2024-01-16'
      ) WHERE rn = 1
    ), chg AS (
      SELECT user_id, event_type, CAST(value AS DOUBLE) AS value, ts, event_id,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      FROM events WHERE ts >= TIMESTAMP '2024-01-16'
    ), latest AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM chg
      ) WHERE rn = 1
    )
    SELECT s.user_id, s.last_type, s.last_value
    FROM snap s
    WHERE s.user_id NOT IN (SELECT user_id FROM latest)
    UNION ALL
    SELECT user_id, event_type AS last_type, value AS last_value
    FROM latest WHERE op <> 'D'
    """,
)
def user_state_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply (operators/cdc.py): a keyed user-state snapshot (each
    user's first event in the first half of the month) advanced by the
    second half as a change feed — error events are tombstones (DELETE),
    everything else upserts, only the latest change per user wins. The
    MERGE INTO semantic on plain parquet: partial-aggregating struct-max
    latest-change selection, left-anti + union apply (two key shuffles
    total). The oracle replays snapshot/latest/apply in SQL."""
    from f1_data_engineering_machine_learning_spark.operators.cdc import apply_cdc
    from f1_data_engineering_machine_learning_spark.dataops.dedup import (
        dedup_by_preference,
    )

    split = F.lit("2024-01-16").cast("timestamp")
    ev = _events(spark, sf_dir)
    first_half = ev.filter(F.col("ts") < split).select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    snap = dedup_by_preference(
        first_half, ["user_id"], ["ts", "event_id"]
    ).select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.col("value").cast("double").alias("last_value"),
    )
    changes = ev.filter(F.col("ts") >= split).select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.col("value").cast("double").alias("last_value"),
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
    )
    return apply_cdc(
        snap,
        changes,
        ["user_id"],
        seq_col="ts",
        op_col="op",
        delete_value="D",
        tiebreak_cols=["event_id"],
    )


@query(
    "trending_daily_terms",
    """
    WITH tok AS (
      SELECT d, w, COUNT(*) AS n FROM (
        SELECT CAST(e.ts AS DATE) AS d,
               unnest(string_split(dd.text, ' ')) AS w
        FROM events e
        JOIN documents dd ON dd.doc_id = e.event_id % 500
        WHERE e.event_type = 'view'
      ) GROUP BY 1, 2
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY d
                                   ORDER BY n DESC, w) AS rnk
      FROM tok
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, w AS term,
           CAST(n AS BIGINT) AS n, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
)
def trending_daily_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending terms per day, top 5 — the per-time-bucket top-k shape
    (rank window over a bucketed aggregate). Views are joined to their
    viewed document (synthetic linkage: doc_id = event_id mod corpus
    size, same rule both engines), tokenized once, counted per (day,
    term), ranked per day with WindowGroupLimit pruning (Spark pushes
    the rnk<=5 limit into the sort — per-partition heaps, no full
    per-day sort). Deterministic term tie-break."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "view")
    docs = _t(spark, sf_dir, "documents")
    n_docs = 500  # fixed linkage modulus, mirrored in the oracle
    viewed = ev.select(
        F.to_date("ts").alias("d"),
        (F.col("event_id") % n_docs).alias("doc_id"),
    ).join(docs.select("doc_id", "text"), "doc_id")
    tok = (
        viewed.select("d", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("d", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("d").orderBy(F.col("n").desc(), "w")
    return (
        tok.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("w").alias("term"),
            F.col("n").cast("bigint").alias("n"),
            F.col("rnk").cast("integer").alias("rnk"),
        )
    )


@query(
    "lineitem_correlation_matrix",
    """
    WITH m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity      AS DECIMAL(18,2))) AS DOUBLE) AS s_q,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s_p,
             CAST(SUM(CAST(l_discount      AS DECIMAL(18,2))) AS DOUBLE) AS s_d,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS s_qq,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS s_pp,
             CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS s_dd,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS s_qp,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS s_qd,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS s_pd
      FROM lineitem
    )
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
           CAST((n * s_qp - s_q * s_p)
                / (sqrt(n * s_qq - s_q * s_q)
                   * sqrt(n * s_pp - s_p * s_p)) AS DOUBLE) AS r
    FROM m
    UNION ALL
    SELECT 'l_quantity', 'l_discount',
           CAST((n * s_qd - s_q * s_d)
                / (sqrt(n * s_qq - s_q * s_q)
                   * sqrt(n * s_dd - s_d * s_d)) AS DOUBLE)
    FROM m
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount',
           CAST((n * s_pd - s_p * s_d)
                / (sqrt(n * s_pp - s_p * s_p)
                   * sqrt(n * s_dd - s_d * s_d)) AS DOUBLE)
    FROM m
    """,
)
def lineitem_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson MATRIX over 3 measures from ONE aggregation pass:
    all 9 sufficient statistics (counts, sums, squares, cross-products)
    accumulate together — a profiling sweep over k columns needs k(k+3)/2
    aggregates in one scan, not k(k-1)/2 separate corr() jobs. All
    moments are exact decimal sums; each coefficient is a fixed-order
    double expression (sqrt is IEEE correctly-rounded, hence
    cross-engine-deterministic). Result unpivoted to (col_a, col_b, r)
    rows from the 1-row moment frame — pure projection, no Expand."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(18,2)")
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    d = F.col("l_discount").cast("decimal(18,2)")
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).cast("double").alias("s_q"),
        F.sum(p).cast("double").alias("s_p"),
        F.sum(d).cast("double").alias("s_d"),
        F.sum(q * q).cast("double").alias("s_qq"),
        F.sum(p * p).cast("double").alias("s_pp"),
        F.sum(d * d).cast("double").alias("s_dd"),
        F.sum(q * p).cast("double").alias("s_qp"),
        F.sum(q * d).cast("double").alias("s_qd"),
        F.sum(p * d).cast("double").alias("s_pd"),
    )

    def _r(sxy, sx, sy, sxx, syy):
        n = F.col("n")
        return (
            (n * F.col(sxy) - F.col(sx) * F.col(sy))
            / (
                F.sqrt(n * F.col(sxx) - F.col(sx) * F.col(sx))
                * F.sqrt(n * F.col(syy) - F.col(sy) * F.col(sy))
            )
        ).cast("double")

    pairs = [
        ("l_quantity", "l_extendedprice", _r("s_qp", "s_q", "s_p", "s_qq", "s_pp")),
        ("l_quantity", "l_discount", _r("s_qd", "s_q", "s_d", "s_qq", "s_dd")),
        ("l_extendedprice", "l_discount", _r("s_pd", "s_p", "s_d", "s_pp", "s_dd")),
    ]
    # one explode over the single moment row — a 3-way union of selects
    # from m would re-run the whole lineitem aggregation three times
    return m.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("col_a"),
                        F.lit(b).alias("col_b"),
                        expr.alias("r"),
                    )
                    for a, b, expr in pairs
                ]
            )
        ).alias("x")
    ).select("x.col_a", "x.col_b", "x.r")


@query(
    "click_next_purchase",
    """
    WITH clicks AS (
      SELECT event_id, user_id, ts, -epoch_us(ts) AS nts
      FROM events WHERE event_type = 'click'
    ), purchases AS (
      SELECT user_id, ts, event_id AS purchase_id,
             CAST(value AS DOUBLE) AS purchase_value, -epoch_us(ts) AS nts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id, c.user_id,
           p.purchase_id AS purchase_id_next,
           p.purchase_value AS purchase_value_next
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.nts >= p.nts
    """,
)
def click_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (operators/asof.py, direction='forward'): each
    click matched to the user's EARLIEST purchase at-or-after it — the
    attribution-forward lookup ("did this click convert, and to what").
    DuckDB ASOF only walks backward, so the oracle negates the epoch
    (backward over -t == forward over t, inclusive) — a direction-parity
    proof, not just a rows check."""
    from f1_data_engineering_machine_learning_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.col("value").cast("double").alias("purchase_value"),
    )
    out = asof_join(
        clicks,
        purchases,
        ["user_id"],
        "ts",
        ["purchase_id", "purchase_value"],
        suffix="_next",
        direction="forward",
    )
    return out.select(
        "event_id", "user_id", "purchase_id_next", "purchase_value_next"
    )


@query(
    "click_nearest_purchase",
    """
    WITH clicks AS (
      SELECT event_id, user_id, ts, -epoch_us(ts) AS nts
      FROM events WHERE event_type = 'click'
    ), purchases AS (
      SELECT user_id, ts, event_id AS purchase_id, -epoch_us(ts) AS nts
      FROM events WHERE event_type = 'purchase'
    ), prev AS (
      SELECT c.event_id, p.purchase_id, p.ts
      FROM clicks c ASOF LEFT JOIN purchases p
        ON c.user_id = p.user_id AND c.ts >= p.ts
    ), nxt AS (
      SELECT c.event_id, p.purchase_id, p.ts
      FROM clicks c ASOF LEFT JOIN purchases p
        ON c.user_id = p.user_id AND c.nts >= p.nts
    )
    SELECT c.event_id, c.user_id,
           CASE WHEN n.purchase_id IS NULL THEN b.purchase_id
                WHEN b.purchase_id IS NULL THEN n.purchase_id
                WHEN epoch_us(c.ts) - epoch_us(b.ts)
                     <= epoch_us(n.ts) - epoch_us(c.ts) THEN b.purchase_id
                ELSE n.purchase_id END AS purchase_id_near
    FROM clicks c
    LEFT JOIN prev b ON b.event_id = c.event_id
    LEFT JOIN nxt n ON n.event_id = c.event_id
    """,
)
def click_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (direction='nearest'): each click matched to the
    temporally closest purchase either direction, exact-microsecond
    distances, ties to backward — pandas merge_asof(direction='nearest')
    semantics as ONE window pass (both frames over the same sort; the
    oracle needs two ASOF joins plus a combine to say the same thing)."""
    from f1_data_engineering_machine_learning_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    out = asof_join(
        clicks,
        purchases,
        ["user_id"],
        "ts",
        ["purchase_id"],
        suffix="_near",
        direction="nearest",
    )
    return out.select("event_id", "user_id", "purchase_id_near")


@query(
    "session_incident_overlaps",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                          > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ), intervals AS (
      SELECT user_id, CAST(sid AS BIGINT) AS sid,
             MIN(ts) AS s_start, MAX(ts) + INTERVAL 1 MINUTE AS s_end
      FROM sess GROUP BY 1, 2
    ), incidents AS (
      SELECT event_id AS inc_id,
             ts - INTERVAL 30 MINUTE AS i_start,
             ts + INTERVAL 30 MINUTE AS i_end
      FROM events WHERE event_type = 'error'
    )
    SELECT i.user_id, i.sid,
           CAST(COUNT(x.inc_id) AS BIGINT) AS n_incidents
    FROM intervals i LEFT JOIN incidents x
      ON i.s_start < x.i_end AND x.i_start < i.s_end
    GROUP BY 1, 2
    """,
)
def session_incident_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (operators/range_join.py::
    interval_overlap_join, BUCKETED strategy): user sessions (30-min-gap
    sessionization, +1-min closeout) overlap-counted against global
    incident windows (error ts +-30 min). Both interval sets are derived
    — the point is the operator: two interval tables equi-joined on time
    buckets with the first-overlap-bucket guard emitting each pair
    exactly once (no distinct), vs the oracle's plain inequality join.
    LEFT keeps incident-free sessions at count 0."""
    from f1_data_engineering_machine_learning_spark.operators.range_join import (
        interval_overlap_join,
    )

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    is_new = F.when(
        F.lag("ts").over(w).isNull()
        | (F.col("ts") - F.lag("ts").over(w) > F.expr("interval 30 minutes")),
        1,
    ).otherwise(0)
    flagged = ev.select(
        "user_id",
        "ts",
        F.sum(is_new)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sid"),
    )
    intervals = flagged.groupBy(
        "user_id", F.col("sid").cast("bigint").alias("sid")
    ).agg(
        F.min("ts").alias("s_start"),
        (F.max("ts") + F.expr("interval 1 minute")).alias("s_end"),
    )
    incidents = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("inc_id"),
        (F.col("ts") - F.expr("interval 30 minutes")).alias("i_start"),
        (F.col("ts") + F.expr("interval 30 minutes")).alias("i_end"),
    )
    joined = interval_overlap_join(
        intervals,
        incidents,
        "s_start",
        "s_end",
        "i_start",
        "i_end",
        how="left",
        strategy="bucketed",
        bucket_seconds=3600,
    )
    return joined.groupBy("user_id", "sid").agg(
        F.count("inc_id").alias("n_incidents")
    )


@query(
    "user_session_incident_overlaps",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                          > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ), intervals AS (
      SELECT user_id, CAST(sid AS BIGINT) AS sid,
             MIN(ts) AS s_start, MAX(ts) + INTERVAL 1 MINUTE AS s_end
      FROM sess GROUP BY 1, 2
    ), incidents AS (
      SELECT user_id, event_id AS inc_id,
             ts - INTERVAL 30 MINUTE AS i_start,
             ts + INTERVAL 30 MINUTE AS i_end
      FROM events WHERE event_type = 'error'
    )
    SELECT i.user_id, i.sid,
           CAST(COUNT(x.inc_id) AS BIGINT) AS n_incidents
    FROM intervals i LEFT JOIN incidents x
      ON x.user_id = i.user_id
     AND i.s_start < x.i_end AND x.i_start < i.s_end
    GROUP BY 1, 2
    """,
)
def user_session_incident_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYED interval-overlap join (operators/range_join.py::
    interval_overlap_join with keys=['user_id'], bucketed strategy):
    each user's sessions overlap-counted against THEIR OWN incident
    windows only. The keyed variant is the density-safe shape the sf1
    probe motivated — bucket candidates are confined to the key group,
    so another user's incidents never enter the candidate set. Oracle:
    plain inequality join with the user-equality predicate."""
    from f1_data_engineering_machine_learning_spark.operators.range_join import (
        interval_overlap_join,
    )

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    is_new = F.when(
        F.lag("ts").over(w).isNull()
        | (F.col("ts") - F.lag("ts").over(w) > F.expr("interval 30 minutes")),
        1,
    ).otherwise(0)
    flagged = ev.select(
        "user_id",
        "ts",
        F.sum(is_new)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sid"),
    )
    intervals = flagged.groupBy(
        "user_id", F.col("sid").cast("bigint").alias("sid")
    ).agg(
        F.min("ts").alias("s_start"),
        (F.max("ts") + F.expr("interval 1 minute")).alias("s_end"),
    )
    incidents = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("inc_id"),
        (F.col("ts") - F.expr("interval 30 minutes")).alias("i_start"),
        (F.col("ts") + F.expr("interval 30 minutes")).alias("i_end"),
    )
    joined = interval_overlap_join(
        intervals,
        incidents,
        "s_start",
        "s_end",
        "i_start",
        "i_end",
        how="left",
        strategy="bucketed",
        bucket_seconds=3600,
        keys=["user_id"],
    )
    return joined.groupBy("user_id", "sid").agg(
        F.count("inc_id").alias("n_incidents")
    )


@query(
    "doc_token_familiarity",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ), vocab AS (
      SELECT t, COUNT(*) AS c FROM tok GROUP BY t
    ), tot AS (
      SELECT COUNT(*) AS n FROM tok
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(c) AS BIGINT) AS sum_freq,
           CAST(CAST(SUM(c) AS DOUBLE) / COUNT(*) / MAX(tot.n) AS DOUBLE)
             AS familiarity
    FROM tok JOIN vocab USING (t) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def doc_token_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality signal without transcendentals
    (dataops/text.py::token_familiarity): average corpus frequency of
    each document's tokens. All sums are BIGINT; the only float ops are
    the two final divisions, so the double value-hashes bitwise against
    DuckDB (a log-prob formulation would drift on libm ulps — the same
    reason the catalog avoids ln everywhere). The Zipf-hot token join is
    the documented AQE-skew-join case."""
    from f1_data_engineering_machine_learning_spark.dataops.text import (
        token_familiarity,
    )

    docs = _t(spark, sf_dir, "documents")
    return token_familiarity(docs, id_col="doc_id", text_col="text")


@query(
    "doc_split_assignment",
    """
    WITH s AS (
      SELECT doc_id, text,
             CASE WHEN substr(md5(text), 1, 4) < 'cccc' THEN 'train'
                  WHEN substr(md5(text), 1, 4) < 'e666' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
    FROM s GROUP BY split
    """,
)
def doc_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split from document CONTENT
    (dataops/sampling.py::split_by_content_hash): membership depends only
    on md5(text) — every engine (the DuckDB oracle literally re-derives
    it) and any future re-run reproduces the same split, the property an
    eval-contamination audit needs. Cutoffs are hex-aligned integer
    bucket bounds (0xcccc / 0xe666 of 0x10000), map-only, no shuffle
    before the per-split aggregate."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        split_by_content_hash,
    )

    docs = _t(spark, sf_dir, "documents")
    s = split_by_content_hash(
        docs, "text", {"train": 0.8, "val": 0.1, "test": 0.1}, hex_chars=4
    )
    return s.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
    )


@query(
    "doc_stratified_split_exact",
    """
    WITH r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN rk <= CAST(FLOOR(n * 8 / 10) AS BIGINT) THEN 'train'
                WHEN rk <= CAST(FLOOR(n * 9 / 10) AS BIGINT) THEN 'val'
                ELSE 'test' END AS split
    FROM r
    """,
)
def doc_stratified_split_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-count stratified 80/10/10 split per language
    (dataops/sampling.py::exact_stratified_split): every stratum hits
    its quota exactly (integer-floor boundaries over the per-stratum
    md5-ordered rank), not just in expectation — the guarantee a
    per-language eval budget needs, complementing the map-only
    hash-bucket split (``doc_split_assignment``). Membership is a pure
    function of the data (md5 of the key + key tiebreak), so the full
    per-document assignment is value-hashed against the oracle. The
    rank window partitions by stratum — per-stratum sorts, never a
    global single-task window."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        exact_stratified_split,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = exact_stratified_split(
        docs,
        ["lang"],
        [("train", 8), ("val", 1), ("test", 1)],
        key="doc_id",
    )
    return out.select("doc_id", "lang", "split")


@query(
    "purchase_click_attribution_window",
    """
    WITH purchases AS (
      SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS value
      FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts, event_id AS click_id FROM events
      WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id, p.value,
           CASE WHEN p.ts - c.ts <= INTERVAL 30 MINUTE
                THEN c.click_id END AS click_id_asof
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def purchase_click_attribution_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution with a LOOKBACK WINDOW: each purchase credits the
    user's latest click only if it happened within the last 30 minutes —
    ``asof_join(tolerance=...)``, the pandas ``merge_asof(tolerance=)``
    semantic (the as-of pick happens first; tolerance only vetoes it, no
    fallback to an older in-window click). Oracle: DuckDB native ASOF
    JOIN with the same post-pick CASE veto. Same single-shuffle plan as
    the untolerated as-of."""
    from f1_data_engineering_machine_learning_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").cast("double").alias("value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = asof_join(
        purchases, clicks, ["user_id"], "ts", ["click_id"],
        tolerance=30 * 60 * 1_000_000,  # 30 min in exact microseconds
    )
    return out.select("event_id", "user_id", "value", "click_id_asof")


@query(
    "daily_distinct_sketch_rollup",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(DISTINCT user_id) AS ed
      FROM events GROUP BY 1
    ), tot AS (
      SELECT COUNT(DISTINCT user_id) AS et FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(tot.et) AS BIGINT) AS exact_total,
           CAST(SUM(ed) AS BIGINT) AS sum_daily,
           TRUE AS merged_within_5pct
    FROM daily CROSS JOIN tot
    """,
)
def daily_distinct_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches — the incremental-rollup pattern
    that makes 100 TB dashboards cheap: one Datasketches HLL per day
    (map-side, each day's partial independently computable and storable),
    merged with ``hll_union_agg`` into the full-range estimate WITHOUT
    rescanning history. The oracle can't replay sketch binaries, so the
    value contract is the approx_stats_scale_mode pattern: exact values
    (day count, exact distinct total, sum of daily exacts — larger than
    the total, showing cross-day overlap the merge must handle) plus a
    CLAIM column asserting the merged estimate lands within 5% of exact —
    the claim is hashed, so a sketch regression flips the value hash."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("ed"),
    )
    merged = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("ed").cast("bigint").alias("sum_daily"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__est"),
    )
    exact = ev.agg(F.count_distinct("user_id").cast("bigint").alias("exact_total"))
    return merged.crossJoin(F.broadcast(exact)).select(
        "n_days",
        "exact_total",
        "sum_daily",
        (
            F.abs(F.col("__est") - F.col("exact_total"))
            / F.col("exact_total")
            <= 0.05
        ).alias("merged_within_5pct"),
    )


@query(
    "doc_pooled_embeddings",
    """
    WITH e AS (
      SELECT vec_id, vec_id % 50 AS doc, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ), g AS (
      SELECT doc, COUNT(*) AS n_chunks, list(v ORDER BY vec_id) AS vs
      FROM e GROUP BY doc
    ), s AS (
      SELECT doc, n_chunks,
             list_reduce(vs, (a, b) ->
               list_transform(list_zip(a, b), p -> p[1] + p[2])) AS summed
      FROM g
    ), m AS (
      SELECT doc, n_chunks,
             list_transform(summed, x -> x / n_chunks) AS mean
      FROM s
    ), nrm AS (
      SELECT doc, n_chunks, mean,
             sqrt(list_reduce(list_transform(mean, x -> x * x),
                              (x, y) -> x + y)) AS nm
      FROM m
    )
    SELECT CAST(doc AS BIGINT) AS doc,
           CAST(n_chunks AS BIGINT) AS n_chunks,
           CAST(u.pos AS INTEGER) AS pos,
           CAST(u.val AS DOUBLE) AS val
    FROM (
      SELECT doc, n_chunks,
             unnest(list_transform(generate_series(1, len(mean)),
               i -> {'pos': i - 1,
                     'val': CASE WHEN nm = 0 THEN mean[i]
                                 ELSE mean[i] / nm END})) AS u
      FROM nrm
    )
    """,
)
def doc_pooled_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-to-document embedding pooling
    (dataops/similarity.py::pool_chunk_embeddings): chunks grouped into
    pseudo-documents (vec_id % 50), mean-pooled elementwise and
    L2-normalized. Float sums are order-dependent, so the pool folds each
    group's vectors in SORTED id order (list_reduce left-fold — DuckDB
    replays the identical accumulation, making a bitwise value oracle
    possible for a float reduction over groups). Exploded to (doc, pos,
    val) scalar rows for the hash."""
    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        pool_chunk_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "doc", (F.col("vec_id") % 50).cast("bigint")
    )
    pooled = pool_chunk_embeddings(emb, "doc", id_col="vec_id", vec_col="embedding")
    return pooled.select(
        "doc",
        "n_chunks",
        F.posexplode("pooled").alias("pos", "val"),
    ).select("doc", "n_chunks", F.col("pos").cast("int").alias("pos"),
             F.col("val").cast("double").alias("val"))


@query(
    "doc_markup_cleaned",
    """
    WITH marked AS (
      SELECT doc_id, text,
             '<div class="doc"> <p>' || replace(text, ' ', '</p> <p>')
               || '</p> </div> &amp; &lt;raw&gt;' AS html
      FROM documents
    ), cleaned AS (
      SELECT doc_id, text,
             trim(regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(html, '<[^>]+>', ' ', 'g'),
                       '&lt;', '<', 'g'),
                     '&gt;', '>', 'g'),
                   '&quot;', '"', 'g'),
                 '&#39;', CHR(39), 'g')
               , '\\s+', ' ', 'g')) AS c0
      FROM marked
    ), final AS (
      SELECT doc_id, text, replace(c0, '&amp;', '&') AS clean
      FROM cleaned
    )
    SELECT doc_id,
           clean = text || ' & <raw>' AS roundtrip_ok,
           CAST(length(clean) AS BIGINT) AS clean_len
    FROM final
    """,
)
def doc_markup_cleaned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup cleaning (dataops/text.py::strip_markup) value-checked by
    ROUNDTRIP: each document is wrapped in deterministic HTML (tags
    between every word, trailing escaped entities), cleaned, and compared
    against the expected reconstruction — the boolean and the cleaned
    length are hashed, so any behavioral drift in tag stripping, entity
    order, or whitespace collapsing flips the oracle. Both engines run
    the identical conservative patterns (portable across Java regex and
    RE2). Map-only, no shuffle.

    NOTE the DuckDB side decodes ``&amp;`` via plain replace AFTER the
    regex chain — same decode-last ordering as the Spark side."""
    from f1_data_engineering_machine_learning_spark.dataops.text import strip_markup

    docs = _t(spark, sf_dir, "documents")
    marked = docs.select(
        "doc_id",
        "text",
        F.concat(
            F.lit('<div class="doc"> <p>'),
            F.regexp_replace("text", " ", "</p> <p>"),
            F.lit("</p> </div> &amp; &lt;raw&gt;"),
        ).alias("html"),
    )
    return marked.select(
        "doc_id",
        (
            strip_markup("html") == F.concat(F.col("text"), F.lit(" & <raw>"))
        ).alias("roundtrip_ok"),
        F.length(strip_markup("html")).cast("bigint").alias("clean_len"),
    )


@query(
    "rolling_7d_distinct_users",
    """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id AS u FROM events
    ), days AS (
      SELECT DISTINCT d FROM du
    )
    SELECT strftime(days.d, '%Y-%m-%d') AS d,
           CAST(COUNT(DISTINCT du.u) AS BIGINT) AS exact_7d,
           TRUE AS est_within_5pct
    FROM days JOIN du ON du.d BETWEEN days.d - 6 AND days.d
    GROUP BY days.d
    """,
)
def rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users from MERGEABLE sketches: one HLL per
    day, then ``hll_union_agg`` over a 7-day RANGE window — each day's
    estimate reuses the stored daily sketches instead of rescanning a
    week of raw events, the sliding-window sibling of
    ``daily_distinct_sketch_rollup``. The window is unpartitioned BUT
    runs over the per-day frame, whose size is bounded by the CALENDAR
    (3650 rows per decade), not by data volume — the sanctioned
    exception to the no-global-window rule. The oracle is the exact
    rolling distinct (scaffold join, both engines) plus the hashed claim
    that every day's sketch estimate lands within 5% of exact."""
    ev = _events(spark, sf_dir)
    du = ev.select(F.to_date("ts").alias("d"), F.col("user_id").alias("u")).distinct()
    daily = du.groupBy("d").agg(
        F.hll_sketch_agg("u").alias("sk"),
    )
    w = Window.orderBy(F.unix_date("d")).rangeBetween(-6, 0)
    est = daily.select(
        "d", F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias("__est")
    )
    days = du.select("d").distinct().select(F.col("d").alias("__day"))
    exact = (
        days.join(
            du,
            (F.col("d") >= F.date_sub(F.col("__day"), 6))
            & (F.col("d") <= F.col("__day")),
        )
        .groupBy("__day")
        .agg(F.count_distinct("u").cast("bigint").alias("exact_7d"))
    )
    return est.join(exact, est.d == exact.__day).select(
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        "exact_7d",
        (
            F.abs(F.col("__est") - F.col("exact_7d"))
            / F.col("exact_7d")
            <= 0.05
        ).alias("est_within_5pct"),
    )


@query(
    "embedding_incremental_near_dups",
    """
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), twins AS (
      SELECT vec_id + 10000000 AS vec_id,
             list_transform(
               list_zip(v, range(0, len(v))),
               p -> p[1] + 0.002 * CAST(((vec_id + p[2]) % 5) - 2 AS DOUBLE)
             ) AS v
      FROM base WHERE vec_id % 10 = 0
    ), allv AS (
      SELECT vec_id, v, 'corpus' AS side FROM base
      UNION ALL SELECT vec_id, v, 'batch' AS side FROM twins
    )
    SELECT t.vec_id AS batch_id, b.vec_id AS match_id,
           CAST(list_reduce(list_transform(list_zip(t.v, b.v),
                                           p -> p[1] * p[2]), (x, y) -> x + y)
                / (sqrt(list_reduce(list_transform(t.v, x -> x * x),
                                    (x, y) -> x + y))
                   * sqrt(list_reduce(list_transform(b.v, x -> x * x),
                                      (x, y) -> x + y)))
                AS DOUBLE) AS cosine_sim,
           b.side AS match_side
    FROM twins t JOIN allv b
      ON (b.side = 'corpus' OR t.vec_id < b.vec_id)
     AND t.vec_id != b.vec_id
    WHERE CAST(list_reduce(list_transform(list_zip(t.v, b.v),
                                          p -> p[1] * p[2]), (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(t.v, x -> x * x),
                                   (x, y) -> x + y))
                  * sqrt(list_reduce(list_transform(b.v, x -> x * x),
                                     (x, y) -> x + y)))
               AS DOUBLE) >= 0.95
    """,
)
def embedding_incremental_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL embedding near-dup: a new batch (the planted twins)
    screened against the existing corpus + itself via RP-LSH blocking —
    never corpus x corpus, the property that keeps daily ingestion cost
    proportional to the batch (dataops/similarity.py::
    embedding_incremental_dup_pairs; completes the incremental family:
    exact / MinHash / embeddings). Every twin must find its base on the
    'corpus' side — the exact batch-vs-all oracle makes recall 1.0 part
    of the value hash."""
    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        embedding_incremental_dup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    twins = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000000).alias("vec_id"),
        F.transform(
            "v",
            lambda x, i: x
            + F.lit(0.002)
            * (((F.col("vec_id") + i) % 5) - 2).cast("double"),
        ).alias("v"),
    )
    return embedding_incremental_dup_pairs(
        base, twins, id_col="vec_id", vec_col="v",
        threshold=0.95, n_planes=16, n_tables=6, dim=64,
    )


@query(
    "customer_time_weighted_balance",
    """
    WITH obs AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
             CAST(o_totalprice AS DECIMAL(30,6)) AS v
      FROM orders
    ), dedup AS (
      SELECT o_custkey, d, MAX(v) AS v FROM obs GROUP BY o_custkey, d
    ), spans AS (
      SELECT o_custkey, d, v,
             COALESCE(date_diff('day', d,
               LEAD(d) OVER (PARTITION BY o_custkey ORDER BY d)), 1) AS days
      FROM dedup
    )
    SELECT o_custkey,
           CAST(CAST(SUM(v * days) AS VARCHAR) AS DOUBLE)
             / CAST(SUM(days) AS DOUBLE) AS twa,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(days) AS BIGINT) AS days_covered
    FROM spans GROUP BY o_custkey
    """,
)
def customer_time_weighted_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average order price per customer
    (operators/gapfill.py::time_weighted_avg): each order's price is
    weighted by the days until the customer's next order — the mean that
    doesn't over-weight bursts, used for balances/sensor state. Weights
    are integer days and values DECIMAL, so both sums are exact and the
    one final division value-hashes bitwise (the oracle routes its
    decimal->double cast via VARCHAR per the 2^53 rule). Same-day
    duplicate orders collapse to the max price first (deterministic),
    since a same-day pair would get weight 0 and an engine-dependent
    LEAD order."""
    from f1_data_engineering_machine_learning_spark.operators.gapfill import (
        time_weighted_avg,
    )

    o = _t(spark, sf_dir, "orders")
    obs = (
        o.select(
            "o_custkey",
            F.to_date("o_orderdate").alias("d"),
            F.col("o_totalprice").cast("decimal(30,6)").alias("v"),
        )
        .groupBy("o_custkey", "d")
        .agg(F.max("v").alias("v"))
    )
    out = time_weighted_avg(obs, ["o_custkey"], "d", "v")
    return out.select(
        "o_custkey",
        F.col("twa").cast("double").alias("twa"),
        "n_obs",
        "days_covered",
    )


@query(
    "order_pit_features",
    """
    WITH day_spend AS (
      SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP) AS pit_ts,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_spend,
             CAST(COUNT(*) AS BIGINT) AS day_orders
      FROM orders GROUP BY 1, 2
    ), ev AS (
      SELECT user_id AS o_custkey, ts AS pit_ts,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS ev_value
      FROM events GROUP BY 1, 2
    )
    SELECT o.o_orderkey, o.o_custkey,
           strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           d.day_spend AS prev_day_spend,
           d.day_orders AS prev_day_orders,
           e.ev_value AS last_event_value,
           strftime(e.pit_ts, '%Y-%m-%d %H:%M:%S') AS last_event_ts
    FROM orders o
    ASOF LEFT JOIN day_spend d
      ON o.o_custkey = d.o_custkey AND o.o_orderdate > d.pit_ts
    ASOF LEFT JOIN ev e
      ON o.o_custkey = e.o_custkey AND o.o_orderdate >= e.pit_ts
    """,
)
def order_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) feature join — the feature-store correctness
    pattern: a label spine (every order) enriched from TWO feature tables
    with as-of semantics and no leakage. Feature 1: the customer's most
    recent STRICTLY-earlier order-day spend (their own history, strict
    backward so the label row never sees itself). Feature 2: the latest
    event value at-or-before the order. Each feature table is
    pre-aggregated to one row per (entity, ts) so the as-of pick is
    well-defined on both engines; each attach is one union-and-carry
    as-of join (operators/asof.py — single shuffle each, no row
    explosion, never an inequality-join blowup). The oracle chains two
    native DuckDB ASOF LEFT JOINs, making this a cross-engine check of
    chained as-of semantics (strict > AND non-strict >=) in one plan.
    At 100 TB both attaches shuffle on the same entity key, so the
    spine's partitioning is reused across features (ReuseExchange).
    Reference parity: SURVEY §2 J2/P3 (temporal joins), generalized to
    the multi-feature PIT shape every training pipeline needs."""
    from f1_data_engineering_machine_learning_spark.operators.asof import asof_join

    o = _t(spark, sf_dir, "orders")
    spine = o.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").alias("pit_ts"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    day_spend = (
        o.groupBy("o_custkey", F.col("o_orderdate").alias("pit_ts"))
        .agg(
            dsum("o_totalprice").alias("day_spend"),
            F.count(F.lit(1)).alias("day_orders"),
        )
    )
    ev = (
        _events(spark, sf_dir)
        .groupBy(F.col("user_id").alias("o_custkey"), F.col("ts").alias("pit_ts"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("ev_value")
        )
    )
    step1 = asof_join(
        spine, day_spend, ["o_custkey"], "pit_ts",
        ["day_spend", "day_orders"], strict=True,
    )
    step2 = asof_join(
        step1, ev, ["o_custkey"], "pit_ts", ["ev_value", "pit_ts"],
        suffix="_ev",
    )
    return step2.select(
        "o_orderkey",
        "o_custkey",
        F.date_format(F.to_date("pit_ts"), "yyyy-MM-dd").alias("order_date"),
        "o_totalprice",
        F.col("day_spend_asof").alias("prev_day_spend"),
        F.col("day_orders_asof").alias("prev_day_orders"),
        F.col("ev_value_ev").alias("last_event_value"),
        F.date_format("pit_ts_ev", "yyyy-MM-dd HH:mm:ss").alias("last_event_ts"),
    )


@query(
    "copurchase_pagerank",
    """
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    ), edges AS (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL
      SELECT pb AS src, pa AS dst FROM pairs
    ), deg AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY 1
    ), pr0 AS (
      SELECT src AS node, CAST(1.0 AS DOUBLE) AS pr FROM deg
    ), it1 AS (
      SELECT e.dst AS node,
             (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE) * (SUM(CAST(FLOOR(p.pr / d.outdeg * 1e9) AS BIGINT)) / 1e9) AS pr
      FROM edges e
      JOIN pr0 p ON e.src = p.node
      JOIN deg d ON e.src = d.src
      GROUP BY 1
    ), it2 AS (
      SELECT e.dst AS node,
             (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE) * (SUM(CAST(FLOOR(p.pr / d.outdeg * 1e9) AS BIGINT)) / 1e9) AS pr
      FROM edges e
      JOIN it1 p ON e.src = p.node
      JOIN deg d ON e.src = d.src
      GROUP BY 1
    ), it3 AS (
      SELECT e.dst AS node,
             (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE) * (SUM(CAST(FLOOR(p.pr / d.outdeg * 1e9) AS BIGINT)) / 1e9) AS pr
      FROM edges e
      JOIN it2 p ON e.src = p.node
      JOIN deg d ON e.src = d.src
      GROUP BY 1
    )
    SELECT node AS part, CAST(pr AS DOUBLE) AS pagerank FROM it3
    """,
)
def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase part graph (operators/graph.py):
    the same symmetric edge set as ``copurchased_parts`` (pairs sharing
    >= 2 orders, both directions), 3 fixed iterations, damping 0.85 —
    graph centrality as corpus/product influence scoring. Each iteration
    is one edges-to-ranks join plus one destination aggregate (the
    Pregel message round as DataFrame ops); per-edge contributions are
    quantized to exact integer nano-units so the BIGINT sum is
    associative and the value hash is engine- and partitioning-
    independent (the catalog's decimal-sum rule, applied to an iterative
    float algorithm). The oracle unrolls the identical 3 iterations as
    chained CTEs — a cross-engine replay of a LOOP, not just one query.
    Fixed iteration count (vs convergence stop) keeps the oracle exact;
    the operator itself takes ``iterations`` as a knob."""
    from f1_data_engineering_machine_learning_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    edges = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    pr = pagerank(edges, iterations=3, damping=0.85)
    return pr.select(
        F.col("node").alias("part"), F.col("pr").cast("double").alias("pagerank")
    )


@query(
    "heavy_hitter_tokens",
    """
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM documents WHERE text IS NOT NULL
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total_count FROM toks
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS item_count, tot.total_count
    FROM toks CROSS JOIN tot
    GROUP BY token, tot.total_count
    HAVING COUNT(*) > CAST(0.002 AS DOUBLE) * tot.total_count
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phi-heavy-hitters over the corpus token stream
    (dataops/heavyhitters.py): tokens with share > 0.2%, found via
    per-partition Misra-Gries summaries (bounded memory, candidates are
    a guaranteed superset) then an exact broadcast-filtered recount.
    Unlike ``vocabulary_top_terms`` (full token-multiset shuffle), this
    never shuffles non-candidate tokens — two cheap column scans replace
    the one expensive shuffle, the right trade at 100 TB where the token
    multiset is trillions of rows but the answer is <= 1/phi rows. The
    oracle is the plain exact GROUP BY + HAVING, so the gate checks the
    sketch's exactness claim, not an approximation."""
    from f1_data_engineering_machine_learning_spark.dataops.heavyhitters import (
        heavy_hitters,
    )
    from f1_data_engineering_machine_learning_spark.dataops.text import tokens

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(F.explode(tokens("text")).alias("token"))
    return heavy_hitters(toks, "token", phi=0.002)


@query(
    "customer_spend_year_diff",
    """
    WITH y97 AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY 1
    ), y98 AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        AND o_orderdate < TIMESTAMP '1999-01-01'
      GROUP BY 1
    )
    SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
           CASE WHEN a.o_custkey IS NULL THEN 'added'
                WHEN b.o_custkey IS NULL THEN 'removed'
                WHEN a.spend IS NOT DISTINCT FROM b.spend
                 AND a.n_orders IS NOT DISTINCT FROM b.n_orders
                THEN 'identical' ELSE 'changed' END AS status,
           a.spend AS spend_left, b.spend AS spend_right,
           a.n_orders AS n_orders_left, b.n_orders AS n_orders_right
    FROM y97 a FULL OUTER JOIN y98 b ON a.o_custkey = b.o_custkey
    """,
)
def customer_spend_year_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset diff / reconciliation (operators/diff.py::table_diff): the
    per-customer 1997 spend snapshot against the 1998 snapshot — which
    customers appeared, disappeared, or changed between two versions of
    a keyed table. ONE full-outer sort-merge join on the key (the only
    FULL OUTER shape in the catalog), null-safe column comparison JVM-
    side. The reconciliation every backfill/rewrite pipeline needs
    ("what did this run change?") and the verification half of the
    staged compliance delete."""
    from f1_data_engineering_machine_learning_spark.operators.diff import table_diff

    o = _t(spark, sf_dir, "orders")

    def snap(year: int) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01").cast("timestamp"))
            )
            .groupBy("o_custkey")
            .agg(
                dsum("o_totalprice").alias("spend"),
                F.count(F.lit(1)).alias("n_orders"),
            )
        )

    return table_diff(snap(1997), snap(1998), ["o_custkey"])


@query(
    "temperature_mixture_docs",
    """
    WITH totals AS (
      SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS w
      FROM documents GROUP BY 1
    ), sc AS (
      SELECT MIN(w / sqrt(w)) AS scale FROM totals
    ), fr AS (
      SELECT source,
             CAST(FLOOR(LEAST(CAST(1.0 AS DOUBLE), sqrt(w) * sc.scale / w) * 100)
                  AS BIGINT) AS thresh
      FROM totals CROSS JOIN sc
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d JOIN fr ON d.source = fr.source
    WHERE d.doc_id % 100 < fr.thresh
    """,
)
def temperature_mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-rebalanced corpus mixture (dataops/sampling.py::
    temperature_targets + mixture_sample): per-source character mass is
    raised to alpha=0.5, so low-resource sources keep a larger share —
    the standard pre-training mixing knob. Every number on the decision
    path is one IEEE operation per domain (exact integer char sums,
    correctly-rounded sqrt, one divide, floor to an integer threshold,
    key mod 100) — no seeded RNG, no accumulation-order floats — so the
    DuckDB oracle replays the ENTIRE mixture computation, thresholds
    included, bit-for-bit. The keep decision is content-based (doc_id),
    deterministic under any partitioning/resume. Fully lazy
    (mixture_sample_lazy with alpha=0.5): totals, sqrt targets, scale
    and thresholds are all plan-resident broadcast frames — the eager
    two-collect version (totals + mixture_sample) ran jobs at
    construction."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        mixture_sample_lazy,
    )

    docs = _t(spark, sf_dir, "documents")
    out = mixture_sample_lazy(
        docs, "source", F.col("n_chars"), key="doc_id", alpha=0.5
    )
    return out.select("doc_id", "source", "n_chars")


@query(
    "lang_upsampled_docs",
    """
    WITH ex AS (
      SELECT doc_id, lang,
             CASE lang WHEN 'zh' THEN 3 WHEN 'de' THEN 2 WHEN 'fr' THEN 1
                       WHEN 'es' THEN 2 ELSE 1 END AS base,
             CASE lang WHEN 'zh' THEN 25 WHEN 'de' THEN 50 WHEN 'fr' THEN 50
                       WHEN 'es' THEN 0 ELSE 0 END AS thresh
      FROM documents
    ), nn AS (
      SELECT doc_id, lang,
             base + CASE WHEN doc_id % 100 < thresh THEN 1 ELSE 0 END AS n
      FROM ex
    )
    SELECT doc_id, lang,
           CAST(unnest(generate_series(1, CAST(n AS BIGINT))) AS BIGINT)
             AS repeat_idx
    FROM nn WHERE n >= 1
    """,
)
def lang_upsampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-factor upsampling (dataops/sampling.py::
    upsample_with_repeats): low-resource languages trained for
    fractional epochs — zh 3.25x, de 2.5x, fr 1.5x, es 2.0x, en 1x. The
    integer part repeats every row; the fractional part repeats exactly
    the rows whose content key falls under the integer threshold, so
    which copies exist is partition-invariant and the oracle replays the
    multiplicities row-for-row (generate_series == explode(sequence)).
    Map-side only: no shuffle, blow-up factor declared by the epoch
    map — the upweighting half of mixture control, paired with
    temperature_mixture_docs' downsampling."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        upsample_with_repeats,
    )

    docs = _t(spark, sf_dir, "documents")
    out = upsample_with_repeats(
        docs,
        "lang",
        {"zh": 3.25, "de": 2.5, "fr": 1.5, "es": 2.0, "en": 1.0},
        key="doc_id",
    )
    return out.select("doc_id", "lang", "repeat_idx")


@query(
    "corpus_curriculum_stages",
    """
    WITH scored AS (
      SELECT doc_id,
             CAST(n_chars AS DOUBLE)
               / len(regexp_split_to_array(lower(text), '\\s+')) AS difficulty
      FROM documents WHERE text IS NOT NULL
    ), staged AS (
      SELECT doc_id, difficulty,
             CAST(NTILE(4) OVER (ORDER BY difficulty, doc_id) AS BIGINT)
               AS stage
      FROM scored
    )
    SELECT stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(difficulty) AS min_difficulty,
           MAX(difficulty) AS max_difficulty,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM staged GROUP BY stage
    """,
)
def corpus_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging: documents ordered by a difficulty proxy (mean
    token length — exact integer inputs, one IEEE divide per row) and
    cut into 4 equal-size training stages. The global NTILE runs the
    two-pass range-partitioned rank (operators/windows.py::
    range_partitioned_rank — no single-task window, the same machinery
    as customer_spend_deciles but on the corpus axis where curriculum
    schedules actually need it). Stage summary keeps the oracle output
    small while hashing every stage boundary."""
    from f1_data_engineering_machine_learning_spark.operators.windows import (
        range_partitioned_rank,
    )
    from f1_data_engineering_machine_learning_spark.dataops.text import tokens

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    scored = docs.select(
        "doc_id",
        (
            F.col("n_chars").cast("double") / F.size(tokens("text"))
        ).alias("difficulty"),
    )
    staged = range_partitioned_rank(
        scored, ["difficulty"], ntile=4, ntile_col="stage", tiebreak=["doc_id"]
    )
    return staged.groupBy(F.col("stage").cast("bigint").alias("stage")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("difficulty").alias("min_difficulty"),
        F.max("difficulty").alias("max_difficulty"),
        F.min("doc_id").alias("first_doc"),
    )


@query(
    "winsorized_quantity_stats",
    """
    WITH bounds AS (
      SELECT l_returnflag,
             quantile_cont(l_quantity, 0.05) AS p_lo,
             quantile_cont(l_quantity, 0.95) AS p_hi
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag AS returnflag,
           CAST(b.p_lo AS DOUBLE) AS p_lo,
           CAST(b.p_hi AS DOUBLE) AS p_hi,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(LEAST(GREATEST(l.l_quantity, b.p_lo), b.p_hi)
                         AS DECIMAL(18,6))) AS DOUBLE) AS clipped_sum,
           CAST(SUM(CASE WHEN l.l_quantity < b.p_lo
                           OR l.l_quantity > b.p_hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM lineitem l JOIN bounds b ON l.l_returnflag = b.l_returnflag
    GROUP BY 1, 2, 3
    """,
)
def winsorized_quantity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (operators/robust.py::winsorize): per-returnflag
    quantities clipped to their exact [p05, p95] — the outlier-immune
    feature-prep step before scale-sensitive models. Exact group
    percentiles (integral column => interpolation on exact binary
    fractions, bitwise cross-engine), broadcast back, JVM clip; the
    clipped sum goes through DECIMAL so the aggregate is
    accumulation-order free. n_clipped hashes the clip mask itself."""
    from f1_data_engineering_machine_learning_spark.operators.robust import winsorize

    li = _t(spark, sf_dir, "lineitem")
    w = winsorize(li, "l_quantity", ["l_returnflag"])
    return w.groupBy(
        F.col("l_returnflag").alias("returnflag"),
        F.col("__p_lo").cast("double").alias("p_lo"),
        F.col("__p_hi").cast("double").alias("p_hi"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity_wins").cast("decimal(18,6)"))
        .cast("double")
        .alias("clipped_sum"),
        F.sum(
            (
                (F.col("l_quantity") < F.col("__p_lo"))
                | (F.col("l_quantity") > F.col("__p_hi"))
            ).cast("long")
        ).alias("n_clipped"),
    )


@query(
    "user_daily_value_anomalies",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                        * 1000000) AS BIGINT) AS v_q
      FROM events GROUP BY 1, 2
    ), med AS (
      SELECT user_id, quantile_cont(v_q, 0.5) AS med FROM daily GROUP BY 1
    ), mad AS (
      SELECT d2.user_id, quantile_cont(abs(d2.v_q - m.med), 0.5) AS mad
      FROM daily d2 JOIN med m ON d2.user_id = m.user_id GROUP BY 1
    )
    SELECT d.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN abs(d.v_q - m.med) > 3.0 * x.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           CAST(m.med AS DOUBLE) AS med_vq,
           CAST(x.mad AS DOUBLE) AS mad_vq
    FROM daily d
    JOIN med m ON d.user_id = m.user_id
    JOIN mad x ON d.user_id = x.user_id
    GROUP BY 1, 4, 5
    """,
)
def user_daily_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly monitoring (operators/robust.py::mad_anomalies):
    per-user daily value totals flagged where the deviation from the
    user's median exceeds 3x their MAD — the quality-monitoring rule
    that one corrupted day cannot inflate its own threshold (unlike a
    stddev z-score). Daily totals are decimal-exact then quantized to
    integer micro-units, so every percentile interpolates on integers —
    bitwise cross-engine. Two percentile passes + broadcasts; the
    per-user anomaly counts are the hashed output."""
    from f1_data_engineering_machine_learning_spark.operators.robust import (
        mad_anomalies,
    )

    ev = _events(spark, sf_dir)
    daily = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            * F.lit(1000000)
        )
        .cast("bigint")
        .alias("v_q")
    )
    flagged = mad_anomalies(daily, "v_q", ["user_id"], k=3.0)
    return flagged.groupBy(
        "user_id",
        F.col("__med").cast("double").alias("med_vq"),
        F.col("__mad").cast("double").alias("mad_vq"),
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("is_anomaly").cast("long")).alias("n_anomalies"),
    ).select("user_id", "n_days", "n_anomalies", "med_vq", "mad_vq")


@query(
    "embedding_pq_topk",
    """
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cent AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, v AS cv
      FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT 32)
    ), subs AS (
      SELECT unnest(range(0, 16)) AS j
    ), cb AS (
      SELECT j, code, cv[j*4+1 : j*4+4] AS scv FROM cent CROSS JOIN subs
    ), encd AS (
      SELECT c.vec_id, b.j, b.code,
             list_reduce(list_transform(list_zip(c.v[b.j*4+1 : b.j*4+4], b.scv),
                                        z -> (z[1] - z[2]) * (z[1] - z[2])),
                         (a, x) -> a + x) AS d
      FROM vecs c CROSS JOIN cb b
    ), enc AS (
      SELECT vec_id, j, code FROM (
        SELECT vec_id, j, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
        FROM encd) WHERE rn = 1
    ), q AS (
      SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 20
    ), pairdist AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, e.j,
             list_reduce(list_transform(list_zip(q.qv[e.j*4+1 : e.j*4+4], b.scv),
                                        z -> (z[1] - z[2]) * (z[1] - z[2])),
                         (a, x) -> a + x) AS dj
      FROM q CROSS JOIN enc e
      JOIN cb b ON b.j = e.j AND b.code = e.code
      WHERE q.query_id != e.vec_id
    ), adc AS (
      SELECT query_id, neighbor_id,
             list_reduce(list(dj ORDER BY j), (a, x) -> a + x) AS adc_dist
      FROM pairdist GROUP BY query_id, neighbor_id
    ), shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adc_dist, neighbor_id) AS rn
        FROM adc) WHERE rn <= 128
    ), refined AS (
      SELECT s.query_id, s.neighbor_id,
             list_reduce(list_transform(list_zip(q.qv, nb.v),
                                        z -> (z[1] - z[2]) * (z[1] - z[2])),
                         (a, x) -> a + x) AS l2_dist
      FROM shortlist s
      JOIN q ON q.query_id = s.query_id
      JOIN vecs nb ON nb.vec_id = s.neighbor_id
    ), approx AS (
      SELECT query_id, neighbor_id, CAST(l2_dist AS DOUBLE) AS l2_dist,
             CAST(rn AS INTEGER) AS rank FROM (
        SELECT query_id, neighbor_id, l2_dist,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY l2_dist, neighbor_id) AS rn
        FROM refined) WHERE rn <= 5
    ), exact_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c2.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY list_reduce(list_transform(list_zip(q.qv, c2.v),
                            z -> (z[1] - z[2]) * (z[1] - z[2])), (a, x) -> a + x),
                          c2.vec_id) AS rn
        FROM q JOIN vecs c2 ON q.query_id != c2.vec_id) WHERE rn <= 5
    ), recall AS (
      SELECT a.query_id,
             CAST(CAST(SUM(CASE WHEN e.neighbor_id IS NOT NULL
                                THEN 1 ELSE 0 END) AS DOUBLE) / 5
                  AS DOUBLE) AS recall_at_k
      FROM approx a LEFT JOIN exact_topk e
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY a.query_id
    )
    SELECT a.query_id, a.neighbor_id, a.l2_dist, a.rank, r.recall_at_k
    FROM approx a JOIN recall r ON r.query_id = a.query_id
    """,
)
def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the third ANN family after IVF partition
    pruning and RP-LSH bucket blocking — PQ compresses the PER-PAIR cost):
    top-5 squared-L2 neighbors for 20 queries via the two-stage PQ
    pipeline — ADC scan over the 64x-compressed code index (m=16
    subspaces, ksub=32 codewords, table lookups instead of vector
    arithmetic) shortlists 128 candidates, exact re-rank refines to
    top-5 — stamped with per-query recall@5 vs the exact baseline, FULLY
    value-oracled: the codebooks are deterministic (subvectors of the 32
    smallest-id corpus vectors, the same sampled-quantizer licence as
    ``embedding_ivf_topk``), every distance is a sequential fold, so
    DuckDB re-derives identical codes, ADC tables, shortlists, re-ranked
    distances AND recall numbers
    (dataops/similarity.py::pq_topk_deterministic). Raw ADC recall@5
    here is ~0.2-0.4 — the stamped ~0.99 is what the refine stage buys,
    measured, not asserted."""
    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        ann_recall_at_k,
        l2_topk,
        pq_topk_deterministic,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    approx = pq_topk_deterministic(
        q, emb, k=5, m=16, ksub=32, dim=64, rerank=128
    )
    recall = ann_recall_at_k(approx, l2_topk(q, emb, k=5), k=5)
    return approx.join(recall.select("query_id", "recall_at_k"), "query_id").select(
        "query_id", "neighbor_id", "l2_dist",
        F.col("rank").cast("int").alias("rank"), "recall_at_k",
    )


def _bpe_stages_sql(n_merges: int) -> str:
    """Chained-CTE DuckDB reproduction of the distributed BPE trainer
    (dataops/bpe.py): stage k recomputes freq-weighted adjacent pair
    counts from symbol table s{k}, picks the argmax pair (count desc,
    then lexicographic — the trainer's exact tie-break), and applies the
    merge with the run/parity formulation (islands of consecutive
    matching positions, merge even offsets, drop consumed rows) — the
    relational equivalent of the trainer's greedy leftmost
    non-overlapping fold. Generated, not hand-written, so the oracle
    scales to any merge count."""
    parts = ["""
    WITH words AS (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w FROM documents) t
      WHERE w <> '' GROUP BY w
    ), s0 AS (
      SELECT word, freq, i - 1 AS pos, substr(word, i, 1) AS sym
      FROM (SELECT word, freq,
                   unnest(generate_series(1, length(word))) AS i FROM words) t
      UNION ALL
      SELECT word, freq, length(word) AS pos, '</w>' AS sym FROM words
    )"""]
    for k in range(n_merges):
        parts.append(f""", c{k} AS (
      SELECT sym AS lhs, nxt AS rhs, CAST(SUM(freq) AS BIGINT) AS c FROM (
        SELECT freq, sym, LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
        FROM s{k}) t
      WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), b{k} AS (
      SELECT lhs, rhs, c FROM c{k} ORDER BY c DESC, lhs, rhs LIMIT 1
    ), m{k} AS (
      SELECT s.word, s.freq, s.pos, s.sym, b.rhs AS br,
             COALESCE(s.sym = b.lhs AND
               LEAD(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) = b.rhs,
               FALSE) AS mt
      FROM s{k} s CROSS JOIN b{k} b
    ), k{k} AS (
      SELECT *, mt AND ((pos - MIN(pos) OVER (PARTITION BY word, mt, grp)) % 2 = 0)
             AS keep
      FROM (SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY word, mt ORDER BY pos)
                   AS grp FROM m{k}) t
    ), s{k + 1} AS (
      SELECT word, freq,
             ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos,
             CASE WHEN keep THEN sym || br ELSE sym END AS sym
      FROM (SELECT *, COALESCE(LAG(keep) OVER (PARTITION BY word ORDER BY pos),
                               FALSE) AS consumed FROM k{k}) t
      WHERE NOT consumed
    )""")
    return "".join(parts)


_BPE_N_MERGES = 8


def _bpe_merge_apply_sql(tag: str, sin: str, rule: str, sout: str) -> str:
    """One greedy-merge application stage (run/parity formulation, same
    as ``_bpe_stages_sql``) parametrized by input/rule/output CTE names.
    The rule joins LEFT ... ON TRUE so an EMPTY rule CTE (no eligible
    candidate — mirrors the trainer's conflict-exhausted page) passes
    symbols through unchanged instead of wiping the vocab."""
    return f""", m{tag} AS (
      SELECT s.word, s.freq, s.pos, s.sym, b.rhs AS br,
             COALESCE(s.sym = b.lhs AND
               LEAD(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) = b.rhs,
               FALSE) AS mt
      FROM {sin} s LEFT JOIN {rule} b ON TRUE
    ), k{tag} AS (
      SELECT *, mt AND ((pos - MIN(pos) OVER (PARTITION BY word, mt, grp)) % 2 = 0)
             AS keep
      FROM (SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY word, mt ORDER BY pos)
                   AS grp FROM m{tag}) t
    ), {sout} AS (
      SELECT word, freq,
             ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos,
             CASE WHEN keep THEN sym || br ELSE sym END AS sym
      FROM (SELECT *, COALESCE(LAG(keep) OVER (PARTITION BY word ORDER BY pos),
                               FALSE) AS consumed FROM k{tag}) t
      WHERE NOT consumed
    )"""


def _bpe_batched_stages_sql(n_scans: int, fetch_k: int) -> str:
    """Chained-CTE DuckDB reproduction of the BATCHED trainer
    (dataops/bpe.py::train_bpe with batch_size=2): per scan, one pair
    count, a top-``fetch_k`` candidate page (the trainer's bounded
    collect), the rank-1 pick, the first SYMBOL-DISJOINT second pick
    (left/right not among the first pick's symbols or merged token),
    then both merges applied sequentially — disjointness makes the
    order irrelevant, exactly the trainer's argument."""
    parts = ["""
    WITH words AS (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w FROM documents) t
      WHERE w <> '' GROUP BY w
    ), s0 AS (
      SELECT word, freq, i - 1 AS pos, substr(word, i, 1) AS sym
      FROM (SELECT word, freq,
                   unnest(generate_series(1, length(word))) AS i FROM words) t
      UNION ALL
      SELECT word, freq, length(word) AS pos, '</w>' AS sym FROM words
    )"""]
    for k in range(n_scans):
        parts.append(f""", c{k} AS (
      SELECT sym AS lhs, nxt AS rhs, CAST(SUM(freq) AS BIGINT) AS c FROM (
        SELECT freq, sym, LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
        FROM s{k}) t
      WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), p{k} AS (
      SELECT lhs, rhs, c FROM c{k} ORDER BY c DESC, lhs, rhs LIMIT {fetch_k}
    ), b{k}a AS (
      SELECT lhs, rhs, c FROM p{k} ORDER BY c DESC, lhs, rhs LIMIT 1
    ), b{k}b AS (
      SELECT p.lhs, p.rhs, p.c FROM p{k} p CROSS JOIN b{k}a a
      WHERE p.lhs NOT IN (a.lhs, a.rhs, a.lhs || a.rhs)
        AND p.rhs NOT IN (a.lhs, a.rhs, a.lhs || a.rhs)
        AND p.lhs || p.rhs NOT IN (a.lhs, a.rhs, a.lhs || a.rhs)
      ORDER BY p.c DESC, p.lhs, p.rhs LIMIT 1
    )""")
        parts.append(_bpe_merge_apply_sql(f"{k}a", f"s{k}", f"b{k}a", f"t{k}"))
        parts.append(_bpe_merge_apply_sql(f"{k}b", f"t{k}", f"b{k}b", f"s{k + 1}"))
    return "".join(parts)


_BPE_BATCH_SCANS = 4  # 8 merges at batch_size=2
_BPE_BATCH_FETCH_K = 10  # trainer page: max(2*4, 2+8)


@query(
    "bpe_batched_merges_docs",
    _bpe_batched_stages_sql(_BPE_BATCH_SCANS, _BPE_BATCH_FETCH_K)
    + """
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY scan, slot) - 1 AS INT) AS step,
           lhs AS left_sym, rhs AS right_sym, lhs || rhs AS merged,
           c AS pair_count
    FROM (
    """
    + "\n    UNION ALL\n".join(
        f"    SELECT {k} AS scan, {slot} AS slot, lhs, rhs, c FROM b{k}{tag}"
        for k in range(_BPE_BATCH_SCANS)
        for slot, tag in ((0, "a"), (1, "b"))
    )
    + "\n    )",
)
def bpe_batched_merges_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED BPE training (dataops/bpe.py::train_bpe, batch_size=2):
    the production-scale trainer mode — each count scan commits up to M
    mutually symbol-disjoint merges from the same snapshot, so Spark
    jobs scale as n_merges / M (a 32k-merge vocabulary in ~n/M scans
    instead of 32k sequential jobs). The oracle replays the exact
    batch selection — bounded top-10 candidate page, rank-1 pick,
    first symbol-disjoint second pick — and both run/parity greedy
    merges per scan, all 8 rules and their snapshot pair counts
    value-checked. Companion to ``bpe_merges_docs`` (the bitwise
    sequential M=1 contract)."""
    from f1_data_engineering_machine_learning_spark.dataops.bpe import train_bpe

    docs = _t(spark, sf_dir, "documents")
    merges, vocab = train_bpe(docs, n_merges=_BPE_N_MERGES, batch_size=2)
    vocab.unpersist()
    return spark.createDataFrame(
        [
            (m["step"], m["left"], m["right"], m["merged"], m["pair_count"])
            for m in merges
        ],
        "step int, left_sym string, right_sym string, merged string, pair_count bigint",
    )


@query(
    "bpe_merges_docs",
    _bpe_stages_sql(_BPE_N_MERGES)
    + "\n    UNION ALL\n".join(
        f"    SELECT {k} AS step, lhs AS left_sym, rhs AS right_sym, "
        f"lhs || rhs AS merged, c AS pair_count FROM b{k}"
        for k in range(_BPE_N_MERGES)
    ),
)
def bpe_merges_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING (dataops/bpe.py::train_bpe —
    Sennrich 2016, the subword-vocabulary construction step of an LLM
    pipeline): the first 8 learned merge rules over the documents
    corpus, freq-weighted, with deterministic argmax tie-breaks. The
    corpus is scanned ONCE (word-frequency aggregation); each merge
    iteration then costs one map-only pair explode + one combinable
    aggregation + a 1-row collect on the DISTINCT-word table — the shape
    that trains a 32k-merge vocabulary on a 100 TB corpus without ever
    re-walking it. The oracle replays the identical iteration as 8
    generated chained-CTE stages (argmax + run/parity greedy merge), so
    every rule AND its pair count is value-checked — an iterative
    algorithm under a full value oracle, same genre as
    ``curated_docs_survivors``'s WITH RECURSIVE closure."""
    from f1_data_engineering_machine_learning_spark.dataops.bpe import train_bpe

    docs = _t(spark, sf_dir, "documents")
    merges, vocab = train_bpe(docs, n_merges=_BPE_N_MERGES)
    vocab.unpersist()
    return spark.createDataFrame(
        [
            (m["step"], m["left"], m["right"], m["merged"], m["pair_count"])
            for m in merges
        ],
        "step int, left_sym string, right_sym string, merged string, pair_count bigint",
    )


@query(
    "doc_bpe_segmentation",
    _bpe_stages_sql(_BPE_N_MERGES)
    + f""", wordsegs AS (
      SELECT word, list(sym ORDER BY pos) AS segs FROM s{_BPE_N_MERGES}
      GROUP BY word
    ), tok AS (
      SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> w <> '')
               AS t
      FROM documents
    ), dw AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(1, len(t)), i -> {{'pos': i, 'w': t[i]}})) AS s
      FROM tok
    )
    SELECT d.doc_id,
           string_agg(array_to_string(ws.segs, ' '), ' ' ORDER BY d.s.pos)
             AS bpe_text,
           CAST(SUM(len(ws.segs)) AS INTEGER) AS n_bpe_tokens
    FROM dw d JOIN wordsegs ws ON ws.word = d.s.w
    GROUP BY d.doc_id
    """,
)
def doc_bpe_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION at corpus scale
    (dataops/bpe.py::apply_bpe): every document segmented with the 8
    merges learned by ``bpe_merges_docs``. The fold chain runs once per
    DISTINCT word; documents get their segmentation via a broadcast
    join + positional reassembly — per-token array lookups, not
    per-token fold chains, which is what makes re-tokenizing a 100 TB
    corpus a map-side job. Full segmented text value-hashed per
    document."""
    from f1_data_engineering_machine_learning_spark.dataops.bpe import (
        apply_bpe,
        train_bpe,
    )

    docs = _t(spark, sf_dir, "documents")
    merges, vocab = train_bpe(docs, n_merges=_BPE_N_MERGES)
    vocab.unpersist()
    seg = apply_bpe(docs, merges)
    return seg.select(
        "doc_id",
        F.array_join("bpe_tokens", " ").alias("bpe_text"),
        F.col("n_bpe_tokens").cast("int").alias("n_bpe_tokens"),
    )


@query(
    "bpe_fertility_by_lang",
    _bpe_batched_stages_sql(_BPE_BATCH_SCANS, _BPE_BATCH_FETCH_K)
    + f""", wordsegs AS (
      SELECT word, len(list(sym ORDER BY pos)) AS n_segs
      FROM s{_BPE_BATCH_SCANS} GROUP BY word
    ), tok AS (
      SELECT lang, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                      w -> w <> '')) AS w
      FROM documents
    )
    SELECT t.lang,
           CAST(COUNT(*) AS BIGINT) AS n_ws_tokens,
           CAST(SUM(ws.n_segs) AS BIGINT) AS n_bpe_tokens,
           CAST(CAST(SUM(ws.n_segs) AS DOUBLE) / COUNT(*) AS DOUBLE)
             AS fertility
    FROM tok t JOIN wordsegs ws ON ws.word = t.w
    GROUP BY t.lang
    """,
)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language: BPE subword tokens per
    whitespace token under the 8 learned merges — the standard metric
    for how well a vocabulary fits each language slice of a corpus
    (high fertility = over-segmentation = wasted context window).
    Trains in BATCHED mode (batch_size=2 — half the scans; the oracle
    replays the batched selection stages, and segmentation is
    order-independent within a batch because selected merges are
    symbol-disjoint). Distinct words segment once (broadcast-joined
    back), counts aggregate map-side; the ratio is one
    integer-over-integer division, engine-identical."""
    from f1_data_engineering_machine_learning_spark.dataops.bpe import (
        apply_bpe,
        train_bpe,
    )

    docs = _t(spark, sf_dir, "documents")
    merges, vocab = train_bpe(docs, n_merges=_BPE_N_MERGES, batch_size=2)
    vocab.unpersist()
    seg = apply_bpe(docs, merges)
    toks = docs.select(
        "doc_id",
        "lang",
        F.size(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != ""
            )
        ).alias("__nws"),
    )
    return (
        seg.join(toks, "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("__nws").cast("bigint").alias("n_ws_tokens"),
            F.sum("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
        )
        .withColumn(
            "fertility",
            (
                F.col("n_bpe_tokens").cast("double")
                / F.col("n_ws_tokens").cast("double")
            ).cast("double"),
        )
    )


@query(
    "doc_substring_dedup",
    """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id, i AS start,
             array_to_string(t[i : i + 7], ' ') AS shingle
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
            FROM tok WHERE len(t) >= 8) q
    ), occ AS (
      SELECT doc_id, start,
             ROW_NUMBER() OVER (PARTITION BY shingle
                                ORDER BY doc_id, start) AS rn
      FROM sh
    ), marked AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT doc_id, unnest(generate_series(start, start + 7)) AS pos
        FROM occ WHERE rn > 1) m
    ), toks AS (
      SELECT doc_id, s.pos AS pos, s.tok AS tok FROM (
        SELECT doc_id, unnest(list_transform(
                 generate_series(1, len(t)),
                 i -> {'pos': i, 'tok': t[i]})) AS s
        FROM tok) q
    ), kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM toks t LEFT JOIN marked mk
        ON mk.doc_id = t.doc_id AND mk.pos = t.pos
      WHERE mk.pos IS NULL
    )
    SELECT d.doc_id,
           COALESCE(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS clean_text,
           CAST(ANY_VALUE(len(d.t)) AS BIGINT) AS n_tokens,
           CAST(ANY_VALUE(len(d.t)) - COUNT(k.pos) AS BIGINT) AS n_removed
    FROM tok d LEFT JOIN kept k ON k.doc_id = d.doc_id
    GROUP BY d.doc_id
    """,
)
def doc_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level corpus dedup (Lee et al. 2022, the 6th dedup
    granularity: corpus / document / paragraph / n-gram / embedding /
    SUBSTRING): every 8-token window occurring more than once keeps its
    globally first occurrence; later occurrences have their token spans
    removed and documents are rebuilt from surviving tokens
    (dataops/dedup.py::substring_dedup). The dedup shuffle carries sha2
    fingerprints + integer positions, never text; removal is a
    positional anti-join. Full cleaned text of all 500 documents is
    value-hashed, so keeper selection, span unioning across overlapping
    windows, and reassembly order are all oracle-checked."""
    from f1_data_engineering_machine_learning_spark.dataops.dedup import (
        substring_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    return substring_dedup(docs, min_len=8)


@query(
    "split_priority_drift",
    """
    WITH s AS (
      SELECT o_orderpriority,
             CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4)
                       < 'cccc'
                  THEN 'train' ELSE 'val' END AS split
      FROM orders
    ), ca AS (
      SELECT o_orderpriority AS category, COUNT(*) AS na
      FROM s WHERE split = 'train' GROUP BY 1
    ), cb AS (
      SELECT o_orderpriority AS category, COUNT(*) AS nb
      FROM s WHERE split = 'val' GROUP BY 1
    ), j AS (
      SELECT COALESCE(ca.category, cb.category) AS category,
             CAST(COALESCE(na, 0) AS BIGINT) AS n_a,
             CAST(COALESCE(nb, 0) AS BIGINT) AS n_b
      FROM ca FULL OUTER JOIN cb
        ON ca.category IS NOT DISTINCT FROM cb.category
    ), t AS (
      SELECT SUM(n_a) AS ta, SUM(n_b) AS tb,
             SUM(ABS(CAST(n_a AS HUGEINT) * (SELECT SUM(n_b) FROM j)
                     - CAST(n_b AS HUGEINT) * (SELECT SUM(n_a) FROM j)))
               AS gap_sum
      FROM j
    )
    SELECT category, n_a, n_b,
           CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE) AS share_a,
           CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE) AS share_b,
           ABS(CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
               - CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE)) AS share_gap,
           CAST(gap_sum AS DOUBLE)
             / (2.0 * CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)) AS tvd
    FROM j, t
    """,
)
def split_priority_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit between the train and val splits of the
    content-hash splitter (dataops/quality.py::category_drift over
    dataops/sampling.py::split_by_content_hash): per-category counts and
    shares of o_orderpriority on each side, the per-category share gap,
    and the total-variation distance stamped on every row. This is the
    check a training pipeline runs after ANY split or resample — did the
    80/20 cut preserve the label mix? TVD is computed from integer
    cross-products (order-independent decimal sum, one final double
    division), so the summary value-hashes bitwise against the oracle;
    a per-row double-gap sum would drift on float summation order."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        category_drift,
    )
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        split_by_content_hash,
    )

    o = _t(spark, sf_dir, "orders")
    s = split_by_content_hash(
        o, "o_orderkey", {"train": 0.8, "val": 0.2}, hex_chars=4
    )
    return category_drift(
        s.filter(F.col("split") == "train"),
        s.filter(F.col("split") == "val"),
        "o_orderpriority",
    )


@query(
    "contrastive_negatives_docs",
    """
    WITH base AS (
      SELECT doc_id, md5(text) AS ck,
             ((doc_id % 999999937) * 2654435761 + 97531) % 4294967296 AS h
      FROM documents
    ), cands AS (
      SELECT doc_id AS cid, ck AS cdk, h % 16 AS bucket FROM base
    ), probes AS (
      SELECT b.doc_id AS aid, b.ck AS adk,
             (b.h % 16 + i.i) % 16 AS bucket
      FROM base b CROSS JOIN (SELECT 0 AS i UNION ALL SELECT 1) i
    ), pairs AS (
      SELECT p.aid, c.cid,
             (((p.aid * 31 + c.cid) % 999999937) * 2654435761 + 97531)
               % 4294967296 AS ph
      FROM probes p JOIN cands c USING (bucket)
      WHERE c.cid <> p.aid AND c.cdk IS DISTINCT FROM p.adk
    ), ranked AS (
      SELECT aid, cid, ROW_NUMBER() OVER (
        PARTITION BY aid ORDER BY ph, cid) AS rn
      FROM pairs
    )
    SELECT CAST(aid AS BIGINT) AS anchor_id,
           CAST(cid AS BIGINT) AS neg_id,
           CAST(rn AS INTEGER) AS neg_rank
    FROM ranked WHERE rn <= 3
    """,
)
def contrastive_negatives_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negative sampling over the corpus
    (dataops/sampling.py::contrastive_negatives): 3 negatives per anchor
    document from hash-probed candidate buckets — no all-pairs join, no
    RNG state. Exact-duplicate candidates (same md5(text) as the anchor)
    are vetoed: a near-copy of the anchor is a FALSE negative that
    poisons a contrastive batch, so the dedup signal feeds sampling.
    Every assignment replays from row content alone (portable integer
    mix), which the oracle proves by re-deriving all ranks; the join is
    anchors x ~(n_probes/n_buckets) of the corpus — linear, bucket-sized
    tasks at 100 TB."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        contrastive_negatives,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "__ck", F.md5(F.col("text").cast("binary"))
    )
    return contrastive_negatives(
        docs, "doc_id", k=3, n_buckets=16, n_probes=2, dedup_key="__ck"
    )


@query(
    "returnflag_quantity_zscore",
    """
    WITH stats AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s2,
             CAST(COUNT(l_quantity) AS DOUBLE) AS n
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_quantity,
           (CAST(l.l_quantity AS DOUBLE) - (s.s1 / s.n))
             / sqrt(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n)) AS quantity_z
    FROM lineitem l JOIN stats s ON l.l_returnflag = s.l_returnflag
    """,
)
def returnflag_quantity_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score standardization of l_quantity within each return
    flag (operators/robust.py::zscore_normalize) — the ML feature-prep
    staple, done distributed: one map-side-combinable shuffle computes
    decimal-EXACT sufficient statistics (sum, sum-of-squares), the tiny
    stats frame broadcasts back, the per-row z is pure double arithmetic.
    Every row's z value-hashes bitwise against the oracle because the
    sums are order-independent decimals and every double op after them is
    single-rounded (incl. the correctly-rounded sqrt)."""
    from f1_data_engineering_machine_learning_spark.operators.robust import (
        zscore_normalize,
    )

    li = _t(spark, sf_dir, "lineitem")
    z = zscore_normalize(li, "l_quantity", ["l_returnflag"], out_col="quantity_z")
    return z.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "quantity_z"
    )


@query(
    "returnflag_weighted_median_price",
    """
    WITH rows_f AS (
      SELECT l_returnflag AS k, l_extendedprice AS v,
             CAST(l_quantity AS DECIMAL(30,6)) AS w
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        AND l_quantity > 0
    ), c AS (
      SELECT k, v,
             SUM(w) OVER (PARTITION BY k ORDER BY v) AS cumw,
             SUM(w) OVER (PARTITION BY k) AS totw
      FROM rows_f
    )
    SELECT k AS l_returnflag, MIN(v) AS weighted_median
    FROM c WHERE cumw * 2 >= totw GROUP BY k
    """,
)
def returnflag_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted exact median of l_extendedprice per return flag
    (operators/aggregates.py::weighted_median): a 40-unit line should
    pull the 'typical price' 40x harder than a 1-unit line — the
    weighted analogue of A6's exact median. The pick is the smallest
    value whose cumulative weight reaches half the total; all weight
    arithmetic is decimal (order-independent) and the half-total test is
    multiplication-only, so the decision — including tie blocks, where
    RANGE vs ROWS cumulative framing provably cannot change the picked
    VALUE — replays exactly in the oracle. One window cumsum + one min
    aggregate, both on the group key."""
    from f1_data_engineering_machine_learning_spark.operators.aggregates import (
        weighted_median,
    )

    li = _t(spark, sf_dir, "lineitem")
    return weighted_median(
        li, "l_extendedprice", "l_quantity", ["l_returnflag"]
    ).select("l_returnflag", "weighted_median")


@query(
    "user_daily_value_ewma",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             CAST(CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                             * 1000000) AS BIGINT) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT user_id, d, v,
             lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2,
             lag(v, 3) OVER w AS l3
      FROM daily
      WINDOW w AS (PARTITION BY user_id ORDER BY d)
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
           ((CASE WHEN v IS NOT NULL THEN v * 1.0 END)
            + COALESCE(CASE WHEN l1 IS NOT NULL THEN l1 * 0.5 END, 0.0)
            + COALESCE(CASE WHEN l2 IS NOT NULL THEN l2 * 0.25 END, 0.0)
            + COALESCE(CASE WHEN l3 IS NOT NULL THEN l3 * 0.125 END, 0.0))
           / ((CASE WHEN v IS NOT NULL THEN 1.0 END)
              + COALESCE(CASE WHEN l1 IS NOT NULL THEN 0.5 END, 0.0)
              + COALESCE(CASE WHEN l2 IS NOT NULL THEN 0.25 END, 0.0)
              + COALESCE(CASE WHEN l3 IS NOT NULL THEN 0.125 END, 0.0))
             AS value_ewma
    FROM lagged
    """,
)
def user_daily_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing EWMA of per-user daily value totals
    (operators/windows.py::ewma_trailing, depth 4): the smoothed
    engagement signal a monitoring pipeline tracks per entity. The decay
    base is a power of two (weights 1, 1/2, 1/4, 1/8 — exact binary
    fractions) and daily totals are micro-unit quantized integers, so
    the weighted average value-hashes bitwise; an arbitrary alpha would
    put libm pow drift in every row. One exchange + sort per entity —
    the lag chain evaluates inside whole-stage codegen, no self-join."""
    from f1_data_engineering_machine_learning_spark.operators.windows import (
        ewma_trailing,
    )

    ev = _events(spark, sf_dir)
    daily = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            * F.lit(1000000)
        )
        .cast("bigint")
        .cast("double")
        .alias("v")
    )
    out = ewma_trailing(daily, ["user_id"], "d", "v", depth=4, out_col="value_ewma")
    return out.select(
        "user_id", F.date_format("d", "yyyy-MM-dd").alias("day"), "value_ewma"
    )


@query(
    "order_price_equidepth_hist",
    """
    WITH v AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders
      WHERE o_totalprice IS NOT NULL
    ), b AS (
      SELECT [quantile_cont(x, 0.1), quantile_cont(x, 0.2),
              quantile_cont(x, 0.3), quantile_cont(x, 0.4),
              quantile_cont(x, 0.5), quantile_cont(x, 0.6),
              quantile_cont(x, 0.7), quantile_cont(x, 0.8),
              quantile_cont(x, 0.9)] AS bounds,
             CAST(MIN(x) AS DOUBLE) AS mn, CAST(MAX(x) AS DOUBLE) AS mx
      FROM v
    ), t AS (
      SELECT x, len(list_filter(bounds, bb -> CAST(x AS DOUBLE) > bb)) AS bin
      FROM v, b
    )
    SELECT CAST(bin AS INTEGER) AS bin,
           CASE WHEN bin = 0 THEN (SELECT mn FROM b)
                ELSE (SELECT bounds[bin] FROM b) END AS lo,
           CASE WHEN bin = 9 THEN (SELECT mx FROM b)
                ELSE (SELECT bounds[bin + 1] FROM b) END AS hi,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM t GROUP BY bin
    """,
)
def order_price_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile-boundary) histogram of order value
    (dataops/quality.py::equidepth_histogram): resolution concentrates
    where the mass is — the summary a drift monitor or optimizer wants
    for a skewed money column, complementing the mergeable equi-width
    histogram (order_price_histogram). Prices are pre-quantized to
    integer cents so the nine decile boundaries interpolate on exact
    binary fractions (the catalog's cross-engine percentile rule); tie
    blocks land in the lower bin by the x > boundary count. The
    boundary pass is ADAPTIVE: a distinct-count guard (one
    HLL scan) keeps bounded-cardinality columns like this one on the
    percentile map aggregate (1 row, broadcast) and routes
    unbounded-cardinality doubles to the two-pass range-partitioned
    order-statistics arm — bitwise-equivalent on quantized input
    (tests/test_quality.py), so the oracle is arm-independent. Then one
    map-side-combinable count scan."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        equidepth_histogram,
    )

    # round() before the integer cast: CAST(double AS BIGINT) truncates
    # in Spark but rounds in DuckDB — an off-by-one-cent data mismatch
    # that moves percentile boundaries. round-half-away on the identical
    # double product is engine-identical for positive prices.
    o = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("x")
    )
    h = equidepth_histogram(o, "x", n_bins=10)
    return h.select("bin", "lo", "hi", F.col("n").cast("bigint").alias("n"))


_EQD_RANK_BINS = 8  # k/8 fracs are exact binary fractions (see docstring)
_EQD_RANK_FRACS = ", ".join(
    f"quantile_cont(x, {i / _EQD_RANK_BINS})" for i in range(1, _EQD_RANK_BINS)
)


@query(
    "lineitem_price_equidepth_hist_ranked",
    f"""
    WITH v AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x FROM lineitem
      WHERE l_extendedprice IS NOT NULL
    ), b AS (
      SELECT [{_EQD_RANK_FRACS}] AS bounds,
             CAST(MIN(x) AS DOUBLE) AS mn, CAST(MAX(x) AS DOUBLE) AS mx
      FROM v
    ), t AS (
      SELECT x, len(list_filter(bounds, bb -> CAST(x AS DOUBLE) > bb)) AS bin
      FROM v, b
    )
    SELECT CAST(bin AS INTEGER) AS bin,
           CASE WHEN bin = 0 THEN (SELECT mn FROM b)
                ELSE (SELECT bounds[bin] FROM b) END AS lo,
           CASE WHEN bin = {_EQD_RANK_BINS - 1} THEN (SELECT mx FROM b)
                ELSE (SELECT bounds[bin + 1] FROM b) END AS hi,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM t GROUP BY bin
    """,
)
def lineitem_price_equidepth_hist_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of line-item price with the boundary pass
    FORCED onto the range-partitioned order-statistics arm
    (dataops/quality.py::equidepth_histogram, route="rank") — the
    100 TB path for unbounded-cardinality columns, here under a full
    value oracle on the engine's biggest table: one range exchange +
    O(P)-row counts collect, a map-only JVM row-id filter picking the
    <=2k+2 globally needed ranks (no Python worker), driver-side
    interpolation with Spark's exact percentile formula, then one count
    scan of the same range-partitioned frame. The
    oracle is quantile_cont-based and ARM-INDEPENDENT (the map/rank
    equivalence is bitwise on quantized input, tests/test_quality.py);
    n_bins=8 keeps every i/8 percentile fraction an exact binary
    fraction, so interpolation weights are exact cross-engine. Companion
    to ``order_price_equidepth_hist`` (auto-routed, map arm at this
    cardinality)."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        equidepth_histogram,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("x")
    )
    h = equidepth_histogram(li, "x", n_bins=_EQD_RANK_BINS, route="rank")
    return h.select("bin", "lo", "hi", F.col("n").cast("bigint").alias("n"))


_PCTL_FRACS = [0.25, 0.5, 0.75, 0.875, 1.0]  # binary fractions: exact weights


@query(
    "lineitem_quantity_percentiles_ranked",
    "SELECT * FROM (\n"
    + "\n    UNION ALL\n".join(
        f"    SELECT CAST({f} AS DOUBLE) AS frac, "
        f"CAST(quantile_cont(l_quantity, {f}) AS DOUBLE) AS value "
        f"FROM lineitem WHERE l_quantity IS NOT NULL"
        for f in _PCTL_FRACS
    )
    + "\n    )",
)
def lineitem_quantity_percentiles_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PUBLIC exact-percentile operator
    (dataops/quality.py::exact_percentiles) under a full value oracle,
    FORCED onto the range-partitioned order-statistics arm — the
    100 TB path when a column's cardinality is unbounded: (frac, value)
    rows for the quartiles / p87.5 / max of line-item quantity: a
    counts pass and a JVM row-id pick over one lineage-cut range
    partitioning (no Python worker), then driver-side interpolation. All
    fracs are exact binary fractions, so interpolation weights are
    exact cross-engine and the quantile_cont oracle is arm-independent
    (map/rank bitwise equivalence is pinned in tests/test_quality.py).
    Companion to the equidepth pair: this is the bare percentile
    surface a drift monitor or SLA report calls directly."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        exact_percentiles,
    )

    li = _t(spark, sf_dir, "lineitem")
    return exact_percentiles(li, "l_quantity", _PCTL_FRACS, route="rank")


@query(
    "event_props_variant",
    """
    WITH x AS (
      SELECT event_type,
             TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(k) AS BIGINT) AS n_with_k,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct_k,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k,
           CAST(SUM(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM x GROUP BY event_type
    """,
)
def event_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via Spark 4's VARIANT type: ``parse_json``
    parses each props payload ONCE into the binary variant encoding, and
    every downstream ``try_variant_get`` is a typed path lookup on that
    parsed value — at 100 TB with many extracted fields this replaces
    N-fields x N-rows string re-parses (the `get_json_object` pattern in
    event_props_json, kept as the comparison query) with one parse and
    cheap binary probes. The oracle replays the same typed extraction
    through DuckDB's JSON path functions — same values, different
    encoding."""
    ev = _events(spark, sf_dir)
    v = ev.select(
        "event_type", F.parse_json(F.col("props")).alias("__v")
    ).select(
        "event_type",
        F.try_variant_get(F.col("__v"), "$.k", "bigint").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.count_distinct(F.col("k")).alias("n_distinct_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum(F.when(F.col("k") >= 50, 1).otherwise(0)).alias("n_high"),
    )


@query(
    "copurchase_triangles",
    """
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), deg AS (
      SELECT n, COUNT(*) AS d FROM (
        SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1
    ), o AS (
      SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                  THEN e.u ELSE e.v END AS a,
             CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                  THEN e.v ELSE e.u END AS b
      FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
    ), w AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM o e1 JOIN o e2 ON e1.b = e2.a
    ), t AS (
      SELECT x, y, z FROM w JOIN o ON o.a = w.x AND o.b = w.z
    ), nodes AS (
      SELECT x AS node FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM nodes GROUP BY node
    """,
)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the co-purchase graph
    (operators/graph.py::triangle_count over the copurchased_parts
    edges, support >= 2): parts forming purchase cliques — the
    community-density signal recommendation and fraud pipelines extract
    from co-occurrence graphs. Degree-ordered orientation counts each
    triangle once and bounds wedge fan-out by out-degree O(sqrt(m)), so
    a hub part with thousands of co-purchases cannot explode the wedge
    join — the property that keeps this plan alive at 100 TB. The
    oracle replays orientation, wedge build, and closure exactly."""
    from f1_data_engineering_machine_learning_spark.operators.graph import (
        triangle_count,
    )

    li = _t(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select("src", "dst")
    )
    return triangle_count(e)


@query(
    "ldiversity_customer_segments",
    """
    SELECT c_nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(COUNT(DISTINCT
                  CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT))
                AS BIGINT) AS l_distinct,
           COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)) < 3
             AS violates_l3
    FROM customer
    GROUP BY 1, 2
    """,
)
def ldiversity_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-governance screen, the l-diversity complement of k-anonymity
    (kanonymity_customer_segments): a quasi-identifier group can be
    large enough to pass k yet still leak if everyone in it SHARES the
    sensitive value — here each (nation, segment) class must contain at
    least l=3 distinct account-balance bands (the banded sensitive
    attribute; floor-banding is the same exact integer arithmetic in
    both engines). One groupBy with an exact count-distinct per class;
    at 100 TB the sketch variant (approx_count_distinct) screens first
    and exact confirms only the borderline classes — the pattern
    approx_stats_scale_mode demonstrates."""
    c = _t(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000.0).cast("bigint")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.count_distinct(band).alias("l_distinct"),
        (F.count_distinct(band) < 3).alias("violates_l3"),
    )


@query(
    "frequent_part_itemsets",
    """
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), singles AS (
      SELECT CAST(l_partkey AS VARCHAR) AS itemset, 1 AS size,
             COUNT(*) AS freq
      FROM op GROUP BY l_partkey HAVING COUNT(*) >= 2
    ), pairs AS (
      SELECT CAST(a.l_partkey AS VARCHAR) || ',' ||
             CAST(b.l_partkey AS VARCHAR) AS itemset, 2 AS size,
             COUNT(*) AS freq
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey HAVING COUNT(*) >= 2
    ), triples AS (
      SELECT CAST(a.l_partkey AS VARCHAR) || ',' ||
             CAST(b.l_partkey AS VARCHAR) || ',' ||
             CAST(c.l_partkey AS VARCHAR) AS itemset, 3 AS size,
             COUNT(*) AS freq
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      JOIN op c ON b.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
      GROUP BY a.l_partkey, b.l_partkey, c.l_partkey HAVING COUNT(*) >= 2
    )
    SELECT itemset, CAST(size AS INTEGER) AS size, CAST(freq AS BIGINT) AS freq
    FROM (SELECT * FROM singles UNION ALL
          SELECT * FROM pairs UNION ALL
          SELECT * FROM triples)
    """,
)
def frequent_part_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-itemset mining over order baskets
    (dataops/mining.py::frequent_itemsets — MLlib parallel FP-growth,
    absolute support 2, itemsets up to size 3): the generalization of
    the co-occurrence pair query to arbitrary sizes. The oracle proves
    FP-growth exact by brute-force ENUMERATION — frequent itemsets are a
    mathematical function of the data, not a library artifact — with
    ascending-id canonical form on both sides. PFP partitions the
    search by suffix item (no driver tree); the support threshold is
    pinned to an exact integer count against MLlib's fractional API."""
    from f1_data_engineering_machine_learning_spark.dataops.mining import (
        frequent_itemsets,
    )

    li = _t(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    return frequent_itemsets(
        op, "l_orderkey", "l_partkey", min_count=2, max_size=3
    )


@query(
    "lineitem_order_join_fanout",
    """
    WITH lc AS (
      SELECT CAST(l_orderkey AS VARCHAR) AS k, COUNT(*) AS nl
      FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1
    ), rc AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS k, COUNT(*) AS nr
      FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1
    ), j AS (
      SELECT COALESCE(lc.k, rc.k) AS k, nl, nr
      FROM lc FULL OUTER JOIN rc ON lc.k = rc.k
    ), top AS (
      SELECT k FROM j WHERE nl IS NOT NULL AND nr IS NOT NULL
      ORDER BY CAST(nl AS HUGEINT) * CAST(nr AS HUGEINT) DESC, k DESC LIMIT 1
    )
    SELECT CAST(SUM(nl) AS BIGINT) AS left_rows,
           CAST(SUM(nr) AS BIGINT) AS right_rows,
           CAST(SUM(CASE WHEN nl IS NOT NULL AND nr IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS matching_keys,
           CAST(COALESCE(SUM(CAST(nl AS HUGEINT) * CAST(nr AS HUGEINT)), 0)
                AS BIGINT) AS join_rows,
           CAST(COALESCE(MAX(CAST(nl AS HUGEINT) * CAST(nr AS HUGEINT)), 0)
                AS BIGINT) AS max_key_fanout,
           (SELECT k FROM top) AS top_key,
           CAST(SUM(CASE WHEN nr IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS left_only_keys,
           CAST(SUM(CASE WHEN nl IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS right_only_keys
    FROM j
    """,
)
def lineitem_order_join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT join-size prediction for lineitem x orders WITHOUT running
    the join (dataops/quality.py::join_fanout_estimate): the pre-flight
    a 100 TB pipeline runs before committing a shuffle — two key-only
    count shuffles and a tiny count-table join predict the exact output
    rows, the hottest key's fanout (the salting decision input), and the
    semi/anti split. Products and sums ride in decimals so a 10^13-row
    prediction cannot overflow. The testdata is FK-consistent, so
    join_rows == |lineitem| and right_only_keys counts childless orders
    — both in the value hash."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        join_fanout_estimate,
    )

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return join_fanout_estimate(li, o, ["l_orderkey"], ["o_orderkey"])


@query(
    "split_price_drift_ks",
    """
    WITH s AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4)
                       < 'cccc'
                  THEN 'train' ELSE 'val' END AS split
      FROM orders WHERE o_totalprice IS NOT NULL
    ), counts AS (
      SELECT v,
             SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS na,
             SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS nb
      FROM s GROUP BY v
    ), cum AS (
      SELECT v,
             SUM(na) OVER (ORDER BY v) AS cuma,
             SUM(nb) OVER (ORDER BY v) AS cumb
      FROM counts
    ), t AS (
      SELECT SUM(na) AS ta, SUM(nb) AS tb FROM counts
    ), g AS (
      SELECT v,
             ABS(CAST(cuma AS HUGEINT) * (SELECT tb FROM t)
                 - CAST(cumb AS HUGEINT) * (SELECT ta FROM t)) AS gap
      FROM cum
    )
    SELECT CAST((SELECT ta FROM t) AS BIGINT) AS n_a,
           CAST((SELECT tb FROM t) AS BIGINT) AS n_b,
           CAST(MAX(gap) AS DOUBLE)
             / (CAST((SELECT ta FROM t) AS DOUBLE)
                * CAST((SELECT tb FROM t) AS DOUBLE)) AS ks_stat,
           (SELECT CAST(v AS BIGINT) FROM g
             ORDER BY gap DESC, v DESC LIMIT 1) AS ks_at_value
    FROM g
    """,
)
def split_price_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift between the train and
    val splits' order-value distributions
    (dataops/quality.py::numeric_drift_ks over split_by_content_hash) —
    the numeric companion of split_priority_drift's TVD: did the 80/20
    content-hash cut preserve the MONEY distribution, and where do the
    CDFs diverge most? The maximized gap is an integer cross-product
    (decimal max, order-independent, largest-value tie-break) with ONE
    final double division, and the cumulative sums run as range
    partitions + broadcast prefix offsets — no single-task global
    window (plan-audited)."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        numeric_drift_ks,
    )
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        split_by_content_hash,
    )

    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice").isNotNull())
    s = split_by_content_hash(
        o, "o_orderkey", {"train": 0.8, "val": 0.2}, hex_chars=4
    ).withColumn(
        "__cents", F.round(F.col("o_totalprice") * 100).cast("bigint")
    )
    return numeric_drift_ks(
        s.filter(F.col("split") == "train"),
        s.filter(F.col("split") == "val"),
        "__cents",
    )


@query(
    "lang_heavy_hitter_tokens",
    """
    WITH toks AS (
      SELECT lang, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
    ), tot AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS group_total
      FROM toks GROUP BY lang
    )
    SELECT t.lang, t.token, CAST(COUNT(*) AS BIGINT) AS item_count,
           tot.group_total
    FROM toks t JOIN tot ON t.lang = tot.lang
    GROUP BY t.lang, t.token, tot.group_total
    HAVING COUNT(*) > CAST(0.005 AS DOUBLE) * tot.group_total
    """,
)
def lang_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LANGUAGE exact heavy-hitter tokens
    (dataops/heavyhitters.py::grouped_heavy_hitters, phi = 0.5% of each
    language's sub-corpus): the per-group variant a multilingual corpus
    needs — a global pass only surfaces the dominant language's
    vocabulary, while each language's stopword profile is what the
    quality/lang-id heuristics actually consume. Misra-Gries state is
    keyed per group inside each partition (|groups| x ceil(1/phi)
    counters — the few-groups regime this targets), candidates refine
    against exact per-language totals, and the oracle replays the full
    per-group GROUP BY + HAVING, checking exactness, not approximation."""
    from f1_data_engineering_machine_learning_spark.dataops.heavyhitters import (
        grouped_heavy_hitters,
    )
    from f1_data_engineering_machine_learning_spark.dataops.text import tokens

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    toks = docs.select("lang", F.explode(tokens("text")).alias("token"))
    return grouped_heavy_hitters(toks, "lang", "token", phi=0.005)


@query(
    "top_session_paths",
    """
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, event_id, ts, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ), paths AS (
      SELECT user_id, sid,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
             COUNT(*) AS len
      FROM sess GROUP BY user_id, sid
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(MAX(len) AS BIGINT) AS n_steps
    FROM paths GROUP BY path HAVING COUNT(*) >= 3
    """,
)
def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path analysis (operators/sessions.py::session_paths):
    every session's ORDERED event-type sequence, counted across the
    corpus — the exploratory twin of the hypothesis-driven funnel
    queries (which test one A->B->C; this surfaces which sequences
    actually happen). Sessionization is the lag+cumsum idiom with exact
    INTERVAL gap comparison; step order inside a session is pinned by
    (ts, event_id) struct sort, so the path strings — and therefore the
    counts — replay exactly in the oracle's ORDER BY string_agg. Two
    shuffles: the entity window and the map-side-combinable path count."""
    from f1_data_engineering_machine_learning_spark.operators.sessions import (
        session_paths,
    )

    ev = _events(spark, sf_dir)
    return session_paths(
        ev,
        ["user_id"],
        "ts",
        "event_type",
        gap_minutes=30.0,
        tiebreak=["event_id"],
        min_count=3,
    )


@query(
    "customer_rfm_segments",
    """
    WITH rfm AS (
      SELECT o_custkey,
             date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                       DATE '1998-08-01') AS recency_days,
             COUNT(*) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS monetary
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT o_custkey, recency_days, frequency, monetary,
             ntile(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary, o_custkey) AS m_score
      FROM rfm
    )
    SELECT CAST(r_score AS INTEGER) || '-' || CAST(f_score AS INTEGER)
             || '-' || CAST(m_score AS INTEGER) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(recency_days AS BIGINT)) AS BIGINT) AS sum_recency,
           CAST(SUM(frequency) AS BIGINT) AS sum_frequency,
           CAST(SUM(monetary) AS DOUBLE) AS sum_monetary
    FROM scored GROUP BY 1
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-analytics banding:
    recency (days since last order, fixed reference date), frequency,
    monetary, each quintile-scored and concatenated into a segment key.
    All three quintile ASSIGNMENTS run through
    operators/windows.py::range_partitioned_rank (parallel range-local
    sorts + broadcast offsets, no single-task global window —
    plan-audited), with (value, custkey) tie-breaks making membership
    deterministic. The ranked frame is per-CUSTOMER aggregates — at
    100 TB of orders it is orders-of-magnitude smaller than the fact
    table, which is what makes exact global banding affordable."""
    from f1_data_engineering_machine_learning_spark.operators.windows import (
        range_partitioned_rank,
    )

    o = _t(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("1998-08-01").cast("date"), F.max(F.col("o_orderdate").cast("date"))
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("monetary"),
    )
    t = range_partitioned_rank(
        rfm, ["recency_days"], ntile=5, ntile_col="r_score", tiebreak=["o_custkey"]
    )
    t = range_partitioned_rank(
        t, ["frequency"], ntile=5, ntile_col="f_score", tiebreak=["o_custkey"]
    )
    t = range_partitioned_rank(
        t, ["monetary"], ntile=5, ntile_col="m_score", tiebreak=["o_custkey"]
    )
    seg = F.concat_ws(
        "-",
        F.col("r_score").cast("int"),
        F.col("f_score").cast("int"),
        F.col("m_score").cast("int"),
    )
    return t.groupBy(seg.alias("segment")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("recency_days").cast("bigint")).alias("sum_recency"),
        F.sum("frequency").alias("sum_frequency"),
        F.sum("monetary").cast("double").alias("sum_monetary"),
    )


@query(
    "part_association_rules",
    """
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), nb AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM op
    ), item AS (
      SELECT l_partkey, COUNT(*) AS n_item FROM op GROUP BY 1
    ), pairs AS (
      SELECT a.l_partkey AS x, b.l_partkey AS y, COUNT(*) AS n_pair
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 3
    )
    SELECT p.x AS antecedent, p.y AS consequent,
           CAST(p.n_pair AS BIGINT) AS n_pair,
           CAST(ia.n_item AS BIGINT) AS n_antecedent,
           CAST(p.n_pair AS DOUBLE) / CAST(ia.n_item AS DOUBLE) AS confidence,
           CAST(CAST(p.n_pair AS HUGEINT)
                * (SELECT n_baskets FROM nb) AS DOUBLE)
             / CAST(CAST(ia.n_item AS HUGEINT)
                    * CAST(ic.n_item AS HUGEINT) AS DOUBLE) AS lift
    FROM pairs p
    JOIN item ia ON ia.l_partkey = p.x
    JOIN item ic ON ic.l_partkey = p.y
    """,
)
def part_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets — the step after frequent
    itemsets (frequent_part_itemsets): every directed rule x -> y with
    pair support >= 3, its CONFIDENCE (n_pair / n_x) and LIFT
    (n_pair * N / (n_x * n_y), > 1 = genuinely associated, not just both
    popular). Ratios are single divisions of exact integer products
    (decimal-held so a trillion-basket corpus cannot overflow) — no
    chained float arithmetic to drift. Same basket-bounded pair
    generation as the co-occurrence query; item counts broadcast back."""
    li = _t(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    nb = op.select(F.countDistinct("l_orderkey").alias("n_baskets"))
    item = op.groupBy(F.col("l_partkey")).agg(F.count(F.lit(1)).alias("n_item"))
    # directed in-basket pairs by ORDERED-PAIR EXPANSION over collected
    # baskets (the _enumerated_itemsets shape): one basket shuffle + one
    # pair-count shuffle, map-side O(b^2) expansion — replaces the
    # basket self-join (two shuffled join inputs + a third shuffle for
    # the count) with strictly less exchange; baskets are order-bounded
    # (TPC-H: <= 7 lines), so the expansion can't blow up.
    baskets = op.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("items")
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(items, x -> "
                    "transform(filter(items, y -> y != x), "
                    "y -> struct(x AS x, y AS y))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 3)
    )
    dec = "decimal(38,0)"
    ia = item.select(F.col("l_partkey").alias("x"), F.col("n_item").alias("__nx"))
    ic = item.select(F.col("l_partkey").alias("y"), F.col("n_item").alias("__ny"))
    return (
        pairs.join(F.broadcast(ia), "x")
        .join(F.broadcast(ic), "y")
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("x").alias("antecedent"),
            F.col("y").alias("consequent"),
            F.col("n_pair").cast("bigint").alias("n_pair"),
            F.col("__nx").cast("bigint").alias("n_antecedent"),
            (F.col("n_pair").cast("double") / F.col("__nx").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("n_pair").cast(dec) * F.col("n_baskets").cast(dec)).cast(
                    "double"
                )
                / (F.col("__nx").cast(dec) * F.col("__ny").cast(dec)).cast("double")
            ).alias("lift"),
        )
    )


@query(
    "customer_spend_gini",
    """
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
      FROM spend
    ), agg AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(cents AS HUGEINT)) AS s,
             SUM(CAST(i AS HUGEINT) * CAST(cents AS HUGEINT)) AS si
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(s AS DOUBLE) / 100.0 AS total_spend,
           2.0 * (CAST(si AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
    FROM agg
    """,
)
def customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini concentration index of lifetime spend across customers
    — "how unequal is revenue?", the inequality summary a marketplace
    health dashboard tracks. Formula ``2*sum(i*x_i)/(n*sum x) - (n+1)/n``
    over ascending-sorted integer cents with a deterministic custkey
    tie-break: the rank-weighted sum is decimal-exact and
    order-independent, the final expression is four double ops any
    engine replays bitwise. The global ROW_NUMBER comes from
    operators/windows.py::range_partitioned_rank — no single-task sort
    of the customer frame."""
    from f1_data_engineering_machine_learning_spark.operators.windows import (
        range_partitioned_rank,
    )

    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    ranked = range_partitioned_rank(
        spend, ["cents"], row_number_col="i", tiebreak=["o_custkey"]
    )
    dec = "decimal(38,0)"
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cents").cast(dec)).alias("s"),
        F.sum(F.col("i").cast(dec) * F.col("cents").cast(dec)).alias("si"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_customers"),
        (F.col("s").cast("double") / F.lit(100.0)).alias("total_spend"),
        (
            F.lit(2.0)
            * (
                F.col("si").cast("double")
                / (F.col("n").cast("double") * F.col("s").cast("double"))
            )
            - (F.col("n").cast("double") + F.lit(1.0)) / F.col("n").cast("double")
        ).alias("gini"),
    )


@query(
    "doc_ngram_novelty",
    """
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),
             '\\s+', ' ', 'g')), '\\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    END) AS s
      FROM docs
    ), dfreq AS (
      SELECT s, COUNT(*) AS df FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           CAST(SUM(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS novelty
    FROM sh JOIN dfreq ON sh.s = dfreq.s
    GROUP BY sh.doc_id
    """,
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty (dataops/text.py::ngram_novelty): the
    share of each doc's distinct 3-shingles occurring nowhere else in
    the corpus — the inverse of the memorization-risk signal the dedup
    family acts on (substring_dedup REMOVES repeated spans; this
    MEASURES unrepeatedness, the ranking a curation pass uses to keep
    the most informative documents). Shares the (id, shingle) distinct
    exchange shape with the Jaccard index; every ratio is one exact
    integer division."""
    from f1_data_engineering_machine_learning_spark.dataops.text import (
        ngram_novelty,
    )

    docs = _t(spark, sf_dir, "documents")
    return ngram_novelty(docs, "doc_id", "text", k=3)


@query(
    "corpus_token_budget",
    """
    WITH d AS (
      SELECT lang, source, len(string_split(text, ' ')) AS n_tok
      FROM documents WHERE text IS NOT NULL
    ), per AS (
      SELECT lang, source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM d GROUP BY 1, 2
    ), t AS (
      SELECT SUM(n_tokens) AS total_tokens FROM per
    )
    SELECT lang, source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / CAST((SELECT total_tokens FROM t)
                AS DOUBLE) AS token_share
    FROM per
    """,
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget accounting per (language, source) — the planning
    table every mixture decision starts from (temperature_mixture_docs
    and lang_upsampled_docs CONSUME exactly these shares): doc counts,
    exact token totals (space-split parity with the oracle), and each
    cell's share of the global budget. One map-side-combinable
    aggregate + a 1-row broadcast for the share division."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    per = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias("n_tokens"),
    )
    total = per.agg(F.sum("n_tokens").alias("__t"))
    return per.crossJoin(F.broadcast(total)).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("__t").cast("double")).alias(
            "token_share"
        ),
    )


@query(
    "weekday_revenue_seasonality",
    """
    WITH d AS (
      SELECT CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INTEGER) AS dow,
             CAST(o_totalprice AS DECIMAL(30,2)) AS p
      FROM orders
    ), per AS (
      SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(p) AS rev
      FROM d GROUP BY dow
    ), t AS (
      SELECT SUM(rev) AS tot, SUM(n_orders) AS n FROM per
    )
    SELECT dow, n_orders,
           CAST(rev AS DOUBLE) AS revenue,
           (CAST(rev AS DOUBLE) / CAST(n_orders AS DOUBLE))
             / (CAST((SELECT tot FROM t) AS DOUBLE)
                / CAST((SELECT n FROM t) AS DOUBLE)) AS seasonal_index
    FROM per
    """,
)
def weekday_revenue_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile: per-weekday order counts, exact
    decimal revenue, and the seasonal index (weekday's average order
    value relative to the overall average — 1.0 = no effect). The index
    is a ratio of two exact-decimal-derived averages computed in the
    same double op order both engines replay; Spark's dayofweek
    (1=Sunday) matches DuckDB's dayofweek+1 convention — encoded once
    here, checked by the value hash."""
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy(
        F.dayofweek(F.col("o_orderdate").cast("date")).cast("int").alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("rev"),
    )
    t = per.agg(F.sum("rev").alias("tot"), F.sum("n_orders").alias("n"))
    return per.crossJoin(F.broadcast(t)).select(
        "dow",
        "n_orders",
        F.col("rev").cast("double").alias("revenue"),
        (
            (F.col("rev").cast("double") / F.col("n_orders").cast("double"))
            / (F.col("tot").cast("double") / F.col("n").cast("double"))
        ).alias("seasonal_index"),
    )


@query(
    "order_lineitem_date_audit",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate
                         THEN 1 ELSE 0 END) AS BIGINT) AS shipped_before_order,
           CAST(MIN(date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE))) AS BIGINT)
             AS min_ship_lag_days,
           CAST(MAX(date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE))) AS BIGINT)
             AS max_ship_lag_days,
           CAST(SUM(date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE))) AS BIGINT)
             AS total_ship_lag_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def order_lineitem_date_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-TABLE temporal-consistency audit — the constraint class the
    single-table gate (check_constraints) cannot express: business-rule
    orderings that span a join (a lineitem must not ship before its
    order exists), plus the ship-lag envelope (min/max/total days from
    order to ship, exact integer date arithmetic). One equi-join + one
    aggregate — at 100 TB the join is the enrichment shuffle the
    pipeline already pays, and the audit rides it as CASE counts. Zero
    violations is the EXPECTED result on consistent data — the zero is
    what the value hash proves."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    lag = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.sum(
            (F.col("l_shipdate") < F.col("o_orderdate")).cast("long")
        ).alias("shipped_before_order"),
        F.min(lag).cast("bigint").alias("min_ship_lag_days"),
        F.max(lag).cast("bigint").alias("max_ship_lag_days"),
        F.sum(lag).cast("bigint").alias("total_ship_lag_days"),
    )


@query(
    "nation_share_of_region_revenue",
    """
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(CAST(o.o_totalprice AS DECIMAL(30,2))) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    ), reg AS (
      SELECT region, SUM(rev) AS region_rev FROM rev GROUP BY region
    )
    SELECT rev.region, rev.nation,
           CAST(rev.rev AS DOUBLE) AS nation_revenue,
           CAST(rev.rev AS DOUBLE) / CAST(reg.region_rev AS DOUBLE)
             AS share_of_region
    FROM rev JOIN reg ON rev.region = reg.region
    """,
)
def nation_share_of_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent rollup — each nation's share of ITS REGION's
    revenue, the classic BI hierarchy ratio. No window: the child-level
    decimal aggregate re-aggregates to the parent level (exact, map-side
    combinable) and broadcasts back — at 100 TB the fact table is
    touched once, the hierarchy arithmetic runs on the tiny rollup
    frames. Star dims broadcast (plan family as regional_supplier_
    volume); shares are single exact-decimal-to-double divisions."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("rev"))
    )
    reg = rev.groupBy("region").agg(F.sum("rev").alias("region_rev"))
    return rev.join(F.broadcast(reg), "region").select(
        "region",
        "nation",
        F.col("rev").cast("double").alias("nation_revenue"),
        (F.col("rev").cast("double") / F.col("region_rev").cast("double")).alias(
            "share_of_region"
        ),
    )


@query(
    "weekly_distinct_users_bitmap",
    """
    WITH d AS (
      SELECT strftime(date_trunc('week', CAST(ts AS DATE)), '%Y-%m-%d') AS wk,
             CAST(ts AS DATE) AS day, user_id
      FROM events
    ), daily AS (
      SELECT wk, day, COUNT(DISTINCT user_id) AS dd FROM d GROUP BY 1, 2
    )
    SELECT d.wk AS week,
           CAST(COUNT(DISTINCT d.day) AS BIGINT) AS n_days,
           CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS weekly_distinct,
           CAST((SELECT SUM(dd) FROM daily x WHERE x.wk = d.wk) AS BIGINT)
             AS sum_daily_distinct
    FROM d GROUP BY d.wk
    """,
)
def weekly_distinct_users_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct rollup via Spark's bitmap aggregates —
    the exact twin of the HLL rollup (daily_distinct_sketch_rollup):
    per (day, bucket) bitmaps of user ids build map-side, OR-merge to
    weeks, and ``bitmap_count`` reads the exact weekly distinct — no
    re-scan of raw events at rollup time and no approximation. The
    contract proven by the oracle: bitmap-merged counts EQUAL
    COUNT(DISTINCT), while the sum of daily distincts (also emitted)
    overcounts returning users — the reason naive rollups cannot sum
    distincts. Bitmap state is O(id-range/64) bits per bucket: the
    exact-sketch trade vs HLL's fixed 1.5 KB, right when ids are dense
    integers."""
    ev = _events(spark, sf_dir)
    base = ev.select(
        F.date_format(
            F.date_trunc("week", F.col("ts").cast("date")), "yyyy-MM-dd"
        ).alias("week"),
        F.col("ts").cast("date").alias("day"),
        F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
        F.expr("bitmap_bit_position(user_id)").alias("pos"),
    )
    daily = base.groupBy("week", "day", "bucket").agg(
        F.expr("bitmap_construct_agg(pos)").alias("bm")
    )
    weekly = (
        daily.groupBy("week", "bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .groupBy("week")
        .agg(F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("weekly_distinct"))
    )
    per_week_days = daily.select("week", "day").distinct().groupBy("week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    daily_distinct = (
        daily.groupBy("week", "day")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("dd"))
        .groupBy("week")
        .agg(F.sum("dd").cast("bigint").alias("sum_daily_distinct"))
    )
    return (
        weekly.join(per_week_days, "week")
        .join(daily_distinct, "week")
        .select("week", "n_days", "weekly_distinct", "sum_daily_distinct")
    )


@query(
    "frequent_session_sequences",
    """
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, event_id, ts, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM flagged
    ), singles AS (
      SELECT event_type AS pattern, 1 AS size, COUNT(*) AS freq
      FROM (SELECT DISTINCT user_id, sid, event_type FROM sess)
      GROUP BY event_type HAVING COUNT(*) >= 10
    ), pairs AS (
      SELECT a.event_type || '>' || b.event_type AS pattern, 2 AS size,
             COUNT(*) AS freq
      FROM (SELECT DISTINCT user_id, sid, event_type,
                   MIN(rn) AS first_rn
            FROM sess GROUP BY user_id, sid, event_type) a
      JOIN (SELECT DISTINCT user_id, sid, event_type,
                   MAX(rn) AS last_rn
            FROM sess GROUP BY user_id, sid, event_type) b
        ON a.user_id = b.user_id AND a.sid = b.sid
       AND a.first_rn < b.last_rn
      GROUP BY 1 HAVING COUNT(*) >= 10
    )
    SELECT pattern, CAST(size AS INTEGER) AS size, CAST(freq AS BIGINT) AS freq
    FROM (SELECT * FROM singles UNION ALL SELECT * FROM pairs)
    """,
)
def frequent_session_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining over user sessions
    (dataops/mining.py::frequent_sequences — MLlib PrefixSpan, absolute
    support 10, patterns up to length 2): which ORDERED step pairs do
    sessions actually walk, counting non-contiguous subsequences
    (a>c matches a,b,c — order is the contract, adjacency is not).
    The oracle proves the miner exact by enumeration: a session
    contains x>y iff x's FIRST occurrence precedes y's LAST (the
    subsequence existence criterion), replayed per session in SQL with
    the same lag+cumsum sessionization the path queries share."""
    from f1_data_engineering_machine_learning_spark.dataops.mining import (
        frequent_sequences,
    )
    from f1_data_engineering_machine_learning_spark.operators.sessions import (
        assign_sessions,
    )

    ev = _events(spark, sf_dir)
    s = assign_sessions(
        ev, ["user_id"], "ts", 30.0, tiebreak=["event_id"], out_col="sid"
    )
    return frequent_sequences(
        s,
        ["user_id", "sid"],
        "ts",
        "event_type",
        min_count=10,
        max_len=2,
        tiebreak=["event_id"],
    )


@query(
    "signup_conversion_lag_quantiles",
    """
    WITH stages AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS s,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
      FROM events GROUP BY user_id
    ), lags AS (
      SELECT CAST(date_diff('second', s, p) AS BIGINT) AS lag_s
      FROM stages WHERE s IS NOT NULL AND p IS NOT NULL AND p > s
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(MIN(lag_s) AS BIGINT) AS min_lag_s,
           CAST(quantile_cont(lag_s, 0.5) AS DOUBLE) AS median_lag_s,
           CAST(quantile_cont(lag_s, 0.9) AS DOUBLE) AS p90_lag_s,
           CAST(MAX(lag_s) AS BIGINT) AS max_lag_s
    FROM lags
    """,
)
def signup_conversion_lag_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion TIMING distribution — the second half of funnel
    analysis (signup_purchase_funnel counts who converts; this measures
    how fast): exact median and p90 of the signup-to-first-purchase lag
    over converted users. Lags are integer seconds (exact engine-
    portable percentile interpolation, the catalog rule), from the same
    no-self-join conditional-min stage shape as the funnel — one
    aggregation over users, then one tiny quantile pass."""
    ev = _events(spark, sf_dir)
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("s"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p"),
    )
    lags = stages.filter(
        F.col("s").isNotNull() & F.col("p").isNotNull() & (F.col("p") > F.col("s"))
    ).select(
        # NTZ -> timestamp (session is pinned UTC) -> epoch seconds: the
        # same integer DuckDB's date_diff('second') yields on naive ts
        (
            F.col("p").cast("timestamp").cast("long")
            - F.col("s").cast("timestamp").cast("long")
        ).alias("lag_s")
    )
    # one array-fraction percentile for both quantiles (single
    # value->count map; see dataops/quality.py::exact_percentiles)
    return lags.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("lag_s").cast("bigint").alias("min_lag_s"),
        F.percentile("lag_s", F.array(F.lit(0.5), F.lit(0.9))).alias("__q"),
        F.max("lag_s").cast("bigint").alias("max_lag_s"),
    ).select(
        "n_converted",
        "min_lag_s",
        F.col("__q")[0].cast("double").alias("median_lag_s"),
        F.col("__q")[1].cast("double").alias("p90_lag_s"),
        "max_lag_s",
    )


# ---------------------------------------------------------------------------
# Drift/statistics + multi-criteria curation operators
# ---------------------------------------------------------------------------

def _benford_case_sql(total_expr: str) -> str:
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        BENFORD_P,
    )

    whens = " ".join(f"WHEN {d} THEN {p!r}" for d, p in BENFORD_P.items())
    return f"CAST({total_expr} * (CASE digit {whens} END) AS DOUBLE)"


@query(
    "order_price_benford",
    f"""
    WITH counts AS (
      SELECT CAST(regexp_extract(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                      AS VARCHAR), '[1-9]') AS INTEGER) AS digit,
             CAST(COUNT(*) AS DOUBLE) AS observed
      FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
      GROUP BY 1
    ), tot AS (SELECT SUM(observed) AS total FROM counts
    ), expd AS (
      SELECT digit, observed,
             {{benford_case}} AS expected
      FROM counts CROSS JOIN tot
    )
    SELECT digit, CAST(observed AS BIGINT) AS observed, expected,
           CAST(pow(observed - expected, 2) / expected AS DOUBLE) AS cell_chisq
    FROM expd
    """.replace("{benford_case}", _benford_case_sql("tot.total")),
)
def order_price_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit drift screen over order prices
    (dataops/quality.py::benford_digit_test) — the fabricated-data /
    unit-mixing detector for financial columns, joining the drift family
    (KS / TVD / chi-square). The first significant digit comes from the
    DECIMAL string form (no log10 on data; both engines print plain
    decimals), expected counts multiply the exact integer total by
    SHARED double literals of log10(1+1/d) (cross-engine libm log10 is
    not correctly-rounded; shared literals are bitwise by construction).
    One 9-key aggregate + a 9-row window — scale-free."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        benford_digit_test,
    )

    o = _t(spark, sf_dir, "orders")
    return benford_digit_test(o, "o_totalprice")


@query(
    "daily_revenue_cusum",
    """
    WITH daily AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
      FROM orders GROUP BY 1
    ), m AS (
      SELECT CAST(CAST(SUM(CAST(revenue AS DECIMAL(30,2))) AS DOUBLE)
                  / COUNT(revenue) AS DOUBLE) AS mean FROM daily
    ), c AS (
      SELECT day, revenue,
             CAST(SUM(CAST(floor((revenue - m.mean) * 100) AS BIGINT))
                    OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) / 100.0
                  AS DOUBLE) AS cusum
      FROM daily CROSS JOIN m
    )
    SELECT day, revenue, cusum,
           abs(cusum) = MAX(abs(cusum)) OVER () AS is_peak
    FROM c
    """,
)
def daily_revenue_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift changepoint signal over the daily revenue series
    (dataops/quality.py::cusum_changepoint) — the sequential drift
    localizer complementing the two-sample KS test: |cusum| peaks at the
    day the revenue level shifted. The mean is decimal-exact over exact
    per-day decimal sums; per-day deviations are quantized to integer
    cents and cumulated as BIGINT (windowed float SUM accumulation order
    is an engine choice — DuckDB segment-trees sum pairwise — so only an
    integer cumsum is cross-engine exact; same trick as pagerank's
    nano-quantized contributions). Input is the PRE-AGGREGATED
    |days|-row series (2.4k rows over 7 years), so the partition-free
    running window is post-agg trivia, same tier as the chi-square
    marginals."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        cusum_changepoint,
    )

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(dsum("o_totalprice").alias("revenue"))
    return cusum_changepoint(daily, "day", "revenue")


@query(
    "part_price_size_skyline",
    """
    SELECT a.p_partkey, CAST(a.p_retailprice AS DOUBLE) AS p_retailprice,
           CAST(a.p_size AS INTEGER) AS p_size
    FROM part a
    WHERE NOT EXISTS (
      SELECT 1 FROM part b
      WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
    """,
)
def part_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D Pareto frontier over parts — cheapest-for-their-size parts no
    other part dominates (operators/skyline.py::pareto_frontier_2d), the
    multi-criteria curation primitive (price/quality, length/quality
    frontiers). The implementation is the sort-sweep: per-price group
    max + a range-partitioned prefix max (the two-pass idiom of
    range_partitioned_rank — NO unpartitioned global window, no O(n^2)
    pair join); the oracle replays the NOT EXISTS brute force at
    sf0.01, proving the sweep's domination algebra (ties: equal twins
    both survive) exact."""
    from f1_data_engineering_machine_learning_spark.operators.skyline import (
        pareto_frontier_2d,
    )

    p = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    return pareto_frontier_2d(p, "p_retailprice", "p_size").select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
        F.col("p_size").cast("int").alias("p_size"),
    )


@query(
    "doc_top_terms_tfidf",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                t -> t <> '')) AS t
      FROM documents
    ), tf AS (
      SELECT doc_id, t, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ), dlen AS (
      SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY 1
    ), dfr AS (
      SELECT t, COUNT(*) AS df FROM tf GROUP BY 1
    ), nd AS (
      SELECT COUNT(DISTINCT doc_id) AS n FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.t, tf.tf, dfr.df,
             CAST(CAST(tf.tf * nd.n AS DOUBLE)
                  / CAST(dlen.len * dfr.df AS DOUBLE) AS DOUBLE) AS score
      FROM tf JOIN dlen USING (doc_id) JOIN dfr USING (t) CROSS JOIN nd
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, t) AS rank
      FROM scored
    )
    SELECT doc_id, t AS term, CAST(tf AS BIGINT) AS tf,
           CAST(df AS BIGINT) AS df, score, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def doc_top_terms_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 characteristic terms by transcendental-free
    TF-IDF (dataops/text.py::top_terms_tfidf): score = tf*N/(len*df),
    one double division of exact BIGINT products — the raw-idf scoring
    variant chosen so the whole ranking is cross-engine bitwise (ln()
    would hash-drift on libm ulps). Sparse-retrieval / keyword-
    extraction primitive joining the text-analysis family; the ranking
    window is per-document (never global)."""
    from f1_data_engineering_machine_learning_spark.dataops.text import (
        top_terms_tfidf,
    )

    return top_terms_tfidf(_t(spark, sf_dir, "documents"), "doc_id", "text", k=3)


@query(
    "doc_pii_scan",
    """
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example or +1 555 123 4567 at 10.0.0.'
                    || CAST(doc_id % 256 AS VARCHAR)
             ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_email,
           CAST(len(regexp_extract_all(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT)
             AS n_ipv4,
           CAST(len(regexp_extract_all(
             regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
               '<IPV4>', 'g'),
             '\\+\\d{1,2}[- ]\\d{3}[- ]\\d{3}[- ]\\d{4}')) AS BIGINT)
             AS n_phone,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IPV4>', 'g'),
             '\\+\\d{1,2}[- ]\\d{3}[- ]\\d{3}[- ]\\d{4}', '<PHONE>', 'g')
             AS redacted
    FROM planted
    """,
)
def doc_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed PII detection + redaction (dataops/governance.py::pii_scan)
    over the documents corpus with DETERMINISTICALLY PLANTED identifiers
    (every 7th doc gains an email + phone + ipv4 derived from its id —
    the synthetic corpus carries none, and a scan that never fires is an
    untested scan). Counts and the fully redacted text are value-oracled:
    the patterns are an RE2-compatible subset, so Java regex and DuckDB
    RE2 agree byte-for-byte. Map-only codegen expressions — the scrub
    stage streams at scan speed over 100 TB.

    Count semantics: each type's count is measured on the text with all
    earlier types already redacted (email -> ipv4 -> phone) — the
    sequential-redaction contract, so a span never counts twice under
    two types; oracle replays the same chaining."""
    from f1_data_engineering_machine_learning_spark.dataops.governance import (
        pii_scan,
    )

    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example or +1 555 123 4567 at 10.0.0."),
                (F.col("doc_id") % 256).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return pii_scan(planted, "doc_id", "text")


@query(
    "session_step_transitions",
    """
    WITH ev AS (
      SELECT user_id, event_id, event_type, ts FROM events
    ), ordered AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, event_type, ts, event_id,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    ), pairs AS (
      SELECT event_type AS to_step,
             LAG(event_type) OVER (PARTITION BY user_id, session_id
                                   ORDER BY ts, event_id) AS from_step
      FROM sess
    ), counts AS (
      SELECT from_step, to_step, CAST(COUNT(*) AS BIGINT) AS n
      FROM pairs WHERE from_step IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT from_step, to_step, n,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY from_step) AS DOUBLE) AS prob
    FROM counts
    """,
)
def session_step_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over in-session event steps
    (operators/sessions.py::assign_sessions + a within-session lag):
    P(next step | current step) — the behavioral-model complement of
    top_session_paths (full sequences) and the funnels (one hypothesis):
    this is the EDGE-level structure recommenders and anomaly monitors
    consume. Counts are exact integers; each probability is one double
    division (count / row-marginal), so the whole matrix value-hashes
    against the oracle. Shuffles: the entity window (reused by the
    session id and the in-session lag — same partitioning) and the
    map-side-combinable pair count."""
    from f1_data_engineering_machine_learning_spark.operators.sessions import (
        assign_sessions,
    )

    ev = _events(spark, sf_dir)
    sess = assign_sessions(
        ev, ["user_id"], "ts", gap_minutes=30.0, tiebreak=["event_id"]
    )
    w = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    pairs = sess.select(
        F.lag("event_type").over(w).alias("from_step"),
        F.col("event_type").alias("to_step"),
    ).filter(F.col("from_step").isNotNull())
    counts = pairs.groupBy("from_step", "to_step").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wmar = Window.partitionBy("from_step")
    return counts.select(
        "from_step",
        "to_step",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wmar).cast("double")).alias(
            "prob"
        ),
    )


@query(
    "source_lang_gini_impurity",
    """
    WITH cells AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2
    ), tot AS (
      SELECT source, SUM(n) AS t FROM cells GROUP BY 1
    )
    SELECT c.source,
           CAST(MAX(t.t) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS INTEGER) AS n_langs,
           CAST(1.0 - SUM(CAST(c.n * c.n AS DOUBLE)) / CAST(MAX(t.t) * MAX(t.t) AS DOUBLE)
                AS DOUBLE) AS gini_impurity
    FROM cells c JOIN tot t USING (source)
    GROUP BY c.source
    """,
)
def source_lang_gini_impurity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language diversity as GINI IMPURITY ``1 - sum(p_i^2)``
    — the information-theoretic mixture-balance monitor chosen over
    Shannon entropy deliberately: entropy needs ``log``, whose libm
    rounding differs across engines and would hash-drift, while impurity
    is an exact rational of integer counts (``1 - sum(n_i^2)/t^2``, one
    double division) that replays bitwise. 0 = monolingual source,
    -> 1-1/k = uniform over k languages. One cells aggregate + a
    |sources|-row join — scale-free."""
    docs = _t(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = cells.groupBy("source").agg(F.sum("n").alias("t"))
    return (
        cells.join(tot, "source")
        .groupBy("source")
        .agg(
            F.max("t").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("int").alias("n_langs"),
            (
                F.lit(1.0)
                - F.sum((F.col("n") * F.col("n")).cast("double"))
                / (F.max("t") * F.max("t")).cast("double")
            )
            .cast("double")
            .alias("gini_impurity"),
        )
    )


def _duck_l2sq(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y)"
    )


def _duck_lloyd_round(n: int, prev_c: str, k: int, dim: int = 64) -> str:
    """One Lloyd round as CTE text: assignment a{n} vs centroids
    {prev_c}, decimal-exact elementwise means m{n}, updated centroids
    c{n} (empty clusters COALESCE to their previous centroid). ``dim``
    is the testdata embedding width (the engine derives it from data;
    DuckDB's generate_series takes no lateral args, so the oracle pins
    it like the other 64-dim oracles)."""
    d2 = _duck_l2sq("x.v", "i.cv")
    return f"""
    a{n} AS (
      SELECT vec_id, v, cid FROM (
        SELECT x.vec_id, x.v, i.cid,
               ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                  ORDER BY {d2}, i.cid) AS rn
        FROM vecs x CROSS JOIN {prev_c} i)
      WHERE rn = 1
    ), m{n} AS (
      SELECT a.cid, g.idx - 1 AS pos,
             CAST(SUM(CAST(floor(a.v[g.idx] * 1000000000.0) AS BIGINT))
                  AS DOUBLE) / 1000000000.0 / COUNT(*) AS m
      FROM a{n} a, generate_series(1, {dim}) g(idx)
      GROUP BY 1, 2
    ), c{n} AS (
      SELECT i.cid, COALESCE(mm.cv, i.cv) AS cv
      FROM {prev_c} i LEFT JOIN (
        SELECT cid, list(m ORDER BY pos) AS cv FROM m{n} GROUP BY cid
      ) mm USING (cid)
    )"""


@query(
    "embedding_kmeans_lloyd",
    f"""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), init AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             v AS cv
      FROM vecs ORDER BY vec_id LIMIT 4
    ),{_duck_lloyd_round(1, "init", 4)},{_duck_lloyd_round(2, "c1", 4)}
    SELECT vec_id, CAST(cid AS INTEGER) AS cluster, CAST(d2 AS DOUBLE) AS dist2
    FROM (
      SELECT x.vec_id, i.cid, {_duck_l2sq("x.v", "i.cv")} AS d2,
             ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                ORDER BY {_duck_l2sq("x.v", "i.cv")}, i.cid) AS rn
      FROM vecs x CROSS JOIN c2 i)
    WHERE rn = 1
    """,
)
def embedding_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 2-iteration Lloyd k-means over the embedding corpus
    (dataops/similarity.py::kmeans_lloyd_deterministic, k=4) — iterative
    ML as pure DataFrame ops with EVERY number value-oracled: the DuckDB
    CTE chain replays both assignment rounds (argmin squared-L2, ties to
    the smaller cluster id), both exact centroid updates
    (nano-quantized BIGINT elementwise sums — a DECIMAL(38,18) cast is
    NOT cross-engine portable, the 18th digit rounds differently;
    measured), and the final
    per-vector distance — the clustering twin of the CTE-unrolled
    PageRank. MLlib KMeans (ivf_topk) stays the library path; this is
    the auditable one."""
    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        kmeans_lloyd_deterministic,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_lloyd_deterministic(
        emb, id_col="vec_id", vec_col="embedding", k=4, iterations=2
    )


@query(
    "customer_revenue_pareto",
    """
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1
    ), tot AS (SELECT SUM(cents) AS t, COUNT(*) AS n FROM spend
    ), c AS (
      SELECT o_custkey, cents,
             SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                              ROWS UNBOUNDED PRECEDING) AS cum_cents,
             ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS rnk
      FROM spend
    )
    SELECT o_custkey, CAST(cents AS BIGINT) AS cents,
           CAST(rnk AS BIGINT) AS rnk,
           CAST(cum_cents AS DOUBLE) / CAST(tot.t AS DOUBLE) AS cum_share,
           CAST(rnk AS DOUBLE) / tot.n AS cust_share,
           CAST(cum_cents AS DOUBLE) / CAST(tot.t AS DOUBLE) >= 0.8
             AND (cum_cents - cents) * 1.0 / tot.t < 0.8 AS crosses_80
    FROM c CROSS JOIN tot
    """,
)
def customer_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz/Pareto concentration curve of customer revenue — every
    customer with their global revenue rank, cumulative revenue share,
    and the flag marking where the curve crosses 80% (the '80/20'
    frontier). The global running sum is
    operators/windows.py::range_partitioned_prefix_sum — the
    two-pass distributed prefix-sum (per-range totals folded into
    broadcast offsets + a partition-local running window), so no
    single-task global ORDER BY window anywhere; revenue is quantized
    to integer cents so the cumsum is exact and associative (oracle
    replays it bit-for-bit). Descending order rides a negated sort key
    (the range partitioner orders ascending)."""
    from f1_data_engineering_machine_learning_spark.operators.windows import (
        range_partitioned_prefix_sum,
    )

    o = _t(spark, sf_dir, "orders")
    spend = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "cents"
            )
        )
        .withColumn("__negc", -F.col("cents"))
        .withColumn("__one", F.lit(1).cast("bigint"))
    )
    # running revenue AND global rank (= running count) share ONE range
    # exchange / checkpoint / ordered window via the multi-value form
    cum = range_partitioned_prefix_sum(
        spend, ["__negc"], {"cum_cents": "cents", "rnk": "__one"},
        tiebreak=["o_custkey"],
    )
    tot = spend.agg(
        F.sum("cents").alias("__t"), F.count(F.lit(1)).alias("__n")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "o_custkey",
            F.col("cents").cast("bigint").alias("cents"),
            F.col("rnk").cast("bigint").alias("rnk"),
            (F.col("cum_cents").cast("double") / F.col("__t").cast("double")).alias(
                "cum_share"
            ),
            (F.col("rnk").cast("double") / F.col("__n")).alias("cust_share"),
            (
                (F.col("cum_cents").cast("double") / F.col("__t").cast("double")
                 >= 0.8)
                & (
                    (F.col("cum_cents") - F.col("cents")) * 1.0 / F.col("__t")
                    < 0.8
                )
            ).alias("crosses_80"),
        )
    )


@query(
    "orders_maintained_status_rollup",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
             AS price_sum,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
             AS price_min,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
             AS price_max,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
                / COUNT(*) AS DOUBLE) AS price_avg
    FROM orders GROUP BY 1
    """,
)
def orders_maintained_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance proven against the direct answer
    (plans/ivm.py): the orders table arrives as THREE batches (split by
    orderkey residue — the engine-side simulation of daily loads), each
    folded into the maintained partials with only affected groups
    re-aggregated; the finalized view must equal the one-shot GROUP BY
    the oracle computes over the whole table — counts, exact decimal
    sums, min/max, and the read-time avg, value-for-value. This is the
    materialized-view contract: maintenance is invisible to readers."""
    from f1_data_engineering_machine_learning_spark.plans.ivm import (
        agg_partials,
        finalize_partials,
        merge_partials,
    )

    o = _t(spark, sf_dir, "orders")
    sums = {"price": "o_totalprice"}
    keys = ["o_orderstatus"]
    state = agg_partials(o.filter(F.col("o_orderkey") % 3 == 0), keys, sums)
    for r in (1, 2):
        state = merge_partials(
            state, o.filter(F.col("o_orderkey") % 3 == r), keys, sums
        )
    out = finalize_partials(state, sums)
    return out.select(
        "o_orderstatus", "n_rows", "price_sum", "price_min", "price_max",
        "price_avg",
    )


def _duck_cms_bucket(h: str, row: str, width: int) -> str:
    return (
        f"((({h} % 999999937 + 389 * {row}) * 2654435761 + 97531) "
        f"% 4294967296) % {width}"
    )


@query(
    "token_cms_estimates",
    f"""
    WITH tok AS (
      SELECT unnest(string_split_regex(lower(text), '\\s+')) AS t
      FROM documents
    ), hashed AS (
      SELECT t, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tok
    ), cells AS (
      SELECT r.r AS row, {_duck_cms_bucket("h", "r.r", 512)} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM hashed CROSS JOIN (SELECT unnest(range(4)) AS r) r
      GROUP BY 1, 2
    ), exact AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS exact_n FROM tok GROUP BY 1
      ORDER BY exact_n DESC, t LIMIT 20
    ), probes AS (
      SELECT e.t, e.exact_n, r.r AS row,
             {_duck_cms_bucket("CAST(('0x' || substr(md5(e.t), 1, 15)) AS BIGINT)", "r.r", 512)}
               AS bucket
      FROM exact e CROSS JOIN (SELECT unnest(range(4)) AS r) r
    )
    SELECT p.t AS token, MAX(p.exact_n) AS exact_n,
           CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cms_estimate,
           CAST(MIN(COALESCE(c.cnt, 0)) - MAX(p.exact_n) AS BIGINT)
             AS overestimate
    FROM probes p LEFT JOIN cells c USING (row, bucket)
    GROUP BY p.t
    """,
)
def token_cms_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation over the corpus token
    stream (dataops/heavyhitters.py::cms_build/cms_estimate, 4 x 512
    cells): the top-20 exact tokens probed against the sketch, with the
    CM overestimate emitted per token (>= 0 always — inserts-only CM
    never underestimates; the value-hash therefore checks the error,
    not just the estimates). Completes the mergeable-sketch family
    (exact bitmap / HLL / Misra-Gries / MinHash / SimHash / CMS): cells
    are exact BIGINT counts any engine re-derives — portable md5-60
    item hash, LCG row mixes — so the WHOLE sketch is value-oracled,
    unlike library sketches. Build is one map-side-combinable shuffle
    of <= depth*width rows per partition; daily sketches merge by cell
    addition like the bitmap rollups."""
    from f1_data_engineering_machine_learning_spark.dataops.heavyhitters import (
        cms_build,
        cms_estimate,
    )

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("t")
    )
    sketch = cms_build(tok, "t", depth=4, width=512)
    exact = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.col("t"))
        .limit(20)
    )
    est = cms_estimate(sketch, exact.select("t"), "t", depth=4, width=512)
    return (
        exact.join(est, "t")
        .select(
            F.col("t").alias("token"),
            "exact_n",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_n")).cast("bigint").alias(
                "overestimate"
            ),
        )
    )


@query(
    "lang_token_cms_estimates",
    f"""
    WITH tok AS (
      SELECT lang, unnest(string_split_regex(lower(text), '\\s+')) AS t
      FROM documents
    ), hashed AS (
      SELECT lang, t, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
      FROM tok
    ), cells AS (
      SELECT lang, r.r AS row, {_duck_cms_bucket("h", "r.r", 512)} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM hashed CROSS JOIN (SELECT unnest(range(4)) AS r) r
      GROUP BY 1, 2, 3
    ), exact AS (
      SELECT lang, t, CAST(COUNT(*) AS BIGINT) AS exact_n,
             ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY COUNT(*) DESC, t
             ) AS rn
      FROM tok GROUP BY 1, 2
    ), top AS (
      SELECT lang, t, exact_n FROM exact WHERE rn <= 5
    ), probes AS (
      SELECT e.lang, e.t, e.exact_n, r.r AS row,
             {_duck_cms_bucket("CAST(('0x' || substr(md5(e.t), 1, 15)) AS BIGINT)", "r.r", 512)}
               AS bucket
      FROM top e CROSS JOIN (SELECT unnest(range(4)) AS r) r
    )
    SELECT p.lang, p.t AS token, MAX(p.exact_n) AS exact_n,
           CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cms_estimate,
           CAST(MIN(COALESCE(c.cnt, 0)) - MAX(p.exact_n) AS BIGINT)
             AS overestimate
    FROM probes p
    LEFT JOIN cells c
      ON p.lang = c.lang AND p.row = c.row AND p.bucket = c.bucket
    GROUP BY p.lang, p.t
    """,
)
def lang_token_cms_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYED count-min sketches — one independent 4 x 512 sketch PER
    LANGUAGE in a single aggregation
    (dataops/heavyhitters.py::cms_build/cms_estimate with
    ``key_cols=["lang"]``): each language's top-5 exact tokens probed
    against that language's own sketch, overestimate emitted per
    (lang, token). The per-group twin of ``token_cms_estimates`` for
    when per-group vocabularies are unbounded (per-language token
    frequencies, per-day URL counts): state is groups x depth x width
    mergeable BIGINT cells, the build is ONE map-side-combinable
    shuffle keyed (lang, row, bucket) — not one job per group — and the
    probe joins the keyed sketch broadcast. Deterministic portable
    hashing (md5-60 + LCG row mixes) keeps the whole per-group sketch
    value-oracled, CM guarantee (estimate >= exact, per group) checked
    by the overestimate column sitting in the value hash."""
    from f1_data_engineering_machine_learning_spark.dataops.heavyhitters import (
        cms_build,
        cms_estimate,
    )

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("t")
    )
    sketch = cms_build(tok, "t", depth=4, width=512, key_cols=["lang"])
    exact = tok.groupBy("lang", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_n")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("exact_n"), F.col("t"))
    top = (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )
    est = cms_estimate(
        sketch, top.select("lang", "t"), "t", depth=4, width=512,
        key_cols=["lang"],
    )
    return top.join(est, ["lang", "t"]).select(
        "lang",
        F.col("t").alias("token"),
        "exact_n",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_n")).cast("bigint").alias(
            "overestimate"
        ),
    )


@query(
    "doc_token_bloom_fpr",
    f"""
    WITH tokA AS (
      SELECT DISTINCT unnest(string_split_regex(lower(text), '\\s+')) AS t
      FROM documents WHERE doc_id % 2 = 0
    ), tokB AS (
      SELECT DISTINCT unnest(string_split_regex(lower(text), '\\s+')) AS t
      FROM documents WHERE doc_id % 2 = 1
    ), bits AS (
      SELECT DISTINCT
             {_duck_cms_bucket("CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)", "r.r", 4096)}
               AS bit
      FROM tokA CROSS JOIN (SELECT unnest(range(4)) AS r) r
    ), probes AS (
      SELECT b.t, r.r,
             {_duck_cms_bucket("CAST(('0x' || substr(md5(b.t), 1, 15)) AS BIGINT)", "r.r", 4096)}
               AS bit
      FROM tokB b CROSS JOIN (SELECT unnest(range(4)) AS r) r
    ), verdicts AS (
      SELECT p.t, COUNT(*) = SUM(CASE WHEN bits.bit IS NULL THEN 0 ELSE 1 END)
               AS maybe_present
      FROM probes p LEFT JOIN bits USING (bit)
      GROUP BY p.t
    ), labeled AS (
      SELECT v.t, v.maybe_present, a.t IS NOT NULL AS is_member
      FROM verdicts v LEFT JOIN tokA a USING (t)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_members,
           CAST(SUM(CASE WHEN is_member AND NOT maybe_present THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_negatives,
           CAST(SUM(CASE WHEN NOT is_member AND maybe_present THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positives,
           CAST(SUM(CASE WHEN NOT is_member AND maybe_present THEN 1 ELSE 0 END)
                AS DOUBLE)
             / SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END) AS fpr
    FROM labeled
    """,
)
def doc_token_bloom_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership with its error MEASURED in the output
    (dataops/heavyhitters.py::bloom_build/bloom_probe): the filter is
    built over even-doc tokens, every odd-doc token probed, and the
    summary row carries exact member/false-positive counts plus the
    realized FPR — n_false_negatives is structurally 0 (the Bloom
    guarantee; it sits in the value hash so a broken filter fails the
    oracle, not just a unit test). Deterministic portable bits (md5-60
    + LCG mixes) make the WHOLE filter value-oracled. The set-bit table
    is the sparse mergeable form: union of bit rows = filter of the
    union — the ship-the-filter pattern used by runtime semi-join
    reduction, here as DATA the engine can persist and compose."""
    from f1_data_engineering_machine_learning_spark.dataops.heavyhitters import (
        bloom_build,
        bloom_probe,
    )

    docs = _t(spark, sf_dir, "documents")

    def toks(parity: int) -> DataFrame:
        return (
            docs.filter(F.col("doc_id") % 2 == parity)
            .select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("t"))
            .distinct()
        )

    a, b = toks(0), toks(1)
    bloom = bloom_build(a, "t", n_bits=4096, n_hashes=4)
    verdicts = bloom_probe(bloom, b, "t", n_bits=4096, n_hashes=4)
    labeled = verdicts.join(
        a.withColumn("__m", F.lit(True)), "t", "left"
    ).select(
        "t",
        "maybe_present",
        F.coalesce(F.col("__m"), F.lit(False)).alias("is_member"),
    )
    return labeled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum(F.col("is_member").cast("int")).cast("bigint").alias("n_members"),
        F.sum((F.col("is_member") & ~F.col("maybe_present")).cast("int"))
        .cast("bigint")
        .alias("n_false_negatives"),
        F.sum((~F.col("is_member") & F.col("maybe_present")).cast("int"))
        .cast("bigint")
        .alias("n_false_positives"),
        # try_divide: all probes can be members (dense corpora), making
        # the divisor 0 — NULL fpr under ANSI (the driver's session) and
        # non-ANSI alike, matching the SQL oracle's NULL
        F.try_divide(
            F.sum((~F.col("is_member") & F.col("maybe_present")).cast("int"))
            .cast("double"),
            F.sum((~F.col("is_member")).cast("int")),
        ).alias("fpr"),
    )


def _f1_abt_oracle() -> str:
    from f1_data_engineering_machine_learning_spark.pipeline.oracle import (
        f1_abt_oracle_sql,
    )

    return f1_abt_oracle_sql(_F1_ABT_DATES, oot_bound=2025)


#: four committed-fixture event dates (round-10 finales of each season +
#: the 2023 round-5 sprint weekend) — snapshots with a non-null
#: tempRoundNumber and both race+sprint form in scope
_F1_ABT_DATES = ["2021-07-05", "2022-07-05", "2023-04-26", "2023-07-05"]


@query("f1_abt_fixture")
def f1_abt_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's END-TO-END pipeline as ONE composed gate query:
    bronze all-string results (committed deterministic fixture,
    pipeline/fixtures.py) -> champions (champions.sql:1-25) ->
    point-in-time feature-store snapshots over four event dates
    (feature_store_drivers.sql:1-171, single-pass scale mode) -> ABT
    label join (abt_champions.sql:1-28). The DuckDB oracle replays the
    three reference SQL files verbatim over the same fixture rendered as
    an inline VALUES relation (pipeline/oracle.py) — the whole-pipeline
    parity check, not just per-stage goldens. Output types normalized
    through the shared abt_type_map so both engines' pandas dtypes
    compare bitwise."""
    from f1_data_engineering_machine_learning_spark.pipeline import (
        abt_champions,
        champions,
        driver_feature_store,
    )
    from f1_data_engineering_machine_learning_spark.pipeline.feature_store import (
        driver_snapshot_columns,
    )
    from f1_data_engineering_machine_learning_spark.pipeline.fixtures import (
        results_fixture,
    )
    from f1_data_engineering_machine_learning_spark.pipeline.oracle import (
        abt_type_map,
    )

    df = results_fixture(spark)
    fs = driver_feature_store(df, _F1_ABT_DATES)
    abt = abt_champions(fs, champions(df), oot_bound=2025)
    spark_types = {"INTEGER": "int", "BIGINT": "bigint", "DOUBLE": "double"}
    tm = abt_type_map()
    return abt.select(
        *[
            F.col(c).cast(spark_types[tm[c]]).alias(c) if c in tm else F.col(c)
            for c in driver_snapshot_columns() + ["flChamp"]
        ]
    )


_ORACLES["f1_abt_fixture"] = _f1_abt_oracle()


@query(
    "doc_bigram_lm_scores",
    """
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text),
                                        '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ), stream AS (
      SELECT unnest(t) AS w FROM toks
    ), vocab AS (
      SELECT COUNT(DISTINCT w) AS v FROM stream WHERE w <> ''
    ), big AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
             unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
      FROM toks WHERE len(t) >= 2
    ), c2 AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2
    ), c1 AS (
      SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1
    ), model AS (
      SELECT c2.w1, c2.w2,
             (CAST(c2.c2 + 1 AS BIGINT) * 1048576)
               // CAST(c1.c1 + vocab.v AS BIGINT) AS q
      FROM c2 JOIN c1 USING (w1) CROSS JOIN vocab
    )
    SELECT big.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(model.q) AS BIGINT) AS lm_q_sum,
           CAST(SUM(model.q) AS DOUBLE)
             / CAST(COUNT(*) * 1048576 AS DOUBLE) AS lm_mean_prob
    FROM big JOIN model USING (w1, w2)
    GROUP BY big.doc_id
    """,
)
def doc_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM fit score per document
    (dataops/text.py::bigram_lm_scores) — the KenLM/CCNet-style quality
    filter of LLM data pipelines (beyond-reference §2 extension, same
    family as quality_score / token_familiarity). Add-one-smoothed
    ``p(w2|w1)`` per transition, aggregated as a fixed-point
    mean probability: every per-bigram contribution is an exact BIGINT
    floor division (``(c2+1)*2^20 DIV (c1+V)`` — Spark ``DIV`` and
    DuckDB ``//`` agree on positive ints), summed order-independently
    in BIGINT, with ONE IEEE double division at the end — bitwise
    engine-portable, no libm. The model stays distributed (bigram-keyed
    frame, equi-join scoring; Zipf-hot contexts are AQE skew-split);
    only the 1-row vocabulary size broadcasts."""
    from f1_data_engineering_machine_learning_spark.dataops.text import (
        bigram_lm_scores,
    )

    docs = _t(spark, sf_dir, "documents")
    return bigram_lm_scores(docs, "doc_id", "text")


@query(
    "incremental_semantic_dedup_embeddings",
    f"""
    WITH {_DUCK_TWINS_CTES},
    cent AS (
      SELECT vec_id AS cid, v AS cv FROM base ORDER BY vec_id LIMIT 16
    ), ab AS (
      SELECT vec_id, v, cid AS centroid FROM (
        SELECT t.vec_id, t.v, cent.cid,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id
                 ORDER BY {_DUCK_COS.format(a="t.v", b="cent.cv")} DESC,
                          cent.cid) AS rn
        FROM twins t CROSS JOIN cent)
      WHERE rn = 1
    ), ac AS (
      SELECT vec_id, v, cid AS centroid FROM (
        SELECT c.vec_id, c.v, cent.cid,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                 ORDER BY {_DUCK_COS.format(a="c.v", b="cent.cv")} DESC,
                          cent.cid) AS rn
        FROM base c CROSS JOIN cent)
      WHERE rn = 1
    )
    SELECT b.vec_id AS batch_id, c.vec_id AS corpus_id,
           CAST(b.centroid AS INTEGER) AS centroid,
           CAST({_DUCK_COS.format(a="b.v", b="c.v")} AS DOUBLE) AS cosine_sim
    FROM ab b JOIN ac c ON b.centroid = c.centroid
    WHERE CAST({_DUCK_COS.format(a="b.v", b="c.v")} AS DOUBLE) >= 0.95
    """,
)
def incremental_semantic_dedup_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Continuous-ingest SemDeDup (dataops/similarity.py::
    incremental_semantic_dedup): the planted twins arrive as a NEW batch
    against the base corpus; each twin must be flagged as a semantic
    near-dup of exactly its base vector (cosine ~0.9997 >= 0.95) with no
    corpus x corpus rescan — completing the incremental family triple
    (exact / MinHash-LSH / semantic). The quantizer derives from the
    CORPUS ONLY, so existing assignments are stable under ingest (the
    IVF-upsert contract). Oracle replays quantizer, both assignments,
    and the in-cluster batch-vs-corpus cosine scan exactly; the cosine
    VALUE is in the hash, so the float fold is checked bitwise."""
    from f1_data_engineering_machine_learning_spark.dataops.similarity import (
        incremental_semantic_dedup,
    )

    base, twins = _twin_frames(spark, sf_dir)
    return incremental_semantic_dedup(
        twins, base, id_col="vec_id", vec_col="v",
        threshold=0.95, n_centroids=16, dim=64,
    )


@query(
    "doc_media_features",
    """
    WITH m AS (
      SELECT doc_id,
             substring(repeat(sha256(CAST(doc_id AS VARCHAR)), 5), 1, 256)
               AS payload
      FROM documents
    ), px AS (
      SELECT doc_id,
             list_transform(range(0, 16),
               i -> ascii(substr(payload, CAST(i AS INTEGER) + 1, 1)) / 255.0)
               AS pixels
      FROM m
    ), f AS (
      SELECT doc_id,
             [ list_reduce(pixels, (a, b) -> a + b) / 16.0,
               list_min(pixels), list_max(pixels) ]
             || list_transform(range(0, 13), i ->
                  CAST(len(list_filter(pixels,
                        x -> x >= i / 13.0 AND x < (i + 1) / 13.0)) AS DOUBLE)
                    / 16.0)
               AS feats
      FROM px
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           'image/fake' AS mime,
           CAST(4 AS INTEGER) AS width,
           CAST(4 AS INTEGER) AS height,
           CAST(u.pos AS INTEGER) AS pos,
           CAST(u.val AS DOUBLE) AS val
    FROM (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(feats)),
               i -> {'pos': i - 1, 'val': feats[i]})) AS u
      FROM f
    )
    """,
)
def doc_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column pipeline end to end
    (dataops/multimodal.py): every document gets an opaque ``binary``
    media payload + typed metadata struct (attach_fake_media), is decoded
    to pixels via the Arrow-batched ``mapInPandas`` seam (decode_media,
    deterministic fake codec — the real-codec call is the documented
    NotImplementedError seam), then feature-extracted JVM-side
    (media_features: mean/min/max + 13 histogram bins as array
    expressions) with the binary projected away BEFORE any shuffle. The
    oracle replays payload -> pixels -> features byte-for-byte (sha256
    hex repeated/truncated, first 16 ASCII codes / 255), so the float
    fold, the bin-boundary comparisons, and the division order are all
    checked bitwise. Exploded to (doc_id, pos, val) scalar rows for the
    hash; meta columns ride along proving metadata stays typed."""
    from f1_data_engineering_machine_learning_spark.dataops.multimodal import (
        attach_fake_media,
        decode_media,
        media_features,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = attach_fake_media(docs, "doc_id", payload_bytes=256)
    decoded = decode_media(media, decoder="fake", batch_rows=256)
    feats = media_features(decoded)
    return feats.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.width").cast("int").alias("width"),
        F.col("meta.height").cast("int").alias("height"),
        F.posexplode("media_features").alias("pos", "val"),
    ).select(
        "doc_id", "mime", "width", "height",
        F.col("pos").cast("int").alias("pos"),
        F.col("val").cast("double").alias("val"),
    )


#: committed multi-form Unicode fixture for the NFC-normalization value
#: oracle — the testdata corpus is pure ASCII (where NFC is the
#: identity), so like f1_abt_fixture this query carries its own
#: deterministic input, rendered identically into the Spark DataFrame
#: and the DuckDB VALUES relation. Cases: composed vs decomposed
#: accents, ligatures (NFC-invariant — folding them is NFKC's job),
#: NULL passthrough, Hangul jamo composition, canonical mark
#: reordering (both source orders must converge), singleton mappings
#: (OHM SIGN -> GREEK CAPITAL OMEGA, ANGSTROM SIGN -> LATIN A WITH
#: RING), and plain ASCII identity. All characters are BMP so Spark's
#: UTF-16 length() == DuckDB's codepoint length().
_NFC_FIXTURE: list[tuple[int, str | None]] = [
    (1, "café menu"),         # e + COMBINING ACUTE -> U+00E9
    (2, "café menu"),          # already composed — identity
    (3, "ﬁnancial ﬂow"),  # fi/fl ligatures survive NFC
    (4, None),                      # NULL passes through
    (5, "각"),      # Hangul jamo -> syllable U+AC01
    (6, "plain ascii"),             # ASCII identity
    (7, "q̣̇"),           # marks already in canonical order
    (8, "q̣̇"),           # same marks, source-swapped -> same NFC
    (9, "Ω resistance"),       # OHM SIGN singleton -> U+03A9
    (10, "Ångström"),   # A+ring -> C5, o+diaeresis -> F6
    (11, "Å sign"),            # ANGSTROM SIGN singleton -> U+00C5
]


def _nfc_oracle() -> str:
    def lit(t: str | None) -> str:
        return "NULL" if t is None else "'" + t.replace("'", "''") + "'"

    rows = ", ".join(
        f"(CAST({i} AS BIGINT), {lit(t)})" for i, t in _NFC_FIXTURE
    )
    return f"""
    WITH fixture(id, text) AS (VALUES {rows})
    SELECT id,
           nfc_normalize(text) AS text_nfc,
           CAST(COALESCE(length(nfc_normalize(text)), -1) AS INTEGER)
             AS nfc_len,
           CAST(CASE WHEN text IS NULL THEN -1
                     WHEN text <> nfc_normalize(text) THEN 1
                     ELSE 0 END AS INTEGER) AS changed
    FROM fixture
    """


@query("nfc_normalized_fixture")
def nfc_normalized_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization under a full value oracle
    (dataops/text.py::normalize_unicode_nfc — Arrow-batched pandas_udf
    over unicodedata.normalize, map-only): the committed multi-form
    fixture above is normalized on Spark while DuckDB replays the
    identical VALUES relation through its nfc_normalize(), so the value
    hash pins composed/decomposed convergence, ligature invariance,
    NULL passthrough, jamo composition, canonical mark reordering, and
    the two singleton mappings byte-for-byte across engines — the
    multilingual-dedup precondition the ASCII testdata can't exercise.
    ``changed`` (did NFC rewrite the string?) and the post-NFC
    codepoint length ride along so a normalizer that returns its input
    unchanged cannot pass."""
    from f1_data_engineering_machine_learning_spark.dataops.text import (
        normalize_unicode_nfc,
    )

    df = spark.createDataFrame(_NFC_FIXTURE, "id long, text string")
    out = normalize_unicode_nfc(df, "text", out_col="text_nfc")
    # NULL-row dtype parity: non-string outputs are made NON-NULL
    # (sentinel -1) so neither engine's pandas bridge float-promotes
    return out.select(
        "id",
        "text_nfc",
        F.coalesce(F.length("text_nfc"), F.lit(-1)).cast("int").alias("nfc_len"),
        F.when(F.col("text").isNull(), F.lit(-1))
        .when(F.col("text") != F.col("text_nfc"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("changed"),
    )


_ORACLES["nfc_normalized_fixture"] = _nfc_oracle()
