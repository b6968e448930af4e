"""Plan-shape assertions: the properties PLANS.md documents, as tests."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark import catalog


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    plan = _plan(catalog.regional_supplier_volume(spark, sf_dir))
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 4
    assert "SortMergeJoin" not in plan  # the fact table is never shuffled


def test_asof_predicate_pushes_to_scan(spark, sf_dir):
    plan = _plan(catalog.asof_order_snapshot(spark, sf_dir))
    assert re.search(r"PushedFilters:.*LessThan\(o_orderdate", plan)


def test_column_pruning_reads_minimal_schema(spark, sf_dir):
    plan = _plan(catalog.asof_order_snapshot(spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"o_custkey", "o_totalprice", "o_orderdate"}


def test_global_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(catalog.global_top_customers(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # no full sort for top-k


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Year-partitioned layout + year predicate => PartitionFilters prune
    the scan to one directory (the physical property the feature store's
    dtYear partitioning exists for)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "orders_by_year")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    o.withColumn("o_year", F.year(F.to_date("o_orderdate"))).write.partitionBy(
        "o_year"
    ).parquet(path)

    q = spark.read.parquet(path).filter(F.col("o_year") == 1997)
    plan = _plan(q)
    assert re.search(r"PartitionFilters: \[.*o_year.*1997", plan)
    # and the pruned read returns exactly the 1997 slice
    expected = o.filter(F.year(F.to_date("o_orderdate")) == 1997).count()
    assert q.count() == expected


def test_minhash_equals_exact_at_bench_scale(spark):
    """The minhash oracle claim (LSH == exhaustive at planted-dup
    similarity) verified at the bench scale factor too, not just sf0.01."""
    sf = "/root/testdata/sf0.1"
    mh = {
        (r.i, r.j)
        for r in catalog.minhash_dedup_pairs_docs(spark, sf).collect()
    }
    exact = {
        (r.i, r.j)
        for r in catalog.ngram_jaccard_pairs_docs(spark, sf).collect()
    }
    assert mh == exact
    assert len(exact) > 0


def test_scd2_build_single_exchange(spark, sf_dir):
    """scd2_build's two window passes (change detection + interval close)
    share one partitioning, so the whole build must plan exactly ONE
    exchange — state is a partition sort, never an extra shuffle."""
    scd = catalog.user_state_scd2(spark, sf_dir)
    plan = _plan(scd)
    # formatted explain names each node twice (tree + detail section);
    # count detail entries "(N) Exchange" so one exchange == one match
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """Runtime bloom-filter semi-join reduction: with a selective filter on
    the orders side of a shuffle join, the optimizer builds a bloom filter
    from that side and applies it to the lineitem scan — rows that cannot
    join are dropped BEFORE the shuffle. The size thresholds are tuned for
    clusters (10 GB application side), so they are lowered here to show the
    mechanism; results must be identical with the filter on and off."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # creationSideThreshold is a MAX (creation side must be smaller);
        # applicationSideScanSizeThreshold is a MIN (scan must be bigger) —
        # widen both so the tiny test tables qualify.
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}

    def q():
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_extendedprice"
        )
        o = (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        return li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))

    baseline = q().count()
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = q()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloomfilter" in plan.lower(), plan
        assert j.count() == baseline  # reduction is lossless
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: a selective dim filter prunes the
    partitioned fact scan at RUNTIME via the reused broadcast — on a
    date-partitioned 100 TB fact table this is the difference between
    scanning one partition and scanning all of them. Evidence: a
    dynamicpruning expression in the fact scan's partition filters, and
    pruned row counts identical to a static filter."""
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    o.write.partitionBy("o_year").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(y, f"label{y}") for y in range(1995, 2002)], ["d_year", "d_label"]
    ).filter(F.col("d_label") == "label1997")
    j = fact.join(dim, fact.o_year == dim.d_year)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    assert j.count() == o.filter(F.col("o_year") == 1997).count()


def test_compaction_merges_small_files(spark, tmp_path):
    """S11: a fragmented partitioned table compacts to fewer files per
    partition while the frame stays identical and the (dtYear, dtRef)
    hive layout survives (compaction must never flatten partitioning)."""
    import os

    from pyspark.sql import functions as F

    from f1_data_engineering_machine_learning_spark.plans import IncrementalIngestor

    path = str(tmp_path / "frag")

    def builder(d):
        rows = [(d, i, f"v{i}") for i in range(40)]
        return (
            spark.createDataFrame(rows, ["dtRef", "k", "payload"])
            # fragment hard: many tiny tasks -> many tiny files per slice
            .repartition(8)
            .withColumn("dtYear", F.year(F.col("dtRef").cast("date")))
        )

    ing = IncrementalIngestor(builder, path)
    dates = ["2022-03-05", "2022-07-01", "2023-01-14"]
    ing.exec(dates)

    def data_files():
        out = []
        for root, _dirs, files in os.walk(path):
            out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
        return out

    before_files = data_files()
    assert len(before_files) >= 8 * len(dates)  # genuinely fragmented
    before = sorted(map(tuple, ing.read().select("dtRef", "k", "payload").collect()))

    ing.compact()

    after_files = data_files()
    # per-partition merge: one file per (dtYear, dtRef) slice
    assert len(after_files) == len(dates)
    assert len(after_files) < len(before_files)
    # layout preserved
    years = {d[:4] for d in dates}
    for y in years:
        assert os.path.isdir(os.path.join(path, f"dtYear={y}"))
    for d in dates:
        y = d[:4]
        assert os.path.isdir(os.path.join(path, f"dtYear={y}", f"dtRef={d}"))
    # frame identical
    after = sorted(map(tuple, ing.read().select("dtRef", "k", "payload").collect()))
    assert after == before
    # no temp residue
    assert not os.path.exists(path + ".__compact_tmp")


def test_failed_swap_keeps_the_table(spark, tmp_path, monkeypatch):
    """A compaction or an upsert whose promote step fails leaves the
    original table readable with its rows: the old copy moves aside
    before the staged copy is promoted, and comes back when that fails."""
    import os

    from f1_data_engineering_machine_learning_spark.plans import IncrementalIngestor
    from f1_data_engineering_machine_learning_spark.plans.ingest import upsert_table

    ing = IncrementalIngestor(
        lambda d: spark.createDataFrame([(d, 1), (d, 2)], ["dtRef", "k"]),
        str(tmp_path / "slices"),
    )
    ing.exec(["2022-03-05", "2022-07-01"])
    upserted = str(tmp_path / "upserted")
    upsert_table(spark, upserted, spark.createDataFrame([(1, "a")], ["id", "v"]), ["id"])

    def rows(df):
        return sorted(map(tuple, df.collect()))

    before = rows(ing.read().select("dtRef", "k"))
    rename = os.rename

    def promote_fails(src, dst):
        if str(src).endswith(("__compact_tmp", "__upsert_tmp")):
            raise OSError("injected promote failure")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", promote_fails)
    with pytest.raises(OSError, match="injected"):
        ing.compact()
    with pytest.raises(OSError, match="injected"):
        upsert_table(
            spark, upserted, spark.createDataFrame([(2, "b")], ["id", "v"]), ["id"]
        )
    monkeypatch.undo()
    assert rows(ing.read().select("dtRef", "k")) == before
    assert rows(spark.read.parquet(upserted)) == [(1, "a")]


def test_mixture_catalog_entries_construct_lazily(spark):
    """Catalog entries should not run Spark jobs at
    DataFrame-construction time unless the algorithm inherently needs a
    driver-side scalar (MLlib fit / BPE per-round argmax / quantizer
    collect — each documented at its site). The mixture queries were the
    foldable offenders; after the mixture_sample_lazy rewrite their
    construction must be job-free."""
    from f1_data_engineering_machine_learning_spark import catalog

    sf = "/root/testdata/sf0.001"
    tracker = spark.sparkContext.statusTracker()
    qs = catalog.queries()
    # every spark.read.parquet() call runs ONE 1-task footer-schema job —
    # that's the scan's price, paid by any formulation; the budget below
    # allows exactly those reads and nothing for the mixture math itself
    # (the eager version ran a full groupBy-collect job on top)
    reads_per_query = {"corpus_mixture_sample": 1, "temperature_mixture_docs": 1}
    for name, n_reads in reads_per_query.items():
        before = len(tracker.getJobIdsForGroup(None) or [])
        qs[name](spark, sf)
        after = len(tracker.getJobIdsForGroup(None) or [])
        assert after - before <= n_reads, (
            f"{name} ran {after - before} jobs at construction "
            f"(budget: {n_reads} scan-schema reads)"
        )


def test_eager_construction_budgets_for_mining_family(spark):
    """The entries whose construction is INHERENTLY eager (MLlib fit
    needs a fraction computed from a count; BPE's next merge rule needs
    this round's argmax) must stay within their documented job budgets —
    this is the guard that keeps 'algorithmically necessary driver
    results' from quietly growing into driver-side computation. Budgets
    are upper bounds over: parquet schema reads, the support count, the
    MLlib fit's own jobs, and (for BPE) one argmax collect per merge
    round."""
    from f1_data_engineering_machine_learning_spark import catalog

    sf = "/root/testdata/sf0.001"
    budgets = {
        "frequent_part_itemsets": 12,      # count + FP-growth fit
        "frequent_session_sequences": 14,  # count + PrefixSpan fit
        # 8 merge rounds x up to 3 jobs each: orderBy.limit(1).collect()
        # is Spark's INCREMENTAL take (1 partition, then scale-up
        # retries), so one logical argmax can run 2-3 physical jobs
        "bpe_merges_docs": 30,
    }
    tracker = spark.sparkContext.statusTracker()
    qs = catalog.queries()
    for name, budget in budgets.items():
        qs[name](spark, sf)  # warm the parquet schema reads
        before = len(tracker.getJobIdsForGroup(None) or [])
        qs[name](spark, sf)
        ran = len(tracker.getJobIdsForGroup(None) or []) - before
        assert ran <= budget, (
            f"{name} construction ran {ran} jobs (budget {budget}) — "
            "eager driver-side work grew beyond the documented algorithmic needs"
        )


def test_entire_catalog_plans_free_of_cartesian_and_rowwise_python(spark):
    """Mechanical honesty sweep over ALL catalog queries' physical plans:
    no CartesianProduct (the O(n*m) join that should never survive
    planning — 1-row broadcast cross joins plan as BroadcastNestedLoop
    over a single row and are fine), and no BatchEvalPython (row-at-a-
    time Python UDF; ArrowEvalPython / MapInPandas are the sanctioned
    vectorized tiers). Queries whose construction runs eager jobs
    (quantizer collects, checkpointed loops) execute them at sf0.001 —
    that cost is the price of auditing the real plans."""
    from f1_data_engineering_machine_learning_spark import catalog

    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name, fn in catalog.queries().items():
        df = fn(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        bad = [
            marker
            for marker in ("CartesianProduct", "BatchEvalPython")
            if marker in plan
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"plan violations: {offenders}"


def test_entire_catalog_global_windows_are_bounded_whitelisted(spark):
    """Every unpartitioned Window in every catalog plan must sit on a
    provably BOUNDED post-aggregate frame — whitelisted by name with a
    row-bound comment in tools/plan_audit.py::BOUNDED_GLOBAL_WINDOWS.
    An unlisted global window sorts its whole input in one task at
    100 TB; the two real ones this sweep found (weighted_doc_sample's
    A-ES top-k, sole_returning_supplier's top-10) were rewritten to
    TakeOrderedAndProject. The whitelist is also checked for
    staleness: a listed query that no longer plans a global window must
    be delisted."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "plan_audit", Path(__file__).resolve().parent.parent / "tools" / "plan_audit.py"
    )
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)

    from f1_data_engineering_machine_learning_spark import catalog

    sf = "/root/testdata/sf0.001"
    offenders: dict[str, list[str]] = {}
    with_global: set[str] = set()
    for name, fn in catalog.queries().items():
        plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        lines = pa.global_window_lines(plan)
        if lines:
            with_global.add(name)
            if name not in pa.BOUNDED_GLOBAL_WINDOWS:
                offenders[name] = lines
    assert not offenders, f"unwhitelisted global windows: {offenders}"
    stale = pa.BOUNDED_GLOBAL_WINDOWS - with_global
    assert not stale, f"whitelist entries with no global window left: {stale}"


def test_equidepth_rank_tail_reuses_ranged_materialization(spark, sf_dir):
    """The rank-arm equidepth query's RETURNED frame:
    the count pass reuses the range pass's lineage-cut materialization of
    the cast column — Scan ExistingRDD, ZERO parquet re-scans — and bins
    with a codegen'd chain of DRIVER-LITERAL comparisons: no broadcast
    join, no interpreted array-HOF fold, no Python stage in the tail.
    One n_bins-row hash aggregate finishes it."""
    plan = _plan(catalog.lineitem_price_equidepth_hist_ranked(spark, sf_dir))
    # tail reads the checkpointed ranged frame, never the parquet source
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan
    assert "MapInPandas" not in plan  # order-statistics pass not in tail
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # literals replaced the
    # one-row bounds broadcast; bin ids come from a CASE WHEN chain
    assert re.search(
        r"CASE WHEN \(__v#\d+ > -?[0-9.]+(?:E-?[0-9]+)?\) THEN 1 ELSE 0 END", plan
    )
    assert "aggregate(" not in plan  # no interpreted HOF fold
    # the n_bins-row count group-by
    assert re.search(r"(Hash|Sort)Aggregate", plan)
