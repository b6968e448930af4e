"""Catalog smoke + semantics tests on sf0.001.

The full oracle equivalence check lives in tools/selfcheck.py (and the
driver's own gate); these tests assert structural invariants cheaply.
"""

from __future__ import annotations

import pytest

from f1_data_engineering_machine_learning_spark import catalog


def test_every_oracle_has_a_query():
    qs, oracles = catalog.queries(), catalog.oracle_sql()
    assert set(oracles) <= set(qs)


@pytest.mark.parametrize("name", sorted(catalog.queries()))
def test_query_runs_nonempty(spark, sf_dir, name):
    df = catalog.queries()[name](spark, sf_dir)
    assert len(df.columns) > 0
    assert df.count() > 0


def test_flagship_one_row_per_year(spark, sf_dir):
    rows = catalog.top_customer_per_year(spark, sf_dir).collect()
    years = [r.o_year for r in rows]
    assert len(years) == len(set(years))
    assert all(r.revenue > 0 for r in rows)


def test_scope_fanout_nesting(spark, sf_dir):
    """Trailing/current scopes are subsets of lifetime; NULL when empty."""
    for r in catalog.customer_scope_fanout(spark, sf_dir).collect():
        assert r.qtdLife >= r.qtd1y >= 0
        assert r.qtdLife >= r.qtdCur >= 0
        if r.qtd1y == 0:
            assert r.total1y is None and r.avgSpend1y is None
        if r.qtdCur == 0:
            assert r.totalCur is None and r.avgSpendCur is None


def test_semi_anti_partition_customers(spark, sf_dir):
    from f1_data_engineering_machine_learning_spark.io import load_testdata

    n_customers = load_testdata(spark, sf_dir, ("customer",))["customer"].count()
    n_semi = catalog.recent_customer_semi(spark, sf_dir).count()
    n_anti = catalog.lapsed_customer_anti(spark, sf_dir).count()
    assert n_semi + n_anti == n_customers


def test_label_join_flags_are_binary(spark, sf_dir):
    vals = {
        r.fl_top for r in catalog.top_customer_label(spark, sf_dir).collect()
    }
    assert vals <= {0, 1} and 1 in vals


def test_dedup_keep_last_is_max_ts(spark, sf_dir):
    """Keeper must carry the max (ts, event_id) of its group."""
    from pyspark.sql import functions as F

    ev = catalog._events(spark, sf_dir)
    expected = (
        ev.groupBy("user_id", "event_type")
        .agg(F.max(F.struct("ts", "event_id")).alias("m"))
        .select("user_id", "event_type", F.col("m.event_id").alias("event_id"))
    )
    got = catalog.dedup_keep_last_events(spark, sf_dir).select(
        "user_id", "event_type", "event_id"
    )
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_gate_priority_queries_in_first_50():
    """The external correctness gate snapshots the first 50 queries() in
    iteration order. The gate rotates by EVIDENCE FRESHNESS; the
    rotation is MACHINE-DERIVED:
    GATE_BASIS_r13.json snapshots, for every oracled
    query in the catalog at rotation time, the newest driver round with
    a CORRECTNESS row (0 = never gated). The intended gate is exactly
    the first 50 of that basis sorted by (last_round, name). This test
    (a) re-validates the basis file against the committed
    CORRECTNESS_r*.json files, (b) recomputes the gate from the
    basis and asserts ``_GATE_PRIORITY`` matches, and (c) asserts the
    gate occupies iteration positions 0-49 of ``queries()`` — so a
    hand-editing mistake can no longer silently waste driver evidence.
    Queries added AFTER the rotation are deliberately outside the basis
    (they queue for the next rotation)."""
    import glob
    import json
    import re

    from f1_data_engineering_machine_learning_spark import catalog

    basis_doc = json.load(open("GATE_BASIS_r13.json"))
    basis = basis_doc["basis"]
    n_slots = basis_doc["n_slots"]
    assert n_slots == 50

    # (a) the basis must agree with the committed driver evidence
    newest: dict[str, int] = {}
    for p in glob.glob("CORRECTNESS_r*.json"):
        r = int(re.search(r"r(\d+)", p).group(1))
        if r >= basis_doc["round"]:
            continue  # evidence produced after this rotation
        for q in json.load(open(p)):
            newest[q] = max(newest.get(q, 0), r)
    oracles = catalog.oracle_sql()
    for q, r in basis.items():
        assert q in oracles, f"basis entry {q} is not an oracled query"
        assert newest.get(q, 0) == r, f"basis says r{r} for {q}, files say r{newest.get(q, 0)}"
    # every oracled query present at rotation time is in the basis;
    # post-rotation additions are the only permitted gap
    for q in newest:
        if q in oracles:
            assert q in basis, f"{q} has driver evidence but is missing from the basis"

    # (b) the gate is the first 50 of the basis by (staleness, name)
    expected = sorted(basis, key=lambda n: (basis[n], n))[:n_slots]
    assert catalog._GATE_PRIORITY[:n_slots] == expected, (
        "gate drifted from the staleness basis: "
        f"{set(catalog._GATE_PRIORITY[:n_slots]) ^ set(expected)}"
    )

    # (c) the gate occupies iteration positions 0..49 and every gated
    # entry is a full value oracle
    names = list(catalog.queries())
    for i, n in enumerate(catalog._GATE_PRIORITY):
        assert n in catalog._QUERIES, f"{n} not registered"
        assert names.index(n) == i, f"{n} not at iteration position {i}"
    for n in names[:n_slots]:
        assert n in oracles, f"{n} in the 50-slot gate without a value oracle"
    assert "embedding_lsh_topk" not in names[:n_slots]
    # slots 1-2: the two queries added after the last rotation — their
    # newest driver row is 0 (never gated), so staleness puts them first
    assert set(names[:2]) == {
        "lang_vocab_overlap_kmv",
        "order_price_mrl_quantiles",
    }
    # cumulative: after a green gate only the rows-only entry and
    # post-rotation additions lack driver evidence
    ungated = {q for q in catalog._QUERIES if newest.get(q, 0) == 0}
    assert ungated - set(names[:n_slots]) - {"embedding_lsh_topk"} <= (
        set(catalog._QUERIES) - set(basis)
    )


def test_variant_nested_typed_extraction(spark):
    """Spark 4 VARIANT surface: one parse, many typed nested probes —
    incl. missing-path NULL semantics and schema introspection."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            ('{"user": {"id": 7, "tags": ["a", "b"]}, "score": 1.5}',),
            ('{"user": {"id": 9}, "score": null}',),
            ("not json at all",),
        ],
        ["j"],
    )
    v = df.select(F.try_parse_json("j").alias("v")).select(
        F.try_variant_get("v", "$.user.id", "bigint").alias("uid"),
        F.try_variant_get("v", "$.user.tags[1]", "string").alias("tag1"),
        F.try_variant_get("v", "$.score", "double").alias("score"),
        F.try_variant_get("v", "$.missing", "int").alias("absent"),
    )
    rows = v.collect()
    assert (rows[0].uid, rows[0].tag1, rows[0].score) == (7, "b", 1.5)
    assert rows[1].uid == 9 and rows[1].tag1 is None and rows[1].score is None
    # malformed input -> NULL variant -> NULL extractions, no exception
    assert rows[2].uid is None and rows[2].absent is None


def test_all_queries_execute_under_ansi_session(spark, sf_dir):
    """The external correctness gate runs every query with a STOCK
    SparkSession — Spark 4 defaults, so ANSI mode ON — while
    build_session (tests, bench, selfcheck) turns ANSI off for the
    reference's permissive-cast semantics. Any expression that only
    works permissively (runtime divide-by-zero, failing cast, bad array
    index) passes every local check and then throws its first driver
    row. Flip the session to ANSI and execute the ENTIRE catalog, so the
    gap between local evidence and the driver's session stays closed
    (caught live: doc_token_bloom_fpr's fpr division, NULL-divisor under
    non-ANSI, DIVIDE_BY_ZERO under the driver's ANSI)."""
    from f1_data_engineering_machine_learning_spark import catalog

    assert spark.conf.get("spark.sql.ansi.enabled") == "false"
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        failures = []
        for name, fn in catalog.queries().items():
            try:
                fn(spark, sf_dir).count()
            except Exception as exc:  # noqa: BLE001
                failures.append(f"{name}: {str(exc).splitlines()[0][:160]}")
        assert not failures, "\n".join(failures)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")


def test_bigram_collocations_checkpoint_blocks_released(spark, sf_dir):
    """bigram_collocations caches its
    combined count table with localCheckpoint(eager=False); the
    docstring argues the ContextCleaner frees those blocks once the
    returned DataFrame is garbage-collected (unlike a persist(), which
    would stay resident for the whole 204-query selfcheck session).
    Pin that with evidence: invoke the query repeatedly, drop the
    references, force Python + JVM GC, and assert resident cached-RDD
    storage returns to baseline."""
    import gc
    import time

    from f1_data_engineering_machine_learning_spark import catalog

    sc = spark.sparkContext

    def resident() -> int:
        return len(sc._jsc.sc().getRDDStorageInfo())

    # settle to a clean baseline first (earlier tests may hold caches)
    gc.collect()
    spark._jvm.System.gc()
    time.sleep(0.5)
    base = resident()

    for _ in range(3):
        df = catalog.bigram_collocations(spark, sf_dir)
        assert df.count() >= 0
        # while the DataFrame is alive its checkpoint blocks may be
        # resident — that's the intended materialize-once behavior
        del df

    # release: Python GC drops the py4j refs, JVM GC queues the RDD
    # weak references, the ContextCleaner unpersists asynchronously
    deadline = time.time() + 30
    while time.time() < deadline:
        gc.collect()
        spark._jvm.System.gc()
        if resident() <= base:
            break
        time.sleep(1.0)
    assert resident() <= base, (
        f"checkpoint blocks not released: baseline {base}, "
        f"resident {resident()}"
    )
