"""Constraint checker: violations detected and counted correctly."""

from __future__ import annotations

from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.dataops.quality import (
    check_constraints,
    expr,
    in_range,
    in_set,
    not_null,
    unique,
)


def test_constraints_count_violations(spark):
    df = spark.createDataFrame(
        [
            (1, "en", 10),
            (1, "en", 20),      # duplicate id
            (2, None, 5),       # null lang
            (3, "xx", -1),      # bad lang + out-of-range
            (4, "fr", 100),
        ],
        ["id", "lang", "n"],
    )
    report = {
        r.constraint: (r.n_rows, r.n_violations)
        for r in check_constraints(
            df,
            [
                not_null("lang"),
                in_set("lang", ["en", "fr"]),
                in_range("n", 0, 50),
                expr("n_even", F.col("n") % 2 == 0),
                unique("id"),
            ],
        ).collect()
    }
    assert report["not_null(lang)"] == (5, 1)
    assert report["in_set(lang)"] == (5, 2)      # null + 'xx'
    assert report["in_range(n)"] == (5, 2)       # -1 and 100
    assert report["n_even"] == (5, 2)            # n=5 and n=-1 are odd
    assert report["unique(id)"] == (5, 2)        # both rows of id=1


def test_clean_table_no_violations(spark):
    df = spark.createDataFrame([(1, "en"), (2, "fr")], ["id", "lang"])
    report = check_constraints(
        df, [not_null("lang"), unique("id"), in_set("lang", ["en", "fr"])]
    )
    assert report.filter(F.col("n_violations") > 0).count() == 0


def test_numeric_histogram_buckets_and_mergeability(spark):
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        numeric_histogram,
    )

    df = spark.createDataFrame(
        [(5.0,), (15.0,), (15.5,), (25.0,), (None,)], ["v"]
    )
    got = {r.bucket: (r.lo, r.hi, r.n) for r in
           numeric_histogram(df, "v", 10.0).collect()}
    assert got == {0: (0.0, 10.0, 1), 1: (10.0, 20.0, 2), 2: (20.0, 30.0, 1)}
    # fixed-origin buckets: histograms of two slices merge by bucket id
    a = numeric_histogram(df.limit(2), "v", 10.0)
    b = numeric_histogram(df.subtract(df.limit(2)), "v", 10.0)
    merged = (
        a.unionByName(b).groupBy("bucket").sum("n").withColumnRenamed("sum(n)", "n")
    )
    total = {r.bucket: r.n for r in merged.collect()}
    assert sum(total.values()) == 4


def test_table_profile_is_lazy_single_plan(spark):
    """The profile must be a single lazy DataFrame (no jobs at
    construction) whose plan prunes each branch's scan to one column."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        table_profile,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (2, None, 3.0)], ["k", "s", "v"]
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    prof = table_profile(df)  # construction must not run jobs
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before
    rows = {r.column: r for r in prof.collect()}
    assert rows["k"].n_rows == 3 and rows["k"].n_distinct == 2
    assert rows["s"].n_null == 1 and rows["s"].min_value == "a"
    assert rows["v"].n_null == 1 and rows["v"].max_value == "3.0"


def test_referential_integrity_planted_violations(spark):
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        referential_integrity,
    )

    parent = spark.createDataFrame([(1,), (2,), (3,)], ["pk"])
    child = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 9), (13, None), (14, 2)],
        "id long, fk long",
    )
    r = referential_integrity(child, ["fk"], parent, ["pk"], "child->parent").collect()
    assert len(r) == 1
    row = r[0]
    assert row.relationship == "child->parent"
    assert row.child_rows == 5
    assert row.null_fks == 1          # fk None
    assert row.orphan_children == 1   # fk=9 has no parent
    assert row.childless_parents == 1  # pk=3 unreferenced


def test_referential_integrity_composite_key_and_lazy(spark):
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        referential_integrity,
    )

    parent = spark.createDataFrame([(1, "a"), (2, "b")], ["k1", "k2"])
    child = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "b"), (None, "a")], ["f1", "f2"]
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    audit = referential_integrity(child, ["f1", "f2"], parent, ["k1", "k2"])
    assert len(tracker.getJobIdsForGroup(None) or []) == before  # lazy
    row = audit.collect()[0]
    # (1,'b') is an orphan; (None,'a') is a null FK (any component null)
    assert row.child_rows == 4 and row.null_fks == 1
    assert row.orphan_children == 1 and row.childless_parents == 0


def test_key_skew_profile_stats(spark):
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        key_skew_profile,
    )

    rows = [("hot",)] * 6 + [("warm",)] * 2 + [("cold",)] * 2
    df = spark.createDataFrame(rows, ["k"])
    r = key_skew_profile(df, ["k"]).collect()[0]
    assert r.key == "k"
    assert r.n_rows == 10 and r.n_keys == 3
    assert r.max_per_key == 6 and r.top_key == "hot" and r.top_key_n == 6
    assert abs(r.avg_per_key - 10 / 3) < 1e-12
    assert abs(r.skew_ratio - 6 / (10 / 3)) < 1e-12


def test_key_skew_profile_top_key_tiebreak(spark):
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        key_skew_profile,
    )

    df = spark.createDataFrame([("a",), ("b",)], ["k"])
    # equal counts: deterministic winner = max key string
    assert key_skew_profile(df, ["k"]).collect()[0].top_key == "b"


def test_category_drift_planted(spark):
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        category_drift,
    )

    a = spark.createDataFrame(
        [("x",)] * 6 + [("y",)] * 3 + [("z",)] * 1, ["c"]
    )
    b = spark.createDataFrame([("x",)] * 2 + [("y",)] * 2, ["c"])
    rows = {r.category: r for r in category_drift(a, b, "c").collect()}
    assert set(rows) == {"x", "y", "z"}
    assert rows["x"].n_a == 6 and rows["x"].n_b == 2
    assert rows["z"].n_b == 0 and rows["z"].share_b == 0.0
    assert abs(rows["x"].share_a - 0.6) < 1e-15
    assert abs(rows["x"].share_b - 0.5) < 1e-15
    # tvd = 0.5*(|.6-.5| + |.3-.5| + |.1-0|) = 0.2, same on every row
    tvds = {r.tvd for r in rows.values()}
    assert len(tvds) == 1
    assert abs(tvds.pop() - 0.2) < 1e-12


def test_category_drift_null_category_and_identity(spark):
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        category_drift,
    )

    a = spark.createDataFrame([("x",), (None,)], "c string")
    rows = {r.category: r for r in category_drift(a, a, "c").collect()}
    # NULL is a real category, joined null-safely; identical sides -> tvd 0
    assert set(rows) == {"x", None}
    assert all(r.tvd == 0.0 and r.share_gap == 0.0 for r in rows.values())


def test_equidepth_histogram_quartiles(spark):
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        equidepth_histogram,
    )

    df = spark.createDataFrame([(float(i),) for i in range(1, 9)], "v double")
    rows = sorted(
        equidepth_histogram(df, "v", n_bins=4).collect(), key=lambda r: r.bin
    )
    assert [r.bin for r in rows] == [0, 1, 2, 3]
    assert sum(r.n for r in rows) == 8
    assert rows[0].lo == 1.0 and rows[-1].hi == 8.0
    # boundaries are the exact quartiles of 1..8: 2.75, 4.5, 6.25
    assert rows[0].hi == 2.75 and rows[1].hi == 4.5 and rows[2].hi == 6.25
    assert [r.n for r in rows] == [2, 2, 2, 2]


def test_equidepth_histogram_ties_go_low(spark):
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        equidepth_histogram,
    )

    df = spark.createDataFrame([(1.0,)] * 9 + [(2.0,)], "v double")
    rows = sorted(
        equidepth_histogram(df, "v", n_bins=2).collect(), key=lambda r: r.bin
    )
    # median is 1.0; all nine 1.0s land in the LOWER bin (x > b rule)
    assert {r.bin: r.n for r in rows} == {0: 9, 1: 1}


def test_join_fanout_estimate_exact(spark):
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        join_fanout_estimate,
    )

    left = spark.createDataFrame(
        [(1,), (1,), (2,), (3,), (None,)], "k long"
    )
    right = spark.createDataFrame(
        [(1,), (1,), (1,), (3,), (4,), (None,)], "k long"
    )
    r = join_fanout_estimate(left, right, ["k"]).collect()[0]
    assert r.left_rows == 4 and r.right_rows == 5  # NULLs excluded
    assert r.matching_keys == 2                    # keys 1 and 3
    # join rows: key1 -> 2*3=6, key3 -> 1*1=1
    assert r.join_rows == 7
    assert r.max_key_fanout == 6 and r.top_key == "1"
    assert r.left_only_keys == 1 and r.right_only_keys == 1  # 2 / 4
    # the estimate must equal the real inner join's count
    assert left.join(right, "k").count() == r.join_rows


def test_join_fanout_estimate_disjoint_and_composite(spark):
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        join_fanout_estimate,
    )

    left = spark.createDataFrame([(1, "a"), (2, "b")], ["x", "y"])
    right = spark.createDataFrame([(3, "c")], ["u", "v"])
    r = join_fanout_estimate(left, right, ["x", "y"], ["u", "v"]).collect()[0]
    assert r.join_rows == 0 and r.matching_keys == 0
    assert r.top_key is None and r.max_key_fanout == 0


def test_numeric_drift_ks_exact_small(spark):
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        numeric_drift_ks,
    )

    a = spark.createDataFrame([(float(v),) for v in (1, 2, 3, 4)], "x double")
    b = spark.createDataFrame([(float(v),) for v in (3, 4, 5, 6)], "x double")
    r = numeric_drift_ks(a, b, "x").collect()[0]
    # gap .5 is achieved at v=2 (2/4 vs 0/4) AND v=4 (4/4 vs 2/4);
    # the deterministic tie-break reports the LARGEST such value
    assert r.n_a == 4 and r.n_b == 4
    assert abs(r.ks_stat - 0.5) < 1e-15
    assert r.ks_at_value == 4.0


def test_numeric_drift_ks_identical_and_python_reference(spark):
    import random

    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        numeric_drift_ks,
    )

    rng = random.Random(3)
    xs = [float(rng.randint(0, 30)) for _ in range(80)]
    ys = [float(rng.randint(5, 40)) for _ in range(60)]
    a = spark.createDataFrame([(v,) for v in xs], "x double")
    b = spark.createDataFrame([(v,) for v in ys], "x double")
    # identical distributions -> 0
    same = numeric_drift_ks(a, a, "x").collect()[0]
    assert same.ks_stat == 0.0
    # vs direct python ECDF max over union support
    r = numeric_drift_ks(a.repartition(5), b.repartition(3), "x").collect()[0]
    union = sorted(set(xs) | set(ys))
    want = max(
        abs(
            sum(1 for v in xs if v <= u) / len(xs)
            - sum(1 for v in ys if v <= u) / len(ys)
        )
        for u in union
    )
    assert abs(r.ks_stat - want) < 1e-12


def test_join_fanout_estimate_separator_keys_do_not_collide(spark):
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        join_fanout_estimate,
    )

    # ("a|b","c") and ("a","b|c") concatenate identically — they must NOT
    # be treated as a matching key pair
    left = spark.createDataFrame([("a|b", "c")], ["x", "y"])
    right = spark.createDataFrame([("a", "b|c")], ["u", "v"])
    r = join_fanout_estimate(left, right, ["x", "y"], ["u", "v"]).collect()[0]
    assert r.matching_keys == 0 and r.join_rows == 0


def test_file_row_profile_matches_duckdb_filename_scan(spark):
    """Cross-engine check of scan-level file attribution: Spark
    input_file_name vs DuckDB's filename=true on the same parquet."""
    import duckdb

    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        file_row_profile,
    )

    path = "/root/testdata/sf0.001/lineitem.parquet"
    df = spark.read.parquet(path)
    got = {
        (r.file_name, r.n_rows) for r in file_row_profile(df).collect()
    }
    con = duckdb.connect()
    want = {
        (f, n)
        for f, n in con.sql(
            f"""SELECT regexp_extract(filename, '([^/]+)$', 1), CAST(COUNT(*) AS BIGINT)
            FROM read_parquet('{path}', filename=true) GROUP BY 1"""
        ).fetchall()
    }
    assert got == want and sum(n for _, n in got) == df.count()


def test_benford_digit_test_counts_and_expectation(spark):
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        BENFORD_P,
        benford_digit_test,
    )

    # 100 values with first digit 1, 50 with first digit 2; zeros/nulls
    # and negatives are excluded from the population
    rows = (
        [(123.45,)] * 100 + [(2999.99,)] * 50 + [(0.0,)] + [(None,)]
    )
    df = spark.createDataFrame(rows, "v double")
    got = {r.digit: r for r in benford_digit_test(df, "v").collect()}
    assert set(got) == {1, 2}
    assert got[1].observed == 100 and got[2].observed == 50
    assert got[1].expected == 150 * BENFORD_P[1]
    # chi-square cell term is (o-e)^2/e exactly
    e = got[2].expected
    assert got[2].cell_chisq == (50 - e) ** 2 / e


def test_cusum_changepoint_peaks_at_planted_shift(spark):
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        cusum_changepoint,
    )

    # level 10 for days 0-49, level 20 for days 50-99: |cusum| peaks at
    # the last pre-shift day (day 49)
    rows = [(f"d{d:03d}", 10.0 if d < 50 else 20.0) for d in range(100)]
    df = spark.createDataFrame(rows, "day string, v double")
    out = {r.day: r for r in cusum_changepoint(df, "day", "v").collect()}
    assert len(out) == 100
    peaks = [d for d, r in out.items() if r.is_peak]
    assert peaks == ["d049"]
    # mean is 15; cusum at day 49 is 50 * (10 - 15) = -250
    assert out["d049"].cusum == -250.0
    # the series returns to ~0 at the end (quantization keeps it exact here)
    assert out["d099"].cusum == 0.0


def test_equidepth_routes_bitwise_equivalent(spark):
    """The adaptive arms (percentile map vs range-partitioned order
    statistics) are bitwise identical on quantized input — the
    equivalence contract that keeps the catalog oracle unchanged no
    matter which arm the distinct-count guard picks."""
    import random

    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        equidepth_histogram,
    )

    rng = random.Random(11)
    # skewed integer cents with ties and a null
    vals = [(float(rng.randint(1, 500) ** 2),) for _ in range(997)] + [(None,)]
    df = spark.createDataFrame(vals, "v double")
    key = lambda r: r.bin  # noqa: E731
    got_map = sorted(equidepth_histogram(df, "v", 7, route="map").collect(), key=key)
    got_rank = sorted(equidepth_histogram(df, "v", 7, route="rank").collect(), key=key)
    assert [tuple(r) for r in got_map] == [tuple(r) for r in got_rank]
    # auto with a tiny threshold routes to rank; with a huge one, to map —
    # same result either way
    got_auto = sorted(
        equidepth_histogram(df, "v", 7, distinct_threshold=10).collect(), key=key
    )
    assert [tuple(r) for r in got_auto] == [tuple(r) for r in got_map]
    # Long tie runs straddling the needed ranks, negatives and a NULL,
    # under 1, 7 and more range partitions than rows (some empty): the
    # rank arm's partition-local pick must not depend on the layout.
    ties = (
        [(-3.0,)] * 37 + [(-0.5,)] * 5 + [(1.0,)] * 61 + [(4.0,)] * 20 + [(None,)]
    )
    tdf = spark.createDataFrame(ties, "v double")
    want = sorted(equidepth_histogram(tdf, "v", 7, route="map").collect(), key=key)
    assert sum(r.n for r in want) == 123
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("1", "7", "500"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            got = sorted(
                equidepth_histogram(tdf, "v", 7, route="rank").collect(), key=key
            )
            assert [tuple(r) for r in got] == [tuple(r) for r in want], parts
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


def test_equidepth_rank_arm_edges(spark):
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        equidepth_histogram,
    )

    # empty input -> empty histogram on both arms
    empty = spark.createDataFrame([], "v double")
    assert equidepth_histogram(empty, "v", 4, route="rank").count() == 0
    assert equidepth_histogram(empty, "v", 4, route="map").count() == 0
    # single row: every boundary collapses to the value
    one = spark.createDataFrame([(5.0,)], "v double")
    m = [tuple(r) for r in equidepth_histogram(one, "v", 4, route="map").collect()]
    r = [tuple(r) for r in equidepth_histogram(one, "v", 4, route="rank").collect()]
    assert m == r == [(0, 5.0, 5.0, 1)]
    # interpolated (non-integral position) boundaries match too: 1..8
    eight = spark.createDataFrame([(float(i),) for i in range(1, 9)], "v double")
    m = sorted(
        equidepth_histogram(eight, "v", 4, route="map").collect(), key=lambda x: x.bin
    )
    r = sorted(
        equidepth_histogram(eight, "v", 4, route="rank").collect(), key=lambda x: x.bin
    )
    assert [tuple(x) for x in m] == [tuple(x) for x in r]
    assert r[0].hi == 2.75 and r[1].hi == 4.5 and r[2].hi == 6.25


def test_exact_percentiles_routes_match_and_spark(spark):
    """exact_percentiles: (frac, value) rows equal Spark's percentile on
    the map arm AND bitwise across arms on quantized input; empty input
    yields zero rows."""
    import random

    from pyspark.sql import functions as F

    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        exact_percentiles,
    )

    rng = random.Random(5)
    vals = [(float(rng.randint(0, 10_000)),) for _ in range(503)] + [(None,)]
    df = spark.createDataFrame(vals, "v double")
    fracs = [0.0, 0.25, 0.5, 0.95, 0.99, 1.0]
    ref = df.agg(
        *[F.percentile("v", F.lit(f)).alias(f"p{i}") for i, f in enumerate(fracs)]
    ).first()
    want = {(f, ref[f"p{i}"]) for i, f in enumerate(fracs)}
    got_map = {
        (r.frac, r.value)
        for r in exact_percentiles(df, "v", fracs, route="map").collect()
    }
    got_rank = {
        (r.frac, r.value)
        for r in exact_percentiles(df, "v", fracs, route="rank").collect()
    }
    assert got_map == want
    assert got_rank == want
    # auto with a tiny threshold forces the rank decision path
    got_auto = {
        (r.frac, r.value)
        for r in exact_percentiles(df, "v", fracs, distinct_threshold=3).collect()
    }
    assert got_auto == want
    empty = spark.createDataFrame([], "v double")
    assert exact_percentiles(empty, "v", [0.5], route="rank").count() == 0
    assert exact_percentiles(empty, "v", [0.5], route="map").count() == 0
    # Long tie runs straddling the needed ranks, negatives and a NULL,
    # under 1, 7 and more range partitions than rows (some empty): the
    # rank arm stays bitwise the map arm and Spark's percentile.
    ties = (
        [(-3.0,)] * 37 + [(-0.5,)] * 5 + [(1.0,)] * 61 + [(4.0,)] * 20 + [(None,)]
    )
    tdf = spark.createDataFrame(ties, "v double")
    tfracs = [0.0, 0.1, 0.3, 0.33, 0.34, 0.5, 0.83, 0.84, 0.9, 1.0]
    ref = tdf.agg(F.percentile("v", F.array(*[F.lit(f) for f in tfracs]))).first()[0]
    want = set(zip(tfracs, ref))
    got_map = {
        (r.frac, r.value)
        for r in exact_percentiles(tdf, "v", tfracs, route="map").collect()
    }
    assert got_map == want
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("1", "7", "500"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            got = {
                (r.frac, r.value)
                for r in exact_percentiles(tdf, "v", tfracs, route="rank").collect()
            }
            assert got == want, parts
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


def test_rank_arms_pick_in_the_jvm(spark, monkeypatch):
    """Both rank arms pick their order statistics with a JVM filter: they
    answer with the pandas and Arrow map hooks disabled, and the
    percentile arm launches a fixed number of Spark jobs."""
    from pyspark.sql import DataFrame

    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        equidepth_histogram,
        exact_percentiles,
    )
    from tests.util_jobs import jobs_launched

    def no_python_worker(*args, **kw):
        raise AssertionError("rank arm started a Python worker")

    monkeypatch.setattr(DataFrame, "mapInPandas", no_python_worker)
    monkeypatch.setattr(DataFrame, "mapInArrow", no_python_worker)
    # 0..99 in scrambled order
    df = spark.range(100).select(((F.col("id") * 37) % 100).cast("double").alias("v"))
    got, jobs = jobs_launched(
        spark,
        lambda: {
            (r.frac, r.value)
            for r in exact_percentiles(df, "v", [0.25, 0.5, 1.0], route="rank").collect()
        },
    )
    assert got == {(0.25, 24.75), (0.5, 49.5), (1.0, 99.0)}
    assert jobs == 6
    hist = equidepth_histogram(df, "v", 4, route="rank").collect()
    assert sorted(tuple(r) for r in hist) == [
        (0, 0.0, 24.75, 25),
        (1, 24.75, 49.5, 25),
        (2, 49.5, 74.25, 25),
        (3, 74.25, 99.0, 25),
    ]


def test_rank_arm_tolerates_non_numeric_shuffle_partitions(spark, monkeypatch):
    """Some deployments set spark.sql.shuffle.partitions to a sentinel
    like 'auto' (stock Spark validates conf.set, so the sentinel is
    simulated at conf.get); the rank arm must fall back to a default
    partition count instead of crashing on int()."""
    from pyspark.sql import functions as F

    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        exact_percentiles,
    )

    df = spark.range(100).select(F.col("id").cast("double").alias("v"))
    orig_get = type(spark.conf).get

    def sentinel_get(self, key, *args, **kw):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return orig_get(self, key, *args, **kw)

    monkeypatch.setattr(type(spark.conf), "get", sentinel_get)
    got = {
        (r.frac, r.value)
        for r in exact_percentiles(df, "v", [0.5], route="rank").collect()
    }
    assert got == {(0.5, 49.5)}


def test_histogram_quantiles_error_bound_and_edges(spark):
    """Quantiles read off the mergeable equi-width histogram are within
    one bucket width of the exact rank-ceil(r) order statistic (the
    type-1 quantile at the located rank r = 1 + f*(N-1)) — the operator's
    provable contract — for every frac including the 0/1 endpoints, on a
    skewed distribution with a gapped tail (where interpolated type-7
    quantiles legitimately fall in empty buckets)."""
    import math

    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        histogram_quantiles,
        numeric_histogram,
    )

    # skewed: many small values, a long thin tail
    vals = [float(i) for i in range(100)] + [500.0, 900.0, 990.0]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    width = 25.0
    fracs = [0.0, 0.1, 0.5, 0.9, 0.99, 1.0]
    got = {
        r.frac: r.qvalue
        for r in histogram_quantiles(
            numeric_histogram(df, "v", width), fracs
        ).collect()
    }
    assert set(got) == set(fracs)
    s = sorted(vals)
    n = len(s)
    for f in fracs:
        r = 1.0 + f * (n - 1)
        order_stat = s[math.ceil(r) - 1]
        assert abs(got[f] - order_stat) <= width, (f, got[f], order_stat)
    # on the dense (gap-free) region, interpolated quantiles also agree
    # to within a bucket width
    p = 0.5 * (n - 1)
    interp = s[int(p)] + (p - int(p)) * (s[int(p) + 1] - s[int(p)])
    assert abs(got[0.5] - interp) <= width


def test_histogram_quantiles_merge_invariance(spark):
    """The quantile read-off is a pure function of the histogram, and
    histograms merge losslessly: quantiles from merged slice histograms
    are BITWISE the quantiles from the full-data histogram — the
    property that makes equi-depth summaries maintainable on ingest."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        histogram_quantiles,
        merge_numeric_histograms,
        numeric_histogram,
    )

    df = spark.range(1000).select((F.col("id") * F.col("id")).cast("double").alias("v"))
    a = df.filter(F.col("v") < 300000)
    b = df.filter(F.col("v") >= 300000)
    width = 50000.0
    full = numeric_histogram(df, "v", width)
    merged = merge_numeric_histograms(
        numeric_histogram(a, "v", width), numeric_histogram(b, "v", width)
    )
    fracs = [0.25, 0.5, 0.75, 0.95]
    q_full = {r.frac: r.qvalue for r in histogram_quantiles(full, fracs).collect()}
    q_merged = {
        r.frac: r.qvalue for r in histogram_quantiles(merged, fracs).collect()
    }
    assert q_full == q_merged  # bitwise, not approximately


def test_histogram_quantiles_empty_and_single_bucket(spark):
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        histogram_quantiles,
        numeric_histogram,
    )

    empty = spark.createDataFrame([], "v double")
    assert (
        histogram_quantiles(numeric_histogram(empty, "v", 10.0), [0.5]).count() == 0
    )
    one = spark.createDataFrame([(3.0,), (4.0,)], ["v"])
    got = histogram_quantiles(numeric_histogram(one, "v", 10.0), [0.0, 1.0]).collect()
    # both rows land in the single [0, 10) bucket and interpolate inside it
    for r in got:
        assert 0.0 <= r.qvalue <= 10.0


def test_histogram_quantiles_keyed_matches_per_key_unkeyed(spark):
    """key_cols= builds/reads one independent histogram per key in one
    pass: per-key results are BITWISE the unkeyed read-off on that key's
    filtered data — and the keyed plan has no global window."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        histogram_quantiles,
        numeric_histogram,
    )

    df = spark.createDataFrame(
        [("a", float(i)) for i in range(50)]
        + [("b", float(i * i)) for i in range(30)],
        ["k", "v"],
    )
    width = 10.0
    fracs = [0.1, 0.5, 0.9]
    keyed = {
        (r.k, r.frac): r.qvalue
        for r in histogram_quantiles(
            numeric_histogram(df, "v", width, key_cols=["k"]),
            fracs,
            key_cols=["k"],
        ).collect()
    }
    for k in ("a", "b"):
        solo = {
            (k, r.frac): r.qvalue
            for r in histogram_quantiles(
                numeric_histogram(df.filter(F.col("k") == k), "v", width), fracs
            ).collect()
        }
        for kk, v in solo.items():
            assert keyed[kk] == v, (kk, keyed[kk], v)  # bitwise
    assert len(keyed) == 2 * len(fracs)
