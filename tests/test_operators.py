"""Unit tests for the operator library over tiny constructed frames."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.functions import (
    davg,
    dsum,
    sentinel_int,
    str_to_date,
    years_back,
)
from f1_data_engineering_machine_learning_spark.operators import (
    asof_filter,
    conditional_avg,
    conditional_count,
    dedup_keep_last,
    exact_median,
    top1_per_group,
    trailing_window_filter,
)


def test_sentinel_int(spark):
    df = spark.createDataFrame(
        [("1.0",), ("3",), ("R",), (None,), ("",)], ["x"]
    ).select(sentinel_int("x").alias("v"))
    assert [r.v for r in df.collect()] == [1, 3, 99, 99, 99]


def test_str_to_date_and_years_back(spark):
    df = spark.createDataFrame([("2024-03-02 15:00:00",)], ["d"]).select(
        str_to_date("d").alias("d")
    )
    assert df.collect()[0].d == dt.date(2024, 3, 2)
    # calendar-year arithmetic: leap-day clamps, not 365-day subtraction
    leap = spark.createDataFrame([(dt.date(2024, 2, 29),)], ["d"]).select(
        years_back("d", 1).alias("b")
    )
    assert leap.collect()[0].b == dt.date(2023, 2, 28)


def test_asof_and_trailing_filters(spark):
    rows = [
        ("2020-01-01 12:00:00",),
        ("2021-06-30 00:00:00",),
        ("2021-07-01 00:00:00",),
    ]
    df = spark.createDataFrame(rows, ["ts"])
    assert asof_filter(df, "ts", "2021-06-30").count() == 2
    assert trailing_window_filter(df, "ts", "2021-06-30", 1).count() == 1


def test_conditional_agg_null_semantics(spark):
    df = spark.createDataFrame(
        [("race", 1.0), ("race", 3.0), ("sprint", 10.0)], ["kind", "pos"]
    )
    out = df.groupBy().agg(
        conditional_count(F.col("kind") == "race").alias("n_race"),
        conditional_avg(F.col("kind") == "race", F.col("pos")).alias("avg_race"),
        conditional_avg(F.col("kind") == "quali", F.col("pos")).alias("avg_quali"),
    ).collect()[0]
    assert out.n_race == 2
    assert out.avg_race == 2.0
    assert out.avg_quali is None  # NULL-skipping contract, not 0


def test_exact_median_interpolates(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (10.0,)], ["x"])
    assert df.agg(exact_median("x").alias("m")).collect()[0].m == 2.5


def test_top1_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [("a", 1, 5.0), ("a", 2, 5.0), ("b", 3, 1.0)], ["g", "k", "v"]
    )
    got = top1_per_group(df, ["g"], [F.desc("v"), F.col("k")]).collect()
    assert {(r.g, r.k) for r in got} == {("a", 1), ("b", 3)}


def test_dedup_keep_last(spark):
    df = spark.createDataFrame(
        [("u", 1, "old"), ("u", 2, "new"), ("v", 5, "only")], ["k", "seq", "val"]
    )
    got = {r.k: r.val for r in dedup_keep_last(df, ["k"], ["seq"]).collect()}
    assert got == {"u": "new", "v": "only"}


def test_dsum_davg_partition_invariant(spark):
    """Decimal-exact aggregates must not change with partitioning."""
    data = [(float(f"{i}.{i % 100:02d}"),) for i in range(1, 2001)]
    a = (
        spark.createDataFrame(data, ["x"])
        .repartition(1)
        .agg(dsum("x").alias("s"), davg("x").alias("a"))
        .collect()[0]
    )
    b = (
        spark.createDataFrame(data, ["x"])
        .repartition(37)
        .agg(dsum("x").alias("s"), davg("x").alias("a"))
        .collect()[0]
    )
    assert a.s == b.s and a.a == b.a


def test_label_join_existence(spark):
    from f1_data_engineering_machine_learning_spark.operators import label_join

    base = spark.createDataFrame([(1,), (2,), (3,)], ["id"])
    labels = spark.createDataFrame([(2,), (3,)], ["lid"])
    out = label_join(
        base, labels, base.id == labels.lid, "fl", "lid"
    ).select("id", "fl")
    assert {(r.id, r.fl) for r in out.collect()} == {(1, 0), (2, 1), (3, 1)}


def test_scd2_build_episodes(spark):
    """Change-event stream -> SCD2 episodes: consecutive same-state rows
    merge, every change opens a new interval, last episode is current,
    and [valid_from, valid_to) intervals tile each key's timeline."""
    from f1_data_engineering_machine_learning_spark.operators import scd2_build

    t = dt.datetime
    rows = [
        (1, t(2024, 1, 1), "A", 1),
        (1, t(2024, 1, 2), "A", 2),   # unchanged -> merges into episode 1
        (1, t(2024, 1, 3), "B", 3),   # change -> episode 2
        (1, t(2024, 1, 4), "A", 4),   # back to A -> episode 3 (not merged)
        (2, t(2024, 1, 1), "X", 5),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "state", "seq"])
    out = sorted(
        (r.k, r.state, r.valid_from, r.valid_to, r.is_current)
        for r in scd2_build(df, ["k"], ["state"], "ts", ["seq"]).collect()
    )
    assert out == [
        (1, "A", t(2024, 1, 1), t(2024, 1, 3), False),
        (1, "A", t(2024, 1, 4), None, True),
        (1, "B", t(2024, 1, 3), t(2024, 1, 4), False),
        (2, "X", t(2024, 1, 1), None, True),
    ]


def test_scd2_null_attr_is_no_change(spark):
    from f1_data_engineering_machine_learning_spark.operators import scd2_build

    t = dt.datetime
    rows = [
        (1, t(2024, 1, 1), None),
        (1, t(2024, 1, 2), None),   # NULL -> NULL: no change
        (1, t(2024, 1, 3), "A"),    # NULL -> A: change
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, state string")
    out = scd2_build(df, ["k"], ["state"], "ts").collect()
    assert len(out) == 2


def test_unpivot_melt_is_single_expand_no_shuffle(spark):
    from f1_data_engineering_machine_learning_spark.operators import unpivot_melt

    wide = spark.createDataFrame([(1, 10.0, 20.0), (2, 30.0, None)], ["k", "a", "b"])
    long = unpivot_melt(wide, ["k"], ["a", "b"])
    rows = sorted(
        (r.k, r.measure, r.val) for r in long.collect()
    )
    assert rows == [(1, "a", 10.0), (1, "b", 20.0), (2, "a", 30.0), (2, "b", None)]
    plan = long._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan and "Exchange" not in plan


class TestRangePartitionedRank:
    """Two-pass distributed rank == single-global-window rank, exactly."""

    def _frame(self, spark):
        import random

        rng = random.Random(7)
        # heavy ties (values 0..19 over 400 rows) + unique id tiebreak
        rows = [(i, rng.randint(0, 19)) for i in range(400)]
        return spark.createDataFrame(rows, ["id", "v"])

    def test_matches_global_window(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from f1_data_engineering_machine_learning_spark.operators.windows import (
            range_partitioned_rank,
        )

        df = self._frame(spark)
        got = range_partitioned_rank(
            df, ["v"], rank_col="rk", row_number_col="rn",
            percent_rank_col="pr", cume_dist_col="cd",
            ntile=7, ntile_col="nt", tiebreak=["id"], num_partitions=8,
        )
        w = Window.orderBy("v")
        wt = Window.orderBy("v", "id")
        want = df.select(
            "id", "v",
            F.rank().over(w).cast("bigint").alias("rk"),
            F.row_number().over(wt).cast("bigint").alias("rn"),
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
            F.ntile(7).over(wt).cast("int").alias("nt"),
        )
        key = lambda frame: sorted(
            (r.id, r.v, r.rk, r.rn, r.pr, r.cd, r.nt) for r in frame.collect()
        )
        assert key(got) == key(want)

    def test_no_single_task_window(self, spark):
        """The plan must contain no unpartitioned Window: every Window
        node partitions by the range-partition id."""
        import io
        from contextlib import redirect_stdout

        from f1_data_engineering_machine_learning_spark.operators.windows import (
            range_partitioned_rank,
        )

        df = self._frame(spark)
        got = range_partitioned_rank(
            df, ["v"], rank_col="rk", percent_rank_col="pr",
            tiebreak=["id"], num_partitions=8,
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            got.explain("formatted")
        plan = buf.getvalue()
        assert "Window" in plan
        for line in plan.splitlines():
            if "windowspecdefinition" in line.lower():
                assert "__pid" in line, f"unpartitioned window: {line}"

    def test_empty_and_singleton(self, spark):
        from f1_data_engineering_machine_learning_spark.operators.windows import (
            range_partitioned_rank,
        )

        empty = spark.createDataFrame([], "id int, v int")
        out = range_partitioned_rank(
            empty, ["v"], rank_col="rk", percent_rank_col="pr", ntile=4
        )
        assert out.count() == 0
        assert set(out.columns) == {"id", "v", "rk", "pr", "ntile"}

        one = spark.createDataFrame([(1, 5)], ["id", "v"])
        row = range_partitioned_rank(
            one, ["v"], rank_col="rk", percent_rank_col="pr",
            cume_dist_col="cd", ntile=4,
        ).collect()[0]
        assert (row.rk, row.pr, row.cd, row.ntile) == (1, 0.0, 1.0, 1)


def test_range_partitioned_rank_construction_budget(spark):
    """Construction runs AT MOST the lazy checkpoint's range-boundary
    sampling/planning jobs (2) and NEVER a driver collect — the offsets
    stay a plan (broadcast self-join over the counts frame). The
    checkpoint is load-bearing: without it the counts branch and the
    data branch can re-execute the range exchange with independently
    re-sampled boundaries and disagree on partition membership
    (reproduced at sf0.1 as a nondeterministic 11-row NTILE(10);
    see the divergence note in windows.py)."""
    from f1_data_engineering_machine_learning_spark.operators.windows import (
        range_partitioned_rank,
    )

    df = spark.createDataFrame([(i, i % 5) for i in range(100)], ["id", "v"])
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    out = range_partitioned_rank(
        df, ["v"], rank_col="rk", percent_rank_col="pr",
        cume_dist_col="cd", ntile=4, tiebreak=["id"], num_partitions=8,
    )
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after - before <= 2
    assert out.count() == 100  # and it still executes fine


def test_range_partitioned_rank_deterministic_across_runs(spark, sf_dir):
    """Regression for the re-sampled-boundaries divergence: repeated
    executions over real data must produce identical global ranks (the
    sf0.1 oracle sweep caught 10-vs-11 NTILE rows before the checkpoint
    pinned the partitioning)."""
    from pyspark.sql import functions as F

    from f1_data_engineering_machine_learning_spark.operators.windows import (
        range_partitioned_rank,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    spend = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))

    def run():
        t = range_partitioned_rank(
            spend, ["n"], ntile=10, ntile_col="decile", tiebreak=["o_custkey"]
        )
        return sorted(
            (r.decile, r.cnt)
            for r in t.groupBy("decile").agg(F.count(F.lit(1)).alias("cnt")).collect()
        )

    first = run()
    assert len(first) == 10
    for _ in range(2):
        assert run() == first


def test_range_partitioned_rank_null_order_values(spark):
    """NULL order values rank first (Spark ASC NULLS FIRST default),
    matching the single-window formulation exactly."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from f1_data_engineering_machine_learning_spark.operators.windows import (
        range_partitioned_rank,
    )

    df = spark.createDataFrame(
        [(1, None), (2, 5), (3, None), (4, 1), (5, 5)],
        "id int, v int",
    )
    got = {
        r.id: (r.rk, r.cd)
        for r in range_partitioned_rank(
            df, ["v"], rank_col="rk", cume_dist_col="cd",
            tiebreak=["id"], num_partitions=3,
        ).collect()
    }
    w = Window.orderBy("v")
    want = {
        r.id: (r.rk, r.cd)
        for r in df.select(
            "id",
            F.rank().over(w).cast("bigint").alias("rk"),
            F.cume_dist().over(w).alias("cd"),
        ).collect()
    }
    assert got == want


def test_topk_per_group_salted_equals_window(spark):
    from f1_data_engineering_machine_learning_spark.operators.windows import (
        topk_per_group,
        topk_per_group_salted,
    )

    rows = [
        (g, i, float((i * 37 + ord(g) * 11) % 100))
        for g in ("a", "b", "c")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["g", "id", "v"])
    window = {
        (r.g, r.id, r.rn)
        for r in topk_per_group(
            df, ["g"], [F.desc("v"), F.col("id")], k=7, rn_col="rn"
        ).collect()
    }
    salted = {
        (r.g, r.id, r.rn)
        for r in topk_per_group_salted(
            df,
            ["g"],
            F.struct((-F.col("v")).alias("o1"), F.col("id").alias("o2")),
            k=7,
            n_salt=8,
        ).collect()
    }
    assert salted == window and len(salted) == 21


def test_topk_per_group_salted_small_groups_and_k_exceeds(spark):
    from f1_data_engineering_machine_learning_spark.operators.windows import (
        topk_per_group_salted,
    )

    df = spark.createDataFrame([("g", 1, 5.0), ("g", 2, 3.0)], ["g", "id", "v"])
    got = sorted(
        (r.id, r.rn)
        for r in topk_per_group_salted(
            df, ["g"], F.struct(F.col("v").alias("o1"), F.col("id").alias("o2")), k=10
        ).collect()
    )
    # k larger than the group: all rows, ranked ascending by v
    assert got == [(1, 2), (2, 1)]


def test_weighted_median_exact(spark):
    from f1_data_engineering_machine_learning_spark.operators.aggregates import (
        weighted_median,
    )

    df = spark.createDataFrame(
        [("g", 1.0, 1), ("g", 2.0, 1), ("g", 10.0, 5),
         ("h", 3.0, 2), ("h", 7.0, 2),
         ("i", 4.0, 0), ("i", 9.0, 3), ("i", None, 99)],
        "k string, v double, w int",
    )
    got = {r.k: r.weighted_median for r in weighted_median(df, "v", "w", ["k"]).collect()}
    # g: total 7, half 3.5 -> cum 1,2,7: first >= 3.5 is v=10
    # h: total 4, cum 2 hits exactly half -> lower median v=3
    # i: zero/NULL rows excluded -> only v=9 counts
    assert got == {"g": 10.0, "h": 3.0, "i": 9.0}


def test_weighted_median_unit_weights_is_lower_median(spark):
    from f1_data_engineering_machine_learning_spark.operators.aggregates import (
        weighted_median,
    )

    df = spark.createDataFrame(
        [("g", float(v), 1) for v in (1, 2, 3, 4)], "k string, v double, w int"
    )
    got = weighted_median(df, "v", "w", ["k"]).collect()[0].weighted_median
    assert got == 2.0  # lower median of even count


def test_ewma_trailing_exact_weights(spark):
    from f1_data_engineering_machine_learning_spark.operators.windows import (
        ewma_trailing,
    )

    df = spark.createDataFrame(
        [("u", 1, 4.0), ("u", 2, 8.0), ("u", 3, 16.0)], "e string, t int, v double"
    )
    rows = {r.t: r.ewma for r in ewma_trailing(df, ["e"], "t", "v", depth=4).collect()}
    # t=1: only itself
    assert rows[1] == 4.0
    # t=2: (8 + 0.5*4) / 1.5
    assert rows[2] == (8.0 + 0.5 * 4.0) / 1.5
    # t=3: (16 + 0.5*8 + 0.25*4) / 1.75
    assert rows[3] == (16.0 + 0.5 * 8.0 + 0.25 * 4.0) / 1.75


def test_ewma_depth_bounds_history(spark):
    from f1_data_engineering_machine_learning_spark.operators.windows import (
        ewma_trailing,
    )

    df = spark.createDataFrame(
        [("u", i, 1.0 if i == 0 else 0.0) for i in range(5)],
        "e string, t int, v double",
    )
    rows = {r.t: r.ewma for r in ewma_trailing(df, ["e"], "t", "v", depth=2).collect()}
    # the t=0 spike leaves the window after depth=2 steps
    assert rows[1] == (0.0 + 0.5 * 1.0) / 1.5
    assert rows[2] == 0.0 and rows[4] == 0.0


def test_assign_sessions_and_paths(spark):
    import datetime as dt

    from f1_data_engineering_machine_learning_spark.operators.sessions import (
        assign_sessions,
        session_paths,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        # user u: session 1 = view>click>purchase; session 2 (gap 2h) = view>click
        ("u", 1, t0, "view"), ("u", 2, t0 + m, "click"), ("u", 3, t0 + 2 * m, "purchase"),
        ("u", 4, t0 + dt.timedelta(hours=2), "view"),
        ("u", 5, t0 + dt.timedelta(hours=2) + m, "click"),
        # user v: one session, same path as u's second
        ("v", 6, t0, "view"), ("v", 7, t0 + m, "click"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "et"])
    s = assign_sessions(df, ["user_id"], "ts", 30.0, tiebreak=["event_id"])
    sids = {(r.user_id, r.event_id): r.session_id for r in s.collect()}
    assert sids[("u", 1)] == sids[("u", 3)] == 1 and sids[("u", 4)] == 2

    paths = {
        (r.path, r.n_sessions, r.n_steps)
        for r in session_paths(
            df, ["user_id"], "ts", "et", 30.0, tiebreak=["event_id"]
        ).collect()
    }
    assert paths == {("view>click>purchase", 1, 3), ("view>click", 2, 2)}


def test_session_paths_order_is_deterministic_under_ties(spark):
    import datetime as dt

    from f1_data_engineering_machine_learning_spark.operators.sessions import (
        session_paths,
    )

    t0 = dt.datetime(2024, 1, 1)
    # two events at the SAME timestamp: order fixed by event_id tiebreak
    rows = [("u", 2, t0, "b"), ("u", 1, t0, "a")]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "et"])
    out = session_paths(
        df.repartition(4), ["user_id"], "ts", "et", 30.0, tiebreak=["event_id"]
    ).collect()
    assert [(r.path, r.n_sessions) for r in out] == [("a>b", 1)]


def test_pareto_frontier_2d_hand_case(spark):
    from f1_data_engineering_machine_learning_spark.operators.skyline import (
        pareto_frontier_2d,
    )

    rows = [
        (1, 10.0, 5),   # frontier (cheapest)
        (2, 20.0, 5),   # dominated by 1 (same size, pricier)
        (3, 20.0, 8),   # frontier
        (4, 30.0, 8),   # dominated by 3
        (5, 30.0, 9),   # frontier
        (6, 10.0, 5),   # equal twin of 1 -> both survive
        (7, 25.0, 7),   # dominated by 3 (cheaper AND bigger)
        (8, None, 9),   # null criterion -> dropped
    ]
    df = spark.createDataFrame(rows, "id long, price double, size int")
    got = sorted(
        r.id for r in pareto_frontier_2d(df, "price", "size").collect()
    )
    assert got == [1, 3, 5, 6]


def test_pareto_frontier_2d_fuzz_vs_bruteforce(spark):
    import random

    from f1_data_engineering_machine_learning_spark.operators.skyline import (
        pareto_frontier_2d,
    )

    rng = random.Random(77)
    rows = [
        (i, float(rng.randint(1, 15)), rng.randint(1, 15)) for i in range(300)
    ]

    def dominated(a, b):  # b dominates a
        return (
            b[1] <= a[1]
            and b[2] >= a[2]
            and (b[1] < a[1] or b[2] > a[2])
        )

    want = sorted(
        a[0] for a in rows if not any(dominated(a, b) for b in rows)
    )
    df = spark.createDataFrame(rows, "id long, price double, size int")
    got = sorted(r.id for r in pareto_frontier_2d(df, "price", "size").collect())
    assert got == want


def test_range_partitioned_prefix_sum_matches_global_window(spark):
    """Distributed prefix sum == the single-window SUM() OVER (ORDER BY)
    formulation, exactly — including the multi-value form sharing one
    pass, under forced multi-partition ranges."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from f1_data_engineering_machine_learning_spark.operators.windows import (
        range_partitioned_prefix_sum,
    )

    rows = [(i, (i * 37) % 11, (i * 13) % 7 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, k long, v long")
    # single-value + multi-value forms
    single = range_partitioned_prefix_sum(
        df, ["k"], "v", out_col="cum_v", tiebreak=["id"], num_partitions=8
    )
    w = Window.orderBy("k", "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {r.id: r.cum_v for r in df.withColumn("cum_v", F.sum("v").over(w)).collect()}
    assert {r.id: r.cum_v for r in single.collect()} == want

    multi = range_partitioned_prefix_sum(
        df.withColumn("__one", F.lit(1).cast("bigint")),
        ["k"],
        {"cum_v": "v", "rn": "__one"},
        tiebreak=["id"],
        num_partitions=8,
    )
    wantrn = {
        r.id: (r.cum_v, r.rn)
        for r in df.withColumn("cum_v", F.sum("v").over(w))
        .withColumn("rn", F.row_number().over(Window.orderBy("k", "id")))
        .collect()
    }
    assert {
        r.id: (r.cum_v, int(r.rn)) for r in multi.collect()
    } == {k: (a, int(b)) for k, (a, b) in wantrn.items()}


def test_fuzz_scd2_matches_python_replay(spark):
    """Seeded random change streams vs a pure-Python SCD2 replay:
    null-safe change detection against the previous RAW row (None==None
    is "no change", None->value is a change), valid_to = next EPISODE's
    start, is_current on the open episode. Repeated states, NULL
    attributes, timestamp ties (broken by the seq tiebreak), and input
    partitioning are all generated."""
    import random

    from f1_data_engineering_machine_learning_spark.operators import scd2_build

    rng = random.Random(5151)
    states = ["a", "b", None]
    for trial in range(6):
        keys = [f"k{i}" for i in range(rng.randint(1, 4))]
        rows = []
        seq = 0
        for k in keys:
            for _ in range(rng.randint(1, 15)):
                rows.append((k, rng.randint(0, 9), rng.choice(states), seq))
                seq += 1
        df = spark.createDataFrame(
            rows, "k string, ts long, state string, seq long"
        ).repartition(rng.choice([1, 3, 8]))
        got = sorted(
            (
                (r.k, r.state, r.valid_from, r.valid_to, r.is_current)
                for r in scd2_build(df, ["k"], ["state"], "ts", ["seq"]).collect()
            ),
            key=repr,
        )

        per: dict = {}
        for k, ts, st, sq in rows:
            per.setdefault(k, []).append((ts, sq, st))
        want = []
        for k, evs in per.items():
            evs.sort()
            episodes = []
            prev = object()  # sentinel != anything
            for ts, sq, st in evs:
                if not episodes or st != prev:
                    episodes.append([st, ts])
                prev = st
            for i, (st, vf) in enumerate(episodes):
                vt = episodes[i + 1][1] if i + 1 < len(episodes) else None
                want.append((k, st, vf, vt, vt is None))
        assert got == sorted(want, key=repr), f"trial={trial}"


def test_fuzz_ewma_trailing_matches_python_replay(spark):
    """Seeded random series vs a pure-Python replay of the trailing
    EWMA: weights are exact powers of two (multiplying a double by
    2^-k is a pure exponent shift — no rounding), terms accumulate in
    the operator's left-to-right lag order, NULL values drop their
    weight from the renormalization, and a NULL current value yields a
    NULL ewma. Equality is exact float equality across entity counts,
    depths, alpha, and partitionings."""
    import random

    from f1_data_engineering_machine_learning_spark.operators.windows import (
        ewma_trailing,
    )

    rng = random.Random(7272)
    for trial in range(6):
        depth = rng.choice([1, 3, 8])
        alpha_halves = rng.choice([1, 2])
        ents = [f"e{i}" for i in range(rng.randint(1, 3))]
        rows = []
        for e in ents:
            for i in range(rng.randint(1, 20)):
                v = None if rng.random() < 0.15 else float(rng.randint(-50, 50))
                rows.append((e, i, v))
        df = spark.createDataFrame(
            rows, "ent string, i long, v double"
        ).repartition(rng.choice([1, 4]))
        got = {
            (r.ent, r.i): r.ewma
            for r in ewma_trailing(
                df, ["ent"], "i", "v", alpha_halves=alpha_halves, depth=depth
            ).collect()
        }

        per: dict = {}
        for e, i, v in rows:
            per.setdefault(e, []).append((i, v))
        want = {}
        for e, series in per.items():
            series.sort()
            vals = [v for _, v in series]
            for idx, (i, v) in enumerate(series):
                if v is None:
                    want[(e, i)] = None
                    continue
                num = v * (2.0 ** 0)
                den = 2.0 ** 0
                for j in range(1, depth):
                    if idx - j < 0 or vals[idx - j] is None:
                        continue
                    w = 2.0 ** (-alpha_halves * j)
                    num = num + vals[idx - j] * w
                    den = den + w
                want[(e, i)] = num / den
        assert got == want, f"trial={trial} depth={depth} a={alpha_halves}"


def test_fuzz_assign_sessions_matches_python_replay(spark):
    """Seeded random event streams vs a pure-Python gap-sessionization
    replay: new session iff gap from the previous event (per entity,
    ordered by ts then the tiebreak) STRICTLY exceeds the threshold —
    the boundary gap == threshold stays in-session, which duplicate and
    boundary-exact timestamps in the generator pin down."""
    import datetime as _dt
    import random

    from f1_data_engineering_machine_learning_spark.operators.sessions import (
        assign_sessions,
    )

    base = _dt.datetime(2024, 1, 1)
    rng = random.Random(8383)
    for trial in range(6):
        gap_min = rng.choice([1, 5])
        ents = [f"u{i}" for i in range(rng.randint(1, 4))]
        rows = []
        eid = 0
        for e in ents:
            t = 0
            for _ in range(rng.randint(1, 25)):
                # steps hit the exact boundary (gap == threshold) often
                t += rng.choice([0, 30, 60 * gap_min, 60 * gap_min + 1, 600])
                rows.append((e, base + _dt.timedelta(seconds=t), eid))
                eid += 1
        df = spark.createDataFrame(
            rows, "u string, ts timestamp, eid long"
        ).repartition(rng.choice([1, 3, 8]))
        got = {
            r.eid: r.session_id
            for r in assign_sessions(
                df, ["u"], "ts", gap_minutes=gap_min, tiebreak=["eid"]
            ).collect()
        }

        per: dict = {}
        for u, ts, e in rows:
            per.setdefault(u, []).append((ts, e))
        want = {}
        for u, evs in per.items():
            evs.sort()
            sid = 0
            prev = None
            for ts, e in evs:
                if prev is None or (ts - prev).total_seconds() > gap_min * 60:
                    sid += 1
                want[e] = sid
                prev = ts
        assert got == want, f"trial={trial} gap={gap_min}"


def test_ensure_min_parallelism_plan_side_heuristic(spark):
    """The narrowness check reads optimizer stats (no
    RDD conversion). Small inputs still widen to defaultParallelism;
    inputs whose estimated split count reaches the target short-circuit
    with NO added exchange; explicit min_partitions is honored."""
    from f1_data_engineering_machine_learning_spark.operators.partitioning import (
        _parse_bytes,
        ensure_min_parallelism,
    )

    assert _parse_bytes("134217728b") == 134217728
    assert _parse_bytes("128m") == 128 * 1024 * 1024
    assert _parse_bytes("1k") == 1024
    assert _parse_bytes("junk") == 128 * 1024 * 1024

    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    target = spark.sparkContext.defaultParallelism
    widened = ensure_min_parallelism(df)
    assert widened.rdd.getNumPartitions() >= min(target, 1000)
    assert sorted(r.v for r in widened.collect()) == sorted(
        r.v for r in df.collect()
    )
    # force the estimate above the target: 1-byte max split size makes
    # estimated splits = sizeInBytes >= target, so no repartition is
    # added (the at-scale short-circuit, exercised without 100 TB)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1b")
    try:
        same = ensure_min_parallelism(df)
        assert "Repartition" not in same._jdf.queryExecution().optimizedPlan().toString()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    # explicit floor below current width: no-op
    assert (
        "Repartition"
        not in ensure_min_parallelism(df, min_partitions=1)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
