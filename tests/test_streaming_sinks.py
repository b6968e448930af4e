"""foreachBatch upsert sink (streaming materialized view) + RocksDB state.

Both are deployment-grade seams: the upsert sink is how an update-mode
aggregation becomes a queryable table (file sinks are append-only), and
the RocksDB provider is the state backend that survives large key
cardinality. The provider swap must not change results — asserted here by
running the same aggregation under both backends.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.streaming import read_event_stream
from f1_data_engineering_machine_learning_spark.streaming.jobs import (
    foreach_batch_upsert,
    hourly_event_stats_stream,
    run_available_now,
    use_rocksdb_state,
)


def _write_batch(spark, path, ids):
    spark.createDataFrame(
        [(i, f"2024-01-01 0{i % 10}:00:00", i % 3, "click" if i % 2 else "view",
          float(i), "{}") for i in ids],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).write.mode("append").parquet(path)


def test_foreach_batch_upsert_converges_to_batch_aggregate(spark, tmp_path):
    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, src, range(0, 60))

    counts = (
        read_event_stream(spark, src)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    foreach_batch_upsert(counts, table, ["event_type"], ckpt, output_mode="update")
    got = {r.event_type: r.n for r in spark.read.parquet(table).collect()}
    want = {
        r.event_type: r.n
        for r in spark.read.parquet(src)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want

    # more data arrives: the restarted stream upserts the SAME keys with
    # refreshed totals — the table converges, it does not append duplicates
    _write_batch(spark, src, range(60, 100))
    foreach_batch_upsert(counts, table, ["event_type"], ckpt, output_mode="update")
    got2 = {r.event_type: r.n for r in spark.read.parquet(table).collect()}
    assert got2 == {"click": 50, "view": 50}
    assert spark.read.parquet(table).count() == 2  # one row per key, upserted

    # replay with NO new data: the checkpoint yields an empty (or
    # replayed) batch and the idempotent upsert leaves the table
    # byte-identical — the at-least-once -> effectively-once guarantee
    foreach_batch_upsert(counts, table, ["event_type"], ckpt, output_mode="update")
    got3 = {r.event_type: r.n for r in spark.read.parquet(table).collect()}
    assert got3 == got2
    assert spark.read.parquet(table).count() == 2


def test_stream_stream_join_matches_batch(spark, tmp_path):
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        click_attribution_stream,
    )

    src = str(tmp_path / "src")
    _write_batch(spark, src, range(0, 80))  # even ids view->no, odd click
    # add purchases by the same users shortly after some clicks
    spark.createDataFrame(
        [(1000 + i, f"2024-01-01 0{i % 10}:10:00", i % 3, "purchase",
          9.99, "{}") for i in range(10)],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).write.mode("append").parquet(src)

    streamed = run_available_now(
        click_attribution_stream(read_event_stream(spark, src)),
        "attribution",
        output_mode="append",
    )
    # the same plan over the static frame is the batch twin (watermarks
    # are no-ops on batch DataFrames)
    batch = click_attribution_stream(spark.read.parquet(src))
    got = sorted(map(tuple, streamed.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


def test_rocksdb_state_store_matches_default(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, range(0, 40))
    stream = hourly_event_stats_stream(read_event_stream(spark, src))

    default_rows = sorted(
        (r.hour_ts, r.event_type, r.n, r.total_value)
        for r in run_available_now(stream, "agg_default").collect()
    )
    use_rocksdb_state(spark)
    try:
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            .endswith("RocksDBStateStoreProvider")
        )
        rocks_rows = sorted(
            (r.hour_ts, r.event_type, r.n, r.total_value)
            for r in run_available_now(stream, "agg_rocksdb").collect()
        )
    finally:
        use_rocksdb_state(spark, enabled=False)
    assert rocks_rows == default_rows and len(rocks_rows) > 0


def test_quarantine_stream_splits_good_and_bad(spark, tmp_path):
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        quarantine_stream,
    )

    src = str(tmp_path / "src")
    good_p, dlq_p, ckpt = (
        str(tmp_path / "good"), str(tmp_path / "dlq"), str(tmp_path / "ck")
    )
    lines = [
        '{"id": 1, "v": "a"}',
        '{"id": 2, "v": "b"}',
        "not json",
        '{"id": "wrongtype"}',   # schema mismatch -> whole-row null
        '{"id": 3, "v": "c"}',
    ]
    spark.createDataFrame([(l,) for l in lines], "line string").write.mode(
        "overwrite"
    ).parquet(src)
    stream = spark.readStream.schema("line string").parquet(src)
    quarantine_stream(stream, "id long, v string", "line", good_p, dlq_p, ckpt)

    good = {(r.id, r.v) for r in spark.read.parquet(good_p).collect()}
    bad = {r.raw for r in spark.read.parquet(dlq_p).collect()}
    assert good == {(1, "a"), (2, "b"), (3, "c")}
    # junk AND the type-mismatched record both land in the DLQ
    assert bad == {"not json", '{"id": "wrongtype"}'}
    # replay with same checkpoint: no duplicates (effectively-once)
    stream2 = spark.readStream.schema("line string").parquet(src)
    quarantine_stream(stream2, "id long, v string", "line", good_p, dlq_p, ckpt)
    assert spark.read.parquet(dlq_p).count() == len(bad)
    # replay with a FRESH checkpoint (the worst case foreachBatch allows:
    # the whole batch re-runs as the same batch_id after a crash between
    # the writes and the checkpoint commit): dynamic overwrite of the
    # batch_id partition rewrites in place instead of appending dupes
    stream3 = spark.readStream.schema("line string").parquet(src)
    quarantine_stream(
        stream3, "id long, v string", "line", good_p, dlq_p, str(tmp_path / "ck2")
    )
    assert {(r.id, r.v) for r in spark.read.parquet(good_p).collect()} == good
    assert spark.read.parquet(good_p).count() == len(good)
    assert spark.read.parquet(dlq_p).count() == len(bad)


def test_session_paths_stream_matches_batch(spark, tmp_path):
    from f1_data_engineering_machine_learning_spark.operators.sessions import (
        session_paths,
    )
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        run_available_now,
        session_paths_stream,
    )

    src = str(tmp_path / "events")
    # two users, multi-session activity; no exact-boundary gaps
    rows = []
    for u in (1, 2):
        for s in range(3):
            base = f"2024-01-01 {8 + 4 * s:02d}:00:00"
            for i, et in enumerate(["view", "click", "purchase"][: s + 1]):
                rows.append(
                    (u * 100 + s * 10 + i, base[:14] + f"{i:02d}:00", u, et, 1.0, "{}")
                )
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).write.mode("overwrite").parquet(src)

    batch_df = spark.read.parquet(src)
    stream_df = spark.readStream.schema(batch_df.schema).parquet(src)

    streamed = run_available_now(
        session_paths_stream(stream_df), "session_paths_stream", "complete"
    )
    got = {
        (r.user_id, r.path): r.n_steps for r in streamed.collect()
    }
    want_paths = session_paths(
        batch_df, ["user_id"], "ts", "event_type", 30.0, tiebreak=["event_id"]
    ).collect()
    # batch aggregates per path; expand back per (user, path) via sessions
    assert sum(got.values()) == sum(r.n_sessions * r.n_steps for r in want_paths)
    assert {p for (_, p) in got} == {r.path for r in want_paths}


def test_cms_ingest_stream_merges_exactly(spark, tmp_path):
    """Streaming CMS maintenance == batch cms_build over everything ever
    ingested (cell-additive merge is exact, not approximate), and a
    fresh-checkpoint replay with the same app_id is a no-op."""
    from f1_data_engineering_machine_learning_spark.dataops.heavyhitters import (
        cms_build,
    )
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        cms_ingest_stream,
    )

    src = str(tmp_path / "src")
    sk = str(tmp_path / "sketch")

    def write(rows):
        spark.createDataFrame([(t,) for t in rows], "token string").write.mode(
            "append"
        ).parquet(src)

    def stream():
        return spark.readStream.schema("token string").parquet(src)

    write(["a", "b", "a", "c"])
    cms_ingest_stream(stream(), sk, str(tmp_path / "ck1"), depth=3, width=16)
    write(["a", "c", "d"])
    cms_ingest_stream(stream(), sk, str(tmp_path / "ck1"), depth=3, width=16)

    all_items = spark.createDataFrame(
        [(t,) for t in ["a", "b", "a", "c", "a", "c", "d"]], "token string"
    )
    want = {
        (r.row, r.bucket, r.cnt)
        for r in cms_build(all_items, "token", depth=3, width=16).collect()
    }
    got = {
        (r.row, r.bucket, r.cnt)
        for r in VersionedTable(spark, sk).read().collect()
    }
    assert got == want

    # fresh checkpoint, same app_id: replayed batches skip via txn
    cms_ingest_stream(stream(), sk, str(tmp_path / "ck2"), depth=3, width=16)
    again = {
        (r.row, r.bucket, r.cnt)
        for r in VersionedTable(spark, sk).read().collect()
    }
    assert again == want


def test_bloom_ingest_stream_unions_bits(spark, tmp_path):
    """Streaming Bloom maintenance == batch bloom_build over everything
    ever ingested (bit union), so probes of every ingested item stay
    positive across batches."""
    from f1_data_engineering_machine_learning_spark.dataops.heavyhitters import (
        bloom_build,
        bloom_probe,
    )
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        bloom_ingest_stream,
    )

    src = str(tmp_path / "src")
    bp = str(tmp_path / "bloom")

    def write(rows):
        spark.createDataFrame([(t,) for t in rows], "token string").write.mode(
            "append"
        ).parquet(src)

    def stream():
        return spark.readStream.schema("token string").parquet(src)

    write(["x", "y"])
    bloom_ingest_stream(stream(), bp, str(tmp_path / "ck"), n_bits=64, n_hashes=3)
    write(["z"])
    bloom_ingest_stream(stream(), bp, str(tmp_path / "ck"), n_bits=64, n_hashes=3)

    stored = VersionedTable(spark, bp).read()
    all_items = spark.createDataFrame(
        [("x",), ("y",), ("z",)], "token string"
    )
    want = {r.bit for r in bloom_build(all_items, "token", 64, 3).collect()}
    assert {r.bit for r in stored.collect()} == want
    probes = bloom_probe(stored, all_items, "token", 64, 3)
    assert all(r.maybe_present for r in probes.collect())


def test_histogram_ingest_stream_sums_buckets(spark, tmp_path):
    """Streaming equi-width histogram maintenance == batch
    numeric_histogram over everything ever ingested (bucket-count
    addition — the fixed-width mergeability contract)."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        numeric_histogram,
    )
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        histogram_ingest_stream,
    )

    src = str(tmp_path / "src")
    hp = str(tmp_path / "hist")

    def write(vals):
        spark.createDataFrame([(v,) for v in vals], "value double").write.mode(
            "append"
        ).parquet(src)

    def stream():
        return spark.readStream.schema("value double").parquet(src)

    write([0.5, 1.5, 1.7, None, 9.9])
    histogram_ingest_stream(stream(), hp, str(tmp_path / "ck"), bucket_width=2.0)
    write([1.1, 3.3, -0.4])
    histogram_ingest_stream(stream(), hp, str(tmp_path / "ck"), bucket_width=2.0)

    all_vals = spark.createDataFrame(
        [(v,) for v in [0.5, 1.5, 1.7, None, 9.9, 1.1, 3.3, -0.4]],
        "value double",
    )
    want = {
        (r.bucket, r.lo, r.hi, r.n)
        for r in numeric_histogram(all_vals, "value", 2.0).collect()
    }
    got = {
        (r.bucket, r.lo, r.hi, r.n)
        for r in VersionedTable(spark, hp).read().collect()
    }
    assert got == want

    # the equi-depth read-off: quantiles derived from the MAINTAINED
    # store are bitwise the quantiles from the batch histogram — the
    # "approximate equi-depth on ingest, no history rescan" contract
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        histogram_quantiles,
    )

    fracs = [0.25, 0.5, 0.9]
    q_stream = {
        r.frac: r.qvalue
        for r in histogram_quantiles(
            VersionedTable(spark, hp).read(), fracs
        ).collect()
    }
    q_batch = {
        r.frac: r.qvalue
        for r in histogram_quantiles(
            numeric_histogram(all_vals, "value", 2.0), fracs
        ).collect()
    }
    assert q_stream == q_batch


def test_distinct_bitmap_ingest_stream_exact_counts(spark, tmp_path):
    """Streaming bitmap maintenance == exact COUNT(DISTINCT) over
    everything ever ingested, per key and globally; re-ingested ids are
    OR-no-ops."""
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        bitmap_distinct_counts,
        distinct_bitmap_ingest_stream,
    )

    src = str(tmp_path / "src")
    st = str(tmp_path / "store")

    def write(rows):
        spark.createDataFrame(rows, "day string, user_id long").write.mode(
            "append"
        ).parquet(src)

    def stream():
        return spark.readStream.schema("day string, user_id long").parquet(src)

    write([("d1", 1), ("d1", 2), ("d1", 1), ("d2", 70000)])
    distinct_bitmap_ingest_stream(
        stream(), st, str(tmp_path / "ck"), key_cols=("day",)
    )
    # batch 2 re-ingests user 1 on d1 (no-op) and adds new ids
    write([("d1", 1), ("d1", 3), ("d2", 2)])
    distinct_bitmap_ingest_stream(
        stream(), st, str(tmp_path / "ck"), key_cols=("day",)
    )

    stored = VersionedTable(spark, st).read()
    got = {
        (r.day, r.n_distinct)
        for r in bitmap_distinct_counts(stored, ("day",)).collect()
    }
    assert got == {("d1", 3), ("d2", 2)}


def test_token_counts_ingest_stream_exact(spark, tmp_path):
    """Streaming exact count maintenance == batch GROUP BY count over
    everything ever ingested; CMS estimates over the same stream never
    underestimate these exact counts (the paired exact/sketch contract)."""
    from f1_data_engineering_machine_learning_spark.dataops.heavyhitters import (
        cms_estimate,
    )
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        cms_ingest_stream,
        token_counts_ingest_stream,
    )

    src = str(tmp_path / "src")
    st = str(tmp_path / "counts")
    sk = str(tmp_path / "sketch")

    def write(rows):
        spark.createDataFrame([(t,) for t in rows], "token string").write.mode(
            "append"
        ).parquet(src)

    def stream():
        return spark.readStream.schema("token string").parquet(src)

    write(["a", "b", "a", None])
    token_counts_ingest_stream(stream(), st, str(tmp_path / "ck1"))
    cms_ingest_stream(stream(), sk, str(tmp_path / "ck2"), depth=3, width=32)
    write(["a", "c"])
    token_counts_ingest_stream(stream(), st, str(tmp_path / "ck1"))
    cms_ingest_stream(stream(), sk, str(tmp_path / "ck2"), depth=3, width=32)

    exact = {
        (r.item, r.cnt) for r in VersionedTable(spark, st).read().collect()
    }
    assert exact == {("a", 3), ("b", 1), ("c", 1)}
    items = spark.createDataFrame([("a",), ("b",), ("c",)], "token string")
    est = {
        r.token: r.cms_estimate
        for r in cms_estimate(
            VersionedTable(spark, sk).read(), items, "token", depth=3, width=32
        ).collect()
    }
    want = dict((i, c) for i, c in exact)
    assert all(est[t] >= want[t] for t in want)  # CM never underestimates


def test_histogram_ingest_stream_keyed_per_group(spark, tmp_path):
    """key_cols= maintains one independent histogram per key: the store
    equals the keyed batch histogram over everything ingested, and
    per-key quantiles read off the maintained store are bitwise the
    batch read-off."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        histogram_quantiles,
        numeric_histogram,
    )
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        histogram_ingest_stream,
    )

    src = str(tmp_path / "src")
    hp = str(tmp_path / "hist")

    def write(rows):
        spark.createDataFrame(rows, "lang string, value double").write.mode(
            "append"
        ).parquet(src)

    def stream():
        return spark.readStream.schema("lang string, value double").parquet(src)

    write([("en", 0.5), ("en", 1.5), ("fr", 9.9), ("fr", 1.7)])
    histogram_ingest_stream(
        stream(), hp, str(tmp_path / "ck"), bucket_width=2.0, key_cols=("lang",)
    )
    write([("en", 1.1), ("de", 3.3)])
    histogram_ingest_stream(
        stream(), hp, str(tmp_path / "ck"), bucket_width=2.0, key_cols=("lang",)
    )

    all_rows = spark.createDataFrame(
        [("en", 0.5), ("en", 1.5), ("fr", 9.9), ("fr", 1.7), ("en", 1.1), ("de", 3.3)],
        "lang string, value double",
    )
    want = {
        (r.lang, r.bucket, r.lo, r.hi, r.n)
        for r in numeric_histogram(
            all_rows, "value", 2.0, key_cols=["lang"]
        ).collect()
    }
    stored = VersionedTable(spark, hp).read()
    got = {(r.lang, r.bucket, r.lo, r.hi, r.n) for r in stored.collect()}
    assert got == want

    fracs = [0.5, 1.0]
    q_stream = {
        (r.lang, r.frac): r.qvalue
        for r in histogram_quantiles(stored, fracs, key_cols=["lang"]).collect()
    }
    q_batch = {
        (r.lang, r.frac): r.qvalue
        for r in histogram_quantiles(
            numeric_histogram(all_rows, "value", 2.0, key_cols=["lang"]),
            fracs,
            key_cols=["lang"],
        ).collect()
    }
    assert q_stream == q_batch


def test_sample_ingest_stream_equals_batch_bottomk(spark, tmp_path):
    """The maintained bottom-k sample == the batch sample over everything
    ever ingested — BITWISE (determinism + mergeability), with exactly k
    rows of state once more than k keys have flowed."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        bottomk_sample,
    )
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        sample_ingest_stream,
    )

    src = str(tmp_path / "src")

    def write(lo, hi):
        spark.range(lo, hi).selectExpr(
            "id AS doc_id", "CAST(id AS STRING) AS text"
        ).write.mode("append").parquet(src)

    def stream():
        return spark.readStream.schema("doc_id long, text string").parquet(src)

    write(0, 300)
    sample_ingest_stream(stream(), str(tmp_path / "s"), str(tmp_path / "ck"), k=25)
    write(300, 700)
    sample_ingest_stream(stream(), str(tmp_path / "s"), str(tmp_path / "ck"), k=25)

    stored = {
        (r.doc_id, r.text)
        for r in VersionedTable(spark, str(tmp_path / "s")).read().collect()
    }
    batch = spark.range(0, 700).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS text"
    )
    want = {(r.doc_id, r.text) for r in bottomk_sample(batch, "doc_id", 25).collect()}
    assert stored == want and len(stored) == 25


def test_sample_ingest_stream_grouped_per_language(spark, tmp_path):
    """group_cols= maintains one k-row sample per group: the store
    bitwise-equals the batch grouped sample over everything ingested,
    with k rows per group."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        grouped_bottomk_sample,
    )
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        sample_ingest_stream,
    )

    src = str(tmp_path / "src")

    def write(lo, hi):
        spark.range(lo, hi).selectExpr(
            "id AS doc_id",
            "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'fr' "
            "ELSE 'de' END AS lang",
        ).write.mode("append").parquet(src)

    def stream():
        return spark.readStream.schema("doc_id long, lang string").parquet(src)

    write(0, 200)
    sample_ingest_stream(
        stream(), str(tmp_path / "s"), str(tmp_path / "ck"),
        k=8, group_cols=("lang",),
    )
    write(200, 500)
    sample_ingest_stream(
        stream(), str(tmp_path / "s"), str(tmp_path / "ck"),
        k=8, group_cols=("lang",),
    )

    stored = {
        (r.lang, r.doc_id)
        for r in VersionedTable(spark, str(tmp_path / "s")).read().collect()
    }
    batch = spark.range(0, 500).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'fr' "
        "ELSE 'de' END AS lang",
    )
    want = {
        (r.lang, r.doc_id)
        for r in grouped_bottomk_sample(batch, "doc_id", 8, ["lang"]).collect()
    }
    assert stored == want and len(stored) == 24  # 8 per language


def test_kmv_estimate_reads_off_maintained_sample_store(spark, tmp_path):
    """The maintained bottom-k sample store IS the KMV sketch state:
    running bottomk_distinct_estimate / grouped_bottomk_distinct_estimate
    over the store equals — BITWISE — running them over everything ever
    ingested (the store's k rows are exactly the k smallest hashes of
    history, and the estimator only reads h_(k)). Continuous distinct
    counting falls out of the sample stream for free: no second sketch
    store, no history rescan."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        bottomk_distinct_estimate,
        grouped_bottomk_distinct_estimate,
    )
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        sample_ingest_stream,
    )

    src = str(tmp_path / "src")

    def write(lo, hi):
        spark.range(lo, hi).selectExpr(
            "id AS doc_id",
            "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'fr' END AS lang",
        ).write.mode("append").parquet(src)

    def stream():
        return spark.readStream.schema("doc_id long, lang string").parquet(src)

    for lo, hi in [(0, 400), (400, 900), (900, 1500)]:
        write(lo, hi)
        sample_ingest_stream(
            stream(), str(tmp_path / "s"), str(tmp_path / "ck"),
            k=32, group_cols=("lang",),
        )

    store = VersionedTable(spark, str(tmp_path / "s")).read()
    history = spark.range(0, 1500).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'fr' END AS lang",
    )
    got = {
        r.lang: (r.n_seen, r.estimate)
        for r in grouped_bottomk_distinct_estimate(
            store, "doc_id", 32, ["lang"]
        ).collect()
    }
    want = {
        r.lang: (r.n_seen, r.estimate)
        for r in grouped_bottomk_distinct_estimate(
            history, "doc_id", 32, ["lang"]
        ).collect()
    }
    assert got == want and set(got) == {"en", "fr"}
    # unkeyed twin: one group's slice behaves identically
    solo_store = bottomk_distinct_estimate(
        store.filter("lang = 'en'"), "doc_id", 32
    ).collect()[0]
    solo_hist = bottomk_distinct_estimate(
        history.filter("lang = 'en'"), "doc_id", 32
    ).collect()[0]
    assert (solo_store.n_seen, solo_store.estimate) == (
        solo_hist.n_seen,
        solo_hist.estimate,
    )


def test_weighted_sample_ingest_stream_equals_batch(spark, tmp_path):
    """The maintained A-ES weighted sample == the batch weighted sample
    over everything ever ingested — BITWISE (the u^(1/w) key is pure
    row content, so top-k by it merges like bottom-k) — both unkeyed
    and per-group; zero/negative weights never enter."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        weighted_sample,
    )
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        weighted_sample_ingest_stream,
    )

    src = str(tmp_path / "src")

    def mk(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS doc_id",
            "CASE WHEN id % 10 = 0 THEN 0.0 ELSE CAST(1 + id % 7 AS DOUBLE) END"
            " AS weight",
            "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'fr' END AS lang",
        )

    for lo, hi in [(0, 500), (500, 1200)]:
        mk(lo, hi).write.mode("append").parquet(src)
        weighted_sample_ingest_stream(
            spark.readStream.schema(
                "doc_id long, weight double, lang string"
            ).parquet(src),
            str(tmp_path / "s"),
            str(tmp_path / "ck"),
            k=40,
        )
        weighted_sample_ingest_stream(
            spark.readStream.schema(
                "doc_id long, weight double, lang string"
            ).parquet(src),
            str(tmp_path / "sg"),
            str(tmp_path / "ckg"),
            k=15,
            group_cols=("lang",),
        )

    history = mk(0, 1200)
    stored = {
        r.doc_id for r in VersionedTable(spark, str(tmp_path / "s")).read().collect()
    }
    want = {
        r.doc_id
        for r in weighted_sample(history, "doc_id", "weight", 40).collect()
    }
    assert stored == want and len(stored) == 40
    assert not any(d % 10 == 0 for d in stored)  # zero weights excluded
    stored_g = {
        (r.lang, r.doc_id)
        for r in VersionedTable(spark, str(tmp_path / "sg")).read().collect()
    }
    want_g = {
        (r.lang, r.doc_id)
        for r in weighted_sample(
            history, "doc_id", "weight", 15, by=["lang"]
        ).collect()
    }
    assert stored_g == want_g and len(stored_g) == 30


def test_misra_gries_ingest_stream_bounds_and_state(spark, tmp_path):
    """Streaming Misra-Gries maintenance: after multiple batches of a
    skewed token stream, the store holds <= k items + the decrement
    row, and the classical guarantees hold against EXACT counts over
    everything ever ingested: stored <= true <= stored + D for every
    stored item, and every item with true > D is present — in
    particular the planted heavy hitters. A fresh-checkpoint replay
    with the same app_id is a no-op (txn skip)."""
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        MG_DECR_KEY,
        misra_gries_ingest_stream,
    )

    import random

    rng = random.Random(37)
    src = str(tmp_path / "src")
    st = str(tmp_path / "store")
    k = 8

    def batch(n):
        rows = []
        for _ in range(n):
            r = rng.random()
            if r < 0.3:
                rows.append("hot-a")      # ~30% share
            elif r < 0.5:
                rows.append("hot-b")      # ~20% share
            else:
                rows.append(f"tail{rng.randrange(200):03d}")
        return rows

    def write(rows):
        spark.createDataFrame([(t,) for t in rows], "token string").write.mode(
            "append"
        ).parquet(src)

    def stream():
        return spark.readStream.schema("token string").parquet(src)

    history = []
    for _ in range(3):
        b = batch(400)
        history.extend(b)
        write(b)
        misra_gries_ingest_stream(stream(), st, str(tmp_path / "ck1"), k=k)

    store = {r.item: r.cnt for r in VersionedTable(spark, st).read().collect()}
    decr = store.pop(MG_DECR_KEY)
    assert len(store) <= k
    assert decr >= 0
    true = {}
    for t in history:
        true[t] = true.get(t, 0) + 1
    for item, cnt in store.items():
        assert cnt <= true[item] <= cnt + decr, (item, cnt, true[item], decr)
    for item, n in true.items():
        if n > decr:
            assert item in store, (item, n, decr)
    assert "hot-a" in store and "hot-b" in store
    # MG error bound: total decrement <= n / (k+1)
    assert decr <= len(history) / (k + 1) + 1e-9

    # fresh checkpoint, same app_id: replayed batches skip via txn
    misra_gries_ingest_stream(stream(), st, str(tmp_path / "ck2"), k=k)
    again = {r.item: r.cnt for r in VersionedTable(spark, st).read().collect()}
    assert again == {**store, MG_DECR_KEY: decr}


def test_misra_gries_ingest_stream_keyed_per_group(spark, tmp_path):
    """Keyed MG maintenance (key_cols=): one independent k-counter
    summary per group, each with its own decrement row — per-language
    heavy hitters on ingest. All classical invariants hold PER GROUP
    against exact per-group history counts, and state is bounded by
    groups x (k+1)."""
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        MG_DECR_KEY,
        misra_gries_ingest_stream,
    )

    import random

    rng = random.Random(43)
    src = str(tmp_path / "src")
    st = str(tmp_path / "store")
    k = 4
    langs = ["en", "de", "fr"]

    def batch(n):
        rows = []
        for _ in range(n):
            lang = rng.choice(langs)
            r = rng.random()
            tok = f"hot-{lang}" if r < 0.35 else f"t{rng.randrange(60):02d}"
            rows.append((lang, tok))
        return rows

    def write(rows):
        spark.createDataFrame(rows, "lang string, token string").write.mode(
            "append"
        ).parquet(src)

    def stream():
        return spark.readStream.schema("lang string, token string").parquet(src)

    history = []
    for _ in range(3):
        b = batch(300)
        history.extend(b)
        write(b)
        misra_gries_ingest_stream(
            stream(), st, str(tmp_path / "ck1"), k=k, key_cols=("lang",)
        )

    rows = VersionedTable(spark, st).read().collect()
    store: dict = {}
    decr: dict = {}
    for r in rows:
        if r.item == MG_DECR_KEY:
            decr[r.lang] = r.cnt
        else:
            store.setdefault(r.lang, {})[r.item] = r.cnt
    true: dict = {}
    for lang, tok in history:
        true.setdefault(lang, {})[tok] = true.get(lang, {}).get(tok, 0) + 1
    assert set(decr) == set(langs)
    for lang in langs:
        n_lang = sum(true[lang].values())
        assert len(store[lang]) <= k
        assert 0 <= decr[lang] <= n_lang / (k + 1) + 1e-9
        for item, cnt in store[lang].items():
            assert cnt <= true[lang][item] <= cnt + decr[lang]
        for item, n in true[lang].items():
            if n > decr[lang]:
                assert item in store[lang], (lang, item, n, decr[lang])
        assert f"hot-{lang}" in store[lang]


def test_misra_gries_ingest_stream_domain_guards(spark, tmp_path):
    """Hostile-input guards at the MG ingest seam: (1) rows whose item collides with the reserved accounting
    key ('__mg_decr__') are DROPPED — they may not corrupt a stored
    count or the error bound D; (2) rows with NULL group keys are
    dropped explicitly (the threshold join is null-unsafe, so without
    the guard they'd vanish from the summary while still emitting a
    spurious decrement row); (3) NULL items are dropped as in every
    summary-stream sibling. Invariants must hold on the CLEAN subset of
    history afterwards."""
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        MG_DECR_KEY,
        misra_gries_ingest_stream,
    )

    src = str(tmp_path / "src")
    st = str(tmp_path / "store")
    k = 4

    rows = (
        [("en", "hot")] * 30
        + [("en", MG_DECR_KEY)] * 50       # reserved-key collision: dropped
        + [(None, "hot")] * 40             # NULL group key: dropped
        + [("en", None)] * 20              # NULL item: dropped
        + [("en", f"t{i}") for i in range(6)]
    )
    spark.createDataFrame(rows, "lang string, token string").write.mode(
        "append"
    ).parquet(src)

    def stream():
        return spark.readStream.schema("lang string, token string").parquet(src)

    misra_gries_ingest_stream(
        stream(), st, str(tmp_path / "ck"), k=k, key_cols=("lang",)
    )
    got = VersionedTable(spark, st).read().collect()
    # no NULL-keyed group rows, no NULL items
    assert all(r.lang == "en" and r.item is not None for r in got)
    store = {r.item: r.cnt for r in got}
    decr = store.pop(MG_DECR_KEY)
    # the reserved key entry is PURE accounting: 106 dirty rows dropped,
    # clean history = 30x hot + 6 singletons -> hot must be stored with
    # the classical bound against CLEAN counts only
    assert len(store) <= k
    assert "hot" in store
    assert store["hot"] <= 30 <= store["hot"] + decr
    assert decr <= 36 / (k + 1) + 1e-9

    # unkeyed variant applies the same item-domain guards
    st2 = str(tmp_path / "store2")
    misra_gries_ingest_stream(stream(), st2, str(tmp_path / "ck2"), k=k)
    got2 = {r.item: r.cnt for r in VersionedTable(spark, st2).read().collect()}
    decr2 = got2.pop(MG_DECR_KEY)
    assert None not in got2
    assert "hot" in got2
    # unkeyed: NULL lang doesn't matter -> 70 clean 'hot' rows
    assert got2["hot"] <= 70 <= got2["hot"] + decr2


def test_quantile_ingest_stream_maintains_mrl_ladder(spark, tmp_path):
    """Streaming MRL quantile maintenance: the stored ladder must (a)
    satisfy the classical rank-error guarantee against EXACT full
    history after every run, (b) keep state within the k x (levels+2)
    formula, (c) replay deterministically (same batches -> same stored
    bits), and (d) drop NULL values and NULL group keys at ingest."""
    import bisect
    import random

    from f1_data_engineering_machine_learning_spark.dataops.quantiles import (
        CARRY_LEVEL,
        mrl_quantiles,
        mrl_rank_error_bound,
        mrl_state_bound,
    )
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        quantile_ingest_stream,
    )

    src = str(tmp_path / "src")
    st = str(tmp_path / "store")
    k = 64
    rng = random.Random(31)
    history = []
    batches = []

    def write(n, shift):
        vals = [rng.gauss(shift, 10) for _ in range(n)] + [None] * 3
        history.extend(v for v in vals if v is not None)
        batches.append(vals)
        spark.createDataFrame([(v,) for v in vals], "value double").write.mode(
            "append"
        ).parquet(src)

    def stream():
        return spark.readStream.schema("value double").parquet(src)

    # the value domain DRIFTS between runs — the case fixed-range
    # histograms can't serve
    write(900, 0)
    quantile_ingest_stream(stream(), st, str(tmp_path / "ck"), k=k)
    write(700, 500)
    quantile_ingest_stream(stream(), st, str(tmp_path / "ck"), k=k)

    rows = VersionedTable(spark, st).read().collect()
    max_level = max((r.level for r in rows), default=CARRY_LEVEL)
    assert len(rows) <= mrl_state_bound(k, max(max_level, 0))
    w = sum(1.0 if r.level == CARRY_LEVEL else 2.0 ** r.level for r in rows)
    assert w == len(history)

    sv = sorted(history)
    bound = mrl_rank_error_bound(k, max(max_level, 0), len(sv))
    summary = VersionedTable(spark, st).read()
    for r in mrl_quantiles(summary, [0.1, 0.5, 0.9]).collect():
        lo = bisect.bisect_left(sv, r.est)
        hi = bisect.bisect_right(sv, r.est)
        t = r.q * len(sv)
        err = 0.0 if lo <= t <= hi else min(abs(lo - t), abs(hi - t))
        assert err <= bound, (r.q, err, bound)

    # deterministic replay: the SAME two-batch sequence into a fresh
    # store must produce the same stored bits (chunk boundaries depend
    # on the batch split, so the replay repeats the split, not a
    # one-shot ingest of the union)
    src2 = str(tmp_path / "src2")
    st2 = str(tmp_path / "store2")

    def replay(batch):
        spark.createDataFrame(
            [(v,) for v in batch], "value double"
        ).write.mode("append").parquet(src2)
        quantile_ingest_stream(
            spark.readStream.schema("value double").parquet(src2),
            st2,
            str(tmp_path / "ck2"),
            k=k,
        )

    replay(batches[0])
    replay(batches[1])
    got = sorted(map(tuple, VersionedTable(spark, st2).read().collect()))
    want = sorted(map(tuple, rows))
    assert got == want


def test_quantile_ingest_stream_keyed_per_group(spark, tmp_path):
    """key_cols: one independent ladder per group, per-group guarantee
    against each group's exact history, NULL-keyed rows dropped."""
    import bisect
    import random

    from f1_data_engineering_machine_learning_spark.dataops.quantiles import (
        CARRY_LEVEL,
        mrl_quantiles,
        mrl_rank_error_bound,
        mrl_state_bound,
    )
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )
    from f1_data_engineering_machine_learning_spark.streaming.jobs import (
        quantile_ingest_stream,
    )

    src = str(tmp_path / "src")
    st = str(tmp_path / "store")
    k = 32
    rng = random.Random(41)
    hist: dict = {"en": [], "fr": []}

    def write(n):
        rows = []
        for _ in range(n):
            g = rng.choice(["en", "fr"])
            v = rng.uniform(0, 100 if g == "en" else 10_000)
            hist[g].append(v)
            rows.append((g, v))
        rows.append((None, 1.0))
        spark.createDataFrame(rows, "lang string, value double").write.mode(
            "append"
        ).parquet(src)

    def stream():
        return spark.readStream.schema("lang string, value double").parquet(src)

    write(600)
    quantile_ingest_stream(
        stream(), st, str(tmp_path / "ck"), k=k, key_cols=("lang",)
    )
    write(500)
    quantile_ingest_stream(
        stream(), st, str(tmp_path / "ck"), k=k, key_cols=("lang",)
    )

    summary = VersionedTable(spark, st).read()
    rows = summary.collect()
    assert {r.lang for r in rows} == {"en", "fr"}
    per = {}
    for r in rows:
        per.setdefault(r.lang, []).append(r)
    ests = {}
    for r in mrl_quantiles(summary, [0.25, 0.5, 0.9], ["lang"]).collect():
        ests.setdefault(r.lang, {})[r.q] = r.est
    for g in ("en", "fr"):
        sv = sorted(hist[g])
        max_level = max((r.level for r in per[g]), default=CARRY_LEVEL)
        assert len(per[g]) <= mrl_state_bound(k, max(max_level, 0))
        w = sum(
            1.0 if r.level == CARRY_LEVEL else 2.0 ** r.level for r in per[g]
        )
        assert w == len(sv), g
        bound = mrl_rank_error_bound(k, max(max_level, 0), len(sv))
        for q, est in ests[g].items():
            lo = bisect.bisect_left(sv, est)
            hi = bisect.bisect_right(sv, est)
            t = q * len(sv)
            err = 0.0 if lo <= t <= hi else min(abs(lo - t), abs(hi - t))
            assert err <= bound, (g, q, err, bound)
