"""Streaming jobs: windowed aggregation + sessionization over the events
stream, each the streaming twin of a batch catalog query."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.functions import dsum


def read_event_stream(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """File-source stream over an events directory (parquet). A directory of
    parquet files is the local stand-in for Kafka: same DataFrame, same
    downstream plan."""
    schema = schema or (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    return spark.readStream.schema(schema).parquet(path)


def hourly_event_stats_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling 1-hour windows of count + deterministic value sum per
    event_type — streaming twin of catalog.hourly_event_stats. The
    watermark bounds aggregation state: late events beyond it are dropped
    (the late-data contract)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_ts"
            ),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_stats_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows by inactivity gap — the built-in
    ``session_window`` stateful operator (streaming twin of
    catalog.sessionize_events' lag/cumsum idiom)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )


def dedup_stream(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact-dedup: keep the first occurrence of each key within
    the watermark horizon (``dropDuplicates`` over a watermarked stream
    bounds the dedup state — without the watermark, state grows forever).
    The streaming twin of dataops.dedup.exact_dedup for the ingest path."""
    return events.withWatermark(ts_col, watermark).dropDuplicates(key_cols)


def dedup_stream_within_watermark(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming dedup for RETRIED records whose event times differ:
    ``dropDuplicatesWithinWatermark`` treats two rows with equal keys as
    duplicates whenever their event times land within the watermark delay
    of each other — the at-least-once-ingest case (producer retries stamp
    a fresh ts, so plain ``dropDuplicates(key + ts)`` would keep both,
    and ``dropDuplicates(key)`` without ts in the key could never expire
    state deterministically). State per key expires one watermark after
    its FIRST occurrence, so memory stays bounded by the horizon's key
    cardinality at any scale."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def click_attribution_stream(
    events: DataFrame,
    max_lag: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream join: each purchase attributed to the same user's
    clicks within ``max_lag`` before it — last-touch attribution as a
    STREAMING join. Both sides carry watermarks and the join condition
    time-bounds the click relative to the purchase, which is what lets the
    engine expire click state (an unbounded stream-stream join would hold
    every click forever; the time bound turns state into a sliding
    ``watermark + max_lag`` window). Batch twin: the same join on the
    static frames (parity-tested)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.col("event_id").alias("purchase_id"), "value")
        .withWatermark("ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("ts"))
        & (F.col("click_ts") >= F.col("ts") - F.expr(f"INTERVAL {max_lag}")),
        "inner",
    ).select("purchase_id", "user_id", "ts", "click_id", "click_ts", "value")


def unattributed_clicks_stream(
    events: DataFrame,
    max_lead: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream LEFT OUTER join: every click, with the user's first
    purchase within ``max_lead`` AFTER it when one exists, else NULLs —
    the conversion-funnel stream (unconverted clicks are the product
    signal, so an inner join is wrong). Outer semantics force the engine
    to hold each click until the watermark proves no matching purchase
    can still arrive (click_ts + max_lead + watermark), THEN emit the
    NULL row — so null emission is watermark-driven and state stays
    bounded. The time-bound on the purchase side is mandatory: Spark
    rejects an un-bounded outer stream-stream join outright because its
    state could never be evicted."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.col("event_id").alias("purchase_id"), "value")
        .withWatermark("ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("ts") >= F.col("click_ts"))
        & (F.col("ts") <= F.col("click_ts") + F.expr(f"INTERVAL {max_lead}")),
        "left_outer",
    ).select("click_id", "c_user", "click_ts", "purchase_id", "ts", "value")


def enrich_stream_with_dim(
    events: DataFrame,
    dim: DataFrame,
    on: str,
    dim_cols: list[str] | None = None,
    how: str = "left",
) -> DataFrame:
    """Stream-STATIC join: enrich a stream with a dimension table — the
    standard lookup shape (events x users, orders x products). The static
    side needs no watermark and holds no streaming state: Spark broadcasts
    it per micro-batch, so the join is stateless and the stream never
    blocks on the dim. The static side is re-read each micro-batch, which
    is what makes slowly-changing dims pick up updates between batches.
    Left join keeps events whose key is missing from the dim (enrichment
    must not drop facts). Batch twin: the identical join on static frames
    (parity-tested)."""
    d = dim.select(on, *(dim_cols or [c for c in dim.columns if c != on]))
    return events.join(F.broadcast(d), on, how)


#: RocksDB-backed streaming state (bundled with Spark since 3.2). The
#: default HDFS-backed provider keeps every key's state on the JVM heap —
#: fine for small windows, an OOM at 100 TB-scale key cardinality. RocksDB
#: spills state to local disk with incremental checkpointing; flipping the
#: provider changes NO query semantics, so jobs are written provider-
#: agnostic and the choice is a deployment conf.
ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state(spark: SparkSession, enabled: bool = True) -> None:
    """Switch stateful streaming queries started AFTER this call to the
    RocksDB state store (or back to the default)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    if enabled:
        spark.conf.set(key, ROCKSDB_STATE_PROVIDER)
    else:
        spark.conf.unset(key)


def foreach_batch_upsert(
    stream_df: DataFrame,
    path: str,
    keys: list[str],
    checkpoint_dir: str,
    output_mode: str = "update",
):
    """Streaming materialized view via ``foreachBatch`` + keyed upsert.

    Each micro-batch's changed rows are MERGEd into the target table on
    ``keys`` (plans/ingest.py::upsert_table — Delta MERGE when available,
    atomic parquet rewrite otherwise), so the table converges to the
    current aggregate state: the standard pattern for maintaining a
    queryable table from an ``update``-mode aggregation, which no built-in
    file sink supports (file sinks are append-only). The checkpoint makes
    delivery effectively-once: a replayed batch re-upserts the same keys
    idempotently. Runs with ``availableNow`` and blocks until drained.
    """
    from f1_data_engineering_machine_learning_spark.plans.ingest import upsert_table

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_table(batch_df.sparkSession, path, batch_df, keys)

    q = (
        stream_df.writeStream.foreachBatch(_sink)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_available_now(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain everything currently available through the streaming engine
    into an in-memory table and return it (test/backfill harness; a real
    deployment writes to a sink with a trigger instead). ``complete`` for
    aggregations; ``append`` for row-level operators (dedup, maps)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def quarantine_stream(
    stream_df: DataFrame,
    schema: str,
    json_col: str,
    good_path: str,
    dlq_path: str,
    checkpoint_dir: str,
):
    """Dead-letter-queue ingestion: parse a raw JSON-string stream against
    an EXPLICIT schema, route parseable rows (typed) to ``good_path`` and
    unparseable raw lines — with batch id and a reason stub — to
    ``dlq_path``, in the SAME micro-batch transaction scope. A 100 TB
    ingest must never crash on shard 40,001's malformed line (fail-stop),
    and must never silently drop it either (PERMISSIVE-and-forget): the
    DLQ is the auditable middle. Split rule: a row is BAD iff
    ``from_json`` returns NULL on a non-null input — schema drift,
    truncation, and junk all land there; re-processing the DLQ after a
    schema fix is replaying a normal stream.

    foreachBatch writes both sides from ONE cached micro-batch frame
    (one pass over the data). foreachBatch's replay contract is
    at-least-once — a crash between the writes and the checkpoint
    commit re-runs the batch — so both sides are made IDEMPOTENT per
    batch: each output is partitioned by ``batch_id`` and written with
    dynamic partition overwrite, so a replayed batch overwrites exactly
    its own partition instead of appending duplicates. That upgrades the
    end-to-end split to effectively-once; downstream readers see
    ``batch_id`` as an extra partition column on both paths.

    Detection detail: PERMISSIVE ``from_json`` never returns a NULL
    struct — malformed input yields a struct of NULL fields, silently
    indistinguishable from legitimate all-null JSON. The reliable
    channel is the corrupt-record column: the schema is extended with
    ``_corrupt_record string`` and a row is BAD iff that field is
    populated (covers junk AND per-field type mismatches)."""
    parsed = stream_df.select(
        F.col(json_col).alias("__raw"),
        F.from_json(
            F.col(json_col),
            f"{schema}, _corrupt_record string",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("__p"),
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            good = (
                batch_df.filter(F.col("__p._corrupt_record").isNull())
                .select("__p.*")
                .drop("_corrupt_record")
                .withColumn("batch_id", F.lit(batch_id).cast("long"))
            )
            bad = batch_df.filter(
                F.col("__p._corrupt_record").isNotNull()
            ).select(
                F.col("__raw").alias("raw"),
                F.lit("unparseable_json").alias("reason"),
                F.lit(batch_id).cast("long").alias("batch_id"),
            )
            # dynamic overwrite scoped to THIS batch's partition: replay
            # rewrites batch_id=<n> in place — idempotent, never appends
            # a duplicate copy of a replayed micro-batch
            (
                good.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(good_path)
            )
            if not bad.isEmpty():
                (
                    bad.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .parquet(dlq_path)
                )
        finally:
            batch_df.unpersist()

    q = (
        parsed.writeStream.foreachBatch(_sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def session_paths_stream(
    events: DataFrame,
    step_col: str = "event_type",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    sep: str = ">",
) -> DataFrame:
    """Streaming twin of operators/sessions.py::session_paths: per-user
    session windows (built-in ``session_window`` stateful operator)
    emitting each session's ORDERED step path. Ordering is pinned the
    same way as the batch operator — collect structs of
    ``(ts, event_id, step)`` and ``array_sort`` before joining — so a
    drained stream and the batch path extraction agree row for row
    (parity-tested; note the built-in closes a session at gap >= the
    threshold where the batch lag-idiom closes at gap > — identical for
    any data without exact-boundary gaps). The watermark bounds session
    state exactly as in ``session_stats_stream``."""
    item = F.struct(
        F.col("ts").alias("__ts"),
        F.col("event_id").alias("__tb"),
        F.col(step_col).cast("string").alias("__step"),
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(item)), lambda x: x["__step"]),
                sep,
            ).alias("path"),
            F.count(F.lit(1)).cast("long").alias("n_steps"),
        )
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "path",
            "n_steps",
        )
    )


def stream_to_versioned(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    app_id: str = "stream",
):
    """EXACTLY-ONCE streaming append into a versioned parquet table
    (plans/versioned.py) — the transactional-sink composition that
    foreachBatch alone cannot give: its replay contract is
    at-least-once, so a crash between the sink write and the checkpoint
    commit re-runs the batch. The table's manifest records the
    high-water ``batch_id`` per ``app_id`` (Delta's txn/appId
    protocol); a replayed batch's commit sees its id at-or-below the
    high water, cleans up its staged files, and leaves the table
    unchanged. End-to-end: source replay (checkpoint) x idempotent
    commit (manifest txn) = each micro-batch's rows appear exactly
    once, verified by a fresh-checkpoint full-replay test."""
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    spark = stream_df.sparkSession

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        t = VersionedTable(spark, table_path)
        try:
            t.commit(batch_df, mode="append", txn=(app_id, batch_id))
        except FileNotFoundError:
            t.commit(batch_df, mode="overwrite", txn=(app_id, batch_id))

    q = (
        stream_df.writeStream.foreachBatch(_sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def dedup_ingest_stream(
    docs_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    app_id: str = "dedup-ingest",
    compact_every: int | None = None,
    compact_files: int = 8,
):
    """Continuous corpus ingestion with EXACT dedup-on-ingest — the
    streaming twin of ``dataops.dedup.incremental_exact_dedup`` composed
    with the exactly-once versioned sink: each micro-batch (a) dedups
    WITHIN itself (keep min id per content fingerprint), (b) anti-joins
    its fingerprints against the corpus's stored ``fp`` column — the
    persistent dedup index, written at ingest for free, so only 16-byte
    keys are compared and bodies never shuffle — and (c) commits the
    survivors through the versioned table's txn protocol
    (``plans/versioned.py``), so a crash-replayed batch appears exactly
    once. Single-writer contract (one stream owns the table): the
    read-index-then-commit pair is not concurrency-safe across
    independent writers. Same txn caveat as ``stream_to_versioned``:
    restarting from a FRESH checkpoint reuses batch ids from 0, so use
    a new ``app_id`` when discarding a checkpoint.

    ``compact_every=N`` rewrites the table into ``compact_files`` files
    after every Nth batch (VersionedTable.compact): append-mode sinks
    otherwise accrete one file set per micro-batch and scan cost follows
    file count. Off by default — compaction cadence is an operational
    choice (it rewrites the full snapshot, so cadence should grow with
    table size or move to an out-of-band OPTIMIZE job at very large
    corpora)."""
    from f1_data_engineering_machine_learning_spark.dataops.text import (
        content_fingerprint,
    )
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    spark = docs_stream.sparkSession

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.withColumn("fp", content_fingerprint(text_col))
        keepers = b.groupBy("fp").agg(F.min(F.col(id_col)).alias(id_col))
        kept = b.join(keepers, [id_col, "fp"], "left_semi")
        t = VersionedTable(spark, table_path)
        # The except is scoped to t.read() ALONE: a FileNotFoundError
        # escaping from commit (or any later statement) must propagate,
        # never be misread as "table absent" and trigger an overwrite
        # that clobbers the existing corpus.
        try:
            existing = t.read().select("fp").distinct()
        except FileNotFoundError:
            existing = None
        if existing is None:
            committed = t.commit(kept, mode="overwrite", txn=(app_id, batch_id))
        else:
            survivors = kept.join(existing, "fp", "left_anti")
            committed = t.commit(survivors, mode="append", txn=(app_id, batch_id))
        # operational small-file hygiene: append-mode sinks accrete one
        # file set per micro-batch, so every Nth batch rewrites the
        # snapshot via VersionedTable.compact (row-identical; the txn
        # high-water rides the manifest, so replay protection survives).
        # Skipped when commit returned -1 (txn replay no-op): a
        # fresh-checkpoint full-source replay changes zero rows, so
        # rewriting the snapshot would only burn a version + IO.
        if (
            committed != -1
            and compact_every
            and batch_id % compact_every == compact_every - 1
        ):
            t.compact(num_files=compact_files)

    q = (
        docs_stream.writeStream.foreachBatch(_sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def near_dup_ingest_stream(
    docs_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    app_id: str = "near-dup-ingest",
    compact_every: int | None = None,
    compact_files: int = 8,
):
    """Continuous CURATION-on-ingest: the full dedup policy of
    ``dataops/curate.py`` applied to every micro-batch — (a) exact dedup
    within the batch (min id per content fingerprint), (b) MinHash-LSH
    near-dedup WITHIN the batch (verified Jaccard >= ``threshold``,
    connected components keep each cluster's min id — the adaptive CC
    solves micro-batch-sized graphs driver-side in milliseconds),
    (c) exact + near dedup AGAINST the already-ingested corpus
    (fingerprint anti-join; batch x corpus LSH candidates only, never
    corpus x corpus — ``incremental_minhash_dedup_pairs``), then
    (d) exactly-once txn append of the survivors — AND of their LSH
    band assignments into the companion index table at
    ``table_path + "__lshidx"``, so step (c)'s corpus side reads the
    STORED (id, band, bucket) index instead of re-MinHashing the whole
    corpus text every micro-batch: per-batch cost is batch-bounded (the
    index equi-join is the only corpus-scaled touch), which is what
    makes continuous ingest against a 100 TB corpus feasible. If the
    index table is absent while the corpus exists (pre-index deployment
    upgrading in place), the bands are derived inline ONCE for candidate
    generation and the full index is committed with that batch —
    subsequent batches use the store. Single-writer contract and
    fresh-checkpoint app_id caveat as ``dedup_ingest_stream``; both
    commits share the (app_id, batch_id) txn, docs table first, and the
    index commit is SELF-HEALING: besides the batch survivors' bands, a
    KEY-ONLY orphan sweep (ids in the committed docs table that are in
    neither the index nor this batch's survivors — column-pruned id
    scans, empty on every healthy batch) re-bands any committed-but-
    unindexed docs. A crash between the two commits therefore replays
    into an idempotent docs skip followed by an index commit that still
    finds the batch's docs via the sweep; orphans from a legacy damaged
    index heal the same way on the next batch. Corpus text is touched
    only on an actual recovery, never per healthy batch.

    ``compact_every=N`` rewrites BOTH tables (docs and index) into
    ``compact_files`` files after every Nth non-replayed batch — load-
    bearing for continuous operation, not just hygiene: each append
    commit accretes one file set, and since this sink READS both tables
    every batch (fp anti-join, index equi-join, orphan sweep), per-batch
    wall otherwise follows total file count. Measured in the 120-batch
    soak (PERF.md): uncompacted per-batch wall grew ~1.4x over
    120 batches purely from file accretion; with compact_every=10 it is
    trend-flat. Off by default, same cadence contract as
    ``dedup_ingest_stream``.

    The index is valid only for this job's LSH knobs (the minhash
    defaults: n_hashes=32, bands=8, k=3) — changing them requires
    rebuilding the index table."""
    from f1_data_engineering_machine_learning_spark.dataops.curate import (
        near_dup_clusters,
    )
    from f1_data_engineering_machine_learning_spark.dataops.dedup import (
        incremental_minhash_dedup_pairs,
        lsh_band_index,
        minhash_dedup_pairs,
    )
    from f1_data_engineering_machine_learning_spark.dataops.text import (
        content_fingerprint,
    )
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    spark = docs_stream.sparkSession

    idx_path = table_path + "__lshidx"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.withColumn("fp", content_fingerprint(text_col))
        keepers = b.groupBy("fp").agg(F.min(F.col(id_col)).alias(id_col))
        kept = b.join(keepers, [id_col, "fp"], "left_semi")
        pairs = minhash_dedup_pairs(
            kept, id_col, text_col, verify_threshold=threshold
        )
        labels = near_dup_clusters(pairs)
        losers = labels.filter(F.col("node") != F.col("label")).select(
            F.col("node").alias(id_col)
        )
        kept = kept.join(losers, id_col, "left_anti")
        t = VersionedTable(spark, table_path)
        ti = VersionedTable(spark, idx_path)
        # except scoped to t.read() alone (see dedup_ingest_stream): a
        # FNF escaping from a later statement — after `kept` has been
        # reassigned — must never re-commit with overwrite.
        try:
            corpus = t.read()
        except FileNotFoundError:
            corpus = None
        if corpus is None:
            t.commit(kept, mode="overwrite", txn=(app_id, batch_id))
            # first batch: the full index IS this batch's bands
            ti.commit(
                lsh_band_index(kept, id_col, text_col),
                mode="overwrite",
                txn=(app_id, batch_id),
            )
            return
        try:
            corpus_bands = ti.read()
        except FileNotFoundError:
            corpus_bands = None  # pre-index deployment: backfill below
        kept = kept.join(corpus.select("fp").distinct(), "fp", "left_anti")
        near = incremental_minhash_dedup_pairs(
            kept,
            corpus.select(id_col, text_col),
            id_col,
            text_col,
            verify_threshold=threshold,
            corpus_bands=corpus_bands,
        ).select(F.col("batch_id").alias(id_col)).distinct()
        # persist: survivors feeds BOTH the docs commit and the index
        # commit — without the cut the batch x corpus dedup pipeline
        # (the expensive per-batch work) would materialize twice
        survivors = kept.join(near, id_col, "left_anti").persist()
        try:
            committed = t.commit(
                survivors, mode="append", txn=(app_id, batch_id)
            )
            if corpus_bands is None:
                # one-time backfill: index the whole committed corpus
                ti.commit(
                    lsh_band_index(
                        t.read().select(id_col, text_col), id_col, text_col
                    ),
                    mode="overwrite",
                    txn=(app_id, batch_id),
                )
                return
            new_index = lsh_band_index(survivors, id_col, text_col)
            # SELF-HEALING index commit. Invariant: every id in the docs
            # table is banded in the index. A crash between the docs and
            # index commits breaks it — on replay the docs commit no-ops
            # via txn but `survivors` recomputes EMPTY (the fp anti-join
            # now sees the batch in the corpus), so an index built only
            # from the pipeline would permanently drop those band rows
            # and future near-dups of those docs would never be detected.
            # The orphan check below derives what the index is missing
            # from the COMMITTED docs table: ids in docs, not in the
            # index, not in this batch's survivors. It is KEY-ONLY
            # (column-pruned id scans on both sides — same cost class as
            # the fp anti-join above, never a per-batch corpus text
            # touch) and empty on every healthy batch; only an actual
            # recovery batch joins text back for the orphaned ids
            # (broadcast — orphans are batch-bounded) and re-bands just
            # those docs. Legacy damage (bands missing under an
            # already-recorded index txn) heals the same way on the
            # next batch.
            indexed_ids = corpus_bands.select(
                F.col("id").alias(id_col)
            ).distinct()
            orphan_ids = (
                t.read()
                .select(id_col)
                .join(indexed_ids, id_col, "left_anti")
                .join(survivors.select(id_col), id_col, "left_anti")
            )
            if orphan_ids.limit(1).count() > 0:
                orphan_docs = t.read().select(id_col, text_col).join(
                    F.broadcast(orphan_ids), id_col, "left_semi"
                )
                new_index = new_index.unionByName(
                    lsh_band_index(orphan_docs, id_col, text_col)
                )
            ti.commit(new_index, mode="append", txn=(app_id, batch_id))
            # file-accretion hygiene for BOTH tables — this sink reads
            # them every batch, so per-batch wall follows file count
            # without it (soak-measured ~1.4x drift over 120 batches).
            # Skipped on txn-replayed batches (committed == -1): a
            # replay changes zero rows.
            if (
                committed != -1
                and compact_every
                and batch_id % compact_every == compact_every - 1
            ):
                t.compact(num_files=compact_files)
                ti.compact(num_files=compact_files)
        finally:
            survivors.unpersist()

    q = (
        docs_stream.writeStream.foreachBatch(_sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _sketch_ingest_stream(
    items_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    build,
    merge,
    app_id: str,
):
    """Shared skeleton for MERGEABLE-summary maintenance on ingest
    (count-min sketch, Bloom filter, equi-width histogram): per
    micro-batch, ``build(batch_df)`` summarizes just the batch and
    ``merge(stored, delta)`` folds it into the store, which is
    txn-overwritten exactly once per (app_id, batch_id) — a
    crash-replayed batch skips at the versioned table, so the merge is
    applied exactly once. State is the summary itself (size-capped by
    the summary's construction), never item history: per-batch cost is
    one batch scan + a summary-sized merge, independent of total ingest
    volume. Single-writer contract as the other ingest sinks."""
    from f1_data_engineering_machine_learning_spark.plans.versioned import (
        VersionedTable,
    )

    spark = items_stream.sparkSession

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        delta = build(batch_df)
        t = VersionedTable(spark, store_path)
        try:
            stored = t.read()
        except FileNotFoundError:
            stored = None
        merged = delta if stored is None else merge(stored, delta)
        t.commit(merged, mode="overwrite", txn=(app_id, batch_id))

    q = (
        items_stream.writeStream.foreachBatch(_sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def cms_ingest_stream(
    items_stream: DataFrame,
    sketch_path: str,
    checkpoint_dir: str,
    item_col: str = "token",
    depth: int = 4,
    width: int = 512,
    app_id: str = "cms-ingest",
):
    """Continuous count-min sketch maintenance — the streaming shape of
    corpus frequency monitoring (trending tokens, hot keys) that never
    re-scans history: each micro-batch builds its own depth x width
    sketch (``dataops/heavyhitters.py::cms_build``) and MERGES it into
    the stored one by cell addition — the sketch's defining
    mergeability, already pinned by the batch tests. The sketch is only
    probe-compatible with the (depth, width) it was built with. Skeleton
    contract (exactly-once txn, bounded state): see
    ``_sketch_ingest_stream``."""
    from f1_data_engineering_machine_learning_spark.dataops.heavyhitters import (
        cms_build,
    )

    return _sketch_ingest_stream(
        items_stream,
        sketch_path,
        checkpoint_dir,
        build=lambda b: cms_build(b, item_col, depth, width),
        merge=lambda stored, delta: (
            stored.select("row", "bucket", "cnt")
            .unionByName(delta)
            .groupBy("row", "bucket")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        ),
        app_id=app_id,
    )


def bloom_ingest_stream(
    items_stream: DataFrame,
    bloom_path: str,
    checkpoint_dir: str,
    item_col: str = "token",
    n_bits: int = 4096,
    n_hashes: int = 4,
    app_id: str = "bloom-ingest",
):
    """Continuous Bloom-filter maintenance — the SET-membership sibling
    of ``cms_ingest_stream`` (same sparse set-bit representation as
    ``dataops/heavyhitters.py::bloom_build``): the new items' bits union
    into the stored filter (distinct of set-bit rows — the OR-merge the
    batch tests pin). The store is bounded by n_bits rows regardless of
    ingest volume, and a probe of anything ever ingested is always
    positive (bit union can only ADD bits). Same knob-compatibility
    contract as the CMS stream; skeleton contract: see
    ``_sketch_ingest_stream``."""
    from f1_data_engineering_machine_learning_spark.dataops.heavyhitters import (
        bloom_build,
    )

    return _sketch_ingest_stream(
        items_stream,
        bloom_path,
        checkpoint_dir,
        build=lambda b: bloom_build(b, item_col, n_bits, n_hashes),
        merge=lambda stored, delta: (
            stored.select("bit").unionByName(delta).distinct()
        ),
        app_id=app_id,
    )


def histogram_ingest_stream(
    items_stream: DataFrame,
    hist_path: str,
    checkpoint_dir: str,
    value_col: str = "value",
    bucket_width: float = 1.0,
    origin: float = 0.0,
    key_cols: tuple[str, ...] = (),
    app_id: str = "hist-ingest",
):
    """Continuous equi-WIDTH histogram maintenance — the drift-monitor
    shape on ingest: fixed-width buckets anchored at ``origin``
    (``dataops/quality.py::numeric_histogram``) are exactly what makes
    partial histograms composable, so each batch's histogram merges into
    the store by summing counts on the bucket id. (EXACT equi-DEPTH
    boundaries are deliberately NOT streamable — data-derived and
    non-mergeable; recompute batch-side via equidepth_histogram when
    exact boundaries must adapt. But bucket-width-bounded APPROXIMATE
    quantiles ARE readable off this maintained store at any time via
    ``dataops/quality.py::histogram_quantiles`` — no history rescan.)
    ``key_cols`` maintains one INDEPENDENT histogram per key (per
    language, per day — the per-segment drift monitor); merge sums on
    (key, bucket). Store size is bounded by keys x value-range /
    bucket_width. Skeleton contract: see ``_sketch_ingest_stream``."""
    from f1_data_engineering_machine_learning_spark.dataops.quality import (
        merge_numeric_histograms,
        numeric_histogram,
    )

    return _sketch_ingest_stream(
        items_stream,
        hist_path,
        checkpoint_dir,
        build=lambda b: numeric_histogram(
            b, value_col, bucket_width, origin, key_cols=key_cols
        ),
        merge=lambda stored, delta: merge_numeric_histograms(
            stored, delta, key_cols=key_cols
        ),
        app_id=app_id,
    )


def quantile_ingest_stream(
    values_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    value_col: str = "value",
    k: int = 256,
    key_cols: tuple[str, ...] = (),
    app_id: str = "mrl-ingest",
):
    """Continuous QUANTILE-summary maintenance over an UNKNOWN value
    range — the rank member of the summary-stream family
    (``dataops/quantiles.py``: deterministic MRL collapse ladder).
    The maintained histogram stream needs a fixed bucket width/origin
    up front; this one doesn't: each micro-batch builds its own ladder
    (batch-sized sort within groups) and ``mrl_merge`` folds it into
    the store binary-counter style — the ladder IS mergeable, so state
    stays ``k x (levels + 2)`` values per group (levels ~ log2(n / k))
    while the value domain drifts freely. Quantiles read off the store
    at any time via ``mrl_quantiles`` — no history rescan — with the
    classical rank-error guarantee ``levels * W / (2k) + k`` pinned in
    tests against exact history. Deterministic: the stream replays to
    the same stored bits (same batches -> same ladder). NULL values
    carry no rank and NULL group keys no identity — both dropped at
    ingest, as in the histogram / Misra-Gries siblings. ``key_cols``
    maintains one independent ladder per group (per-language length
    quantiles, per-source score quantiles — one shuffle on the group
    keys per batch). Skeleton contract (exactly-once txn, single
    writer): see ``_sketch_ingest_stream``."""
    from f1_data_engineering_machine_learning_spark.dataops.quantiles import (
        mrl_build,
        mrl_merge,
    )

    keys = list(key_cols)

    def _build(b: DataFrame) -> DataFrame:
        df = b.select(*keys, F.col(value_col).alias("value"))
        for c in keys:
            df = df.filter(F.col(c).isNotNull())
        return mrl_build(df, "value", k, keys or None)

    return _sketch_ingest_stream(
        values_stream,
        store_path,
        checkpoint_dir,
        build=_build,
        merge=lambda stored, delta: mrl_merge(stored, delta, k, keys or None),
        app_id=app_id,
    )


def sample_ingest_stream(
    items_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    key_col: str = "doc_id",
    k: int = 1000,
    salt: str = "",
    group_cols: tuple[str, ...] = (),
    app_id: str = "sample-ingest",
):
    """Continuous fixed-size uniform sample maintenance — the streaming
    replacement for reservoir sampling, with none of its merge problems:
    the bottom-k-by-md5 sample (``dataops/sampling.py::bottomk_sample``)
    is DETERMINISTIC (membership = key bytes) and MERGEABLE
    (``bottomk(A ∪ B) == bottomk(bottomk(A) ∪ bottomk(B))``), so each
    batch folds in with exactly k rows of state and the maintained store
    equals the batch sample over everything ever ingested — bitwise, not
    statistically, PROVIDED ``key_col`` is unique per row (duplicate
    keys tie at the k-boundary and the cut within the tie is
    partition-dependent; see ``bottomk_sample``). The always-fresh
    eval/profiling subset at any ingest volume. ``group_cols`` maintains
    one k-row sample PER GROUP (per language/source — the stratified
    eval set, k x groups state) via ``grouped_bottomk_sample``, same
    bitwise contract per group, same unique-key proviso. The store is
    ALSO the KMV sketch state: ``bottomk_distinct_estimate`` /
    ``grouped_bottomk_distinct_estimate`` over the store equal —
    bitwise — the same estimators over everything ever ingested
    (pinned by test), so continuous (per-group) distinct counting
    falls out of the sample stream for free.
    Skeleton contract: see ``_sketch_ingest_stream``."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        bottomk_sample,
        grouped_bottomk_sample,
    )

    if group_cols:
        gc = list(group_cols)

        def _build(b):
            return grouped_bottomk_sample(b, key_col, k, gc, salt)

        def _merge(stored, delta):
            return grouped_bottomk_sample(
                stored.unionByName(delta), key_col, k, gc, salt
            )

    else:

        def _build(b):
            return bottomk_sample(b, key_col, k, salt)

        def _merge(stored, delta):
            return bottomk_sample(stored.unionByName(delta), key_col, k, salt)

    return _sketch_ingest_stream(
        items_stream,
        store_path,
        checkpoint_dir,
        build=_build,
        merge=_merge,
        app_id=app_id,
    )


def weighted_sample_ingest_stream(
    items_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    key_col: str = "doc_id",
    weight_col: str = "weight",
    k: int = 1000,
    group_cols: tuple[str, ...] = (),
    app_id: str = "wsample-ingest",
):
    """Continuous WEIGHTED sample maintenance — the streaming twin of
    ``dataops/sampling.py::weighted_sample`` (Efraimidis-Spirakis A-ES),
    completing the sampling family's streaming column (next to uniform
    bottom-k). The A-ES sample key ``u^(1/w)`` is a pure function of
    row content (Knuth-hash uniform from the integer key, weight from
    the row), so top-k by it is MERGEABLE exactly like bottom-k:
    ``topk(A ∪ B) == topk(topk(A) ∪ topk(B))``, each batch folds in
    with k rows of state, and the maintained store equals the batch
    weighted sample over everything ever ingested — bitwise, under the
    same unique-key proviso as ``sample_ingest_stream`` (equal-score
    ties at the k boundary, i.e. duplicate (key, weight) rows, cut
    arbitrarily). ``group_cols`` maintains one weighted k-sample PER
    GROUP. Rows with weight <= 0 are excluded (A-ES domain). Skeleton
    contract: see ``_sketch_ingest_stream``."""
    from f1_data_engineering_machine_learning_spark.dataops.sampling import (
        weighted_sample,
    )

    by = list(group_cols) or None

    def _sample(df):
        return weighted_sample(df, key_col, weight_col, k, by=by).drop(
            "__skey"
        )

    return _sketch_ingest_stream(
        items_stream,
        store_path,
        checkpoint_dir,
        build=_sample,
        merge=lambda stored, delta: _sample(stored.unionByName(delta)),
        app_id=app_id,
    )


def distinct_bitmap_ingest_stream(
    items_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    id_col: str = "user_id",
    key_cols: tuple[str, ...] = (),
    app_id: str = "distinct-ingest",
):
    """Continuous EXACT distinct-count maintenance via Spark's bitmap
    aggregates — the streaming twin of the exact mergeable rollup
    (catalog.weekly_distinct_users_bitmap, the bitmap_construct_agg /
    bitmap_or_agg / bitmap_count idiom): per batch, (key, bucket)
    bitmaps of the batch's ids build map-side and OR-merge into the
    store, so "distinct ids ever seen (per key)" is maintained without
    ever re-scanning history AND without approximation — the exact
    trade vs an HLL store, right when ids are dense integers. Store
    state is O(id-range / 64) bits per key, independent of row volume;
    re-ingesting a known id is a no-op under OR. Read counts back with
    ``bitmap_distinct_counts``. Skeleton contract (exactly-once txn,
    single writer): see ``_sketch_ingest_stream``.

    Scale notes: (1) the dense-id contract is load-bearing — scattered
    64-bit ids put ~one id per bitmap bucket and the exact store loses
    to HLL; remap sparse ids through a dense dictionary first. (2) The
    skeleton overwrites the whole store per batch, which is right for
    the fixed-size sketches but rewrites untouched keys here; at very
    large key spaces, compose the same build/merge with the IVM
    affected-groups-only merge (plans/ivm.py) so a batch rewrites only
    the (key, bucket) groups it touched."""
    keys = list(key_cols)

    def build(b: DataFrame) -> DataFrame:
        return (
            b.select(
                *keys,
                F.expr(f"bitmap_bucket_number({id_col})").alias("bucket"),
                F.expr(f"bitmap_bit_position({id_col})").alias("pos"),
            )
            .groupBy(*keys, "bucket")
            .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
        )

    def merge(stored: DataFrame, delta: DataFrame) -> DataFrame:
        return (
            stored.select(*keys, "bucket", "bm")
            .unionByName(delta)
            .groupBy(*keys, "bucket")
            .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        )

    return _sketch_ingest_stream(
        items_stream, store_path, checkpoint_dir, build, merge, app_id
    )


def bitmap_distinct_counts(
    stored: DataFrame, key_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Exact distinct counts from a ``distinct_bitmap_ingest_stream``
    store: sum of per-bucket bitmap_count, grouped by the same keys the
    store was built with (buckets partition the id space, so their
    counts add exactly)."""
    keys = list(key_cols)
    agg = F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_distinct")
    return stored.groupBy(*keys).agg(agg) if keys else stored.agg(agg)


MG_DECR_KEY = "__mg_decr__"


def misra_gries_ingest_stream(
    items_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    item_col: str = "token",
    k: int = 64,
    key_cols: tuple[str, ...] = (),
    app_id: str = "mg-ingest",
):
    """Continuous Misra-Gries heavy-hitter maintenance — the k-counter
    deterministic summary's streaming twin, completing the frequency
    column of the summary-stream family (CMS = fixed-size probabilistic,
    token_counts = exact-but-vocabulary-sized, MG = fixed-size
    DETERMINISTIC bound; batch op ``heavyhitters.misra_gries_candidates``).

    Store layout: at most ``k`` ``(item, cnt)`` rows plus ONE reserved
    accounting row (``item = '__mg_decr__'``) carrying the cumulative
    decrement ``D``. Invariants maintained for every item after every
    batch (the classical guarantees, surviving merge by the Agarwal et
    al. "Mergeable Summaries" sum-then-subtract-(k+1)-th rule):

    - ``stored_cnt <= true_cnt <= stored_cnt + D`` — so stored counts
      never overestimate and the error bound rides IN the store;
    - any item with ``true_cnt > D`` is guaranteed present (in
      particular every item with frequency share > 1/(k+1) of the
      ingested total).

    Each merge is one summary-sized groupBy-sum, a top-(k+1) threshold
    probe (TakeOrdered over <= k + batch-distinct rows), and a
    broadcast subtract — per-batch cost tracks batch + summary size,
    never history. Items are keyed as strings; input items equal to the
    reserved accounting key and rows with NULL items or NULL group keys
    are dropped at ingest (see ``_counts``). Deterministic: threshold
    ties break on
    (cnt DESC, item). ``key_cols`` maintains one independent k-counter
    summary PER GROUP (per-language heavy hitters — the keyed-CMS /
    keyed-histogram idiom): every invariant above holds per group with
    that group's own decrement row, state is groups x (k+1) rows, and
    the threshold probe becomes a WindowGroupLimit top-(k+1) per group
    — one shuffle on the group keys. Skeleton contract (exactly-once
    txn, single writer): see ``_sketch_ingest_stream``."""

    keys = list(key_cols)
    cols = [*keys, "item", "cnt"]
    empty_schema = (
        ", ".join(f"{c} string" for c in keys) + (", " if keys else "")
        + "item string, cnt bigint"
    )

    def _counts(b: DataFrame) -> DataFrame:
        # Domain guards, applied symmetrically at EVERY ingest point so
        # the invariants can't be corrupted by hostile input:
        # - NULL items are dropped (as in every summary-stream sibling);
        # - NULL group keys are dropped EXPLICITLY: the threshold join
        #   below is null-unsafe on ``keys``, so without this filter a
        #   NULL-keyed group would silently lose its rows each batch
        #   while still emitting a spurious decrement row. Callers that
        #   need a NULL bucket should coalesce keys upstream.
        # - items equal to the reserved accounting key (MG_DECR_KEY,
        #   '__mg_decr__') are dropped: the reserved key lives in the
        #   item domain, and a real token colliding with it would
        #   corrupt both its stored count and the error bound D.
        out = b.select(
            *[F.col(c).cast("string").alias(c) for c in keys],
            F.col(item_col).cast("string").alias("item"),
        ).filter(F.col("item").isNotNull() & (F.col("item") != MG_DECR_KEY))
        for c in keys:
            out = out.filter(F.col(c).isNotNull())
        return out.groupBy(*keys, "item").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )

    def _summarize(counts: DataFrame, decr: DataFrame) -> DataFrame:
        """Prune a (*keys, item, cnt) table to the MG invariant per
        group: subtract the group's (k+1)-th largest count (0 if <= k
        items) from its rows, drop the non-positive, and fold the
        subtraction into the group's decrement row. ``decr`` holds
        0..n prior decrement rows (summed here, per group)."""
        if keys:
            from pyspark.sql import Window

            win = Window.partitionBy(*keys).orderBy(F.desc("cnt"), "item")
            thr = (
                counts.withColumn("__rn", F.row_number().over(win))
                .filter(F.col("__rn") <= k + 1)
                .groupBy(*keys)
                .agg(
                    F.when(F.count(F.lit(1)) > k, F.min("cnt"))
                    .otherwise(F.lit(0))
                    .cast("bigint")
                    .alias("__c")
                )
            )
            joined = counts.join(F.broadcast(thr), keys)
        else:
            thr = (
                counts.orderBy(F.desc("cnt"), "item")
                .limit(k + 1)
                .agg(
                    F.when(F.count(F.lit(1)) > k, F.min("cnt"))
                    .otherwise(F.lit(0))
                    .cast("bigint")
                    .alias("__c")
                )
            )
            joined = counts.join(F.broadcast(thr))
        pruned = joined.select(
            *keys,
            "item",
            (F.col("cnt") - F.col("__c")).cast("bigint").alias("cnt"),
        ).filter(F.col("cnt") > 0)
        decr_row = (
            decr.select(*cols)
            .unionByName(
                thr.select(
                    *keys,
                    F.lit(MG_DECR_KEY).alias("item"),
                    F.col("__c").alias("cnt"),
                )
            )
            .groupBy(*keys, "item")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )
        return pruned.unionByName(decr_row)

    def build(b: DataFrame) -> DataFrame:
        no_decr = b.sparkSession.createDataFrame([], empty_schema)
        return _summarize(_counts(b), no_decr)

    def merge(stored: DataFrame, delta: DataFrame) -> DataFrame:
        is_decr = F.col("item") == MG_DECR_KEY
        merged = (
            stored.select(*cols)
            .filter(~is_decr)
            .unionByName(delta.filter(~is_decr).select(*cols))
            .groupBy(*keys, "item")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )
        decrs = (
            stored.select(*cols)
            .filter(is_decr)
            .unionByName(delta.filter(is_decr).select(*cols))
        )
        return _summarize(merged, decrs)

    return _sketch_ingest_stream(
        items_stream, store_path, checkpoint_dir, build, merge, app_id
    )


def token_counts_ingest_stream(
    items_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    item_col: str = "token",
    app_id: str = "token-counts-ingest",
):
    """Continuous EXACT frequency maintenance: per batch, group-count
    the items and merge into the stored (item, cnt) table by summing —
    the exact twin of ``cms_ingest_stream``, the same trade the
    equidepth map/rank arms make: exact state is bounded by DISTINCT
    items (a token vocabulary — fine whenever it fits a table), while
    CMS caps state at depth x width regardless of vocabulary for the
    unbounded case. Top-k trending reads are then one ORDER BY over the
    store. Skeleton contract (exactly-once txn, single writer):
    ``_sketch_ingest_stream``."""

    def build(b: DataFrame) -> DataFrame:
        return (
            b.select(F.col(item_col).alias("item"))
            .filter(F.col("item").isNotNull())
            .groupBy("item")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )

    def merge(stored: DataFrame, delta: DataFrame) -> DataFrame:
        return (
            stored.select("item", "cnt")
            .unionByName(delta)
            .groupBy("item")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )

    return _sketch_ingest_stream(
        items_stream, store_path, checkpoint_dir, build, merge, app_id
    )
