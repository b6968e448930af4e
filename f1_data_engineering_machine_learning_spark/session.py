"""SparkSession factory.

The reference builds its session at /root/reference/scripts/spark_ops.py:26-46
(Delta SQL extension + DeltaCatalog, otherwise stock defaults). Here the
builder is tuned for the engine's actual execution model:

- AQE on (runtime coalescing, skew-join handling) — at 100 TB the static
  shuffle-partition count is always wrong for some stage; AQE re-plans.
- ANSI off — the reference relies on permissive cast semantics
  (``COALESCE(INT(FLOAT(Position)), 99)`` over strings like ``"R"``,
  /root/reference/sql/feature_store_drivers.sql:5-6); ANSI mode would throw
  instead of yielding NULL.
- Session timezone pinned to UTC so timestamp semantics are host-independent
  (and match the DuckDB oracle, which treats parquet timestamps as naive).
- Arrow enabled for the pandas-UDF path and cheap ``toPandas`` boundaries.
- Dynamic partition overwrite — the parquet-native equivalent of Delta's
  ``replaceWhere`` slice overwrite (/root/reference/scripts/spark_ops.py:169-175)
  used by the incremental ingestor when delta-spark is unavailable.

Delta Lake is optional: if ``delta-spark`` is importable we configure the
extension exactly like the reference; otherwise everything falls back to
parquet (the driver's testdata is parquet anyway).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

#: Delta Lake integration classes (exactly the reference's pair,
#: /root/reference/scripts/spark_ops.py:39-41). The catalog implementation
#: lives under the ``sql.delta.catalog`` package — NOT ``sql.catalog`` —
#: a wrong value here breaks every catalog operation once Delta loads.
DELTA_SQL_EXTENSION = "io.delta.sql.DeltaSparkSessionExtension"
DELTA_CATALOG_CLASS = "org.apache.spark.sql.delta.catalog.DeltaCatalog"


def _default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")


def build_session(
    app_name: str = "f1_data_engineering_machine_learning_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Mirrors /root/reference/scripts/spark_ops.py:26-46 but with
    scale-oriented defaults; see module docstring for rationale.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or _default_master())
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at Spark's default (true): AQE then
        # refuses to coalesce below defaultParallelism, trading a few
        # near-empty tasks on tiny stages for guaranteed parallelism.
        # The size-derived alternative (false, "respect the advisory
        # size" — the tuning-guide production suggestion) was A/B'd as
        # the session default and REVERTED: AQE's byte-size heuristic
        # cannot see CPU DENSITY, so compute-dense small-byte stages
        # (pair enumeration, fuzzy string similarity, itemset mining)
        # coalesce to ONE task — measured 2-4x slower end-to-end
        # (similar_customer_names 2.26 -> 9.00 s, copurchase_triangles
        # 2.27 -> 4.21 s, part_association_rules 1.99 -> 3.67 s,
        # ngram_jaccard_pairs_docs 1.82 -> 3.45 s; stage traces show
        # (0+1)/1 vs (0+8)/8). The failure mode is scale-independent —
        # a 100 TB run has the same byte-thin/CPU-heavy stages — so the
        # env knob is for cluster-side experiments only.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # One bench/oracle session compiles ~4000 distinct whole-stage
        # codegen units across 206 query plans; the default 100-entry
        # generated-class cache thrashes, re-running Janino on every
        # re-execution of an evicted plan. 10k entries keeps every unit
        # of a full catalog session resident (metaspace cost is bounded:
        # 232 MB measured with the 100-entry cache and per-class
        # footprint is ~10-100 KB).
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "10000"),
        )
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Runtime semi-join reduction: when a selective dim-side filter
        # survives to a shuffle join, inject a Bloom filter of the dim's
        # join keys into the fact scan (Catalyst's InjectRuntimeFilter).
        # At 100 TB this is the difference between shuffling the whole
        # fact table and shuffling only rows that can possibly match —
        # the declarative counterpart of a hand-built bloom pre-join.
        # No effect on broadcast joins (DPP/broadcast already prunes).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Reliable checkpoints (operators/checkpoints.py::lineage_cut
        # when a checkpoint dir is set) are NOT deleted by Spark unless
        # this is on — long iterative trainings (BPE, CC, PageRank)
        # would otherwise accumulate unbounded checkpoint-dir storage,
        # one dir per lineage cut. GC-driven cleanup of out-of-scope
        # checkpointed RDDs bounds that to the live working set.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Long sessions (the 100+-query bench) generate thousands of
        # whole-stage-codegen classes; the JVM's default 240 MB reserved
        # code cache fills, JIT compilation stops, and later queries run
        # interpreted with random 3-30x wall-time spikes (measured here:
        # minhash 5.3s -> 48s deep into a session). 1 GB keeps JIT alive
        # for the whole catalog. (Oversizing the HEAP is the opposite of a
        # fix on this box: -Xmx48g measured 10-15x slower than 8g on the
        # same queries — first-touch/THP stalls dominate.)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JVM_OPTS", "-XX:ReservedCodeCacheSize=1g"
            ),
        )
    )

    delta_available = False
    try:  # pragma: no cover - depends on optional dependency
        from delta import configure_spark_with_delta_pip  # type: ignore

        builder = builder.config(
            "spark.sql.extensions", DELTA_SQL_EXTENSION
        ).config(
            "spark.sql.catalog.spark_catalog", DELTA_CATALOG_CLASS
        )
        delta_available = True
    except ImportError:
        pass

    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)

    if delta_available:  # pragma: no cover
        from delta import configure_spark_with_delta_pip

        return configure_spark_with_delta_pip(builder).getOrCreate()
    return builder.getOrCreate()


def delta_enabled(spark: SparkSession) -> bool:
    """True when the session was built with the Delta extension."""
    return "DeltaSparkSessionExtension" in (
        spark.conf.get("spark.sql.extensions", "") or ""
    )
