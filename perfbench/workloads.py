"""The three workloads. Each runs sequential ops from one client (a closed
loop) and keeps its op results for the checks, which run after the timed
passes.

- ``catalog_relational`` / ``catalog_dataops``: an op builds one catalog
  query's DataFrame and executes it into the ``noop`` sink. The op set is
  a fixed-size sample of the family, drawn by a hash of the query name so
  that it does not depend on the seed or on any query's speed; the seed
  sets the data and the order. Warm-up runs every op of the set once.
  After the timed passes, the checks collect the DataFrame each query's
  last measured op built and compare its rows.
- ``f1_medallion``: an op is one full pass of the F1 pipeline over the
  generated raw CSVs: ``build_bronze``, ``run_pipeline`` and an
  ``IncrementalIngestor`` top-up of the newest season's last dates.
  The pass is measured cold: there is no warm-up pass.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from contextlib import contextmanager

from tracing import Tracer

#: the tables the catalog reads, each a DuckDB view for the oracles
CATALOG_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def hash_sample(names, k: int) -> list[str]:
    """The k names with the smallest SHA-256 digest: a fixed sample that
    no name's content or speed chooses."""
    return sorted(names, key=lambda n: hashlib.sha256(n.encode()).hexdigest())[:k]


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class CatalogWorkload:
    """A fixed sample of one catalog family at one scale."""

    def __init__(self, name: str, sample_size: int, sf: float = 0.1):
        self.name = name
        self.sample_size = sample_size
        self.sf = sf
        self.order: list[str] = []
        self.data_dir = ""
        self.last_df: dict[str, object] = {}
        self.results: dict[str, object] = {}
        self.errors: dict[str, str] = {}
        self.warmup_s: dict[str, float] = {}

    def prepare(self, inputs, seed: int) -> None:
        self.data_dir = inputs.tables(seed, self.sf)
        family = inputs.split()["families"][self.name]
        self.order = hash_sample(family, self.sample_size)
        random.Random(seed).shuffle(self.order)

    def warmup(self, spark, tracer: Tracer) -> None:
        from f1_data_engineering_machine_learning_spark import catalog

        queries = catalog.queries()
        for name in self.order:
            t0 = time.perf_counter()
            try:
                _force(queries[name](spark, self.data_dir))
            except Exception as exc:  # noqa: BLE001 - counted as a failed op
                self.errors[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
            self.warmup_s[name] = time.perf_counter() - t0
            spark.catalog.clearCache()

    def run_pass(self, spark, tracer: Tracer, pass_no: int) -> list[tuple[str, float, bool]]:
        from f1_data_engineering_machine_learning_spark import catalog

        queries = catalog.queries()
        ops = []
        for name in self.order:
            op = f"{pass_no}:{name}"
            t0 = time.perf_counter()
            ok = True
            try:
                with tracer.span("op", op, tag_jobs=False):
                    with tracer.span("catalog.build", op):
                        df = queries[name](spark, self.data_dir)
                    with tracer.span("spark.write", op):
                        _force(df)
                self.last_df[name] = df
            except Exception as exc:  # noqa: BLE001 - counted as a failed op
                self.errors.setdefault(name, f"{type(exc).__name__}: {str(exc)[:300]}")
                ok = False
            ops.append((name, time.perf_counter() - t0, ok))
            spark.catalog.clearCache()
        return ops

    def check(self, spark) -> dict[str, str]:
        """Query name -> problem, for every op whose output is wrong. The
        rows checked are those of the last measured op's DataFrame, unless
        ``results`` already holds them."""
        import checks
        from f1_data_engineering_machine_learning_spark import catalog

        oracles = catalog.oracle_sql()
        con = checks.catalog_connection(self.data_dir, CATALOG_TABLES)
        problems = dict(self.errors)
        for name in self.order:
            if name in problems:
                continue
            try:
                if name not in self.results:
                    self.results[name] = self.last_df[name].toPandas()
            except Exception as exc:  # noqa: BLE001 - a failed collect fails the op
                problems[name] = f"collect error: {type(exc).__name__}: {str(exc)[:300]}"
                continue
            try:
                problem = checks.check_catalog_result(
                    con, oracles.get(name), self.results.get(name)
                )
            except Exception as exc:  # noqa: BLE001 - an oracle error fails the op
                problem = f"oracle error: {type(exc).__name__}: {str(exc)[:300]}"
            if problem:
                problems[name] = problem
        con.close()
        return problems


#: the newest season's last event dates topped up by the incremental path
INGEST_DATES = 2

#: run_pipeline's callees in call order, and the layer each one opens;
#: a layer's span runs until the next layer opens, so it covers the
#: write or collect that materialises the callee's frame
STAGE_MARKERS = [
    ("champions", "pipeline.champions"),
    ("event_dates", "plans.snapshot"),
    ("driver_feature_store", "plans.snapshot"),
    ("abt_champions", "pipeline.abt"),
    ("train_champion_model", "ml.train"),
    ("impute_sentinels", "ml.score"),
    ("top_entities_at", "pipeline.viz"),
]


def disk_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


@contextmanager
def stage_spans(tracer: Tracer, op: str, workdir: str):
    """Open a layer span at each of run_pipeline's stage callees. The
    callees are wrapped in the ``pipeline.run`` namespace only while the
    context is open; each closed span records the files under workdir."""
    from f1_data_engineering_machine_learning_spark.pipeline import run as prun

    current: list[int] = []

    def close() -> None:
        if current:
            idx = current.pop()
            tracer.end(idx)
            tracer.spans[idx]["files"], tracer.spans[idx]["bytes"] = disk_usage(workdir)

    def marker(fn, layer):
        def wrapped(*args, **kwargs):
            if not current or tracer.spans[current[0]]["name"] != layer:
                close()
                current.append(tracer.begin(layer, op))
            return fn(*args, **kwargs)

        return wrapped

    originals = {attr: getattr(prun, attr) for attr, _ in STAGE_MARKERS}
    for attr, layer in STAGE_MARKERS:
        setattr(prun, attr, marker(originals[attr], layer))
    try:
        yield
    finally:
        close()
        for attr, fn in originals.items():
            setattr(prun, attr, fn)


class F1Workload:
    """One op = one cold pass of the F1 medallion pipeline over the
    generated CSVs."""

    name = "f1_medallion"
    first_season = 2019
    last_season = 2025
    oot_year = 2023

    def __init__(self):
        self.raw_dir = ""
        self.work_root = ""
        self.passes: list[dict] = []
        self.errors: dict[str, str] = {}

    @property
    def csv_glob(self) -> str:
        return os.path.join(self.raw_dir, "*.csv")

    def prepare(self, inputs, seed: int) -> None:
        self.raw_dir = inputs.f1_csvs(seed, self.first_season, self.last_season)
        self.work_root = inputs.scratch("f1")

    def _workdir(self, name: str) -> str:
        path = os.path.join(self.work_root, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def warmup(self, spark, tracer: Tracer) -> None:
        """None: the pass is measured cold, as the pipeline runs as a batch job."""

    def run_pass(self, spark, tracer: Tracer, pass_no: int) -> list[tuple[str, float, bool]]:
        op = f"{pass_no}:pass"
        record = {"workdir": self._workdir(f"pass{pass_no}")}
        t0 = time.perf_counter()
        ok = True
        try:
            self._pass(spark, tracer, op, record)
        except Exception as exc:  # noqa: BLE001 - counted as a failed op
            self.errors[op] = f"{type(exc).__name__}: {str(exc)[:300]}"
            ok = False
        self.passes.append(record)
        return [(op, time.perf_counter() - t0, ok)]

    def _pass(self, spark, tracer: Tracer, op: str, record: dict) -> None:
        from f1_data_engineering_machine_learning_spark.pipeline import (
            driver_feature_snapshot,
            event_dates,
        )
        from f1_data_engineering_machine_learning_spark.pipeline.bronze import build_bronze
        from f1_data_engineering_machine_learning_spark.pipeline.run import run_pipeline
        from f1_data_engineering_machine_learning_spark.plans import IncrementalIngestor

        traced = tracer.sc is not None
        workdir = record["workdir"]
        with tracer.span("op", op, tag_jobs=False) as op_span:
            with tracer.span("pipeline.bronze", op):
                bronze = build_bronze(spark, self.csv_glob, f"{workdir}/bronze")
            with tracer.span("pipeline.run", op):
                if traced:
                    with stage_spans(tracer, op, workdir):
                        record["summary"] = run_pipeline(
                            spark, workdir, results=bronze, oot_year=self.oot_year
                        )
                else:
                    record["summary"] = run_pipeline(
                        spark, workdir, results=bronze, oot_year=self.oot_year
                    )
            with tracer.span("plans.ingest", op) as ingest_span:
                dates = [d for d in event_dates(bronze) if d.startswith(str(self.last_season))]
                record["ingest_dates"] = dates[-INGEST_DATES:]
                ingest_span["dates"] = len(record["ingest_dates"])
                IncrementalIngestor(
                    lambda d: driver_feature_snapshot(bronze, d),
                    f"{workdir}/feature_store_incremental",
                ).exec(record["ingest_dates"])
            if traced:
                op_span["files"], op_span["bytes"] = disk_usage(workdir)

    def check(self, spark) -> dict[str, str]:
        """Pass -> problem. Compares each completed pass's ABT and ingested
        slices with the DuckDB replay over the same CSVs, and its model
        metrics with the range rule and with the first pass."""
        from pyspark.sql import functions as F

        import checks
        from f1_data_engineering_machine_learning_spark.pipeline.feature_store import (
            driver_snapshot_columns,
        )

        problems = dict(self.errors)
        con = checks.f1_connection(self.csv_glob)
        abt_want = ingest_want = None
        first_metrics = None
        for i, rec in enumerate(self.passes):
            op = f"{i}:pass"
            if op in problems:
                continue
            workdir = rec["workdir"]
            try:
                if abt_want is None:
                    dates = checks.event_dates(con)
                    abt_want = checks.f1_abt_oracle(con, dates, self.oot_year + 1)
                    ingest_want = con.sql(
                        checks.snapshot_oracle_sql(rec["ingest_dates"])
                    ).df()
                cols = driver_snapshot_columns()
                abt = spark.read.parquet(f"{workdir}/abt_champions")
                problem = checks.compare_frames(
                    checks.typed_like_oracle(abt, cols + ["flChamp"]).toPandas(),
                    abt_want,
                )
                if problem:
                    problem = f"abt: {problem}"
                else:
                    inc = spark.read.parquet(f"{workdir}/feature_store_incremental")
                    # dtRef comes back as an inferred date partition column
                    inc = inc.withColumn("dtRef", F.date_format("dtRef", "yyyy-MM-dd"))
                    problem = checks.compare_frames(
                        checks.typed_like_oracle(inc, cols).toPandas(), ingest_want
                    )
                    if problem:
                        problem = f"incremental snapshots: {problem}"
                if not problem:
                    metrics = rec["summary"]["metrics"]
                    problem = checks.check_model_metrics(metrics, first_metrics)
                    first_metrics = first_metrics or metrics
            except Exception as exc:  # noqa: BLE001 - a check error fails the op
                problem = f"check error: {type(exc).__name__}: {str(exc)[:300]}"
            if problem:
                problems[op] = problem
        con.close()
        return problems


WORKLOADS = {
    "f1_medallion": F1Workload,
    "catalog_relational": lambda: CatalogWorkload("catalog_relational", sample_size=4),
    "catalog_dataops": lambda: CatalogWorkload("catalog_dataops", sample_size=2, sf=0.01),
}
