"""Traced runs: every per-layer metric is reported, the event log yields
jobs, stages and tasks, and no span has negative self time.

Each run is a subprocess, because stopping a run also stops its JVM."""

import json
import subprocess
import sys

import pytest

import run
from layers import PER_LAYER

#: layers each workload must exercise (a non-zero reading); the
#: relational sample must keep a query that runs a Python UDF, since
#: catalog_dataops is not in BENCHMARK.json
EXERCISED = {
    "catalog_relational": [
        "session.build_s",
        "session.warmup_s",
        "catalog.build_s",
        "catalog.build_jobs",
        "spark.plan_s",
        "spark.exec_s",
        "spark.task_run_s",
        "spark.heap_retained_mb",
        "spark.python_s",
        "spark.python_boot_s",
        "spark.python_mb",
        "trace.run_s",
    ],
    "catalog_dataops": [
        "session.build_s",
        "session.warmup_s",
        "catalog.build_s",
        "spark.plan_s",
        "spark.exec_s",
        "spark.task_run_s",
        "spark.task_cpu_s",
        "spark.slot_util",
        "spark.scan_mb",
        "trace.run_s",
    ],
    "f1_medallion": [
        "session.build_s",
        "spark.exec_s",
        "spark.task_run_s",
        "spark.shuffle_write_mb",
        "spark.heap_retained_mb",
        "pipeline.bronze_s",
        "pipeline.champions_s",
        "pipeline.abt_s",
        "pipeline.viz_s",
        "plans.snapshot_s",
        "plans.ingest_s",
        "plans.ingest_jobs_per_date",
        "ml.train_s",
        "ml.score_s",
        "io.files_written",
        "io.mb_written",
        "trace.run_s",
    ],
}

CODE = """
import json, sys
sys.path.insert(0, {here!r})
import run
run.prepare_environment()
import workloads
w = workloads.WORKLOADS[{workload!r}]()
if {sf!r} is not None:
    w.sf = {sf!r}
out = run.run(w, seed=3, seconds=0, trace=True)
print(json.dumps(out["result"]))
"""


def _traced(workload: str, sf: float | None) -> dict:
    """A traced run of the workload's own op set, catalog data at ``sf``."""
    code = CODE.format(here=str(run.HERE), workload=workload, sf=sf)
    p = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=600
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _spans() -> list[dict]:
    with open(run.WORK / "run" / "spans.jsonl", encoding="utf-8") as fh:
        return [json.loads(line) for line in fh]


@pytest.mark.parametrize(
    "workload,sf",
    [("catalog_relational", 0.001), ("catalog_dataops", 0.001), ("f1_medallion", None)],
)
def test_traced_run_reports_every_layer(workload, sf):
    result = _traced(workload, sf)
    assert result["correct"], result
    metrics = result["metrics"]
    assert set(metrics) == set(PER_LAYER)
    for name, unit in PER_LAYER.items():
        assert metrics[name]["unit"] == unit
        assert metrics[name]["value"] >= 0, name
    for name in ("spark.jobs", "spark.stages", "spark.tasks"):
        assert metrics[name]["value"] > 0, name
    for name in EXERCISED[workload]:
        assert metrics[name]["value"] > 0, name
    spans = _spans()
    assert spans and all(s["self_s"] >= -1e-6 for s in spans)
    ops = {s["op"] for s in spans if s["name"] == "op"}
    assert len(ops) == {"catalog_relational": 4, "catalog_dataops": 2, "f1_medallion": 1}[workload]
