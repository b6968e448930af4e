"""Per-layer metrics of a traced run, named after the package modules.

Times and counts are per pass over the workload's op set: totals over the
measured passes divided by the number of passes. A layer the workload
does not call reads 0. The Spark numbers come from the event log only,
attributed through the job group of the span that launched each job.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from tracing import find_event_log, parse_event_log

MB = 1024.0 * 1024.0

#: name -> unit, in report order
PER_LAYER = {
    "session.build_s": "s",
    "session.warmup_s": "s",
    "catalog.build_s": "s",
    "catalog.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.heap_retained_mb": "MB",
    "spark.slot_util": "ratio",
    "spark.single_task_stages": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.scan_mb": "MB",
    "spark.python_s": "s",
    "spark.python_boot_s": "s",
    "spark.python_mb": "MB",
    "pipeline.bronze_s": "s",
    "pipeline.champions_s": "s",
    "pipeline.abt_s": "s",
    "pipeline.viz_s": "s",
    "plans.snapshot_s": "s",
    "plans.ingest_s": "s",
    "plans.ingest_jobs_per_date": "count",
    "ml.train_s": "s",
    "ml.score_s": "s",
    "io.files_written": "count",
    "io.mb_written": "MB",
    "trace.run_s": "s",
}

#: span name -> per-layer time metric
SPAN_METRICS = {
    "catalog.build": "catalog.build_s",
    "pipeline.bronze": "pipeline.bronze_s",
    "pipeline.champions": "pipeline.champions_s",
    "pipeline.abt": "pipeline.abt_s",
    "pipeline.viz": "pipeline.viz_s",
    "plans.snapshot": "plans.snapshot_s",
    "plans.ingest": "plans.ingest_s",
    "ml.train": "ml.train_s",
    "ml.score": "ml.score_s",
}


def per_layer(tracer, trace_dir: str, info: dict, pass_walls: list[float], cores: int) -> dict:
    """Metric name -> (value, unit) for every PER_LAYER name."""
    log = parse_event_log(find_event_log(trace_dir))
    groups = log["groups"]
    spans = tracer.spans
    n = len(pass_walls)
    m: dict[str, float] = defaultdict(float)

    m["session.build_s"] = info["session_build_s"]
    m["session.warmup_s"] = info["warmup_s"]
    m["trace.run_s"] = statistics.median(pass_walls)
    m["spark.heap_retained_mb"] = info["heap_retained_mb"]

    for s in spans:
        if s["name"] in SPAN_METRICS:
            m[SPAN_METRICS[s["name"]]] += (s["end"] - s["start"]) / n
        if s["name"] == "catalog.build":
            m["catalog.build_jobs"] += groups.get(s["group"], {}).get("jobs", 0) / n
        if s["name"] == "plans.ingest":
            jobs = groups.get(s["group"], {}).get("jobs", 0)
            m["plans.ingest_jobs_per_date"] += jobs / max(1, s["dates"]) / n
        if s["name"] == "op" and "files" in s:
            m["io.files_written"] += s["files"] / n
            m["io.mb_written"] += s["bytes"] / MB / n

    measured = {s["group"] for s in spans if s["group"]}
    totals: dict[str, float] = defaultdict(float)
    for g in measured:
        for k, v in groups.get(g, {}).items():
            totals[k] += v
    for name, key, scale in (
        ("spark.jobs", "jobs", 1),
        ("spark.stages", "stages", 1),
        ("spark.tasks", "tasks", 1),
        ("spark.task_run_s", "run_s", 1),
        ("spark.task_cpu_s", "cpu_s", 1),
        ("spark.gc_s", "gc_s", 1),
        ("spark.single_task_stages", "single_task_stages", 1),
        ("spark.shuffle_write_mb", "shuffle_write_b", MB),
        ("spark.shuffle_read_mb", "shuffle_read_b", MB),
        ("spark.spill_mb", "spill_b", MB),
        ("spark.scan_mb", "scan_b", MB),
        ("spark.python_s", "python_s", 1),
        ("spark.python_boot_s", "python_boot_s", 1),
        ("spark.python_mb", "python_b", MB),
    ):
        m[name] = totals[key] / scale / n
    m["spark.slot_util"] = totals["run_s"] / (sum(pass_walls) * cores)

    # planning: from the noop write call to its first SQL execution;
    # execution: root SQL executions of the measured spans
    write_start = {s["group"]: s["start"] for s in spans if s["name"] == "spark.write"}
    first_exec: dict[str, float] = {}
    for ex in log["sql"]:
        if not ex["root"] or ex["group"] not in measured or ex["end"] is None:
            continue
        if write_start and ex["group"] not in write_start:
            continue
        m["spark.exec_s"] += (ex["end"] - ex["start"]) / n
        if ex["group"] in write_start:
            first_exec[ex["group"]] = min(first_exec.get(ex["group"], ex["start"]), ex["start"])
    for g, t in first_exec.items():
        m["spark.plan_s"] += max(0.0, t - write_start[g]) / n

    return {name: (m[name], unit) for name, unit in PER_LAYER.items()}
