"""Spans recorded around calls into the package, and the Spark event log
read back into per-layer numbers.

A span is (name, op, start, end, parent). Spans stay in memory and are
written out once, when the run ends. A span may carry a Spark job group:
jobs launched while it is the innermost group-carrying span are
attributed to it, which is how the event log's jobs, stages, tasks and
SQL executions are tied back to a layer.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records spans; with ``sc`` set, also tags Spark jobs by span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)
            self.sc.setLocalProperty("spark.job.description", group)

    def _current_group(self) -> str | None:
        for i in reversed(self._stack):
            if self.spans[i]["group"]:
                return self.spans[i]["group"]
        return None

    def begin(self, name: str, op: str | None = None, tag_jobs: bool = True) -> int:
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        group = f"{op}|{name}" if (tag_jobs and self.sc is not None) else None
        self.spans.append(
            {
                "name": name,
                "op": op,
                "start": time.time(),
                "end": None,
                "parent": parent,
                "group": group,
            }
        )
        self._stack.append(idx)
        if group:
            self._set_group(group)
        return idx

    def end(self, idx: int) -> None:
        if self._stack[-1] != idx:
            raise RuntimeError(f"span {self.spans[idx]['name']} closed out of order")
        self.spans[idx]["end"] = time.time()
        self._stack.pop()
        if self.spans[idx]["group"]:
            self._set_group(self._current_group())

    @contextmanager
    def span(self, name: str, op: str | None = None, tag_jobs: bool = True):
        idx = self.begin(name, op, tag_jobs)
        try:
            yield self.spans[idx]
        finally:
            self.end(idx)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s, st in zip(self.spans, self_times(self.spans)):
                fh.write(json.dumps({**s, "self_s": st}) + "\n")


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append((s["end"] - s["start"]) - covered)
    return out


#: Spark 4.1 Python-worker SQL metrics, by display name
PY_TOTAL = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
_PY_METRICS = {PY_TOTAL, PY_BOOT, PY_SENT, PY_RECV}


def _zero() -> dict:
    return defaultdict(float)


def _walk_plan(info: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", []):
        if m.get("name") in _PY_METRICS:
            out[m["accumulatorId"]] = (m["name"], m.get("metricType", ""))
    for child in info.get("children", []):
        _walk_plan(child, out)


def parse_event_log(path: str) -> dict:
    """Aggregate an uncompressed, non-rolling event log by job group.

    Returns ``{"groups": {group: counters}, "sql": [executions]}`` where
    counters hold jobs, stages, single_task_stages, tasks, run_s, cpu_s,
    gc_s, shuffle_write_b, shuffle_read_b, spill_b, scan_b, python_s,
    python_boot_s, python_b, and each SQL execution is
    ``{"root", "group", "start", "end"}``, times in epoch seconds; a
    root execution is not nested in another one."""
    groups: dict[str, dict] = defaultdict(_zero)
    stage_group: dict[int, str] = {}
    py_acc: dict[int, tuple[str, str]] = {}
    sql: dict[int, dict] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                groups[group]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                group = stage_group.get(info["Stage ID"])
                if group is None:
                    continue
                groups[group]["stages"] += 1
                if info["Number of Tasks"] == 1:
                    groups[group]["single_task_stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(e["Stage ID"])
                if group is None:
                    continue
                g = groups[group]
                tm = e.get("Task Metrics") or {}
                g["tasks"] += 1
                g["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                g["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                g["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                g["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                g["spill_b"] += tm.get("Disk Bytes Spilled", 0)
                g["scan_b"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                for acc in e["Task Info"].get("Accumulables", []):
                    hit = py_acc.get(acc.get("ID"))
                    if hit is None:
                        continue
                    name, mtype = hit
                    val = float(acc.get("Update") or 0)
                    if name in (PY_SENT, PY_RECV):
                        g["python_b"] += val
                    else:
                        secs = val / 1e9 if mtype == "nsTiming" else val / 1e3
                        g["python_s" if name == PY_TOTAL else "python_boot_s"] += secs
            elif kind.endswith("SQLExecutionStart"):
                _walk_plan(e.get("sparkPlanInfo") or {}, py_acc)
                sql[e["executionId"]] = {
                    "root": e.get("rootExecutionId", e["executionId"]) == e["executionId"],
                    "group": e.get("jobGroupId"),
                    "start": e["time"] / 1e3,
                    "end": None,
                }
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                _walk_plan(e.get("sparkPlanInfo") or {}, py_acc)
            elif kind.endswith("SQLExecutionEnd"):
                if e["executionId"] in sql:
                    sql[e["executionId"]]["end"] = e["time"] / 1e3
    return {"groups": dict(groups), "sql": list(sql.values())}


def find_event_log(log_dir: str) -> str:
    """The single application log in ``log_dir``."""
    files = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.startswith(".") and not f.endswith(".inprogress")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]
