"""Print every metric of every workload, by name with its unit.

    python3 perfbench/report.py [--seeds 1,2,3] [--seconds 10]

For each workload in BENCHMARK.json this runs ``run.py`` untraced once
per seed and traced once (first seed), then prints the end-to-end medians
over the seeds, the per-layer numbers of the traced run, and the tracing
overhead: the traced run_s over the untraced median run_s.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    info, result = p.stdout.strip().splitlines()[-2:]
    return json.loads(info), json.loads(result)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1")
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or bench["run_seconds"]
    seeds = [int(s) for s in args.seeds.split(",")]
    for w in (x["name"] for x in bench["workloads"]):
        runs = [_run(w, s, seconds, 0) for s in seeds]
        info, traced = _run(w, seeds[0], seconds, 1)
        stamp = f"cpus={info['cpus']} master={info['master']}"
        print(f"== {w}  ({stamp}; seeds {args.seeds}; ops per run {runs[0][1]['attempted']})")
        failed = sum(r["failed"] for _, r in runs)
        attempted = sum(r["attempted"] for _, r in runs)
        print(f"  {'error_rate':24s} {failed / attempted:12.4f} ratio  ({failed}/{attempted} ops failed)")
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for _, r in runs]
            print(f"  {m['name']:24s} {statistics.median(vals):12.4f} {m['unit']}")
        for m in bench["per_layer"]:
            v = traced["metrics"][m["name"]]
            print(f"  {m['name']:24s} {v['value']:12.4f} {v['unit']}  (traced)")
        untraced = statistics.median(r["metrics"]["run_s"]["value"] for _, r in runs)
        overhead = traced["metrics"]["trace.run_s"]["value"] / untraced - 1
        print(f"  {'tracing overhead':24s} {overhead:12.4f} ratio  (traced run_s / untraced run_s - 1)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
