"""Benchmark harness: runs every registered catalog query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE COMPACT JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...top-10...},
 "n": <number of queries timed>, "sf": ...}

The full per-query timing map goes to ``bench_full.json`` next to this
script; printing it on the single stdout line would overflow a tail
capture of the output. ``queries`` carries only the 10 slowest (the ones
worth reading inline).

Each query is forced end-to-end with the noop sink (full execution, no
driver collect). A warmup run of the flagship amortizes JVM/codegen start-up
out of individual timings.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from f1_data_engineering_machine_learning_spark import catalog
    from f1_data_engineering_machine_learning_spark.session import build_session

    spark = build_session(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Previous committed run (read BEFORE this run overwrites the file):
    # its per-query warm comparator feeds the mover re-time rule below,
    # so a query drifting under the absolute re-time threshold
    # (bigram_collocations, 1.08 -> 1.92 s) is still warm-verified. The
    # comparator is not the LATEST run's warm times (whose first run may
    # itself have been a sub-threshold JIT spike, inflating the
    # comparator — cheapest_supplier_per_part once slid at 1.503x
    # because the comparator read 1.493 instead of 1.361); the file
    # carries ``warm_floor``: the per-query MINIMUM warm time over ALL
    # recorded runs. A floor can only ratchet down, so a spike in one
    # run can never mask a later regression. Read trips with the box
    # state in mind: a contended run re-times many queries whose WARM
    # times also sit above floor (measured: 28 movers on a noisy run,
    # none >=1.5x-floor-with->0.5s-excess on a same-code quiet run) — a
    # regression is confirmed only when quiet-box canonical runs trip
    # the floor run after run; settle those in PERF.md.
    prev_warm: dict[str, float] = {}
    try:
        prev = json.loads((REPO / "bench_full.json").read_text())
        # The floor is only meaningful at the SAME scale factor: a run
        # at sf0.01 would otherwise ratchet every sf0.1 floor down
        # ~10x and flag the entire next canonical run as movers.
        # Cross-sf runs start with a fresh comparator (and the written
        # file then carries that sf's own floors going forward).
        if prev.get("sf") == sf:
            prev_r = prev.get("rerun_best", {})
            prev_warm = dict(prev.get("warm_floor", {}))
            for n, t in prev.get("queries", {}).items():
                w = min(t, prev_r.get(n, t))
                prev_warm[n] = min(prev_warm.get(n, w), w)
    except Exception:  # noqa: BLE001 - first run / corrupt file: no comparator
        pass

    qs = catalog.queries()
    # Warmup: JVM + whole-stage-codegen compilation is a one-time,
    # data-size-independent cost (generated classes are keyed by plan
    # structure, JIT-compiled once per session) — but it lands on
    # whichever query first exercises a pipeline family, misattributing
    # seconds of compiler time to that query's row-processing cost.
    # Measured on this box: returnflag_quantity_zscore first-touch 6.5 s
    # vs 0.9 s steady-state on IDENTICAL data — 85% of the "query time"
    # was compilation. So every catalog query warms once at the SMALLEST
    # sf first (compiling the same generated classes against negligible
    # data, untimed but reported as warmup_sec in bench_full.json), and
    # the timed loop below measures steady-state query cost at sf_dir —
    # the number that scales to 100 TB, where per-plan compile time is
    # noise against hours of row processing.
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    # When sf0.001 is absent the warmup runs at sf_dir itself — the whole
    # catalog executes once UNTIMED at full scale, roughly doubling wall
    # time. warmup_at_full_scale in the output makes that attributable
    # instead of silently inflating warmup_sec.
    warmup_at_full_scale = not os.path.isdir(warm_dir)
    if warmup_at_full_scale:
        warm_dir = sf_dir
    t_warm = time.time()
    for warm_q, warm_fn in qs.items():
        try:
            _force(warm_fn(spark, warm_dir))
        except Exception:  # noqa: BLE001 - warmup must never sink the run
            pass
        spark.catalog.clearCache()
    # No second-stage warmup re-running the previous run's JIT-spike
    # list at sf_dir: it cost ~264 s of untimed wall per bench for zero
    # measured benefit — the spike set is box-state-specific, so warming
    # the committed list did not predict (or prevent) the next run's
    # spikes (n_jit_spikes went 35 -> 72 with that warmup in place, see
    # PERF.md). Spike robustness comes from the warm re-time loop below,
    # not from pre-warming.
    warmup_sec = round(time.time() - t_warm, 3)

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, fn in qs.items():
        t0 = time.time()
        try:
            _force(fn(spark, sf_dir))
            timings[name] = round(time.time() - t0, 3)
        except Exception as exc:  # noqa: BLE001 - one bad query must not sink the run
            errors[name] = str(exc).split("\n")[0][:200]
        # isolate queries: drop any cache a query left behind so later
        # timings measure the query, not accumulated heap/GC pressure
        spark.catalog.clearCache()

    # Warm best-of-N re-timing for the slow tail: this box shows random
    # 3-30x single-query JIT/code-cache spikes deep into a session
    # (PERF.md), so a single pass cannot distinguish "regressed" from
    # "spiked once". Queries above the rerun threshold get N extra warm
    # runs; rerun_best records min(first, reruns) and jit_spikes lists
    # queries whose first run was >= 1.5x their warm best — those are
    # spikes, not regressions. The headline total stays the single-pass
    # sum (comparable to every earlier run). MOVERS — queries whose
    # first run is >= 1.5x their previous committed warm comparator —
    # are re-timed too, whatever their absolute time, so sub-threshold
    # drift is always warm-verified.
    n_reruns = int(os.environ.get("SPARK_GRAFT_BENCH_RERUNS", "2"))
    rerun_threshold = float(
        os.environ.get("SPARK_GRAFT_BENCH_RERUN_THRESHOLD", "2.5")
    )
    movers = sorted(
        n
        for n, first in timings.items()
        if n in prev_warm and first >= 1.5 * prev_warm[n]
    )
    rerun_best: dict[str, float] = {}
    if n_reruns > 0:
        for name, first in sorted(timings.items(), key=lambda kv: -kv[1]):
            if first < rerun_threshold and name not in movers:
                continue
            best = first
            for _ in range(n_reruns):
                t0 = time.time()
                try:
                    _force(qs[name](spark, sf_dir))
                    best = min(best, round(time.time() - t0, 3))
                except Exception:  # noqa: BLE001
                    break
                spark.catalog.clearCache()
            rerun_best[name] = best
    jit_spikes = sorted(
        n for n, b in rerun_best.items() if timings[n] >= 1.5 * b
    )

    total = round(sum(timings.values()), 3)
    # The SPIKE-ROBUST comparator (PERF.md "Bench totals"): per query,
    # the warm best where a re-time ran, else the single first run.
    # Same-code single-pass totals spread up to ±27% on a 4-core box
    # (three same-day runs: 175.5 / 215.2 / 239.4 s — all JIT/code-cache
    # spikes, confirmed by rerun_best); warm_total strips exactly that,
    # so it is the run-over-run comparator. `value` stays the
    # single-pass sum for comparability with older recorded runs.
    warm_total = round(
        sum(rerun_best.get(n, t) for n, t in timings.items()), 3
    )
    # All-history per-query warm floor (see comparator note above):
    # min of the carried-forward floor and this run's warm time.
    warm_floor = {
        n: round(min(prev_warm.get(n, t), rerun_best.get(n, t), t), 3)
        for n, t in timings.items()
    }
    # Master/parallelism stamped on the output so the driver can verify
    # the core-count contract (local[$SPARK_GRAFT_CPUS]) from the JSON
    # line itself — a scaling probe once flagged `suspect_cpus_ignored`
    # only because the line omitted them.
    cpus = spark.sparkContext.defaultParallelism
    master = spark.sparkContext.master
    full = {
        "metric": "catalog_total_runtime",
        "value": total,
        "warm_total": warm_total,
        "unit": "sec",
        "cpus": cpus,
        "master": master,
        "queries": timings,
        "n": len(timings),
        "warmup_sec": warmup_sec,
        "sf": sf,
        "rerun_best": rerun_best,
        "jit_spikes": jit_spikes,
        "movers_retimed": movers,
        "warm_floor": warm_floor,
    }
    if warmup_at_full_scale:
        full["warmup_at_full_scale"] = True
    if errors:
        full["errors"] = errors
    (REPO / "bench_full.json").write_text(json.dumps(full, indent=1))
    # The printed line must stay WELL under the driver's 2,000-char
    # stdout-tail capture or the head of the JSON (metric/value/
    # warm_total) is truncated and the run records "parsed": null —
    # exactly what happened once when 50 jit_spike names pushed the
    # line past the window. Lists are therefore capped to counts +
    # a few names, and a shrink loop drops query entries until the
    # serialized line fits with margin.
    top = sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    while True:
        slowest = dict(top)
        payload = {
            "metric": "catalog_total_runtime",
            "value": total,
            "warm_total": warm_total,
            "unit": "sec",
            "cpus": cpus,
            "master": master,
            "queries": slowest,
            "n": len(timings),
            "n_errors": len(errors),
            "sf": sf,
            "rerun_best": {
                n: rerun_best[n] for n in slowest if n in rerun_best
            },
            "n_jit_spikes": len(jit_spikes),
            "jit_spikes_head": jit_spikes[:3],
            "n_movers_retimed": len(movers),
            "movers_head": movers[:3],
        }
        if warmup_at_full_scale:
            payload["warmup_at_full_scale"] = True
        line = json.dumps(payload)
        if len(line) <= 1500 or not top:
            break
        top = top[:-1]
    print(line)


if __name__ == "__main__":
    main()
