"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the
seed under ``.perfbench_work/``, builds the engine's session with
``session.build_session`` on ``local[<cores>]``, warms up, runs the
workload's op set in a closed loop until ``--seconds`` have passed (at
least once), checks every output, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run also writes a Spark event log and spans, and the metrics are the
per-layer ones. Lines before the last one are for people.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "f1_data_engineering_machine_learning_spark"
WORK = ROOT / ".perfbench_work"
#: data sets kept between runs (each seed has its own)
KEEP_DATA_SETS = 4
#: The driver heap. Peak RSS follows how far the heap has grown, and a
#: heap free to grow to the package's 8 GB default swung it by a
#: gigabyte between identical runs. These workloads fill 1 GB every run,
#: so peak RSS cannot show heap growth: retained growth shows in the
#: traced ``spark.heap_retained_mb``, transient growth in ``spark.gc_s``.
DRIVER_MEMORY = "1g"
SPLIT_SF = 0.001
SPLIT_SEED = 0


def _process_start() -> float:
    """This process's start time, epoch seconds, from /proc."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat", encoding="ascii") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _steal_jiffies() -> tuple[int, int]:
    """(busy including stolen, stolen) jiffies of the whole machine."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[0] + f[1] + f[2] + f[5] + f[6] + f[7], f[7]


def _heap_retained_mb(spark) -> float:
    """JVM heap in use after full collections: what the driver holds on
    to, which grows with the program's retained heap even where the heap
    cap hides that growth from peak RSS. Spark's cleaner releases
    broadcast and shuffle state only after a collection has found it
    unreachable, so one collection is not enough; in trials a fourth
    collection moved the third one's reading by under 0.5 MB."""
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    return (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    deadline = time.time() + timeout
    alive = list(pids)
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive


def _file_digest(path: Path) -> str:
    """Generated data is cached per generator version."""
    return hashlib.sha256(Path(path).read_bytes()).hexdigest()[:12]


def _package_digest() -> str:
    h = hashlib.sha256()
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(str(path.relative_to(ROOT)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def spark_conf(trace_dir: str | None) -> dict[str, str]:
    """Session settings the benchmark adds: everything Spark writes stays in
    the work directory, no console progress bars or UI server, and in a
    traced run an uncompressed, non-rolling event log."""
    conf = {
        "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
    }
    if trace_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": trace_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _in_child(module: str, func: str, *args) -> None:
    """Call ``module.func(*args)`` in a child process, so that input
    generation is not part of this process's peak RSS."""
    code = f"import sys; sys.path.insert(0, {str(HERE)!r}); import {module}; {module}.{func}(*{args!r})"
    subprocess.run(
        [sys.executable, "-c", code], check=True, stdout=subprocess.DEVNULL, timeout=900
    )


class Inputs:
    """Seeded inputs, generated once per seed and kept in the work dir."""

    def __init__(self, work: Path):
        self.work = work

    def _cached(self, name: str, make) -> str:
        path = self.work / "data" / name
        if not path.is_dir():
            tmp = path.with_name(path.name + f".tmp{os.getpid()}")
            shutil.rmtree(tmp, ignore_errors=True)
            make(str(tmp))
            os.replace(tmp, path)
            sets = sorted(
                (p for p in path.parent.iterdir() if ".tmp" not in p.name),
                key=lambda p: p.stat().st_mtime,
            )
            for old in sets[:-KEEP_DATA_SETS]:
                shutil.rmtree(old, ignore_errors=True)
        return str(path)

    def tables(self, seed: int, sf: float) -> str:
        return self._cached(
            f"tables-sf{sf}-seed{seed}-{_file_digest(HERE / 'tablegen.py')}",
            lambda d: _in_child("tablegen", "write_tables", d, seed, sf),
        )

    def f1_csvs(self, seed: int, first: int, last: int) -> str:
        return self._cached(
            f"f1-{first}-{last}-seed{seed}-{_file_digest(HERE / 'f1gen.py')}",
            lambda d: _in_child("f1gen", "write_csvs", d, seed, first, last),
        )

    def split(self) -> dict:
        """The catalog families, recorded once per package version in a
        separate process so the measured JVM starts clean."""
        path = self.work / f"split-{_package_digest()}.json"
        if not path.is_file():
            data_dir = self.tables(SPLIT_SEED, SPLIT_SF)
            env = dict(os.environ, PERFBENCH_SPARK_CONF=json.dumps(spark_conf(None)))
            subprocess.run(
                [sys.executable, str(HERE / "split.py"), data_dir, str(path)],
                env=env,
                check=True,
                stdout=subprocess.DEVNULL,
                timeout=900,
            )
        return json.loads(path.read_text())

    def scratch(self, name: str) -> str:
        path = self.work / "run" / name
        shutil.rmtree(path, ignore_errors=True)
        path.mkdir(parents=True)
        return str(path)


def _check_worker_imports(spark) -> None:
    """Python workers must import the package, or every UDF fails."""

    def probe(_):
        import importlib.util

        return importlib.util.find_spec(PACKAGE) is not None

    ok = spark.sparkContext.parallelize([0], 1).map(probe).collect()
    if ok != [True]:
        raise RuntimeError(f"Python workers cannot import {PACKAGE}; PYTHONPATH={os.environ.get('PYTHONPATH')}")


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for it and its workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    for pid in _wait_gone(kids, 15):
        os.kill(pid, signal.SIGKILL)
    _wait_gone(kids, 5)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))
    return ordered[int(rank) - 1]


def count_failed(ops: list[tuple[str, float, bool]], problems: dict[str, str]) -> int:
    """Ops that raised, or whose output failed its check."""
    return sum(1 for name, _, ok in ops if not ok or name in problems)


def run(workload, seed: int, seconds: float, trace: bool) -> dict:
    """Set up, warm up, run passes until ``seconds`` have passed, check,
    and return the info line and the result line."""
    t_process = _process_start()
    from tracing import Tracer

    t0 = time.time()
    workload.prepare(Inputs(WORK), seed)
    excluded = time.time() - t0  # input generation is not set-up

    trace_dir = None
    if trace:
        trace_dir = str(WORK / "run" / "eventlog")
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)

    t_build = time.time()
    from f1_data_engineering_machine_learning_spark.session import build_session

    spark = build_session(app_name=f"perfbench-{workload.name}", extra_conf=spark_conf(trace_dir))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        cores = spark.sparkContext.defaultParallelism
        master = spark.sparkContext.master
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        _check_worker_imports(spark)
        t_built = time.time()
        tracer = Tracer(spark.sparkContext if trace else None)
        workload.warmup(spark, tracer)
        t_warm = time.time()
        setup_s = t_warm - t_process - excluded

        ops: list[tuple[str, float, bool]] = []
        pass_walls: list[float] = []
        heap_mb = None
        busy0, steal0 = _steal_jiffies()
        while True:
            p0 = time.perf_counter()
            ops += workload.run_pass(spark, tracer, len(pass_walls))
            pass_walls.append(time.perf_counter() - p0)
            if trace and heap_mb is None:
                # the heap retains state per executed query, so it is read
                # after the first pass: the pass count must not move it
                heap_mb = _heap_retained_mb(spark)
            if sum(pass_walls) >= seconds:
                break
        busy1, steal1 = _steal_jiffies()

        # memory first: the checks below run DuckDB and collect results
        rss_mb = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")
        problems = workload.check(spark)
    finally:
        stop_session(spark)

    failed = count_failed(ops, problems)
    lat = [d for _, d, _ in ops]
    info = {
        "workload": workload.name,
        "seed": seed,
        "cpus": cores,
        "master": master,
        "ops": len(ops),
        "passes": len(pass_walls),
        "pass_s": [round(w, 3) for w in pass_walls],
        # the share of busy CPU time the hypervisor took during the passes
        "steal_share": (steal1 - steal0) / max(1, busy1 - busy0),
        "op_p90_rank": f"nearest-rank p90 of {len(lat)} ops",
        "error_rate": failed / len(ops),
        "problems": problems,
        "session_build_s": t_built - t_build,
        "warmup_s": t_warm - t_built,
        "warmup_ops_s": getattr(workload, "warmup_s", {}),
        "heap_retained_mb": heap_mb,
    }
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "run_s": (statistics.median(pass_walls), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_p90_s": (percentile(lat, 90), "s"),
        "success_rate": (1.0 - failed / len(ops), "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    if trace:
        import layers

        metrics = layers.per_layer(tracer, trace_dir, info, pass_walls, cores)
        tracer.write(str(WORK / "run" / "spans.jsonl"))
    else:
        metrics = end_to_end
    return {
        "info": info,
        "result": {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def _guard_environment() -> str | None:
    """A problem that stops the run before anything is measured, or None."""
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        return f"{PACKAGE}/ not found next to perfbench/; run from a checkout of the repository"
    if not (ROOT / "tools" / "selfcheck.py").is_file():
        return "tools/selfcheck.py not found; the catalog checks compare with it"
    return None


def prepare_environment() -> None:
    """Python workers import the package from the checkout; Spark, the JVM
    and Python temp files stay in the work dir."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    sys.path[:0] = [str(HERE), str(ROOT)]
    os.chdir(WORK)  # Spark's default warehouse and metastore paths


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    problem = _guard_environment()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    prepare_environment()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    out = run(WORKLOADS[args.workload](), args.seed, args.seconds, bool(args.trace))
    print(json.dumps(out["info"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
