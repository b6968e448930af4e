"""Per-date feature-store ingest at reference scale.

Usage:
    python tools/ingestprobe.py [--seed 1] [--dates 2] [--runs 3] [--workdir DIR]

Generates the synthetic F1 session CSVs over ``perfbench/f1gen.py``'s
default seasons (1990-2025), builds bronze once, then runs
``IncrementalIngestor`` over ``driver_feature_snapshot`` for the newest
season's last ``--dates`` event dates: one untimed warm-up, then
``--runs`` timed runs. Prints one JSON line: every timed run's seconds,
the Spark jobs per ingested date, the bronze row count, master and cpus.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "perfbench"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--dates", type=int, default=2)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--workdir", default=None)
    args = ap.parse_args()

    import f1gen

    from f1_data_engineering_machine_learning_spark.pipeline import (
        driver_feature_snapshot,
        event_dates,
    )
    from f1_data_engineering_machine_learning_spark.pipeline.bronze import build_bronze
    from f1_data_engineering_machine_learning_spark.plans import IncrementalIngestor
    from f1_data_engineering_machine_learning_spark.session import build_session

    workdir = args.workdir or tempfile.mkdtemp(prefix="ingestprobe-")
    f1gen.write_csvs(f"{workdir}/csv", args.seed)
    spark = build_session(app_name="ingestprobe")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    bronze = build_bronze(spark, f"{workdir}/csv/*.csv", f"{workdir}/bronze")
    dates = event_dates(bronze)[-args.dates:]
    ingestor = IncrementalIngestor(
        lambda d: driver_feature_snapshot(bronze, d), f"{workdir}/feature_store"
    )

    ingestor.exec(dates)  # warm-up: codegen, class loading
    runs = []
    jobs = 0
    for i in range(args.runs):
        group = f"ingestprobe_{i}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        ingestor.exec(dates)
        runs.append(round(time.perf_counter() - t0, 3))
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    print(
        json.dumps(
            {
                "ingest_s": runs,
                "jobs_per_date": jobs / len(dates),
                "dates": dates,
                "bronze_rows": bronze.count(),
                "master": sc.master,
                "cpus": os.cpu_count(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
