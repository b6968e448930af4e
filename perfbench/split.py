"""Which tables each catalog query builder reads.

Every builder in ``catalog.queries()`` is called once on a small generated
data set with ``catalog._t`` wrapped to record the table names it asks
for. The builder is only called, never executed into a sink. A builder
that asks for ``documents`` or ``embeddings`` is stopped right there: it
belongs to the data-ops family whatever else it reads, and its eager jobs
need not run. The other builders run to the end, eager jobs included, at
this small scale; they and the builders that read no table form the
relational family.

Run as a script it writes the split as JSON to the path given:
``python3 perfbench/split.py <data_dir> <out.json>``.
"""

from __future__ import annotations

import json
import os
import sys

DATAOPS_TABLES = {"documents", "embeddings"}


class _DataOps(Exception):
    """Raised into a builder at its first data-ops table."""


def record_tables(spark, data_dir: str) -> dict[str, list[str]]:
    from f1_data_engineering_machine_learning_spark import catalog

    seen: dict[str, set[str]] = {}
    current: list[str] = []
    real_t = catalog._t

    def recording_t(spark_, sf_dir, name):
        seen[current[0]].add(name)
        if name in DATAOPS_TABLES:
            raise _DataOps
        return real_t(spark_, sf_dir, name)

    catalog._t = recording_t
    try:
        for qname, fn in catalog.queries().items():
            current[:] = [qname]
            seen[qname] = set()
            try:
                fn(spark, data_dir)
            except _DataOps:
                pass
            spark.catalog.clearCache()
    finally:
        catalog._t = real_t
    return {q: sorted(t) for q, t in seen.items()}


def families(tables: dict[str, list[str]]) -> dict[str, list[str]]:
    dataops = sorted(q for q, t in tables.items() if DATAOPS_TABLES & set(t))
    relational = sorted(q for q in tables if q not in set(dataops))
    return {"catalog_relational": relational, "catalog_dataops": dataops}


def main(argv: list[str]) -> int:
    data_dir, out_path = argv[1], argv[2]
    from f1_data_engineering_machine_learning_spark.session import build_session

    from run import stop_session

    spark = build_session(
        app_name="perfbench-split",
        extra_conf=json.loads(os.environ.get("PERFBENCH_SPARK_CONF", "{}")),
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tables = record_tables(spark, data_dir)
    finally:
        stop_session(spark)
    tmp = out_path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"tables": tables, "families": families(tables)}, fh, indent=1)
    os.replace(tmp, out_path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
