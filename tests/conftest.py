from __future__ import annotations

import os
import re
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# Fast/slow tiers. The default `pytest tests/` run deselects the SLOW
# tier — multi-minute soaks, fuzz/property sweeps, and the whole-catalog
# plan sweeps — while still exercising every operator's functional
# contract and executing every registered query once under an ANSI
# session (test_catalog.py::test_all_queries_execute_under_ansi_session).
# The full suite runs with SPARK_GRAFT_FULL_TESTS=1 (0, false, no
# and off mean off), or a single tier with `-m slow` / `-m "not slow"`
# explicitly. A slow test named by node id on the command line is never
# deselected.
#
# Membership is mechanical where possible (any test whose name says fuzz/
# soak/sweep) plus a named list of the catalog-wide sweeps and property
# marathons measured >20 s each (timings: `--durations` of a full
# 758-test run).
# ---------------------------------------------------------------------------

SLOW_FILES = {"test_streaming_soak.py", "test_fuzz_oracle.py"}
SLOW_NAME_RE = re.compile(r"fuzz|soak|_sweep|sf_sweep")
SLOW_TESTS = {
    "test_entire_catalog_plans_free_of_cartesian_and_rowwise_python",
    "test_entire_catalog_global_windows_are_bounded_whitelisted",
    "test_portable_simhash_candidates",
    "test_histogram_quantiles_bound_and_merge_property",
}


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: multi-minute soak/fuzz/whole-catalog-sweep tests, deselected "
        "from the default run (enable with SPARK_GRAFT_FULL_TESTS=1 or -m slow)",
    )


def _is_slow(item) -> bool:
    base = item.name.split("[", 1)[0]
    return (
        item.fspath.basename in SLOW_FILES
        or base in SLOW_TESTS
        or bool(SLOW_NAME_RE.search(base))
    )


def _full_tests_enabled() -> bool:
    value = os.environ.get("SPARK_GRAFT_FULL_TESTS", "").strip().lower()
    return value not in ("", "0", "false", "no", "off")


def _named_node_ids(config) -> list[str]:
    """Node ids given on the command line (``path::name``), relative to
    the rootdir like ``item.nodeid``."""
    ids = []
    for arg in config.args:
        if "::" not in arg:
            continue
        path, rest = arg.split("::", 1)
        try:
            path = Path(path).resolve().relative_to(config.rootpath).as_posix()
        except ValueError:
            pass
        ids.append(f"{path}::{rest}")
    return ids


def _is_named(item, named: list[str]) -> bool:
    return any(
        item.nodeid == n or item.nodeid.startswith((n + "[", n + "::"))
        for n in named
    )


def pytest_collection_modifyitems(config, items):
    for item in items:
        if _is_slow(item):
            item.add_marker(pytest.mark.slow)
    if _full_tests_enabled():
        return
    # An explicit -m expression takes precedence over the default deselect
    if config.getoption("markexpr", default=""):
        return
    # a slow test named by node id on the command line still runs
    named = _named_node_ids(config)
    deselected = [i for i in items if _is_slow(i) and not _is_named(i, named)]
    if deselected:
        config.hook.pytest_deselected(items=deselected)
        items[:] = [i for i in items if not _is_slow(i) or _is_named(i, named)]


@pytest.fixture(scope="session")
def spark():
    from f1_data_engineering_machine_learning_spark.session import build_session

    spark = build_session(
        app_name="tests", master="local[4]", shuffle_partitions=4
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
