"""Output checks: a wrong result must count as a failed op."""

import math

import pytest

import checks
import run
import tablegen
from workloads import CATALOG_TABLES, CatalogWorkload
from f1_data_engineering_machine_learning_spark import catalog

QUERY = "pricing_summary"


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("tables")
    tablegen.write_tables(str(d), seed=4, sf=0.001)
    return str(d)


def _workload(data_dir, result):
    w = CatalogWorkload("catalog_relational", sample_size=1, sf=0.001)
    w.data_dir = data_dir
    w.order = [QUERY]
    w.results = {QUERY: result}
    return w


def _oracle_frame(data_dir):
    con = checks.catalog_connection(data_dir, CATALOG_TABLES)
    return con.sql(catalog.oracle_sql()[QUERY]).df()


def test_right_result_passes(data_dir):
    w = _workload(data_dir, _oracle_frame(data_dir))
    assert w.check(None) == {}


def test_wrong_result_counts_as_failed_op(data_dir):
    wrong = _oracle_frame(data_dir)
    col = next(c for c in wrong.columns if wrong[c].dtype.kind == "f")
    wrong.loc[0, col] = wrong.loc[0, col] + 1.0
    w = _workload(data_dir, wrong)
    problems = w.check(None)
    assert QUERY in problems and "values differ" in problems[QUERY]
    ops = [(QUERY, 0.5, True), (QUERY, 0.4, True)]
    assert run.count_failed(ops, problems) == 2


def test_missing_rows_and_raised_ops_fail(data_dir):
    short = _oracle_frame(data_dir).iloc[1:]
    problems = _workload(data_dir, short).check(None)
    assert "rowcount" in problems[QUERY]
    assert run.count_failed([("other", 0.1, False)], {}) == 1


def test_model_metrics_range_and_tolerance():
    good = {"test": {"accuracy": 0.9, "roc_auc": 0.7926857142857139}}
    assert checks.check_model_metrics(good) is None
    twin = {"test": {"accuracy": 0.9, "roc_auc": 0.792685714285714}}
    assert checks.check_model_metrics(twin, good) is None
    assert checks.check_model_metrics({"test": {"roc_auc": math.nan}})
    assert checks.check_model_metrics({"test": {"roc_auc": 1.2}})
    assert checks.check_model_metrics({"test": {"roc_auc": 0.70}}, good)
    assert checks.check_model_metrics({})
