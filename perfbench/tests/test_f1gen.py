"""The seeded F1 raw-data generator."""

import csv
import filecmp
import os

import pytest

import f1gen
from f1_data_engineering_machine_learning_spark.pipeline.bronze import RESULTS_COLUMNS
from workloads import F1Workload


def _rows(paths):
    for path in paths:
        with open(path, newline="", encoding="utf-8") as fh:
            reader = csv.reader(fh, delimiter=";")
            yield next(reader), list(reader)


def test_same_seed_gives_byte_identical_files(tmp_path):
    a = f1gen.write_csvs(str(tmp_path / "a"), seed=5)
    b = f1gen.write_csvs(str(tmp_path / "b"), seed=5)
    assert [os.path.basename(p) for p in a] == [os.path.basename(p) for p in b]
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))
    c = f1gen.write_csvs(str(tmp_path / "c"), seed=6)
    assert not all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, c) if os.path.basename(x) == os.path.basename(y))


def test_columns_are_the_bronze_columns_and_all_strings(tmp_path):
    paths = f1gen.write_csvs(str(tmp_path), seed=1, first_season=2022)
    for header, rows in _rows(paths):
        assert header == RESULTS_COLUMNS
        for row in rows:
            assert len(row) == len(RESULTS_COLUMNS)
            assert all(isinstance(v, str) for v in row)


@pytest.mark.parametrize("seed", range(4))
def test_reference_scale_rows_and_dates_in_range(seed):
    sessions = f1gen.generate(seed)
    rows = [r for rs in sessions.values() for r in rs]
    dates = {r["date"][:10] for r in rows}
    seasons = {r["year"] for r in rows}
    assert seasons == {str(y) for y in range(1990, 2026)}
    assert all(r["date"][:4] == r["year"] for r in rows)
    # 36 seasons x 16-24 rounds x 20 drivers, plus 3-6 sprints a season from 2021
    assert 36 * 16 * 20 <= len(rows) <= 36 * 24 * 20 + 5 * 6 * 20
    assert 36 * 16 <= len(dates) <= 36 * 24 + 5 * 6
    assert {"R", ""} <= {r["Position"] for r in rows}
    assert any(r["Position"].endswith(".0") for r in rows)
    assert "0" in {r["GridPosition"] for r in rows}
    sprint_years = {int(r["year"]) for r in rows if r["identifier"] == "sprint"}
    assert sprint_years == set(range(2021, 2026))
    drivers = {y: {r["DriverId"] for r in rows if r["year"] == str(y)} for y in (2000, 2001)}
    assert drivers[2000] != drivers[2001] and len(drivers[2000] & drivers[2001]) >= 16


def test_workload_scale_rows_and_dates_in_range():
    w = F1Workload()
    sessions = f1gen.generate(0, w.first_season, w.last_season)
    rows = [r for rs in sessions.values() for r in rs]
    n_seasons = w.last_season - w.first_season + 1
    assert n_seasons * 16 * 20 <= len(rows) <= n_seasons * 24 * 20 + 5 * 6 * 20
    assert n_seasons * 16 <= len({r["date"][:10] for r in rows}) <= n_seasons * 24 + 5 * 6


def test_program_receives_only_the_generated_files(tmp_path):
    paths = f1gen.write_csvs(str(tmp_path / "raw"), seed=2, first_season=2024)
    assert sorted(os.path.join(tmp_path / "raw", f) for f in os.listdir(tmp_path / "raw")) == paths

    class OneDir:
        def f1_csvs(self, seed, first, last):
            return str(tmp_path / "raw")

        def scratch(self, name):
            return str(tmp_path / name)

    w = F1Workload()
    w.prepare(OneDir(), seed=2)
    assert w.csv_glob == os.path.join(str(tmp_path / "raw"), "*.csv")
