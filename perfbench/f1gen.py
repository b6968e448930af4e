"""Seeded raw F1 result set in the reference's layout.

One ``;``-separated, header-first, all-string CSV per (year, round,
session), named ``{year}_{round:02d}_{identifier}.csv``. The shape is the
reference's: seasons ``first_season..last_season``, 20 drivers per season
with turnover between seasons, the real calendar's 16-24 rounds per
season, sprint sessions the day before 3-6 races a season from 2021 on,
DNFs whose position is ``"R"`` or empty, pit-lane grid ``"0"``s and
float-strings such as ``"3.0"``.

The calendar (rounds and sprints per season) is fixed, so every seed
gives the same number of rows and event dates; the seed draws rosters,
results, dates and which rounds have sprints. Every season runs from
March to mid-December, inside its calendar year. The same seed gives
byte-identical files. Only the standard library is
used, so the files do not depend on any engine's version.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import random

#: the bronze columns, in file order (the program's RESULTS_COLUMNS)
COLUMNS = [
    "DriverNumber",
    "DriverId",
    "TeamId",
    "Position",
    "GridPosition",
    "Status",
    "Points",
    "Laps",
    "identifier",
    "date",
    "year",
    "RoundNumber",
    "Country",
    "Location",
    "OfficialEventName",
]

RACE_POINTS = [25, 18, 15, 12, 10, 8, 6, 4, 2, 1]
SPRINT_POINTS = [8, 7, 6, 5, 4, 3, 2, 1]
DRIVERS_PER_SEASON = 20
N_CIRCUITS = 30
#: rounds per season on the real calendar
ROUNDS = {
    **dict.fromkeys([1990, 1991, 1992, 1993, 1994, 1996, 1998, 1999, 2003], 16),
    **dict.fromkeys([1995, 1997, 2000, 2001, 2002, 2007, 2009, 2020], 17),
    **dict.fromkeys([2004, 2006, 2008], 18),
    **dict.fromkeys([2005, 2010, 2011, 2013, 2014, 2015], 19),
    **dict.fromkeys([2012, 2017], 20),
    **dict.fromkeys([2016, 2018, 2019], 21),
    **dict.fromkeys([2021, 2022, 2023], 22),
    **dict.fromkeys([2024, 2025], 24),
}
#: sprint weekends per season
SPRINTS = {2021: 3, 2022: 3, 2023: 6, 2024: 6, 2025: 6}
DNF_STATUSES = ["Retired", "Collision", "Engine", "Gearbox", "Accident"]


def _season_rosters(rng: random.Random, seasons: list[int]) -> dict[int, list[str]]:
    """Two to four drivers leave and as many join between seasons."""
    next_id = DRIVERS_PER_SEASON
    roster = [f"driver_{i:03d}" for i in range(DRIVERS_PER_SEASON)]
    out = {}
    for year in seasons:
        out[year] = list(roster)
        for _ in range(rng.randint(2, 4)):
            roster.pop(rng.randrange(len(roster)))
            roster.append(f"driver_{next_id:03d}")
            next_id += 1
    return out


def _session_rows(
    rng: random.Random,
    drivers: list[str],
    year: int,
    rnd: int,
    identifier: str,
    when: dt.datetime,
    circuit: int,
) -> list[dict]:
    finish = list(drivers)
    rng.shuffle(finish)
    grid = list(drivers)
    rng.shuffle(grid)
    grid_of = {d: i + 1 for i, d in enumerate(grid)}
    points = RACE_POINTS if identifier == "race" else SPRINT_POINTS
    laps = rng.randint(50, 72) if identifier == "race" else rng.randint(17, 24)
    rows = []
    for idx, driver in enumerate(finish):
        position = idx + 1
        dnf = position > 3 and rng.random() < 0.10
        if dnf:
            pos_str = rng.choice(["R", ""])
            pts = 0
            status = rng.choice(DNF_STATUSES)
            driver_laps = rng.randint(0, laps - 1)
        else:
            pos_str = f"{position}.0" if rng.random() < 0.25 else str(position)
            pts = points[idx] if idx < len(points) else 0
            status = "Finished"
            driver_laps = laps
        r = rng.random()
        grid_str = "0" if r < 0.03 else "" if r < 0.05 else str(grid_of[driver])
        num = int(driver.split("_")[1])
        rows.append(
            {
                "DriverNumber": str(num % 99 + 1),
                "DriverId": driver,
                "TeamId": f"team_{drivers.index(driver) // 2:02d}",
                "Position": pos_str,
                "GridPosition": grid_str,
                "Status": status,
                "Points": f"{pts}.0",
                "Laps": str(driver_laps),
                "identifier": identifier,
                "date": str(when),
                "year": str(year),
                "RoundNumber": str(rnd),
                "Country": f"country_{circuit:02d}",
                "Location": f"circuit_{circuit:02d}",
                "OfficialEventName": f"{year} Grand Prix {circuit:02d}",
            }
        )
    return rows


def generate(
    seed: int, first_season: int = 1990, last_season: int = 2025
) -> dict[tuple[int, int, str], list[dict]]:
    """(year, round, identifier) -> that session's rows."""
    rng = random.Random(seed)
    seasons = list(range(first_season, last_season + 1))
    rosters = _season_rosters(rng, seasons)
    sessions: dict[tuple[int, int, str], list[dict]] = {}
    for year in seasons:
        n_rounds = ROUNDS[year]
        circuits = rng.sample(range(1, N_CIRCUITS + 1), n_rounds)
        # as on the real calendar, a season never opens with a sprint
        sprint_rounds = set(rng.sample(range(2, n_rounds + 1), SPRINTS.get(year, 0)))
        race_day = dt.datetime(year, 3, rng.randint(1, 20), 14, 0, 0)
        # as on the real calendar the season ends before mid-December:
        # a fortnight's gap only while a week apiece still fits after it
        season_end = dt.datetime(year, 12, 10, 14, 0, 0)
        for rnd in range(1, n_rounds + 1):
            circuit = circuits[rnd - 1]
            if rnd in sprint_rounds:
                sprint_day = race_day - dt.timedelta(days=1, hours=3, minutes=30)
                sessions[(year, rnd, "sprint")] = _session_rows(
                    rng, rosters[year], year, rnd, "sprint", sprint_day, circuit
                )
            sessions[(year, rnd, "race")] = _session_rows(
                rng, rosters[year], year, rnd, "race", race_day, circuit
            )
            gap = rng.choice([7, 14])
            rounds_left = n_rounds - rnd - 1
            if race_day + dt.timedelta(days=gap + 7 * rounds_left) > season_end:
                gap = 7
            race_day += dt.timedelta(days=gap)
    return sessions


def write_csvs(
    out_dir: str, seed: int, first_season: int = 1990, last_season: int = 2025
) -> list[str]:
    """Write one CSV per session into ``out_dir``; returns the sorted paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for (year, rnd, identifier), rows in sorted(
        generate(seed, first_season, last_season).items()
    ):
        path = os.path.join(out_dir, f"{year}_{rnd:02d}_{identifier}.csv")
        with open(path, "w", newline="", encoding="utf-8") as fh:
            writer = csv.DictWriter(
                fh, fieldnames=COLUMNS, delimiter=";", lineterminator="\n"
            )
            writer.writeheader()
            writer.writerows(rows)
        paths.append(path)
    return paths
