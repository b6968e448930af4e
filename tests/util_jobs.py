"""Count the Spark jobs a call launches, through the status tracker."""

from __future__ import annotations

import itertools

_groups = itertools.count()


def jobs_launched(spark, fn):
    """(fn(), number of Spark jobs launched while it ran)."""
    sc = spark.sparkContext
    group = f"jobs_launched_{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
