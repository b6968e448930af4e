"""What a call costs the driver: the Spark jobs it launches (through the
status tracker) and its py4j round trips."""

from __future__ import annotations

import itertools

from py4j.java_gateway import GatewayClient

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


def py4j_calls(fn):
    """(fn(), number of py4j commands it sent to the JVM). Releases of
    garbage-collected Java references are left out: a finalizer thread
    sends them whenever Python frees an object, so their count is noise."""
    calls = [0]
    send = GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            calls[0] += 1
        return send(self, command, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        out = fn()
    finally:
        GatewayClient.send_command = send
    return out, calls[0]
