"""Test helpers for the small-key path: its deltas, its py4j round trips
and its Spark jobs.

A small-key RMW call returns frames built on its checkpointed delta
(``mutations._delta_once``), so their own plans show a checkpoint leaf and
nothing of the judge or fold that produced it. :func:`recorded_deltas`
captures each delta frame as it is handed to the checkpoint: its executed
plan is the one that actually runs. :func:`py4j_calls` counts the driver's
round trips to the JVM inside a block, and :func:`jobs_run` the Spark jobs
a block starts.
"""

from __future__ import annotations

import threading
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from py4j import protocol as proto
from pyspark.sql import DataFrame, SparkSession

from hbase_1_3_0_spark.operators import mutations


@contextmanager
def recorded_deltas() -> Iterator[list[DataFrame]]:
    """Yield a list that collects every small-key RMW delta frame (CAS
    ``judged``, increment/append ``new_vals``) computed inside the block.
    An RMW call that records nothing took the general path."""
    seen: list[DataFrame] = []
    checkpoint = mutations._delta_once

    def record(delta: DataFrame) -> DataFrame:
        seen.append(delta)
        return checkpoint(delta)

    mutations._delta_once = record
    try:
        yield seen
    finally:
        mutations._delta_once = checkpoint


@contextmanager
def py4j_calls(spark: SparkSession) -> Iterator[Callable[[], int]]:
    """Count the py4j commands the calling thread sends to the JVM inside
    the block (every ``F.*`` call, JVM method call and attribute read is
    one). Releases of collected proxies are left out: py4j's finalizer
    thread sends them whenever Python's garbage collector runs. Yields a
    callable returning the count so far."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    release = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME
    caller = threading.get_ident()
    n = 0

    def counted(command, *a, **kw):
        nonlocal n
        if threading.get_ident() == caller and not command.startswith(release):
            n += 1
        return send(command, *a, **kw)

    client.send_command = counted
    try:
        yield lambda: n
    finally:
        client.send_command = send


@contextmanager
def jobs_run(spark: SparkSession) -> Iterator[Callable[[], int]]:
    """Count the Spark jobs started inside the block: they run under a
    fresh job group, read back through the status tracker. Yields a
    callable returning the count so far."""
    sc = spark.sparkContext
    group = f"jobs-run-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs_run")
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
