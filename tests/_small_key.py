"""Test helper: the small-key RMW deltas as they are computed.

A small-key RMW call returns frames built on its checkpointed delta
(``mutations._delta_once``), so their own plans show a checkpoint leaf and
nothing of the judge or fold that produced it. :func:`recorded_deltas`
captures each delta frame as it is handed to the checkpoint: its executed
plan is the one that actually runs.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

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
