"""The aggregation coprocessor surface (AggregationClient analog).

Reference: per-region partial aggregation endpoints
(AggregateImplementation.java: max:74, min:129, sum:182, rowCount:234,
avg:293, std:353, median:418) merged client-side
(AggregationClient.java:119-785), typed via ColumnInterpreter with Long /
Double / BigDecimal interpreters (SURVEY.md §2.3).

Spark: partial-per-region + client merge IS Catalyst's built-in partial
aggregation — ``df.agg(...)`` compiles to map-side partial + final merge, the
exact same decomposition (SURVEY.md §2.1 coprocessorService row). The only
non-built-in is the weighted median, which the reference resolves with a
2-phase cumulative-weight walk (AggregationClient.java:739-785); here it is
a cumulative-sum window crossing Σw/2.

``interpreter`` mirrors ColumnInterpreter: decodes the binary cell value to
a numeric column ('long'/'double'/'decimal' for the canonical UTF-8 codec,
'long_be8' for Bytes.toBytes(long) counters), or pass any custom decode
``Column`` function.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hbase_1_3_0_spark.functions import codecs

Interpreter = Callable[[Column], Column]

_INTERPRETERS: dict[str, Interpreter] = {
    "long": lambda c: codecs.decode_value(c, "bigint"),
    "double": lambda c: codecs.decode_value(c, "double"),
    "decimal": lambda c: codecs.decode_value(c, "decimal(28,6)"),
    "long_be8": codecs.decode_long_be,
}


def _decode(interpreter: str | Interpreter) -> Interpreter:
    if callable(interpreter):
        return interpreter
    return _INTERPRETERS[interpreter]


def _values(
    cells: DataFrame, family: str, qualifier: bytes, interpreter: str | Interpreter
) -> DataFrame:
    dec = _decode(interpreter)
    return cells.where(
        (F.col("family") == family) & (F.col("qualifier") == F.lit(qualifier))
    ).select("row", dec(F.col("value")).alias("v"))


def aggregate(
    cells: DataFrame,
    family: str,
    qualifier: bytes,
    *,
    interpreter: str | Interpreter = "long",
    stats: tuple[str, ...] = ("min", "max", "sum", "avg", "std", "count"),
) -> DataFrame:
    """One-pass min/max/sum/avg/std/rowcount over a scanned column — the
    whole AggregationClient surface in a single partial-aggregatable job
    (the reference needs one coprocessor RPC fan-out per statistic)."""
    vals = _values(cells, family, qualifier, interpreter)
    agg_map = {
        "min": F.min("v").alias("min"),
        "max": F.max("v").alias("max"),
        "sum": F.sum("v").alias("sum"),
        "avg": F.avg("v").alias("avg"),
        # HBase std is population std (AggregationClient.java:622)
        "std": F.stddev_pop("v").alias("std"),
        "count": F.count("v").alias("count"),
    }
    return vals.agg(*[agg_map[s] for s in stats])


def row_count(cells: DataFrame) -> DataFrame:
    """rowCount (AggregateImplementation.java:234): FirstKeyOnlyFilter-style
    distinct-row count — partial per partition, merged."""
    return cells.select(F.countDistinct("row").alias("rowcount"))


def median_approx_bounded(
    cells: DataFrame,
    family: str,
    qualifier: bytes,
    *,
    interpreter: str | Interpreter = "long",
    accuracy: int = 10_000,
) -> DataFrame:
    """The approximate median WITH its error contract made visible.

    ``percentile_approx``'s documented guarantee is a RANK error of at
    most ``1/accuracy``: the returned element's rank lies within
    ``[N*(0.5 - eps), N*(0.5 + eps)]`` for ``eps = 1/accuracy``. This
    returns one row ``(median_lo, median_hi, within_bound)`` where
    lo/hi are the EXACT interpolated quantiles at ``0.5 ± 2*eps`` and
    ``within_bound`` asserts the sketch landed between them — the
    bounded-error value check for a result that is otherwise
    engine-specific. The guard band is 2x the rank bound because an
    element at rank ``(0.5 - eps)*N`` can sit just below the
    INTERPOLATED quantile at ``0.5 - eps`` (interpolation spans one
    rank); with ``eps*N >= 1`` the 2x band strictly contains any
    element the guarantee admits.

    Scale note: the exact bounds make this the CONTRACT query —
    sort-based exact percentile over all values. The production path
    at corpus scale stays ``median(..., approximate=True)`` (one pass,
    mergeable sketches, no sort); run this form on samples/CI scales
    to validate sketch accuracy.
    """
    vals = _values(cells, family, qualifier, interpreter)
    eps = 1.0 / accuracy
    return vals.agg(
        F.percentile_approx("v", 0.5, accuracy).alias("m"),
        F.percentile("v", 0.5 - 2 * eps).alias("lo"),
        F.percentile("v", 0.5 + 2 * eps).alias("hi"),
    ).select(
        F.round("lo", 6).alias("median_lo"),
        F.round("hi", 6).alias("median_hi"),
        (
            (F.col("m") >= F.col("lo")) & (F.col("m") <= F.col("hi"))
        ).alias("within_bound"),
    )


def _cumulative_walk(pairs: DataFrame, targets: list[Column]) -> DataFrame:
    """For each target cumulative weight, the smallest value whose
    cumulative weight reaches it: the reference's two-phase region walk
    (AggregationClient.getMedianArgs:647, :739-785), partitions standing in
    for regions, with no single-node sort buffer. ``pairs``: (v, w), v not
    null. Phase 1 range-partitions by value and reduces each partition to
    (Σw, min v), whose sum is ``_total``; ``targets`` are the target
    weights, written over that column. Phase 2 accumulates the weight only within the
    partitions a target falls in. Returns one row: ``_v0``, ``_v1``, ...
    (one value per target) and ``_total``; nulls on no input."""
    num_parts = max(pairs.sparkSession.sparkContext.defaultParallelism, 2)
    parted = pairs.repartitionByRange(num_parts, "v").withColumn(
        "_pid", F.spark_partition_id()
    )
    # the weight before each partition and the total: windows over the
    # per-partition table, no other pass over the pairs
    per_part = (
        parted.groupBy("_pid")
        .agg(F.sum("w").alias("_pw"), F.min("v").alias("_pmin"))
        .withColumn(
            "_cum_before",
            F.coalesce(
                F.sum("_pw").over(
                    Window.orderBy("_pmin", "_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .withColumn("_total", F.sum("_pw").over(Window.partitionBy()))
    )
    # a target's value lies in the first partition whose cumulative weight
    # reaches it; a later partition that also qualifies holds larger values
    holds = [
        (F.col("_cum_before") <= t) & (F.col("_cum_before") + F.col("_pw") >= t)
        for t in targets
    ]
    spans = per_part.where(reduce(lambda x, y: x | y, holds)).select(
        "_pid", "_cum_before", "_total"
    )
    in_part = parted.join(F.broadcast(spans), "_pid")
    w_cum = Window.partitionBy("_pid").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = in_part.withColumn("_cw", F.col("_cum_before") + F.sum("w").over(w_cum))
    return cum.agg(
        *[
            F.min(F.when(F.col("_cw") >= t, F.col("v"))).alias(f"_v{k}")
            for k, t in enumerate(targets)
        ],
        F.min("_total").alias("_total"),
    )


def median(
    cells: DataFrame,
    family: str,
    qualifier: bytes,
    *,
    interpreter: str | Interpreter = "long",
    weight_qualifier: bytes | None = None,
    approximate: bool = False,
) -> DataFrame:
    """Exact (or approximate) median; optionally weighted
    (AggregateImplementation.java:418, AggregationClient.java:728-785).

    Both exact forms are one two-phase partition walk
    (:func:`_cumulative_walk`), the reference's cumulative-weight region
    walk. Weighted: the smallest value at which the cumulative weight
    reaches half the total. Unweighted: unit weights, and the two ranks
    Catalyst's ``percentile`` interpolates between — value-identical to it
    without its all-values-on-one-node aggregation buffer; ``approximate=True``
    uses ``percentile_approx`` (the 100 TB-scale path: one pass, mergeable
    sketches, no sort)."""
    if weight_qualifier is None:
        vals = _values(cells, family, qualifier, interpreter)
        if approximate:
            return vals.agg(F.percentile_approx("v", 0.5).alias("median"))
        # Percentile.getPercentile's interpolation between the values at
        # 0-based ranks floor/ceil(0.5 * (N - 1)), in doubles: the value of
        # Catalyst's ``percentile`` without its all-values buffer
        pos = F.lit(0.5) * (F.col("_total") - 1)
        walked = _cumulative_walk(
            vals.where(F.col("v").isNotNull()).withColumn("w", F.lit(1)),
            [F.floor(pos) + 1, F.ceil(pos) + 1],
        )
        lo, hi = F.col("_v0").cast("double"), F.col("_v1").cast("double")
        return walked.select(
            (lo + (hi - lo) * (pos - F.floor(pos))).alias("median")
        )

    dec = _decode(interpreter)
    fam = cells.where(F.col("family") == family)
    q = F.col("qualifier")
    pairs = (
        fam.where(q.isin(F.lit(qualifier), F.lit(weight_qualifier)))
        .groupBy("row")
        .agg(
            F.max(F.when(q == F.lit(qualifier), dec(F.col("value")))).alias("v"),
            F.max(
                F.when(q == F.lit(weight_qualifier), dec(F.col("value")))
            ).alias("w"),
        )
        .where(F.col("v").isNotNull() & F.col("w").isNotNull())
    )
    # the value at which the cumulative weight crosses half the total; with
    # every weight zero, the smallest value
    return _cumulative_walk(pairs, [F.col("_total") / 2]).select(
        F.col("_v0").alias("median")
    )
