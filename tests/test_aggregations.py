"""AggregationClient surface: min/max/sum/avg/std/rowcount/median(+weighted)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hbase_1_3_0_spark.operators import aggregations as agg
from hbase_1_3_0_spark.sources import kv_encoder
from tests.conftest import load


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    from hbase_1_3_0_spark.sources import fixtures
    df = load(spark, sf_dir, "lineitem")
    cells = fixtures.kv_cells(spark, sf_dir, "lineitem")
    return cells, df


def test_aggregate_matches_dataframe(lineitem):
    cells, df = lineitem
    got = agg.aggregate(cells, "d", b"l_quantity", interpreter="double").first()
    exp = df.agg(
        F.min("l_quantity"), F.max("l_quantity"), F.sum("l_quantity"),
        F.avg("l_quantity"), F.stddev_pop("l_quantity"), F.count("l_quantity"),
    ).first()
    assert got["min"] == exp[0] and got["max"] == exp[1]
    assert math.isclose(got["sum"], exp[2], rel_tol=1e-9)
    assert math.isclose(got["avg"], exp[3], rel_tol=1e-9)
    assert math.isclose(got["std"], exp[4], rel_tol=1e-9)
    assert got["count"] == exp[5]


def test_row_count(lineitem):
    cells, df = lineitem
    assert agg.row_count(cells).first().rowcount == df.count()


def test_median_exact(lineitem):
    cells, df = lineitem
    got = agg.median(cells, "d", b"l_quantity", interpreter="double").first().median
    exp = df.agg(F.percentile("l_quantity", 0.5)).first()[0]
    assert math.isclose(got, exp, rel_tol=1e-12)


def test_median_weighted(spark):
    # values 1..4 with weights 1,1,1,5 -> cumulative crosses half-total (4) at v=4
    rows = [(i, float(i), w) for i, w in zip(range(1, 5), [1.0, 1.0, 1.0, 5.0])]
    df = spark.createDataFrame(rows, "k: long, v: double, w: double")
    cells = kv_encoder.table_to_cells(df, ["k"], ["v", "w"])
    got = agg.median(
        cells, "d", b"v", interpreter="double", weight_qualifier=b"w"
    ).first().median
    assert got == 4.0


def test_median_weighted_uniform_matches_plain(lineitem, spark):
    cells, df = lineitem
    # weight=constant -> weighted median == lower exact median element
    df2 = df.select("l_orderkey", "l_linenumber", "l_quantity").withColumn(
        "one", F.lit(1.0)
    ).withColumn("_uniq", F.monotonically_increasing_id())
    cells2 = kv_encoder.table_to_cells(
        df2, ["l_orderkey", "l_linenumber", "_uniq"], ["l_quantity", "one"]
    )
    got = agg.median(
        cells2, "d", b"l_quantity", interpreter="double", weight_qualifier=b"one"
    ).first().median
    exact = sorted(r.l_quantity for r in df.select("l_quantity").collect())
    n = len(exact)
    lower_median = exact[(n - 1) // 2] if n % 2 else exact[n // 2 - 1]
    assert got in (lower_median, exact[n // 2])


def test_aggregate_long_interpreter(spark, sf_dir):
    df = load(spark, sf_dir, "orders")
    cells = kv_encoder.table_to_cells(df, ["o_orderkey"])
    got = agg.aggregate(cells, "d", b"o_custkey", interpreter="long").first()
    exp = df.agg(F.min("o_custkey"), F.max("o_custkey"), F.sum("o_custkey")).first()
    assert (got["min"], got["max"], got["sum"]) == (exp[0], exp[1], exp[2])


def test_median_approx_bounded_contract(lineitem):
    """percentile_approx's rank-error guarantee surfaced as a value
    contract: the sketch's 0.5-quantile must land inside the exact
    quantile guard band at 0.5 +/- 2/accuracy (median_approx_bounded),
    and the band itself must be a sane non-empty interval."""
    cells, df = lineitem
    row = agg.median_approx_bounded(
        cells, "d", b"l_extendedprice", interpreter="double", accuracy=1000
    ).first()
    assert row.within_bound is True
    assert row.median_lo <= row.median_hi
    # the band brackets the exact median
    exact = df.agg(F.percentile("l_extendedprice", 0.5)).first()[0]
    assert row.median_lo <= exact <= row.median_hi


def test_exact_median_partition_walk_matches_percentile(spark):
    """The two-phase exact median (no single-node sort buffer) is
    value-identical to Catalyst's percentile(v, 0.5) across the
    interpolation cases: even/odd N, duplicates, single value, nulls,
    empty input."""
    from pyspark.sql import functions as F

    def cells(data):
        return spark.createDataFrame(
            [
                (b"r%03d" % i, "d", b"v", None if x is None else str(x).encode())
                for i, x in enumerate(data)
            ],
            "row binary, family string, qualifier binary, value binary",
        )

    def exact(data, interpreter="double"):
        return agg.median(cells(data), "d", b"v", interpreter=interpreter)

    cases = [
        [1.0, 2.0, 3.0, 4.0],          # even: interpolated 2.5
        [5.0, 1.0, 3.0],               # odd: middle
        [2.0] * 7 + [9.0] * 6,         # duplicates straddling the middle
        [42.0],                        # single
        [1.0, None, 3.0, None, 2.0],   # nulls ignored
    ]
    for data in cases:
        df = spark.createDataFrame([(x,) for x in data], "v double")
        want = df.agg(F.percentile("v", 0.5).alias("m")).first().m
        got = exact(data).first().median
        assert got == want, (data, got, want)
    rows = exact([]).collect()
    assert len(rows) == 1 and rows[0].median is None
    # integral input interpolates in doubles, like percentile
    assert exact(list(range(10)), "long").first().median == 4.5
