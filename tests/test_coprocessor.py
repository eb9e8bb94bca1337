"""Coprocessor surface tests: observers, endpoints, BufferedMutator
(SURVEY.md §2.6; RegionObserver.java hooks, AggregateImplementation shape).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from hbase_1_3_0_spark.catalog import TableMeta
from hbase_1_3_0_spark.cells import CELL_SCHEMA, TYPE_PUT
from hbase_1_3_0_spark.operators import coprocessor as cp
from hbase_1_3_0_spark.table import Table


def _cells(spark, rows):
    return spark.createDataFrame(rows, CELL_SCHEMA)


def _put(row, qual, value, ts=100, seq=0):
    return (row, "d", qual, ts, TYPE_PUT, value, seq)


def _table(spark, rows):
    return Table(TableMeta(name="t"), _cells(spark, rows), now_ms=1000)


def test_pre_scan_observer_filters_before_read_view(spark):
    t = _table(spark, [_put(b"r1", b"a", b"x"), _put(b"r2", b"a", b"y")])
    t2 = t.with_observers(pre_scan=lambda df: df.where(F.col("row") != b"r2"))
    keys = [b"r1", b"r2"]
    key_frame = spark.createDataFrame([(k,) for k in keys], "row binary")
    # keyed reads take the same read path: the hidden row stays hidden
    for read in (
        t2.scan(),
        t2.multi_get(keys),
        t2.exists(keys),
        t2.multi_get(key_frame),
        t2.exists(key_frame),
    ):
        assert {r["row"] for r in read.collect()} == {b"r1"}
    # the original table is untouched (observers are per-handle)
    assert {r["row"] for r in t.scan().collect()} == {b"r1", b"r2"}


def test_post_scan_observer_redacts_values(spark):
    t = _table(spark, [_put(b"r1", b"secret", b"v"), _put(b"r1", b"a", b"x")])
    redact = lambda df: df.withColumn(  # noqa: E731
        "value",
        F.when(F.col("qualifier") == b"secret", F.lit(b"****")).otherwise(
            F.col("value")
        ),
    )
    got = {
        bytes(r["qualifier"]): r["value"]
        for r in t.with_observers(post_scan=redact).scan().collect()
    }
    assert got == {b"secret": b"****", b"a": b"x"}


def test_pre_mutate_observer_rewrites_puts_and_deletes(spark):
    t = _table(spark, [_put(b"r1", b"a", b"x")])
    # prePut analog: force all put timestamps to 555
    stamp = lambda df: df.withColumn("ts", F.lit(555).cast("long"))  # noqa: E731
    t2 = t.with_observers(pre_mutate=stamp).put(
        _cells(spark, [_put(b"r2", b"a", b"y", ts=999)])
    )
    raw = {r["row"]: r["ts"] for r in t2.scan(raw=True).collect()}
    assert raw[b"r2"] == 555
    assert raw[b"r1"] == 100  # existing cells untouched


def test_post_mutate_observes_committed_puts_and_deletes(spark):
    """postPut/postDelete analog (RegionObserver.java:560,592): hooks
    fire AFTER the commit with the committed cell frame; they observe
    (audit-log pattern) but cannot alter the table state."""
    t = _table(spark, [_put(b"r1", b"a", b"x")])
    audit = []
    t2 = t.with_observers(post_mutate=lambda df: audit.append(df))

    t3 = t2.put(_cells(spark, [_put(b"r2", b"a", b"y", ts=200)]))
    assert len(audit) == 1
    got = audit[0].collect()
    assert [(bytes(r.row), r.ts) for r in got] == [(b"r2", 200)]
    # committed state includes the put — hook did not change it
    assert {bytes(r["row"]) for r in t3.scan().collect()} == {b"r1", b"r2"}

    dels = spark.createDataFrame(
        [("delete_column", b"r1", "d", b"a", 500)],
        "op string, row binary, family string, qualifier binary, ts long",
    )
    t4 = t3.with_observers(post_mutate=lambda df: audit.append(df)).delete(dels)
    # t3 carries the hook from t2 (observers ride the handle), plus the
    # newly registered copy: both fire on the delete
    assert len(audit) == 3
    tomb = audit[-1].collect()
    assert len(tomb) == 1 and tomb[0].type != TYPE_PUT
    assert {bytes(r["row"]) for r in t4.scan().collect()} == {b"r2"}


def test_post_mutate_fires_on_mutate_row_and_batch(spark):
    t = _table(spark, [_put(b"r1", b"a", b"x")])
    frames = []
    t2 = t.with_observers(post_mutate=lambda df: frames.append(df))

    muts = spark.createDataFrame(
        [
            ("put", b"r1", "d", b"b", 300, b"v1", 0),
            ("delete_column", b"r1", "d", b"a", 300, None, 1),
        ],
        "op string, row binary, family string, qualifier binary, ts long, "
        "value binary, batch_seq long",
    )
    t3 = t2.mutate_row(muts)
    assert len(frames) == 1
    assert frames[0].count() == 2  # the committed atomic group
    got = {bytes(r["qualifier"]) for r in t3.scan().collect()}
    assert got == {b"b"}

    t3.batch(muts.where(F.col("op") == "put"))
    # batch hook receives the MUTATION frame (postBatchMutate analog)
    assert len(frames) == 2 and "op" in frames[1].columns


def test_post_increment_and_post_append_rewrite_results(spark):
    """postIncrement/postAppend analog (RegionObserver.java:772,887):
    hooks CHAIN and may replace the returned Result; the committed
    cells stay untouched."""
    start = (7).to_bytes(8, "big")
    t = _table(spark, [(b"r1", "d", b"cnt", 100, TYPE_PUT, start, 0)])
    t2 = t.with_observers(
        post_increment=lambda df: df.withColumn(
            "new_value", F.col("new_value") * 10
        )
    ).with_observers(
        post_increment=lambda df: df.withColumn(
            "new_value", F.col("new_value") + 1
        )
    )
    incs = spark.createDataFrame(
        [(b"r1", "d", b"cnt", 5)],
        "row binary, family string, qualifier binary, delta long",
    )
    t3, results = t2.increment(incs)
    # chained: (7+5)*10 + 1 — the caller-visible Result is rewritten...
    assert results.collect()[0].new_value == 121
    # ...but the committed counter is the real 12
    cell = t3.get(b"r1").collect()[0]
    assert int.from_bytes(bytes(cell.value), "big", signed=True) == 12

    apps = spark.createDataFrame(
        [(b"r1", "d", b"log", b"x", 0)],
        "row binary, family string, qualifier binary, value binary, "
        "batch_seq long",
    )
    seen = []
    t4 = t3.with_observers(
        post_append=lambda df: (seen.append(df), df)[1]
    )
    _, app_res = t4.append(apps)
    app_res.collect()
    assert len(seen) == 1  # hook ran on the append Result frame


def test_unknown_observer_hook_point_rejected(spark):
    import pytest

    t = _table(spark, [_put(b"r1", b"a", b"x")])
    with pytest.raises(TypeError, match="unknown observer hook"):
        t.with_observers(post_put=lambda df: df)


def test_observer_chaining_order(spark):
    t = _table(spark, [_put(b"r1", b"a", b"x")])
    calls = []
    h1 = lambda df: (calls.append(1), df)[1]  # noqa: E731
    h2 = lambda df: (calls.append(2), df)[1]  # noqa: E731
    t.with_observers(pre_scan=h1).with_observers(pre_scan=h2).scan()
    assert calls == [1, 2]


def test_grouped_endpoint_per_row(spark):
    t = _table(
        spark,
        [
            _put(b"r1", b"a", b"1"),
            _put(b"r1", b"b", b"2"),
            _put(b"r2", b"a", b"5"),
        ],
    )

    def row_sum(pdf: pd.DataFrame) -> pd.DataFrame:
        total = sum(int(v.decode()) for v in pdf["value"])
        return pd.DataFrame({"row": [pdf["row"].iloc[0]], "total": [total]})

    out = cp.grouped_endpoint(t.scan(), row_sum, "row binary, total long")
    got = {bytes(r["row"]): r["total"] for r in out.collect()}
    assert got == {b"r1": 3, b"r2": 5}


def test_partition_endpoint_partial_plus_merge(spark):
    t = _table(
        spark,
        [_put(f"r{i}".encode(), b"a", str(i).encode()) for i in range(20)],
    )

    def partial(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "part_sum": [sum(int(v.decode()) for v in pdf["value"])],
                    "part_count": [len(pdf)],
                }
            )

    partials = cp.partition_endpoint(
        t.scan(), partial, "part_sum long, part_count long"
    )
    final = partials.agg(
        F.sum("part_sum").alias("s"), F.sum("part_count").alias("c")
    ).collect()[0]
    assert final["s"] == sum(range(20))
    assert final["c"] == 20


def test_buffered_mutator_flushes_once(spark):
    t = _table(spark, [_put(b"r0", b"a", b"x")])
    bm = t.buffered_mutator(flush_batches=3)
    bm.mutate(_cells(spark, [_put(b"r1", b"a", b"1")]))
    bm.mutate(_cells(spark, [_put(b"r2", b"a", b"2")]))
    # not flushed yet: table handle unchanged
    assert bm.table.scan().count() == 1
    bm.mutate(_cells(spark, [_put(b"r3", b"a", b"3")]))  # hits threshold
    assert bm.table.scan().count() == 4
    bm.mutate(_cells(spark, [_put(b"r4", b"a", b"4")]))
    assert bm.flush().scan().count() == 5
