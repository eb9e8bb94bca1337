"""A ``createDataFrame(list)`` mutation batch enters the write path as a
LocalRelation (``mutations.driver_list``), and the rebuild changes nothing.

Every ``Table`` write entry that takes a frame rebuilds a proven driver
list of flat-typed columns from its rows, read on the driver. The same
rows passed as ``createDataFrame(sc.parallelize(rows).map(lambda r: r))``
fail the lineage proof (the mapped function is not PySpark's own
re-serialisation), so that frame stays Python-backed: it is the general
path each write must match, log cell for log cell and result for result.
"""

from __future__ import annotations

from contextlib import contextmanager

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests._prop_budget import ex
from tests._small_key import jobs_run

from hbase_1_3_0_spark.catalog import FamilyMeta, TableMeta
from hbase_1_3_0_spark.cells import CELL_SCHEMA, TYPE_DELETE_COLUMN, TYPE_PUT
from hbase_1_3_0_spark.operators.mutations import driver_list, local_relation
from hbase_1_3_0_spark.table import Table

NOW = 50_000
KEYS = [b"r%02d" % i for i in range(16)] + [b"\x00", b"\xff\x01"]
QUALS = [b"q", b"n", None]  # "n" holds 8-byte counters; None = NULL qualifier
MUT_SCHEMA = (
    "op string, row binary, family string, qualifier binary, ts long, "
    "value binary, batch_seq long"
)
CAS_SCHEMA = (
    "op string, row binary, family string, qualifier binary, ts long, "
    "value binary, check_family string, check_qualifier binary, "
    "check_op string, check_value binary, batch_seq long"
)
INC_SCHEMA = "row binary, family string, qualifier binary, delta long"
APP_SCHEMA = (
    "row binary, family string, qualifier binary, value binary, batch_seq long"
)
DEL_SCHEMA = "op string, row binary, family string, qualifier binary, ts long"


def _base(spark) -> Table:
    cells = []
    for i, row in enumerate(KEYS):
        for ts in (1000, 2000 + i):
            cells.append((row, "a", b"q", ts, TYPE_PUT, b"v%d" % ts, 0))
            cells.append((row, "a", b"n", ts, TYPE_PUT, (ts + i).to_bytes(8, "big"), 0))
        if i % 3 == 0:
            cells.append((row, "b", None, 1500, TYPE_PUT, b"nq", 0))
        if i % 4 == 1:
            cells.append((row, "a", b"q", 2500, TYPE_DELETE_COLUMN, None, 0))
    meta = TableMeta(
        name="dl", families=(FamilyMeta(name="a", max_versions=2), FamilyMeta(name="b"))
    )
    return Table(meta, local_relation(spark, cells, CELL_SCHEMA), NOW)


def _norm(df) -> list:
    return sorted(
        (
            tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
            for r in df.collect()
        ),
        key=repr,
    )


def _leaves(df) -> list[str]:
    """The optimized plan's leaves: ``Python`` for an RDD leaf computed by
    a Python worker, else the leaf's class (a small-key RMW delta is a
    LogicalRDD over its checkpoint, run by no Python worker)."""
    seq = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    names = []
    for leaf in (seq.apply(i) for i in range(seq.size())):
        name = leaf.getClass().getSimpleName()
        if name == "LogicalRDD" and "PythonRDD" in leaf.rdd().toDebugString():
            name = "Python"
        names.append(name)
    return names


key_st = st.sampled_from(KEYS)
ts_st = st.one_of(st.none(), st.integers(min_value=1, max_value=9000))
value_st = st.one_of(st.none(), st.binary(min_size=0, max_size=4))
seq_st = st.one_of(st.none(), st.integers(min_value=0, max_value=5))
counter_st = st.integers(min_value=-(1 << 20), max_value=1 << 20)
compare_st = st.sampled_from(
    ["LESS", "LESS_OR_EQUAL", "EQUAL", "NOT_EQUAL", "GREATER_OR_EQUAL", "GREATER"]
)


def _rows(elem):
    return st.lists(elem, min_size=11, max_size=200)


#: (entry, rows strategy, schema): ``entry(table, frame)`` -> (new table,
#: results frame or None)
OPS = {
    "put": (
        lambda t, f: (t.put(f), None),
        _rows(st.tuples(
            key_st, st.sampled_from(["a", "b"]), st.sampled_from(QUALS),
            st.integers(min_value=1, max_value=9000), st.just(TYPE_PUT), value_st,
            st.integers(min_value=0, max_value=5),
        )),
        CELL_SCHEMA,
    ),
    "delete": (
        lambda t, f: (t.delete(f), None),
        _rows(st.tuples(
            st.sampled_from(["delete_column", "delete_family", "delete_version"]),
            key_st, st.sampled_from(["a", "b"]), st.sampled_from(QUALS), ts_st,
        )),
        DEL_SCHEMA,
    ),
    "mutate_row": (
        lambda t, f: (t.mutate_row(f), None),
        _rows(st.tuples(
            st.sampled_from(["put", "delete_column"]), key_st, st.just("a"),
            st.sampled_from(QUALS), ts_st, value_st, seq_st,
        )),
        MUT_SCHEMA,
    ),
    "batch": (
        lambda t, f: (t.batch(f), None),
        _rows(st.one_of(
            st.tuples(
                st.sampled_from(["put", "delete_column", "append"]), key_st,
                st.just("a"), st.sampled_from([b"q", None]), ts_st, value_st,
                st.none(), st.none(), st.none(), st.none(), seq_st,
            ),
            st.tuples(
                st.just("increment"), key_st, st.just("a"), st.just(b"n"), st.none(),
                counter_st.map(lambda d: d.to_bytes(8, "big", signed=True)),
                st.none(), st.none(), st.none(), st.none(), seq_st,
            ),
            st.tuples(
                st.just("check_and_put"), key_st, st.just("a"), st.just(b"q"),
                st.none(), value_st, st.just("a"), st.just(b"q"), compare_st,
                value_st, seq_st,
            ),
        )),
        CAS_SCHEMA,
    ),
    "increment": (
        lambda t, f: t.increment(f),
        _rows(st.tuples(
            key_st, st.just("a"), st.just(b"n"), st.one_of(st.none(), counter_st)
        )),
        INC_SCHEMA,
    ),
    "append": (
        lambda t, f: t.append(f),
        _rows(st.tuples(
            key_st, st.sampled_from(["a", "b"]), st.sampled_from(QUALS),
            st.binary(min_size=0, max_size=3), st.integers(min_value=0, max_value=5),
        )),
        APP_SCHEMA,
    ),
    "check_and_mutate": (
        lambda t, f: t.check_and_mutate(f),
        _rows(st.tuples(
            st.sampled_from(["put", "delete_column"]), key_st, st.just("a"),
            st.sampled_from([b"q", None]), ts_st, value_st, st.just("a"),
            st.sampled_from([b"q", b"n"]), compare_st, value_st, seq_st,
        )),
        CAS_SCHEMA,
    ),
}


def _run(t: Table, op: str, frame):
    entry = OPS[op][0]
    out, results = entry(t, frame)
    return _norm(out.cells), (_norm(results) if results is not None else None), out


@settings(
    max_examples=ex(28),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(op=st.sampled_from(sorted(OPS)), data=st.data())
def test_rebuilt_list_matches_python_backed_frame(spark, op, data):
    """Each write entry gives the same log and results from a list frame
    (rebuilt as a LocalRelation) as from the same rows kept Python-backed;
    the rebuilt write plans no leaf that a Python worker computes."""
    rows = data.draw(OPS[op][1], label="rows")
    schema = OPS[op][2]
    t = _base(spark)
    listed = spark.createDataFrame(rows, schema)
    mapped = spark.createDataFrame(
        spark.sparkContext.parallelize(rows).map(lambda r: r), schema
    )
    got_log, got, out = _run(t, op, listed)
    want_log, want, ref = _run(t, op, mapped)
    assert got_log == want_log
    assert got == want
    assert "Python" not in _leaves(out.cells)
    assert "Python" in _leaves(ref.cells)


@contextmanager
def _threshold(spark, value: str):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _puts(n: int) -> list:
    return [
        (KEYS[i % len(KEYS)], "a", b"q", 3000 + i, TYPE_PUT, b"x" * 40, 0)
        for i in range(n)
    ]


def test_driver_list_reads_the_rows_without_a_job(spark):
    rows = _puts(150)
    frame = spark.createDataFrame(rows, CELL_SCHEMA)
    with jobs_run(spark) as jobs:
        local, got = driver_list(frame)
    assert jobs() == 0
    assert [tuple(r) for r in got] == rows
    assert _leaves(local) == ["LocalRelation"]
    assert local.collect() == frame.collect()


def test_list_past_the_byte_bound_keeps_its_frame(spark):
    """A list whose pickled batches pass autoBroadcastJoinThreshold is not
    read whole: the frame comes back as it is, and the write matches."""
    rows = _puts(150)  # > 6 KB of values alone
    t = _base(spark)
    with _threshold(spark, "2048"):
        frame = spark.createDataFrame(rows, CELL_SCHEMA)
        with jobs_run(spark) as jobs:
            kept, got = driver_list(frame)
        assert jobs() == 0
        assert kept is frame and got is None
        small, small_rows = driver_list(spark.createDataFrame(rows[:2], CELL_SCHEMA))
        assert [tuple(r) for r in small_rows] == rows[:2]
        assert _leaves(small) == ["LocalRelation"]
        out = t.put(frame)
        assert "Python" in _leaves(out.cells)
        log = _norm(out.cells)
    assert log == _norm(t.put(spark.createDataFrame(rows, CELL_SCHEMA)).cells)


def test_disabled_broadcast_threshold_disables_the_rebuild(spark):
    """A disabled threshold (-1) reads no rows: every list keeps its frame,
    even an empty one, and the RMW ops take the general path."""
    t = _base(spark)
    incs = [(KEYS[i], "a", b"n", i) for i in range(12)]
    with _threshold(spark, "-1"):
        for rows, schema in ((_puts(3), CELL_SCHEMA), ([], CELL_SCHEMA), (incs, INC_SCHEMA)):
            frame = spark.createDataFrame(rows, schema)
            kept, got = driver_list(frame)
            assert kept is frame and got is None
        out, res = t.increment(spark.createDataFrame(incs, INC_SCHEMA))
        assert "Python" in _leaves(out.cells)
        log, results = _norm(out.cells), _norm(res)
    out, res = t.increment(spark.createDataFrame(incs, INC_SCHEMA))
    assert "Python" not in _leaves(out.cells)
    assert (log, results) == (_norm(out.cells), _norm(res))
