"""The small-key path equals the general path.

A Get, a literal ``multi_get``/``exists`` list and a driver-side RMW
mutation frame of at most ``spark.sql.parquet.pushdown.inFilterThreshold``
keys under ``spark.sql.autoBroadcastJoinThreshold`` take the small-key path: ``row IN (...)`` pruned in the scan, one pinned partition,
window lookups instead of joins, and a local-checkpointed RMW delta. The
general path (a broadcast semi join of the keys, AQE-planned joins) is what
every larger or computed key set takes. Setting the threshold to -1 turns
the small-key path off, so each operation below runs both ways on the same
log and the results must match cell for cell — over random logs with all
four tombstone kinds, TTL with ``min_versions``, KEEP_DELETED_CELLS time
ranges, multi-version families and the NULL-qualifier column.
"""

from __future__ import annotations

from contextlib import contextmanager
from datetime import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests._prop_budget import ex
from tests._small_key import recorded_deltas

from hbase_1_3_0_spark.catalog import FamilyMeta, TableMeta
from hbase_1_3_0_spark.cells import (
    CELL_SCHEMA,
    TTL_FOREVER,
    TYPE_DELETE_COLUMN,
    TYPE_DELETE_FAMILY,
    TYPE_DELETE_FAMILY_VERSION,
    TYPE_DELETE_VERSION,
    TYPE_PUT,
)
from hbase_1_3_0_spark.operators.mutations import local_relation, small_key_frame
from hbase_1_3_0_spark.plans import inspect
from hbase_1_3_0_spark.sources import writer
from hbase_1_3_0_spark.table import Table

NOW = 10_000
ROWS = [b"r1", b"r2", b"\x00", b"\xff\x01"]
MISSING = b"zz"
QUALS = [b"q", b"n", None]  # "n" holds 8-byte counters; None = NULL qualifier
TYPES = [
    TYPE_PUT,
    TYPE_PUT,
    TYPE_PUT,
    TYPE_DELETE_VERSION,
    TYPE_DELETE_COLUMN,
    TYPE_DELETE_FAMILY,
    TYPE_DELETE_FAMILY_VERSION,
]
CAS_SCHEMA = (
    "op string, row binary, family string, qualifier binary, ts long, "
    "value binary, check_family string, check_qualifier binary, "
    "check_op string, check_value binary, batch_seq long"
)
INC_SCHEMA = "row binary, family string, qualifier binary, delta long"
APP_SCHEMA = (
    "row binary, family string, qualifier binary, value binary, batch_seq long"
)

cell_st = st.tuples(
    st.sampled_from(ROWS),
    st.sampled_from(["a", "b"]),
    st.sampled_from(QUALS),
    st.integers(min_value=1, max_value=9),  # ts in seconds
    st.sampled_from(TYPES),
    st.integers(min_value=0, max_value=3),  # seq
)


def family_st(name: str):
    return st.builds(
        FamilyMeta,
        name=st.just(name),
        max_versions=st.integers(min_value=1, max_value=3),
        min_versions=st.integers(min_value=0, max_value=2),
        ttl_seconds=st.sampled_from([TTL_FOREVER, 4, 7]),
        keep_deleted_cells=st.sampled_from(["FALSE", "TRUE", "TTL"]),
    )


read_kw_st = st.fixed_dictionaries(
    {},
    optional={
        "time_range": st.tuples(
            st.integers(min_value=0, max_value=4000),
            st.integers(min_value=5000, max_value=10_000),
        ),
        "max_versions": st.integers(min_value=1, max_value=3),
    },
)


def _value(qual, ts, seq) -> bytes:
    if qual == b"n":
        return (ts + seq).to_bytes(8, "big")
    return f"v{ts}.{seq}".encode()


def _table(spark, cells, fams) -> Table:
    rows = {}
    for row, fam, qual, ts, typ, seq in cells:
        ts_ms = ts * 1000
        rows[(row, fam, qual, ts_ms, typ, seq)] = (
            row, fam, qual, ts_ms, typ,
            _value(qual, ts_ms, seq) if typ == TYPE_PUT else None, seq,
        )
    meta = TableMeta(name="skp", families=tuple(fams))
    return Table(meta, local_relation(spark, list(rows.values()), CELL_SCHEMA), NOW)


@contextmanager
def general_path(spark):
    """A disabled broadcast threshold turns the small-key path off."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _cells(df) -> set:
    return {
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
        for r in df.collect()
    }


def _is_small_key_path(df) -> bool:
    """A pinned read carries the one-partition coalesce."""
    return "Repartition 1, false" in df._jdf.queryExecution().analyzed().toString()


def _both(spark, build):
    """``build()`` on each path -> (small result, general result), checking
    that the two really took different paths and that the small-key one
    plans no exchange."""
    small = build()
    got = _cells(small)
    assert _is_small_key_path(small)
    assert inspect.exchange_count(small) == 0
    with general_path(spark):
        general = build()
        want = _cells(general)
        assert not _is_small_key_path(general)
    return got, want


def _both_rmw(spark, build):
    """Same for an RMW call: ``build()`` -> (new Table, results). The
    small-key call must compute one delta, planned with no exchange; the
    general call none. Also compares the new tables' full contents."""
    with recorded_deltas() as deltas:
        t_small, small = build()
        got = _cells(small)
    assert len(deltas) == 1
    assert inspect.exchange_count(deltas[0]) == 0
    got_log = _cells(t_small.scan(max_versions=3))
    with general_path(spark), recorded_deltas() as deltas:
        t_gen, general = build()
        want = _cells(general)
        want_log = _cells(t_gen.scan(max_versions=3))
    assert not deltas
    return (got, got_log), (want, want_log)


@settings(
    max_examples=ex(16),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    cells=st.lists(cell_st, min_size=1, max_size=30),
    fam_a=family_st("a"),
    fam_b=family_st("b"),
    read_kw=read_kw_st,
    row=st.sampled_from(ROWS),
    check_op=st.sampled_from(["EQUAL", "NOT_EQUAL", "LESS", "GREATER"]),
    probe=st.sampled_from([None, b"v1000.0", b"v5000.1", b"v9"]),
    delta=st.integers(min_value=-5, max_value=5),
)
def test_small_key_path_matches_general_path(
    spark, cells, fam_a, fam_b, read_kw, row, check_op, probe, delta
):
    t = _table(spark, cells, [fam_a, fam_b])
    other = ROWS[(ROWS.index(row) + 1) % len(ROWS)]

    got, want = _both(spark, lambda: t.get(row, **read_kw))
    assert got == want
    got, want = _both(spark, lambda: t.multi_get([row, other, MISSING], **read_kw))
    assert got == want
    got, want = _both(spark, lambda: t.exists(ROWS + [MISSING]))
    assert got == want
    got, want = _both(spark, lambda: t.multi_get(ROWS, limit=2))
    assert got == want

    cas = spark.createDataFrame(
        [
            ("put", r, "b", b"q", None, b"new", "a", b"q", check_op, probe, 1)
            for r in (row, other)
        ],
        CAS_SCHEMA,
    )
    got, want = _both_rmw(spark, lambda: t.check_and_mutate(cas))
    assert got == want

    incs = spark.createDataFrame(
        [(row, "a", b"n", delta), (row, "a", b"n", 1), (other, "b", b"n", delta)],
        INC_SCHEMA,
    )
    tr = read_kw.get("time_range")
    got, want = _both_rmw(spark, lambda: t.increment(incs, time_range=tr))
    assert got == want

    apps = spark.createDataFrame(
        [(row, "b", b"q", b"+x", 2), (row, "b", b"q", b"+y", 1),
         (other, "a", None, b"+z", 0)],
        APP_SCHEMA,
    )
    got, want = _both_rmw(spark, lambda: t.append(apps))
    assert got == want


def test_small_key_path_matches_general_path_on_parquet(spark, tmp_path):
    """The pruning predicate reaches a real parquet scan (row-group stats
    and the writer's row blooms): unsigned byte order, a key that is a
    prefix of another, and a missing key must all read as on the general
    path."""
    keys = [b"\x00", b"a", b"ab", b"b", b"\x7f", b"\x80", b"\xff\x01"]
    rows = [
        (k, "d", q, ts, TYPE_PUT, b"%s-%d" % (q, ts), 0)
        for k in keys
        for q in (b"x", b"y")
        for ts in (100, 200)
    ] + [(b"ab", "d", b"x", 200, TYPE_DELETE_COLUMN, None, 0)]
    path = tmp_path / "log"
    writer.write_cells(
        spark.createDataFrame(rows, CELL_SCHEMA), path, num_partitions=3
    )
    meta = TableMeta(name="pq", families=(FamilyMeta(name="d", max_versions=2),))
    t = Table(meta, writer.read_cells(spark, path), NOW)
    for k in keys + [MISSING, b"a\x00"]:
        got, want = _both(spark, lambda: t.get(k, max_versions=2))
        assert got == want, k
    got, want = _both(spark, lambda: t.multi_get(keys[::2] + [MISSING]))
    assert got == want


def test_small_key_path_stops_at_the_in_filter_threshold(spark):
    """Past spark.sql.parquet.pushdown.inFilterThreshold keys (or rows of
    an RMW frame) the general path runs: the pushed IN would widen to a
    min/max span that one pinned task would read serially."""
    limit = int(spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold"))
    keys = [b"k%03d" % i for i in range(limit + 1)]
    cells = [(k, "a", b"n", 1000, TYPE_PUT, (7).to_bytes(8, "big"), 0) for k in keys]
    meta = TableMeta(name="lim", families=(FamilyMeta(name="a"),))
    t = Table(meta, local_relation(spark, cells, CELL_SCHEMA), NOW)

    assert _is_small_key_path(t.multi_get(keys[:limit]))
    wide = t.multi_get(keys)
    assert not _is_small_key_path(wide)
    assert len(wide.collect()) == limit + 1

    incs = [(k, "a", b"n", 1) for k in keys]
    with recorded_deltas() as deltas:
        t.increment(spark.createDataFrame(incs[:limit], INC_SCHEMA))[1].collect()
        _, res = t.increment(spark.createDataFrame(incs, INC_SCHEMA))
        assert {r.new_value for r in res.collect()} == {8}
    assert len(deltas) == 1


def test_small_key_cas_keeps_payload_types(spark):
    """A mutation frame with columns a collect() + Arrow rebuild would not
    return unchanged (a timestamp, an array) still takes the small-key
    path, pinned as it is: its rows read back unchanged and the CAS
    matches the general path."""
    t = _table(
        spark,
        [(b"r1", "a", b"q", 1, TYPE_PUT, 0), (b"r2", "a", b"q", 2, TYPE_PUT, 0)],
        [FamilyMeta(name="a"), FamilyMeta(name="b")],
    )
    at = datetime(2020, 3, 29, 1, 30, 15, 123456)
    cas = spark.createDataFrame(
        [
            ("put", r, "b", b"q", None, b"new", "a", b"q", "EQUAL", probe, 1,
             at, [at])
            for r, probe in ((b"r1", b"v1000.0"), (b"r2", b"nope"))
        ],
        CAS_SCHEMA + ", at timestamp, seen array<timestamp>",
    )
    pinned, keys = small_key_frame(cas)
    assert keys == [b"r1", b"r2"]
    assert pinned.collect() == cas.collect()

    got, want = _both_rmw(spark, lambda: t.check_and_mutate(cas))
    assert got == want
    verdicts, _log = got
    assert {(v[0], v[-1]) for v in verdicts} == {(b"r1", True), (b"r2", False)}
