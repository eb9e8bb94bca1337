"""Mutations: put/delete kinds, increment, append, checkAndMutate, batches.

Scenario sources: TestIncrementsFromClientSide, TestCheckAndMutate,
TestFromClientSide delete-shadowing cases (SURVEY.md §5) + the F5 invariants
(final counter = Σ deltas; append = ordered concat; CAS applies iff the
predicate held against the pre-batch view).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hbase_1_3_0_spark.catalog import FamilyMeta, TableMeta
from hbase_1_3_0_spark.cells import CELL_SCHEMA, TYPE_PUT
from hbase_1_3_0_spark.functions import codecs
from hbase_1_3_0_spark.operators.mutations import local_relation
from hbase_1_3_0_spark.table import Scan, Table

MUT_SCHEMA = (
    "op string, row binary, family string, qualifier binary, ts long, "
    "value binary, batch_seq long"
)


def fresh_table(spark, rows, max_versions=5):
    cells = local_relation(spark, rows, CELL_SCHEMA)
    meta = TableMeta(
        name="t", families=(FamilyMeta(name="d", max_versions=max_versions),)
    )
    return Table(meta, cells, now_ms=10_000)


def cellmap(df):
    return {
        (bytes(r.row), r.family, bytes(r.qualifier)): (
            bytes(r.value) if r.value is not None else None,
            r.ts,
        )
        for r in df.collect()
    }


def test_put_then_scan_sees_new_cell(spark):
    t = fresh_table(spark, [(b"r1", "d", b"q", 100, TYPE_PUT, b"v1", 0)])
    puts = spark.createDataFrame(
        [("put", b"r2", "d", b"q", None, b"v2", 1)], MUT_SCHEMA
    )
    t2 = t.mutate_row(puts)
    got = cellmap(t2.scan())
    assert got[(b"r2", "d", b"q")] == (b"v2", 10_000)
    assert got[(b"r1", "d", b"q")] == (b"v1", 100)


def test_delete_kinds_via_table_api(spark):
    t = fresh_table(spark, [
        (b"r1", "d", b"q1", 100, TYPE_PUT, b"a", 0),
        (b"r1", "d", b"q1", 200, TYPE_PUT, b"b", 0),
        (b"r1", "d", b"q2", 100, TYPE_PUT, b"c", 0),
        (b"r2", "d", b"q1", 100, TYPE_PUT, b"d", 0),
    ])
    # delete_column masks q1 versions <= 300 on r1 only
    dels = spark.createDataFrame(
        [("delete_column", b"r1", "d", b"q1", 300, None, 0)], MUT_SCHEMA
    )
    got = cellmap(t.delete(dels).scan(Scan(max_versions=5)))
    assert set(got) == {(b"r1", "d", b"q2"), (b"r2", "d", b"q1")}
    # delete_family masks everything on r1
    dels2 = spark.createDataFrame(
        [("delete_family", b"r1", "d", None, 300, None, 0)], MUT_SCHEMA
    )
    got2 = cellmap(t.delete(dels2).scan(Scan(max_versions=5)))
    assert set(got2) == {(b"r2", "d", b"q1")}


def test_increment_be8_counter_semantics(spark):
    # existing counter starts at 7 (8-byte BE), new counter initializes to delta
    start = (7).to_bytes(8, "big")
    t = fresh_table(spark, [(b"r1", "d", b"cnt", 100, TYPE_PUT, start, 0)])
    incs = spark.createDataFrame(
        [
            (b"r1", "d", b"cnt", 5),
            (b"r1", "d", b"cnt", 3),
            (b"r2", "d", b"cnt", 11),
        ],
        "row binary, family string, qualifier binary, delta long",
    )
    t2, results = t.increment(incs)
    res = {bytes(r.row): r.new_value for r in results.collect()}
    assert res == {b"r1": 15, b"r2": 11}  # 7+5+3 ; init-to-delta
    got = cellmap(t2.scan())
    assert got[(b"r1", "d", b"cnt")][0] == (15).to_bytes(8, "big")
    assert got[(b"r2", "d", b"cnt")][0] == (11).to_bytes(8, "big")


def test_increment_total_equals_sum_of_deltas(spark):
    # F5 invariant under repeated batches
    t = fresh_table(spark, [(b"r0", "d", b"x", 1, TYPE_PUT, b"seed", 0)])
    deltas = [[1, 2], [3, 4], [5, -6]]
    total = 0
    for batch in deltas:
        incs = spark.createDataFrame(
            [(b"k", "d", b"c", d) for d in batch],
            "row binary, family string, qualifier binary, delta long",
        )
        t, _ = t.increment(incs)
        total += sum(batch)
    got = cellmap(t.get(b"k"))
    assert int.from_bytes(got[(b"k", "d", b"c")][0], "big", signed=True) == total


def test_append_ordered_concat(spark):
    t = fresh_table(spark, [(b"r1", "d", b"log", 100, TYPE_PUT, b"A", 0)])
    apps = spark.createDataFrame(
        [
            (b"r1", "d", b"log", b"-C", 2),
            (b"r1", "d", b"log", b"-B", 1),
            (b"r9", "d", b"log", b"new", 1),
        ],
        "row binary, family string, qualifier binary, value binary, batch_seq long",
    )
    t2, _ = t.append(apps)
    got = cellmap(t2.scan())
    assert got[(b"r1", "d", b"log")][0] == b"A-B-C"  # batch_seq order
    assert got[(b"r9", "d", b"log")][0] == b"new"


def test_check_and_put_pass_and_fail(spark):
    t = fresh_table(spark, [
        (b"r1", "d", b"guard", 100, TYPE_PUT, b"yes", 0),
        (b"r2", "d", b"guard", 100, TYPE_PUT, b"no", 0),
    ])
    muts = spark.createDataFrame(
        [
            ("put", b"r1", "d", b"out", None, b"applied-r1", "d", b"guard", "EQUAL", b"yes", 1),
            ("put", b"r2", "d", b"out", None, b"applied-r2", "d", b"guard", "EQUAL", b"yes", 2),
            # not-exists check: column absent on r3... but r3 has no cells at all
            ("put", b"r3", "d", b"out", None, b"applied-r3", "d", b"guard", "EQUAL", None, 3),
        ],
        "op string, row binary, family string, qualifier binary, ts long, value binary, "
        "check_family string, check_qualifier binary, check_op string, check_value binary, "
        "batch_seq long",
    )
    t2, verdicts = t.check_and_mutate(muts)
    v = {bytes(r.row): r.applied for r in verdicts.collect()}
    assert v == {b"r1": True, b"r2": False, b"r3": True}
    got = cellmap(t2.scan())
    assert (b"r1", "d", b"out") in got and (b"r3", "d", b"out") in got
    assert (b"r2", "d", b"out") not in got


def test_check_and_delete_numeric_compare(spark):
    # LESS check on binary values, REFERENCE direction (r11 fix): the
    # check passes iff expected < cellValue — cell "banana", probe
    # "apple": apple < banana -> applied (HRegion.checkAndMutate
    # comparator(expected).compareTo(cell))
    t = fresh_table(spark, [
        (b"r1", "d", b"v", 100, TYPE_PUT, b"banana", 0),
        (b"r1", "d", b"doomed", 100, TYPE_PUT, b"x", 0),
    ])
    muts = spark.createDataFrame(
        [("delete_column", b"r1", "d", b"doomed", 500, None, "d", b"v", "LESS",
          b"apple", 1)],
        "op string, row binary, family string, qualifier binary, ts long, value binary, "
        "check_family string, check_qualifier binary, check_op string, check_value binary, "
        "batch_seq long",
    )
    t2, verdicts = t.check_and_mutate(muts)
    assert verdicts.first().applied is True
    got = cellmap(t2.scan(Scan(max_versions=5)))
    assert (b"r1", "d", b"doomed") not in got


def test_mixed_batch(spark):
    t = fresh_table(spark, [(b"r1", "d", b"q", 100, TYPE_PUT, b"old", 0)])
    muts = spark.createDataFrame(
        [
            ("put", b"r1", "d", b"q", None, b"new", 1),
            ("put", b"r2", "d", b"q", None, b"v2", 2),
            ("delete_column", b"r1", "d", b"gone", 9_999, None, 3),
            ("increment", b"r3", "d", b"cnt", None, (5).to_bytes(8, "big"), 4),
            ("append", b"r4", "d", b"log", None, b"x", 5),
        ],
        MUT_SCHEMA,
    )
    t2 = t.batch(muts)
    got = cellmap(t2.scan())
    assert got[(b"r1", "d", b"q")][0] == b"new"
    assert got[(b"r2", "d", b"q")][0] == b"v2"
    assert int.from_bytes(got[(b"r3", "d", b"cnt")][0], "big") == 5
    assert got[(b"r4", "d", b"log")][0] == b"x"


def test_compaction_preserves_read_view(spark):
    from hbase_1_3_0_spark.operators import jobs

    t = fresh_table(spark, [
        (b"r1", "d", b"q", 100, TYPE_PUT, b"a", 0),
        (b"r1", "d", b"q", 200, TYPE_PUT, b"b", 0),
        (b"r2", "d", b"q", 100, TYPE_PUT, b"c", 0),
    ])
    dels = spark.createDataFrame(
        [("delete_column", b"r2", "d", b"q", 300, None, 0)], MUT_SCHEMA
    )
    t2 = t.delete(dels)
    before = cellmap(t2.scan())
    compacted = jobs.compact(t2.cells, max_versions=1)
    t3 = Table(t2.meta, compacted, now_ms=10_000)
    assert cellmap(t3.scan()) == before
    # compaction physically dropped markers and shadowed versions
    assert compacted.count() == 1


GROUP_SCHEMA = (
    "group_id string, row binary, check_family string, "
    "check_qualifier binary, check_op string, check_value binary"
)
GMUT_SCHEMA = "group_id string, " + MUT_SCHEMA


def test_check_and_mutate_row_reference_scenario(spark):
    """TestCheckAndMutate.java:56: A=a guards {put A, put B, deleteColumn C}
    atomically — after the CAS, A and B remain and C is gone."""
    t = fresh_table(spark, [
        (b"12345", "d", b"A", 100, TYPE_PUT, b"a", 0),
        (b"12345", "d", b"B", 100, TYPE_PUT, b"b", 0),
        (b"12345", "d", b"C", 100, TYPE_PUT, b"c", 0),
    ])
    groups = spark.createDataFrame(
        [("g1", b"12345", "d", b"A", "EQUAL", b"a")], GROUP_SCHEMA
    )
    muts = spark.createDataFrame(
        [
            ("g1", "put", b"12345", "d", b"A", None, b"a", 0),
            ("g1", "put", b"12345", "d", b"B", None, b"b", 1),
            ("g1", "delete_column", b"12345", "d", b"C", None, None, 2),
        ],
        GMUT_SCHEMA,
    )
    t2, verdicts = t.check_and_mutate_row(groups, muts)
    assert [(r.group_id, r.applied) for r in verdicts.collect()] == [("g1", True)]
    got = cellmap(t2.scan())
    assert got[(b"12345", "d", b"A")][0] == b"a"
    assert got[(b"12345", "d", b"B")][0] == b"b"
    assert (b"12345", "d", b"C") not in got


def test_check_and_mutate_row_failing_group_applies_nothing(spark):
    """A failing predicate must suppress the WHOLE group, including its
    deletes — atomicity is per-group, not per-mutation."""
    t = fresh_table(spark, [
        (b"r1", "d", b"A", 100, TYPE_PUT, b"a", 0),
        (b"r1", "d", b"C", 100, TYPE_PUT, b"c", 0),
        (b"r2", "d", b"A", 100, TYPE_PUT, b"a", 0),
        (b"r2", "d", b"C", 100, TYPE_PUT, b"c", 0),
    ])
    groups = spark.createDataFrame(
        [
            ("ok", b"r1", "d", b"A", "EQUAL", b"a"),
            ("no", b"r2", "d", b"A", "EQUAL", b"WRONG"),
        ],
        GROUP_SCHEMA,
    )
    muts = spark.createDataFrame(
        [
            ("ok", "put", b"r1", "d", b"B", None, b"new", 0),
            ("ok", "delete_column", b"r1", "d", b"C", None, None, 1),
            ("no", "put", b"r2", "d", b"B", None, b"new", 0),
            ("no", "delete_column", b"r2", "d", b"C", None, None, 1),
        ],
        GMUT_SCHEMA,
    )
    t2, verdicts = t.check_and_mutate_row(groups, muts)
    v = {r.group_id: r.applied for r in verdicts.collect()}
    assert v == {"ok": True, "no": False}
    got = cellmap(t2.scan())
    assert got[(b"r1", "d", b"B")][0] == b"new"
    assert (b"r1", "d", b"C") not in got
    assert (b"r2", "d", b"B") not in got          # failing group: no put
    assert got[(b"r2", "d", b"C")][0] == b"c"     # failing group: no delete


def test_check_and_mutate_row_null_check_means_absent(spark):
    """Null expected value = 'column must not exist' (Table.java:583
    javadoc) — gate passes only where the checked column is missing."""
    t = fresh_table(spark, [
        (b"r1", "d", b"A", 100, TYPE_PUT, b"a", 0),
        (b"r2", "d", b"Z", 100, TYPE_PUT, b"z", 0),
    ])
    groups = spark.createDataFrame(
        [
            ("g1", b"r1", "d", b"A", "EQUAL", None),
            ("g2", b"r2", "d", b"A", "EQUAL", None),
        ],
        GROUP_SCHEMA,
    )
    muts = spark.createDataFrame(
        [
            ("g1", "put", b"r1", "d", b"N", None, b"x", 0),
            ("g2", "put", b"r2", "d", b"N", None, b"x", 0),
        ],
        GMUT_SCHEMA,
    )
    t2, verdicts = t.check_and_mutate_row(groups, muts)
    v = {r.group_id: r.applied for r in verdicts.collect()}
    assert v == {"g1": False, "g2": True}
    got = cellmap(t2.scan())
    assert (b"r1", "d", b"N") not in got
    assert got[(b"r2", "d", b"N")][0] == b"x"


# -- MultiRowMutationEndpoint analog ---------------------------------------

REGION_SCHEMA = "region long, start_key binary, end_key binary"


def _two_regions(spark):
    # [*, m) and [m, *) — the classic two-region layout
    return spark.createDataFrame(
        [(0, None, b"m"), (1, b"m", None)], REGION_SCHEMA
    )


def test_mutate_rows_secondary_index_commits_together(spark):
    """MultiRowMutationEndpoint.java:60-76 example: data row + index row
    in one group commit atomically when both land in one region."""
    t = fresh_table(spark, [(b"a1", "d", b"q", 100, TYPE_PUT, b"old", 0)])
    muts = spark.createDataFrame(
        [
            ("g1", "put", b"a1", "d", b"q", None, b"new", 0),
            ("g1", "put", b"idx_new", "d", b"ref", None, b"a1", 1),
            ("g1", "delete_column", b"idx_old", "d", b"ref", None, None, 2),
        ],
        GMUT_SCHEMA,
    )
    t2, verdicts = t.mutate_rows(muts, _two_regions(spark))
    assert [(r.group_id, r.applied, r.reason) for r in verdicts.collect()] == [
        ("g1", True, "ok")
    ]
    got = cellmap(t2.scan())
    assert got[(b"a1", "d", b"q")][0] == b"new"
    assert got[(b"idx_new", "d", b"ref")][0] == b"a1"


def test_mutate_rows_region_split_group_applies_nothing(spark):
    """Rows split between regions -> the reference's DoNotRetryIOException
    (:105-108); the whole group must be suppressed, no partial commit."""
    t = fresh_table(spark, [(b"a1", "d", b"q", 100, TYPE_PUT, b"old", 0)])
    muts = spark.createDataFrame(
        [
            ("g1", "put", b"a1", "d", b"q", None, b"new", 0),
            ("g1", "put", b"z9", "d", b"q", None, b"cross", 1),
            ("g2", "put", b"z1", "d", b"q", None, b"solo", 0),
        ],
        GMUT_SCHEMA,
    )
    t2, verdicts = t.mutate_rows(muts, _two_regions(spark))
    v = {r.group_id: (r.applied, r.reason) for r in verdicts.collect()}
    assert v == {"g1": (False, "region_split"), "g2": (True, "ok")}
    got = cellmap(t2.scan())
    # g1 fully suppressed: no partial index write, data row unchanged
    assert got[(b"a1", "d", b"q")][0] == b"old"
    assert (b"z9", "d", b"q") not in got
    assert got[(b"z1", "d", b"q")][0] == b"solo"


def test_mutate_rows_wrong_region(spark):
    """A row covered by NO region -> wrong_region (the retryable
    WrongRegionException case, :101-104)."""
    t = fresh_table(spark, [(b"a1", "d", b"q", 100, TYPE_PUT, b"old", 0)])
    bounded = spark.createDataFrame([(0, b"a", b"m")], REGION_SCHEMA)
    muts = spark.createDataFrame(
        [
            ("g1", "put", b"zz", "d", b"q", None, b"v", 0),
            ("g2", "put", b"ab", "d", b"q", None, b"v2", 0),
        ],
        GMUT_SCHEMA,
    )
    t2, verdicts = t.mutate_rows(muts, bounded)
    v = {r.group_id: (r.applied, r.reason) for r in verdicts.collect()}
    assert v == {"g1": (False, "wrong_region"), "g2": (True, "ok")}


def test_mutate_rows_boundary_semantics(spark):
    """rowIsInRange: start inclusive, end exclusive — a row AT the end
    key belongs to the next region; a group touching both sides of a
    boundary is split."""
    t = fresh_table(spark, [(b"a0", "d", b"q", 100, TYPE_PUT, b"x", 0)])
    muts = spark.createDataFrame(
        [
            ("edge", "put", b"m", "d", b"q", None, b"v", 0),   # region 1
            ("edge", "put", b"lzz", "d", b"q", None, b"v", 1),  # region 0
        ],
        GMUT_SCHEMA,
    )
    _, verdicts = t.mutate_rows(muts, _two_regions(spark))
    assert [(r.applied, r.reason) for r in verdicts.collect()] == [
        (False, "region_split")
    ]


# ---------------------------------------------------------------------------
# TestIncrementsFromClientSide.java pinned case-for-case (r11). The
# duplicate-RPC retry case (:101) is transport-physical;
# testIncrementInvalidArguments (:190) pins client-side null checks on
# the reference Increment builder, which has no analog in the
# DataFrame-shaped API (a null qualifier here denotes the
# null-qualifier COLUMN). A reference Increment's per-column map
# semantics (duplicate addColumn REPLACES, :288) is an API-shape note
# on mutations.increment — rows here are distinct operations that fold
# by sum.
# ---------------------------------------------------------------------------

INC_SCHEMA = "row binary, family string, qualifier binary, delta long"
IROW = b"testRow"


def _inc(spark, t, pairs, now, row=IROW):
    incs = spark.createDataFrame(
        [(row, "d", q, d) for q, d in pairs], INC_SCHEMA
    )
    # chained RMW needs no lineage truncation here: each increment's delta
    # is computed once and enters the next table's log as a leaf
    return Table(t.meta, t.cells, now_ms=now).increment(incs)


def test_increment_with_deletes(spark):
    """testIncrementWithDeletes (:141): +5, delete the row, +5 again —
    the counter re-initializes to 5 (increment reads the current value
    through the tombstone-masked read view)."""
    t = fresh_table(spark, [])
    t, _ = _inc(spark, t, [(b"column", 5)], now=1_000)
    dels = spark.createDataFrame(
        [("delete_family", IROW, "d", None, 2_000, None, 0)], MUT_SCHEMA
    )
    t = t.delete(dels)
    t, _ = _inc(spark, t, [(b"column", 5)], now=3_000)
    got = cellmap(Table(t.meta, t.cells, now_ms=3_000).get(IROW))
    assert len(got) == 1
    assert got[(IROW, "d", b"column")][0] == (5).to_bytes(8, "big")


def test_incrementing_invalid_value_rejected(spark):
    """testIncrementingInvalidValue (:163): the current value is a
    4-byte int, not an 8-byte long — the increment must FAIL
    (HRegion.java:7920 "Field is not a long, it's 4 bytes wide"),
    never silently misread the narrower value."""
    t = fresh_table(
        spark,
        [(IROW, "d", b"column", 100, TYPE_PUT, (5).to_bytes(4, "big"), 0)],
    )
    with pytest.raises(Exception, match="not a long"):
        t2, results = _inc(spark, t, [(b"column", 5)], now=1_000)
        results.collect()


def test_increment_out_of_order(spark):
    """testIncrementOutOfOrder (:246): one Increment touching B, A, C —
    the visible row returns them in qualifier order, all at 1; a second
    identical Increment advances all to 2."""
    t = fresh_table(spark, [])
    pairs = [(b"B", 1), (b"A", 1), (b"C", 1)]
    t, _ = _inc(spark, t, pairs, now=1_000)
    got = sorted(
        (bytes(r.qualifier), int.from_bytes(bytes(r.value), "big"))
        for r in Table(t.meta, t.cells, now_ms=1_000).get(IROW).collect()
    )
    assert got == [(b"A", 1), (b"B", 1), (b"C", 1)]
    t, _ = _inc(spark, t, pairs, now=2_000)
    got = sorted(
        (bytes(r.qualifier), int.from_bytes(bytes(r.value), "big"))
        for r in Table(t.meta, t.cells, now_ms=2_000).get(IROW).collect()
    )
    assert got == [(b"A", 2), (b"B", 2), (b"C", 2)]


def test_increment_compositions(spark):
    """testIncrement (:332): old-API single-column increments composed
    with a multi-column Increment; multi-column by different amounts;
    re-increment doubling; a ZERO-amount increment returns the current
    count and changes nothing."""
    qs = [bytes([c]) for c in b"abcdefghi"]
    t = fresh_table(spark, [])
    # old API: 4 single-column increments (distinct server times)
    for i, now in zip(range(4), (1_000, 2_000, 3_000, 4_000)):
        t, _ = _inc(spark, t, [(qs[i], i + 1)], now=now)
    # then one multi-column increment over q1, q3, q4
    t, _ = _inc(spark, t, [(qs[1], 1), (qs[3], 1), (qs[4], 1)], now=5_000)
    got = {
        bytes(r.qualifier): int.from_bytes(bytes(r.value), "big")
        for r in Table(t.meta, t.cells, now_ms=5_000).get(IROW).collect()
    }
    assert got == {qs[0]: 1, qs[1]: 3, qs[2]: 3, qs[3]: 5, qs[4]: 1}

    # different row: multi-column by different amounts, then doubled
    pairs = [(qs[i], i + 1) for i in range(len(qs))]
    t, _ = _inc(spark, t, pairs, now=6_000, row=b"a")
    t, _ = _inc(spark, t, pairs, now=7_000, row=b"a")
    # zero-amount increment: returns current counts, changes nothing
    zeros = [(qs[i], 0) for i in range(len(qs))]
    t, res = _inc(spark, t, zeros, now=8_000, row=b"a")
    returned = {
        bytes(r.qualifier): r.new_value for r in res.collect()
    }
    assert returned == {qs[i]: 2 * (i + 1) for i in range(len(qs))}
    got = {
        bytes(r.qualifier): int.from_bytes(bytes(r.value), "big")
        for r in Table(t.meta, t.cells, now_ms=8_000).get(b"a").collect()
    }
    assert got == {qs[i]: 2 * (i + 1) for i in range(len(qs))}


# ---------------------------------------------------------------------------
# TestFromClientSide CAS batteries (r11): testCheckAndPut:4727,
# testCheckAndPutWithCompareOp:4766, testCheckAndDeleteWithCompareOp:
# 4831 — the full CompareOp direction table (the battery that exposed
# the flipped operand order fixed in mutations._check_pred r11). The
# different-rows API exception (:4758) is a client-builder check with
# no analog (the batch schema ties check row and payload row).
# ---------------------------------------------------------------------------

CAS_SCHEMA = (
    "op string, row binary, family string, qualifier binary, ts long, "
    "value binary, check_family string, check_qualifier binary, "
    "check_op string, check_value binary, batch_seq long"
)


def _cas(spark, t, op_name, probe, payload_op, payload_value, now):
    muts = spark.createDataFrame(
        [(payload_op, IROW, "d", b"q", now, payload_value,
          "d", b"q", op_name, probe, 1)],
        CAS_SCHEMA,
    )
    t2, verdicts = Table(t.meta, t.cells, now_ms=now).check_and_mutate(muts)
    return t2, verdicts.first().applied


def _cell_value(t, now):
    got = Table(t.meta, t.cells, now_ms=now).get(IROW).collect()
    vals = [bytes(r.value) for r in got if bytes(r.qualifier) == b"q"]
    return vals[0] if vals else None


def test_check_and_put_existence(spark):
    """testCheckAndPut (:4727): a non-null probe against a missing row
    fails; a null probe matches absence; null against an existing row
    fails; the matching value passes."""
    v, v2 = b"testValue", b"abcd"
    t = fresh_table(spark, [])
    t, ok = _cas(spark, t, "EQUAL", v, "put", v, 1_000)
    assert ok is False
    t, ok = _cas(spark, t, "EQUAL", None, "put", v, 2_000)
    assert ok is True
    t, ok = _cas(spark, t, "EQUAL", None, "put", v, 3_000)
    assert ok is False
    t, ok = _cas(spark, t, "EQUAL", v, "put", v2, 4_000)
    assert ok is True
    assert _cell_value(t, 4_000) == v2


def test_check_and_put_with_compare_op(spark):
    """testCheckAndPutWithCompareOp (:4766) — the exact sequence: the
    check passes iff probe <op> cellValue (reference operand order).

    Two forms: the full 19-step sequence engine-chained (each step's
    check reads the previous step's engine output; a one-row CAS takes
    the small-key path, so the chain's plans stay constant-depth), then
    the same direction table as ONE batched check_and_mutate over 19
    independent rows whose pre-states are the reference sequence's
    pinned intermediate values."""
    a, b, c, d = b"aaaa", b"bbbb", b"cccc", b"dddd"
    steps = [
        # (op, probe, put_value, expected_applied)
        ("EQUAL", None, b, True),              # missing -> bbbb
        ("GREATER", a, b, False),              # cell bbbb, probe aaaa
        ("EQUAL", a, b, False),
        ("GREATER_OR_EQUAL", a, b, False),
        ("LESS", a, b, True),                  # -> bbbb
        ("LESS_OR_EQUAL", a, b, True),         # -> bbbb
        ("NOT_EQUAL", a, c, True),             # -> cccc
        ("LESS", d, c, False),                 # cell cccc, probe dddd
        ("LESS_OR_EQUAL", d, c, False),
        ("EQUAL", d, c, False),
        ("GREATER", d, c, True),               # -> cccc
        ("GREATER_OR_EQUAL", d, c, True),      # -> cccc
        ("NOT_EQUAL", d, b, True),             # -> bbbb
        ("GREATER", b, b, False),              # cell bbbb, probe bbbb
        ("NOT_EQUAL", b, b, False),
        ("LESS", b, b, False),
        ("GREATER_OR_EQUAL", b, b, True),      # -> bbbb
        ("LESS_OR_EQUAL", b, b, True),         # -> bbbb
        ("EQUAL", b, c, True),                 # -> cccc
    ]
    # chained: engine output feeds the next step's check
    t = fresh_table(spark, [])
    for i, (op, probe, val, expect) in enumerate(steps):
        t, ok = _cas(spark, t, op, probe, "put", val, 1_000 * (i + 1))
        assert ok is expect, (i, op, probe)
    assert _cell_value(t, 1_000 * len(steps)) == c

    # full table, batched over independent rows: pre-state per step =
    # the value the reference sequence pins at that point
    pre, cur = [], None
    for op, probe, val, expect in steps:
        pre.append(cur)
        if expect:
            cur = val
    seed = [
        (b"r%02d" % i, "d", b"q", 500, TYPE_PUT, pv, 1)
        for i, pv in enumerate(pre)
        if pv is not None
    ]
    muts = spark.createDataFrame(
        [
            ("put", b"r%02d" % i, "d", b"q", 1_000, val,
             "d", b"q", op, probe, i + 1)
            for i, (op, probe, val, expect) in enumerate(steps)
        ],
        CAS_SCHEMA,
    )
    t = fresh_table(spark, seed)
    t2, verdicts = Table(t.meta, t.cells, now_ms=1_000).check_and_mutate(
        muts
    )
    got = {bytes(r.row): r.applied for r in verdicts.collect()}
    for i, (op, probe, val, expect) in enumerate(steps):
        assert got[b"r%02d" % i] is expect, (i, op, probe)
    final = cellmap(Table(t2.meta, t2.cells, now_ms=2_000).scan())
    for i, (op, probe, val, expect) in enumerate(steps):
        want = val if expect else pre[i]
        have = final.get((b"r%02d" % i, "d", b"q"))
        assert (have[0] if have else None) == want, (i, op, probe)


def test_check_and_delete_with_compare_op(spark):
    """testCheckAndDeleteWithCompareOp (:4831) — same direction table
    with deleteColumns payloads; each successful delete empties the
    cell and the reference re-puts before the next passing case."""
    a, b, c, d = b"aaaa", b"bbbb", b"cccc", b"dddd"
    steps = [
        # (reput_value_or_None, op, probe, expected_applied)
        (b, "GREATER", a, False),          # cell bbbb, probe aaaa
        (None, "EQUAL", a, False),
        (None, "GREATER_OR_EQUAL", a, False),
        (None, "LESS", a, True),
        (b, "LESS_OR_EQUAL", a, True),
        (b, "NOT_EQUAL", a, True),
        (c, "LESS", d, False),             # cell cccc, probe dddd
        (None, "LESS_OR_EQUAL", d, False),
        (None, "EQUAL", d, False),
        (None, "GREATER", d, True),
        (c, "GREATER_OR_EQUAL", d, True),
        (c, "NOT_EQUAL", d, True),
        (b, "GREATER", b, False),          # cell bbbb, probe bbbb
        (None, "NOT_EQUAL", b, False),
        (None, "LESS", b, False),
        (None, "GREATER_OR_EQUAL", b, True),
        (b, "LESS_OR_EQUAL", b, True),
        (b, "EQUAL", b, True),
    ]
    # chained: engine output (including the tombstone left by a passing
    # delete) feeds the next step's check
    t = fresh_table(spark, [])
    now = 0
    for i, (reput, op, probe, expect) in enumerate(steps):
        if reput is not None:
            now += 1_000
            t = Table(t.meta, t.cells, now_ms=now).put(spark.createDataFrame(
                [(IROW, "d", b"q", now, TYPE_PUT, reput, 1)], CELL_SCHEMA
            ))
            # a put appends the caller's frame as is: without this every
            # later read would re-run each reput's createDataFrame source
            t = Table(t.meta, t.cells.localCheckpoint(), now_ms=now)
        now += 1_000
        t, ok = _cas(spark, t, op, probe, "delete_column", None, now)
        assert ok is expect, (i, op, probe)
    assert _cell_value(t, now) is None

    # full table, batched over independent rows (r14, same protocol as
    # the put form above): pre-state per step = the value the reference
    # sequence pins after its reput
    pre, cur = [], None
    for reput, op, probe, expect in steps:
        if reput is not None:
            cur = reput
        pre.append(cur)
        if expect:
            cur = None
    seed = [
        (b"r%02d" % i, "d", b"q", 500, TYPE_PUT, pv, 1)
        for i, pv in enumerate(pre)
        if pv is not None
    ]
    muts = spark.createDataFrame(
        [
            ("delete_column", b"r%02d" % i, "d", b"q", 1_000, None,
             "d", b"q", op, probe, i + 1)
            for i, (reput, op, probe, expect) in enumerate(steps)
        ],
        CAS_SCHEMA,
    )
    t = fresh_table(spark, seed)
    t2, verdicts = Table(t.meta, t.cells, now_ms=1_000).check_and_mutate(
        muts
    )
    got = {bytes(r.row): r.applied for r in verdicts.collect()}
    for i, (reput, op, probe, expect) in enumerate(steps):
        assert got[b"r%02d" % i] is expect, (i, op, probe)
    final = cellmap(Table(t2.meta, t2.cells, now_ms=2_000).scan())
    for i, (reput, op, probe, expect) in enumerate(steps):
        want = None if expect else pre[i]
        have = final.get((b"r%02d" % i, "d", b"q"))
        assert (have[0] if have else None) == want, (i, op, probe)
