"""Round-10 reference-test pinning sweep (VERDICT r09 next-round #3):
case-for-case pins of the reference's own filter tests against this
engine's scan-level semantics —

* TestSingleColumnValueFilter.java (the comparator matrix: Long/Null/
  Substring/Regex/case-insensitive-pattern + latestVersionOnly),
* TestDependentColumnFilter.java:174 testScans (the full 4-scan
  verdict table),
* TestInclusiveStopFilter.java:72 stopRowTests,
* TestColumnRangeFilter.java:158 TestColumnRangeFilterClient (the
  seeded-random range sweep incl. open-ended ranges, scaled down),
* TestFilterList.java (MUST_PASS_ONE union semantics :265, MUST_PASS_ALL
  laziness :151 at the visible-result level, the transform-under-OR
  posture :523).

The reference tests drive the streaming filterKeyValue/filterRow
protocol; these pins assert the VISIBLE RESULT of the same filters on
the same data through `Table.scan` — the protocol is an implementation
detail, the visible cell set is the contract.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from hbase_1_3_0_spark.catalog import FamilyMeta, TableMeta
from hbase_1_3_0_spark.cells import CELL_SCHEMA, TYPE_PUT
from hbase_1_3_0_spark.filters import ast
from hbase_1_3_0_spark.table import Scan, Table


def _table(spark, rows, name="t", families=(FamilyMeta(),)):
    return Table(
        TableMeta(name=name, families=tuple(families)),
        spark.createDataFrame(rows, CELL_SCHEMA),
        now_ms=10_000,
    )


def _put(row, fam, qual, ts, val, seq=0):
    return (row, fam, qual, ts, TYPE_PUT, val, seq)


def _rows(df):
    return {bytes(r["row"]) for r in df.collect()}


# ---------------------------------------------------------------------------
# TestSingleColumnValueFilter.java — the comparator matrix
# ---------------------------------------------------------------------------

FOO = b"foo"
MAXV = 2**31 - 1
STR1 = b"The quick brown fox jumps over the lazy dog."
STR2 = b"The slow grey fox trips over the lazy dog."


def test_scvf_long_comparator_greater(spark):
    """testLongComparator (TestSingleColumnValueFilter.java:99): GREATER
    LongComparator(100) over Bytes.toBytes(long) values — 1 and 100
    filtered (NEXT_ROW), 120 included."""
    t = _table(spark, [
        _put(b"r1", "test", FOO, 100, (1).to_bytes(8, "big")),
        _put(b"r100", "test", FOO, 100, (100).to_bytes(8, "big")),
        _put(b"r120", "test", FOO, 100, (120).to_bytes(8, "big")),
    ])
    f = ast.SingleColumnValueFilter(
        "test", FOO, ast.CompareOp.GREATER,
        ast.LongComparator(100, codec="be8"),
    )
    assert _rows(t.scan(filter=f)) == {b"r120"}


def test_scvf_basic_latest_version_only(spark):
    """basicFilterTests (:117): GREATER_OR_EQUAL BinaryComparator('ab').
    latestVersionOnly=true judges the NEWEST version only (the row whose
    latest is 'a' drops even though an older 'ab' passes, :128-132);
    latestVersionOnly=false admits any passing version (:134-139)."""
    rows = [
        _put(b"pass", "test", FOO, 200, b"ab"),       # latest passes
        _put(b"stale", "test", FOO, 200, b"a"),       # latest fails...
        _put(b"stale", "test", FOO, 100, b"ab"),      # ...older passes
    ]
    # the reference's protocol test feeds the filter BOTH versions; at
    # scan level that means a multi-version family (setMaxVersions)
    t = _table(spark, rows, families=[FamilyMeta(name="test", max_versions=3)])
    latest_only = ast.SingleColumnValueFilter(
        "test", FOO, ast.CompareOp.GREATER_OR_EQUAL,
        ast.BinaryComparator(b"ab"), latest_version_only=True,
    )
    any_version = ast.SingleColumnValueFilter(
        "test", FOO, ast.CompareOp.GREATER_OR_EQUAL,
        ast.BinaryComparator(b"ab"), latest_version_only=False,
    )
    assert _rows(t.scan(filter=latest_only)) == {b"pass"}
    assert _rows(t.scan(filter=any_version)) == {b"pass", b"stale"}


def test_scvf_null_comparator_filter_if_missing(spark):
    """nullFilterTests (:142): NOT_EQUAL NullComparator + filterIfMissing
    — a row where foo EXISTS passes (value != null), a row carrying only
    qual2 is dropped (null2FilterRow, :150)."""
    t = _table(spark, [
        _put(b"has", "test", FOO, 100, STR1),
        _put(b"lacks", "test", b"qual2", 100, STR2),
    ])
    f = ast.SingleColumnValueFilter(
        "test", FOO, ast.CompareOp.NOT_EQUAL, ast.NullComparator(),
        filter_if_missing=True,
    )
    assert _rows(t.scan(filter=f)) == {b"has"}


def test_scvf_substring_and_regex(spark):
    """substrFilterTests (:153) / regexFilterTests (:166): EQUAL
    SubstringComparator('quick') and RegexStringComparator('.+quick.+')
    keep the quick-fox row; the slow-fox row's column exists and fails,
    so SCVF's found-and-unmatched verdict drops it."""
    t = _table(spark, [
        _put(b"quick", "test", FOO, 100, STR1),
        _put(b"slow", "test", FOO, 100, STR2),
    ])
    sub = ast.SingleColumnValueFilter(
        "test", FOO, ast.CompareOp.EQUAL, ast.SubstringComparator("quick"),
    )
    rgx = ast.SingleColumnValueFilter(
        "test", FOO, ast.CompareOp.EQUAL,
        ast.RegexStringComparator(".+quick.+"),
    )
    assert _rows(t.scan(filter=sub)) == {b"quick"}
    assert _rows(t.scan(filter=rgx)) == {b"quick"}


def test_scvf_regex_case_insensitive_pattern(spark):
    """regexPatternFilterTests (:179): Pattern('QuIcK', CASE_INSENSITIVE
    | DOTALL). The engine's RegexStringComparator carries the pattern
    string only; Java's Pattern flags map to the (?is) inline form that
    java.util.regex — the reference's default engine — and Spark rlike
    share."""
    t = _table(spark, [
        _put(b"quick", "test", FOO, 100, STR1),
        _put(b"slow", "test", FOO, 100, STR2),
    ])
    f = ast.SingleColumnValueFilter(
        "test", FOO, ast.CompareOp.EQUAL,
        ast.RegexStringComparator("(?is).*QuIcK.*"),
    )
    assert _rows(t.scan(filter=f)) == {b"quick"}


# ---------------------------------------------------------------------------
# TestDependentColumnFilter.java:174 testScans — the 4-scan verdict table
# ---------------------------------------------------------------------------

F0, F1 = "familyOne", "familyTwo"
QUAL = b"qualifier"
S0, S1, S2 = 900, 800, 700  # STAMPS[0] is the newest (STAMP_BASE-100)


@pytest.fixture(scope="module")
def dcf_table(spark):
    # addData (TestDependentColumnFilter.java:98): two rows, two
    # families, three stamps, MATCH_VAL at the documented spots
    rows = [
        _put(b"test1", F0, QUAL, S0, b"bad1"),
        _put(b"test1", F0, QUAL, S1, b"bad2"),
        _put(b"test1", F0, QUAL, S2, b"match"),
        _put(b"test1", F1, QUAL, S0, b"bad1"),
        _put(b"test1", F1, QUAL, S2, b"bad3"),
        _put(b"test2", F0, QUAL, S0, b"bad1"),
        _put(b"test2", F0, QUAL, S2, b"match"),
        _put(b"test2", F1, QUAL, S0, b"match"),
        _put(b"test2", F1, QUAL, S1, b"bad3"),
    ]
    # hcd.setMaxVersions(3) on both families (:82,:85)
    return _table(
        spark, rows, name="dcf",
        families=[
            FamilyMeta(name=F0, max_versions=3),
            FamilyMeta(name=F1, max_versions=3),
        ],
    )


def _verify(table, filt, expected_rows, expected_cells):
    got = table.scan(
        Scan(max_versions=2**31 - 1, filter=filt)
    ).collect()
    assert len({bytes(r["row"]) for r in got}) == expected_rows
    assert len(got) == expected_cells


def test_dcf_scans_verdict_table(dcf_table):
    """The four verifyScan calls of testScans (:181,:189,:206,:220):
    (rows, cells) = (2,8), (2,3), (2,3), (1,1)."""
    _verify(dcf_table, ast.DependentColumnFilter(F0, QUAL), 2, 8)
    _verify(
        dcf_table,
        ast.DependentColumnFilter(F0, QUAL, drop_dependent_column=True),
        2, 3,
    )
    _verify(
        dcf_table,
        ast.DependentColumnFilter(
            F0, QUAL, False, ast.CompareOp.EQUAL,
            ast.BinaryComparator(b"match"),
        ),
        2, 3,
    )
    _verify(
        dcf_table,
        ast.DependentColumnFilter(
            F0, QUAL, True, ast.CompareOp.EQUAL,
            ast.BinaryComparator(b"match"),
        ),
        1, 1,
    )


# ---------------------------------------------------------------------------
# TestInclusiveStopFilter.java:72 stopRowTests
# ---------------------------------------------------------------------------

def test_inclusive_stop_filter_rows(spark):
    """good_row and stop_row pass, rows past the stop are dropped."""
    t = _table(spark, [
        _put(b"good_row", "d", b"a", 100, b"v"),
        _put(b"stop_row", "d", b"a", 100, b"v"),
        _put(b"zzzzzz", "d", b"a", 100, b"v"),
    ])
    f = ast.InclusiveStopFilter(b"stop_row")
    assert _rows(t.scan(filter=f)) == {b"good_row", b"stop_row"}


# ---------------------------------------------------------------------------
# TestColumnRangeFilter.java:158 — seeded-random range sweep
# ---------------------------------------------------------------------------

class _StringRange:
    """The test's own StringRange.inRange oracle (:30-115), verbatim
    semantics in Python."""

    def __init__(self, start, start_inc, end, end_inc):
        self.start, self.start_inc = start, start_inc
        self.end, self.end_inc = end, end_inc

    def in_range(self, value: str) -> bool:
        after = True
        if self.start is not None:
            after = value >= self.start if self.start_inc else value > self.start
        before = True
        if self.end is not None:
            before = value <= self.end if self.end_inc else value < self.end
        return after and before


def test_column_range_filter_random_sweep(spark):
    """TestColumnRangeFilterClient, scaled (10 rows x ~300 columns x 2
    versions instead of 20000 columns): the same four ranges incl. the
    open-ended ones, expected set computed by the test's own inRange
    model, exact multiset equality (the reference asserts counts; with
    deterministic data we can assert the cells themselves)."""
    rng = random.Random(42)

    def words(n, maxlen):
        out = set()
        for _ in range(n):
            ln = rng.randrange(maxlen) + 1
            out.add("".join(chr(rng.randrange(26) + 97) for _ in range(ln)))
        return sorted(out)

    rows = words(10, 8)
    columns = words(300, 8)
    ranges = [
        _StringRange(None, True, "b", False),
        _StringRange("p", True, "q", False),
        _StringRange("r", False, "s", True),
        _StringRange("z", False, None, False),
    ]
    cells = [
        _put(row.encode(), "Family", col.encode(), ts, b"ValueString")
        for row in rows for col in columns for ts in (1, 2)
    ]
    # createTable(..., Integer.MAX_VALUE) versions (:161)
    t = _table(
        spark, cells, name="crf",
        families=[FamilyMeta(name="Family", max_versions=2**31 - 1)],
    )

    for s in ranges:
        f = ast.ColumnRangeFilter(
            min_column=None if s.start is None else s.start.encode(),
            min_inclusive=s.start_inc,
            max_column=None if s.end is None else s.end.encode(),
            max_inclusive=s.end_inc,
        )
        got = t.scan(Scan(max_versions=2**31 - 1, filter=f)).collect()
        expected = {
            (row, col, ts)
            for row in rows for col in columns for ts in (1, 2)
            if s.in_range(col)
        }
        assert {
            (bytes(r["row"]).decode(), bytes(r["qualifier"]).decode(), r["ts"])
            for r in got
        } == expected
        assert len(got) == len(expected)


# ---------------------------------------------------------------------------
# TestFilterList.java — visible-result pins + the transform-under-OR posture
# ---------------------------------------------------------------------------

def test_filter_list_must_pass_one_prefix_union(spark):
    """testFilterListTwoFiltersMustPassOne (:265): OR(Prefix('Row1'))
    admits Row1 and Row11, drops Row2; OR of two prefixes = the union."""
    t = _table(spark, [
        _put(b"Row1", "d", b"a", 100, b"v"),
        _put(b"Row11", "d", b"a", 100, b"v"),
        _put(b"Row2", "d", b"a", 100, b"v"),
    ])
    one = ast.FilterList(
        "MUST_PASS_ONE", [ast.PrefixFilter(b"Row1")]
    )
    assert _rows(t.scan(filter=one)) == {b"Row1", b"Row11"}
    union = ast.FilterList(
        "MUST_PASS_ONE",
        [ast.PrefixFilter(b"Row1"), ast.PrefixFilter(b"Row2")],
    )
    assert _rows(t.scan(filter=union)) == {b"Row1", b"Row11", b"Row2"}


def test_filter_list_pure_scvf_or_is_row_level(spark):
    """In the reference a FilterList-wrapped SCVF returns INCLUDE for
    every cell (the verdict lands in filterRow,
    SingleColumnValueFilter.java:193), so a pure-SCVF MUST_PASS_ONE
    keeps WHOLE rows iff any member's row verdict keeps them — all
    cells of a kept row survive, including non-tested columns."""
    t = _table(spark, [
        _put(b"r1", "d", b"a", 100, b"1"),
        _put(b"r1", "d", b"other", 100, b"x"),
        _put(b"r2", "d", b"a", 100, b"2"),
        _put(b"r2", "d", b"other", 100, b"y"),
        _put(b"r3", "d", b"a", 100, b"3"),
        _put(b"r4", "d", b"b", 100, b"1"),  # lacks column a
    ])

    def scvf(val, fim=True):
        return ast.SingleColumnValueFilter(
            "d", b"a", ast.CompareOp.EQUAL, ast.BinaryComparator(val),
            filter_if_missing=fim,
        )

    f = ast.FilterList("MUST_PASS_ONE", [scvf(b"1"), scvf(b"2")])
    got = t.scan(filter=f).collect()
    assert _rows(t.scan(filter=f)) == {b"r1", b"r2"}
    # whole rows: the non-tested 'other' cells came along
    assert len(got) == 4

    # missing-column default under OR: any member with
    # filterIfMissing=false admits the column-less row
    f2 = ast.FilterList(
        "MUST_PASS_ONE", [scvf(b"1", fim=True), scvf(b"2", fim=False)]
    )
    assert b"r4" in _rows(t.scan(filter=f2))
    f3 = ast.FilterList(
        "MUST_PASS_ONE", [scvf(b"1", fim=True), scvf(b"2", fim=True)]
    )
    assert b"r4" not in _rows(t.scan(filter=f3))


def test_filter_list_or_any_version_scvf_sees_older_versions(spark):
    """A MUST_PASS_ONE list of SCVFs is judged before the version quota
    too: an any-version member judges OLDER versions on a default
    maxVersions=1 scan (the same ScanQueryMatcher-order rule pinned for
    the AND path in test_scvf_basic_latest_version_only)."""
    rows = [
        _put(b"stale", "test", FOO, 200, b"no"),
        _put(b"stale", "test", FOO, 100, b"yes"),
        _put(b"fresh", "test", FOO, 200, b"yes"),
        _put(b"none", "test", FOO, 200, b"never"),
    ]
    t = _table(spark, rows,
               families=[FamilyMeta(name="test", max_versions=3)])
    f = ast.FilterList("MUST_PASS_ONE", [
        ast.SingleColumnValueFilter(
            "test", FOO, ast.CompareOp.EQUAL, ast.BinaryComparator(b"yes"),
            filter_if_missing=True, latest_version_only=False,
        ),
        ast.SingleColumnValueFilter(
            "test", FOO, ast.CompareOp.EQUAL, ast.BinaryComparator(b"also"),
            filter_if_missing=True,
        ),
    ])
    assert _rows(t.scan(filter=f)) == {b"stale", b"fresh"}


def test_filter_list_mpall_page_and_while_match(spark):
    """testMPALL (:151) at the visible level: AND(PageFilter(2),
    WhileMatch(Prefix('yyy'))) over yyy-prefixed rows then 'z' — the
    WhileMatch cuts at 'z', the page cap keeps the first 2 rows."""
    t = _table(spark, [
        _put(b"yyya", "d", b"a", 100, b"v"),
        _put(b"yyyb", "d", b"a", 100, b"v"),
        _put(b"yyyc", "d", b"a", 100, b"v"),
        _put(b"z", "d", b"a", 100, b"v"),
    ])
    f = ast.FilterList("MUST_PASS_ALL", [
        ast.PageFilter(2),
        ast.WhileMatchFilter(ast.PrefixFilter(b"yyy")),
    ])
    assert _rows(t.scan(filter=f)) == {b"yyya", b"yyyb"}


# ---------------------------------------------------------------------------
# TestPrefixFilter.java:65 prefixRowTests
# ---------------------------------------------------------------------------

def test_prefix_filter_rows_and_while_match(spark):
    """Rows 'org.apache.site-a'..'-e' pass, 'com.yahoo.www' is dropped
    (prefixRowTests). WhileMatch(Prefix) is SCAN-ORDER dependent
    (testPrefixOnRowInsideWhileMatchRow's early-stop flag): with
    'com.yahoo.www' sorting FIRST the scan stops immediately; with a
    trailing non-matching row the whole prefix run survives."""
    prefix = b"org.apache.site-"
    rows = [prefix + bytes([c]) for c in range(ord("a"), ord("f"))]
    t = _table(spark, [
        _put(r, "d", b"q", 100, b"v") for r in rows
    ] + [_put(b"com.yahoo.www", "d", b"q", 100, b"v")])
    f = ast.PrefixFilter(prefix)
    assert _rows(t.scan(filter=f)) == set(rows)
    wm = ast.WhileMatchFilter(ast.PrefixFilter(prefix))
    # 'com...' < 'org...': the first scanned row fails -> empty
    assert _rows(t.scan(filter=wm)) == set()

    t2 = _table(spark, [
        _put(r, "d", b"q", 100, b"v") for r in rows
    ] + [_put(b"zzz.yahoo.www", "d", b"q", 100, b"v")])
    assert _rows(t2.scan(filter=wm)) == set(rows)


# ---------------------------------------------------------------------------
# TestScanRowPrefix.java:58 — Scan.setRowPrefixFilter byte-edge table
# ---------------------------------------------------------------------------

def test_scan_row_prefix_byte_edges(spark):
    """The exact rowId/prefix table of TestScanRowPrefix incl. the
    0xFF-edge cases: a trailing-0xFF prefix gets the
    calculateTheClosestNextRowKeyForPrefix successor, an all-0xFF
    prefix scans to the open end, the empty prefix scans everything."""
    row_ids = [
        bytes([0x11]),
        bytes([0x12]),
        bytes([0x12, 0x23, 0xFF, 0xFE]),
        bytes([0x12, 0x23, 0xFF, 0xFF]),
        bytes([0x12, 0x23, 0xFF, 0xFF, 0x00]),
        bytes([0x12, 0x23, 0xFF, 0xFF, 0x01]),
        bytes([0x12, 0x24]),
        bytes([0x12, 0x24, 0x00]),
        bytes([0x12, 0x24, 0x00, 0x00]),
        bytes([0x12, 0x25]),
        bytes([0xFF, 0xFF, 0xFF, 0xFF, 0xFF]),
    ]
    t = _table(spark, [_put(r, "F", r, 100, b"Dummy value")
                       for r in row_ids])
    cases = [
        (b"", row_ids),                                   # prefix0
        (bytes([0x12, 0x23]), row_ids[2:6]),              # prefix1
        (bytes([0x12, 0x23, 0xFF, 0xFF]), row_ids[3:6]),  # prefix2
        (bytes([0x12, 0x24]), row_ids[6:9]),              # prefix3
        (bytes([0xFF, 0xFF]), [row_ids[10]]),             # prefix4
    ]
    for prefix, expected in cases:
        got = _rows(t.scan(Scan(row_prefix=prefix)))
        assert got == set(expected), prefix.hex()
        # the double-check of the test: PrefixFilter agrees
        assert _rows(
            t.scan(filter=ast.PrefixFilter(prefix))
        ) == set(expected), prefix.hex()

    import pytest as _pytest
    with _pytest.raises(ValueError, match="undefined-results"):
        t.scan(Scan(row_prefix=b"\x12", start_row=b"\x11"))


# ---------------------------------------------------------------------------
# TestColumnPrefixFilter.java:54 / TestMultipleColumnPrefixFilter.java:55
# — seeded-random prefix sweeps + the single/multi equivalence (:162)
# ---------------------------------------------------------------------------

def _prefix_fixture(spark, families=("Family",)):
    rng = random.Random(7)

    def words(n, suffix):
        out = set()
        for _ in range(n):
            ln = rng.randrange(2) + 1
            out.add(
                "".join(chr(rng.randrange(26) + 112) for _ in range(ln))
                + suffix
            )
        return sorted(out)

    rows = words(20, "row")
    columns = words(60, "column")  # 1-2 random chars in p..z + 'column'
    cells = [
        _put(row.encode(), fam, col.encode(), ts, b"ValueString")
        for fam in families
        for row in rows for col in columns for ts in (1, 2)
    ]
    t = _table(
        spark, cells, name="cpf",
        families=[FamilyMeta(name=f, max_versions=3) for f in families],
    )
    return t, rows, columns


def test_column_prefix_filter_random_sweep(spark):
    t, rows, columns = _prefix_fixture(spark)
    for prefix in ("p", "s"):
        got = t.scan(
            Scan(max_versions=MAXV, filter=ast.ColumnPrefixFilter(
                prefix.encode()))
        ).collect()
        expected = {
            (row, col, ts)
            for row in rows for col in columns for ts in (1, 2)
            if col.startswith(prefix)
        }
        assert {
            (bytes(r["row"]).decode(), bytes(r["qualifier"]).decode(),
             r["ts"])
            for r in got
        } == expected


def test_multiple_column_prefix_filter_union_and_equivalence(spark):
    t, rows, columns = _prefix_fixture(spark)
    mcpf = t.scan(
        Scan(max_versions=MAXV,
             filter=ast.MultipleColumnPrefixFilter((b"p", b"q")))
    ).collect()
    expected_n = sum(
        2 for row in rows for col in columns
        if col.startswith(("p", "q"))
    )
    assert len(mcpf) == expected_n
    # MCPF({p}) == ColumnPrefixFilter(p) (:162 equivalence)
    a = t.scan(Scan(max_versions=MAXV,
                    filter=ast.MultipleColumnPrefixFilter((b"p",)))).collect()
    b = t.scan(Scan(max_versions=MAXV,
                    filter=ast.ColumnPrefixFilter(b"p"))).collect()
    key = lambda r: (bytes(r["row"]), bytes(r["qualifier"]), r["ts"])  # noqa: E731
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_multiple_column_prefix_filter_many_families(spark):
    """testMultipleColumnPrefixFilterWithManyFamilies (:130): the filter
    applies across BOTH families; total = both families' prefix cells."""
    t, rows, columns = _prefix_fixture(spark, families=("Family1", "Family2"))
    got = t.scan(
        Scan(max_versions=MAXV,
             filter=ast.MultipleColumnPrefixFilter((b"p", b"q")))
    ).collect()
    expected_n = sum(
        2 * 2 for row in rows for col in columns
        if col.startswith(("p", "q"))
    )
    assert len(got) == expected_n


# ---------------------------------------------------------------------------
# TestFuzzyRowAndColumnRangeFilter.java:91 — composed FilterList
# ---------------------------------------------------------------------------

def test_fuzzy_row_and_column_range_composition(spark):
    """FuzzyRow([0,2,?,?,?,?,0,0,0,1]) AND ColumnRange([cqStart, 4])
    over the 2x5-row / 5-column int-packed table: cqStart=0 -> 10 cells,
    cqStart=1 -> 8 cells, in BOTH filter orders (:151-155)."""
    import struct

    cells = []
    for i1 in range(2):
        for i2 in range(5):
            rk = struct.pack(">hii", 2, i1, i2)
            for c in range(5):
                cells.append(
                    _put(rk, "f", struct.pack(">i", c), 100,
                         struct.pack(">i", c))
                )
    t = _table(spark, cells, name="fuzzcr",
               families=[FamilyMeta(name="f", max_versions=2**31 - 1)])

    fuzzy = ast.FuzzyRowFilter([(
        struct.pack(">h", 2) + b"\x3f\x3f\x3f\x3f" + struct.pack(">i", 1),
        bytes([0, 0, 1, 1, 1, 1, 0, 0, 0, 0]),
    )])
    for cq_start, expected in ((0, 10), (1, 8)):
        crf = ast.ColumnRangeFilter(
            min_column=struct.pack(">i", cq_start), min_inclusive=True,
            max_column=struct.pack(">i", 4), max_inclusive=True,
        )
        for filters in ((fuzzy, crf), (crf, fuzzy)):
            f = ast.FilterList("MUST_PASS_ALL", filters)
            got = t.scan(Scan(families=("f",), filter=f)).collect()
            assert len(got) == expected, (cq_start, filters)
            assert all(
                bytes(r["row"])[6:10] == struct.pack(">i", 1) for r in got
            )


# ---------------------------------------------------------------------------
# TestSingleColumnValueExcludeFilter.java:54 — scan-level verdicts
# ---------------------------------------------------------------------------

def test_scvf_exclude_strips_tested_column(spark):
    """Match row: other-column cells survive, the TESTED column is
    excluded from the result (:62-71); mismatch row: dropped entirely
    (:74-84)."""
    t = _table(spark, [
        _put(b"match", "test", b"foo", 100, b"a"),
        _put(b"match", "test", b"foo_2", 100, b"a"),
        _put(b"mismatch", "test", b"foo", 100, b"ab"),
        _put(b"mismatch", "test", b"foo_2", 100, b"a"),
    ])
    f = ast.SingleColumnValueExcludeFilter(
        "test", b"foo", ast.CompareOp.EQUAL, ast.BinaryComparator(b"a"),
    )
    got = t.scan(filter=f).collect()
    assert {(bytes(r["row"]), bytes(r["qualifier"])) for r in got} == {
        (b"match", b"foo_2"),
    }


def test_filter_list_transform_under_or_documented_posture(spark):
    """testTransformMPO (:523) composes (fam AND qual1 AND KeyOnlyFilter)
    OR (fam AND qual2) — per-branch transform under MUST_PASS_ONE. The
    engine's documented divergence (filters/compiler.py:650): order-
    dependent/transform members inside OR raise rather than silently
    mis-compose. The MUST_PASS_ALL branch with KeyOnlyFilter IS
    supported and strips values (transformedQual1, :546)."""
    t = _table(spark, [
        _put(b"row", "fam", b"qual1", 100, b"value"),
        _put(b"row", "fam", b"qual2", 100, b"value"),
        _put(b"row", "fam", b"qual3", 100, b"value"),
    ])
    or_with_transform = ast.FilterList("MUST_PASS_ONE", [
        ast.FilterList("MUST_PASS_ALL", [
            ast.QualifierFilter(
                ast.CompareOp.EQUAL, ast.BinaryComparator(b"qual1")),
            ast.KeyOnlyFilter(),
        ]),
        ast.QualifierFilter(
            ast.CompareOp.EQUAL, ast.BinaryComparator(b"qual2")),
    ])
    with pytest.raises(NotImplementedError):
        t.scan(filter=or_with_transform).collect()

    and_with_keyonly = ast.FilterList("MUST_PASS_ALL", [
        ast.QualifierFilter(
            ast.CompareOp.EQUAL, ast.BinaryComparator(b"qual1")),
        ast.KeyOnlyFilter(),
    ])
    got = t.scan(filter=and_with_keyonly).collect()
    assert len(got) == 1
    assert bytes(got[0]["qualifier"]) == b"qual1"
    assert got[0]["value"] in (None, b"")  # value stripped (:546)
