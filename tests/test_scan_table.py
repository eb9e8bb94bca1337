"""Table API: scan / get / multi_get / projection / limits over KV fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hbase_1_3_0_spark.catalog import FamilyMeta, TableMeta
from hbase_1_3_0_spark.functions import codecs
from hbase_1_3_0_spark.sources import kv_encoder
from hbase_1_3_0_spark.table import Get, Scan, Table
from tests.conftest import load


def key(n: int) -> bytes:
    return str(n).zfill(codecs.KEY_SEGMENT_WIDTH).encode()


@pytest.fixture(scope="module")
def customer_table(spark, sf_dir):
    df = load(spark, sf_dir, "customer")
    cells = kv_encoder.table_to_cells(df, ["c_custkey"])
    meta = TableMeta(name="customer_kv", families=(FamilyMeta(name="d"),))
    return Table(meta, cells, now_ms=2_000_000), df


def test_scan_range_matches_source(customer_table):
    table, df = customer_table
    out = table.scan(Scan(start_row=key(10), stop_row=key(20)))
    wide = kv_encoder.cells_to_table(
        out, {"c_custkey": "bigint", "c_name": "string"}
    )
    got = sorted((r.c_custkey, r.c_name) for r in wide.collect())
    exp = sorted(
        (r.c_custkey, r.c_name)
        for r in df.where("c_custkey >= 10 and c_custkey < 20").collect()
    )
    assert got == exp and len(got) > 0


def test_get_single_row(customer_table):
    table, df = customer_table
    out = table.get(key(42))
    vals = {bytes(r.qualifier).decode(): r.value for r in out.collect()}
    src = df.where("c_custkey = 42").first()
    assert bytes(vals["c_name"]).decode() == src.c_name
    assert len(vals) == len(df.columns)


def test_multi_get_semi_join(customer_table):
    table, df = customer_table
    keys = [key(k) for k in (5, 17, 99)]
    out = table.multi_get(keys)
    rows = {bytes(r.row) for r in out.select("row").distinct().collect()}
    assert rows == set(keys)


def test_exists(customer_table):
    table, _ = customer_table
    got = table.exists([key(5), key(10**9)])
    assert [bytes(r.row) for r in got.collect()] == [key(5)]


def test_column_projection(customer_table):
    table, _ = customer_table
    out = table.scan(Scan(columns=(("d", b"c_name"), ("d", b"c_acctbal"))))
    quals = {bytes(r.qualifier) for r in out.select("qualifier").distinct().collect()}
    assert quals == {b"c_name", b"c_acctbal"}


def test_row_limit_and_reverse(customer_table):
    table, df = customer_table
    lo, hi = df.agg(F.min("c_custkey"), F.max("c_custkey")).first()
    out = table.scan(Scan(limit=5))
    rows = sorted({bytes(r.row) for r in out.select("row").collect()})
    assert len(rows) == 5 and rows[0] == key(lo)
    out_rev = table.scan(Scan(limit=3, reversed=True))
    rows_rev = sorted({bytes(r.row) for r in out_rev.select("row").collect()})
    assert len(rows_rev) == 3 and rows_rev[-1] == key(hi)


def test_reversed_scan_range_roles_flip(customer_table):
    """Scan.setReversed(:694): startRow is the LARGEST key (inclusive),
    stopRow the smallest (exclusive) — ReversedClientScanner semantics."""
    table, _ = customer_table
    out = table.scan(Scan(start_row=key(15), stop_row=key(11), reversed=True))
    rows = sorted({bytes(r.row) for r in out.select("row").distinct().collect()})
    assert rows == [key(12), key(13), key(14), key(15)]


def test_stop_inclusive(customer_table):
    table, _ = customer_table
    out = table.scan(Scan(start_row=key(10), stop_row=key(12), stop_inclusive=True))
    rows = sorted({bytes(r.row) for r in out.select("row").distinct().collect()})
    assert rows == [key(10), key(11), key(12)]


def test_intra_row_column_pagination(customer_table):
    table, _ = customer_table
    out = table.scan(Scan(limit=1, row_offset_per_cf=1, max_results_per_cf=2))
    quals = sorted(bytes(r.qualifier) for r in out.collect())
    # customer columns sorted: c_acctbal, c_custkey, c_mktsegment, c_name, c_nationkey
    assert quals == [b"c_custkey", b"c_mktsegment"]


def test_wide_roundtrip_full_table(customer_table, spark):
    table, df = customer_table
    cols = {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    }
    wide = table.to_wide(cols).drop("row")
    assert wide.exceptAll(df.select(*cols)).count() == 0
    assert df.select(*cols).exceptAll(wide).count() == 0


def test_clean_log_fast_path_matches_full_read_view(spark, sf_dir):
    """clean_log scans must equal the full read-view pipeline on a fresh
    fixture log, with a shuffle-free single-stage plan; mutations clear
    the flag."""
    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.catalog import TableMeta
    from hbase_1_3_0_spark.sources import fixtures
    from hbase_1_3_0_spark.table import Table

    cells = fixtures.kv_cells(spark, sf_dir, "nation")
    full = Table(TableMeta(name="n1"), cells, now_ms=1)
    fast = Table(TableMeta(name="n2", clean_log=True), cells, now_ms=1)
    a = {tuple(r) for r in full.scan().collect()}
    b = {tuple(r) for r in fast.scan().collect()}
    assert a == b and len(a) > 0

    plan = fast.scan()._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    # a put clears the flag -> mutated table goes through the full view
    put = cells.limit(1).withColumn("ts", F.col("ts") + 1)
    mutated = fast.put(put)
    assert mutated.meta.clean_log is False


def test_cf_time_range_per_family_override(spark):
    """setColumnFamilyTimeRange (Scan.java:347): the per-family range
    overrides the scan-wide one for that family only, on both the full
    matcher path and the clean-log fast path."""
    from hbase_1_3_0_spark.catalog import FamilyMeta, TableMeta
    from hbase_1_3_0_spark.table import Scan, Table

    rows = []
    for ts, tag in ((100, b"old"), (200, b"new")):
        for fam in ("a", "b"):
            rows.append(
                (b"r1", fam, b"q", ts, 4, tag + fam.encode(), 0)
            )
    cells = spark.createDataFrame(
        rows, "row binary, family string, qualifier binary, ts long, "
        "type int, value binary, seq long"
    )
    meta = TableMeta(
        name="cftr", families=(FamilyMeta(name="a"), FamilyMeta(name="b"))
    )
    t = Table(meta, cells, now_ms=1000)

    # family 'a' pinned to the old version; 'b' follows the global range
    got = {
        (r.family, bytes(r.value))
        for r in t.scan(Scan(cf_time_range=(("a", 0, 150),))).collect()
    }
    assert got == {("a", b"olda"), ("b", b"newb")}

    # global range + per-family override compose
    got2 = {
        (r.family, bytes(r.value))
        for r in t.scan(
            Scan(time_range=(0, 150), cf_time_range=(("b", 150, 300),))
        ).collect()
    }
    assert got2 == {("a", b"olda"), ("b", b"newb")}

    # clean-log fast path (single-version log): same override logic
    clean_cells = cells.where((F.col("ts") == 100) | (F.col("family") == "b"))
    tc = Table(
        TableMeta(
            name="cftr2",
            clean_log=True,
            families=(FamilyMeta(name="a"), FamilyMeta(name="b")),
        ),
        clean_cells,
        now_ms=1000,
    )
    got3 = {
        (r.family, bytes(r.value), r.ts)
        for r in tc.scan(Scan(cf_time_range=(("b", 150, 300),))).collect()
    }
    assert got3 == {("a", b"olda", 100), ("b", b"newb", 200)}


def test_cells_to_result_map_nested_layout(spark):
    """Result.getMap analog: nested family -> qualifier -> versions map
    with versions newest-first; dynamic qualifiers need no declared schema."""
    from hbase_1_3_0_spark.sources.kv_encoder import cells_to_result_map

    rows = [
        (b"r1", "d", b"qa", 100, 4, b"old", 0),
        (b"r1", "d", b"qa", 200, 4, b"new", 1),
        (b"r1", "e", b"qb", 150, 4, b"other", 0),
        (b"r2", "d", b"qa", 50, 4, b"solo", 0),
    ]
    cells = spark.createDataFrame(
        rows, "row binary, family string, qualifier binary, ts long, "
        "type int, value binary, seq long"
    )
    got = {bytes(r.row): r.result for r in cells_to_result_map(cells).collect()}
    r1 = got[b"r1"]
    assert set(r1.keys()) == {"d", "e"}
    versions = r1["d"][b"qa"]
    assert [(v.ts, bytes(v.value)) for v in versions] == [
        (200, b"new"), (100, b"old")
    ]
    assert [(v.ts, bytes(v.value)) for v in r1["e"][b"qb"]] == [(150, b"other")]
    assert [(v.ts, bytes(v.value)) for v in got[b"r2"]["d"][b"qa"]] == [(50, b"solo")]


def test_scan_batched_partial_results(spark):
    """Scan.setBatch analog: a wide row's cells chunk into partial
    Results of <= batch cells in KVComparator order; versions count as
    cells; row-level filters are rejected."""
    import pytest as _pytest

    from hbase_1_3_0_spark.catalog import FamilyMeta, TableMeta
    from hbase_1_3_0_spark.cells import CELL_SCHEMA, TYPE_PUT
    from hbase_1_3_0_spark.filters import ast as fa
    from hbase_1_3_0_spark.table import Table

    cells = spark.createDataFrame(
        [
            (b"r1", "d", b"a", 200, TYPE_PUT, b"a2", 0),
            (b"r1", "d", b"a", 100, TYPE_PUT, b"a1", 0),
            (b"r1", "d", b"b", 100, TYPE_PUT, b"b1", 0),
            (b"r1", "d", b"c", 100, TYPE_PUT, b"c1", 0),
            (b"r2", "d", b"a", 100, TYPE_PUT, b"x", 0),
        ],
        CELL_SCHEMA,
    )
    t = Table(
        TableMeta(name="t", families=(FamilyMeta(name="d", max_versions=3),)),
        cells,
        now_ms=1,
    )
    out = t.scan_batched(batch=2, max_versions=3)
    got = {
        (bytes(r.row), bytes(r.qualifier), r.ts): r.result_id
        for r in out.collect()
    }
    # intra-row order: (a,200), (a,100), (b,100), (c,100) -> chunks 0,0,1,1
    assert got == {
        (b"r1", b"a", 200): 0,
        (b"r1", b"a", 100): 0,
        (b"r1", b"b", 100): 1,
        (b"r1", b"c", 100): 1,
        (b"r2", b"a", 100): 0,
    }
    with _pytest.raises(ValueError, match="batch"):
        t.scan_batched(batch=2, filter=fa.PageFilter(1))


def test_scan_metrics_counts(customer_table):
    """ScanMetrics (ServerSideScanMetrics.java:57,:63): scanned = live
    rows visited in the range pre-filter, filtered = scanned -
    returned; a row limit bounds returned only (batch posture,
    documented)."""
    table, df = customer_table
    from hbase_1_3_0_spark.filters import ast as fa

    filt = fa.SingleColumnValueFilter(
        "d", b"c_mktsegment", fa.CompareOp.EQUAL,
        fa.BinaryComparator(b"BUILDING"),
    )
    m = table.scan_metrics(
        Scan(start_row=key(10), stop_row=key(60), filter=filt)
    ).first()
    exp_scanned = df.where("c_custkey >= 10 and c_custkey < 60").count()
    exp_returned = df.where(
        "c_custkey >= 10 and c_custkey < 60 and c_mktsegment = 'BUILDING'"
    ).count()
    assert (m.rows_scanned, m.rows_returned, m.rows_filtered) == (
        exp_scanned, exp_returned, exp_scanned - exp_returned
    )
    # no filter: nothing filtered
    m2 = table.scan_metrics(Scan(start_row=key(10), stop_row=key(60))).first()
    assert m2.rows_filtered == 0 and m2.rows_scanned == exp_scanned
    # a limit bounds returned, never scanned
    m3 = table.scan_metrics(
        Scan(start_row=key(10), stop_row=key(60), limit=3)
    ).first()
    assert (m3.rows_scanned, m3.rows_returned) == (exp_scanned, 3)


@pytest.mark.parametrize("clean_log", [False, True])
def test_scan_of_undeclared_families_raises(spark, clean_log):
    """Selecting only families the table does not declare raises the
    KeyError TableMeta.family raises (the reference's
    NoSuchColumnFamilyException), before any plan is built, whether the
    log is clean or not; by families or by columns."""
    from hbase_1_3_0_spark.cells import CELL_SCHEMA, TYPE_PUT

    cells = spark.createDataFrame([(b"r", "d", b"q", 1, TYPE_PUT, b"v", 0)], CELL_SCHEMA)
    t = Table(TableMeta(name="t", clean_log=clean_log), cells, 5)
    for kw in ({"families": ("zz",)}, {"columns": (("zz", b"q"),)}):
        with pytest.raises(KeyError, match="no such column family: 'zz'"):
            t.scan(**kw)
    with pytest.raises(KeyError, match="no such column family"):
        t.get(b"r", families=("zz", "zy"))
    assert t.scan(families=("d",)).count() == 1


@pytest.mark.parametrize("clean_log", [False, True])
def test_empty_family_selection_reads_all_families(spark, clean_log):
    """An empty family map selects every family (the reference's
    Scan.hasFamilies() is false), on the clean-log path and the full path
    alike; an empty ``families`` next to ``columns`` leaves the columns."""
    from hbase_1_3_0_spark.catalog import FamilyMeta
    from hbase_1_3_0_spark.cells import CELL_SCHEMA, TYPE_PUT

    cells = spark.createDataFrame(
        [(b"r", "d", b"q", 1, TYPE_PUT, b"v", 0), (b"r", "e", b"q", 1, TYPE_PUT, b"w", 0)],
        CELL_SCHEMA,
    )
    meta = TableMeta(
        name="t", families=(FamilyMeta(name="d"), FamilyMeta(name="e")),
        clean_log=clean_log,
    )
    t = Table(meta, cells, 5)
    for kw in ({"families": ()}, {"columns": ()}, {"families": (), "columns": ()}):
        assert t.scan(**kw).count() == 2, kw
    assert t.get(b"r", families=()).count() == 2
    got = t.scan(families=(), columns=(("e", b"q"),)).collect()
    assert [(r.family, bytes(r.value)) for r in got] == [("e", b"w")]


@pytest.mark.parametrize("clean_log", [False, True])
def test_scan_of_declared_and_undeclared_families_divergence(spark, clean_log):
    """Known divergence: a selection mixing a declared family with an
    undeclared one reads the declared family's cells, where the reference
    throws NoSuchColumnFamilyException for the undeclared one."""
    from hbase_1_3_0_spark.cells import CELL_SCHEMA, TYPE_PUT

    cells = spark.createDataFrame(
        [(b"r", "d", b"q", 1, TYPE_PUT, b"v", 0), (b"r", "zz", b"q", 1, TYPE_PUT, b"w", 0)],
        CELL_SCHEMA,
    )
    t = Table(TableMeta(name="t", clean_log=clean_log), cells, 5)
    got = [(r.family, bytes(r.value)) for r in t.scan(families=("d", "zz")).collect()]
    assert got == [("d", b"v")]
