"""Property-based invariant tests (SURVEY.md §5 layer 3 — the
TestAcidGuarantees / IntegrationTestBigLinkedList analog): random mutation
batches against a model implementation of the read view.

The model is an independent, dictionary-based reimplementation of the
ScanQueryMatcher semantics (versions + 4 tombstone kinds); hypothesis
generates mutation batches and the Spark read view must agree cell-for-cell.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from tests._prop_budget import ex

from hbase_1_3_0_spark.cells import (
    CELL_SCHEMA,
    TTL_FOREVER,
    TYPE_DELETE_COLUMN,
    TYPE_DELETE_FAMILY,
    TYPE_DELETE_FAMILY_VERSION,
    TYPE_DELETE_VERSION,
    TYPE_PUT,
)
from hbase_1_3_0_spark.operators.read_view import cluster_rows, read_view

ROWS = [b"r1", b"r2", b"\x00", b"\xff\x01"]  # incl. negative-byte keys
QUALS = [b"a", b"b"]
TYPES = [
    TYPE_PUT,
    TYPE_PUT,
    TYPE_PUT,  # bias toward puts
    TYPE_DELETE_VERSION,
    TYPE_DELETE_COLUMN,
    TYPE_DELETE_FAMILY,
    TYPE_DELETE_FAMILY_VERSION,
]

cell_st = st.tuples(
    st.sampled_from(ROWS),
    st.sampled_from(QUALS),
    st.integers(min_value=1, max_value=6),  # ts
    st.sampled_from(TYPES),
    st.integers(min_value=0, max_value=3),  # seq
)

batch_st = st.lists(cell_st, min_size=1, max_size=25)


def model_read_view(cells: list[tuple], max_versions: int) -> set[tuple]:
    """Reference model of ScanQueryMatcher masking + version limiting."""
    fam_del: dict[bytes, int] = {}
    famver_del: dict[bytes, set[int]] = {}
    col_del: dict[tuple, int] = {}
    ver_del: dict[tuple, set[int]] = {}
    for row, qual, ts, typ, seq in cells:
        if typ == TYPE_DELETE_FAMILY:
            fam_del[row] = max(fam_del.get(row, -1), ts)
        elif typ == TYPE_DELETE_FAMILY_VERSION:
            famver_del.setdefault(row, set()).add(ts)
        elif typ == TYPE_DELETE_COLUMN:
            col_del[(row, qual)] = max(col_del.get((row, qual), -1), ts)
        elif typ == TYPE_DELETE_VERSION:
            ver_del.setdefault((row, qual), set()).add(ts)

    surviving: dict[tuple, list[tuple]] = {}
    for row, qual, ts, typ, seq in cells:
        if typ != TYPE_PUT:
            continue
        if ts <= fam_del.get(row, -1):
            continue
        if ts in famver_del.get(row, set()):
            continue
        if ts <= col_del.get((row, qual), -1):
            continue
        if ts in ver_del.get((row, qual), set()):
            continue
        surviving.setdefault((row, qual), []).append((ts, seq))

    out: set[tuple] = set()
    for (row, qual), versions in surviving.items():
        # a same-ts re-put REPLACES the cell: one version per ts, the
        # newest write (max seq) wins and the dup consumes no version
        # slot (TestFromClientSide testDuplicateVersions, pinned r11)
        per_ts: dict[int, int] = {}
        for ts, seq in versions:
            per_ts[ts] = max(per_ts.get(ts, -1), seq)
        newest = sorted(per_ts.items(), reverse=True)[:max_versions]
        for ts, seq in newest:
            out.add((row, qual, ts, seq))
    return out


def _to_df(spark, cells):
    rows = [
        (row, "d", qual, ts, typ, f"{ts}:{seq}".encode(), seq)
        for row, qual, ts, typ, seq in cells
    ]
    return spark.createDataFrame(rows, CELL_SCHEMA)


def _read_view(spark, cells, clustered: bool, **kw):
    """The read view over ``cells`` in either marker form: the join form
    unclustered callers get, or the window form over cells clustered by
    row (what a Table scan runs)."""
    df = _to_df(spark, cells)
    if clustered:
        df = cluster_rows(df)
    return read_view(df, clustered=clustered, **kw)


@settings(
    max_examples=ex(30),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    batch=batch_st,
    max_versions=st.integers(min_value=1, max_value=3),
    clustered=st.booleans(),
)
def test_read_view_matches_model(spark, batch, max_versions, clustered):
    # distinct cell identities: the log is a set of cells (a put replayed at
    # the same identity is idempotent); drop duplicate (row,qual,ts,type,seq)
    seen = {}
    for c in batch:
        seen[(c[0], c[1], c[2], c[3], c[4])] = c
    batch = list(seen.values())

    expected = model_read_view(batch, max_versions)
    got = {
        (bytes(r["row"]), bytes(r["qualifier"]), r["ts"], r["seq"])
        for r in _read_view(
            spark, batch, clustered, max_versions=max_versions
        ).collect()
    }
    assert got == expected


@settings(max_examples=ex(15), deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    deltas=st.lists(
        st.tuples(st.sampled_from(ROWS), st.integers(-100, 100)),
        min_size=1,
        max_size=20,
    )
)
def test_increment_total_equals_sum_of_deltas(spark, deltas):
    """Σ per-key counter results == Σ deltas (the streaming-counter law)."""
    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.catalog import TableMeta
    from hbase_1_3_0_spark.table import Table

    empty = spark.createDataFrame([], CELL_SCHEMA)
    incs = spark.createDataFrame(
        [(r, "d", b"c", d) for r, d in deltas],
        "row binary, family string, qualifier binary, delta long",
    )
    _, results = Table(TableMeta(name="t"), empty, now_ms=1000).increment(incs)
    total = results.agg(F.sum("new_value").alias("t")).collect()[0]["t"]
    assert total == sum(d for _, d in deltas)


#: retention logs: a table clock, timestamps on both sides of a 1 s family
#: TTL floor (999_000) and optional ``ttl_ms`` cell tags
RET_NOW = 1_000_000
ret_cell_st = st.tuples(
    st.sampled_from(ROWS),
    st.sampled_from(QUALS),
    st.sampled_from([998_000, 998_500, 999_000, 999_500, 999_900]),  # ts
    st.sampled_from(TYPES),
    st.integers(min_value=0, max_value=3),  # seq: same-ts re-puts
    st.sampled_from([None, 50, 700, 5_000]),  # ttl_ms
)


@settings(max_examples=ex(30), deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    batch=st.lists(ret_cell_st, min_size=1, max_size=25),
    kdc=st.sampled_from(["FALSE", "TRUE", "TTL"]),
    max_versions=st.integers(min_value=1, max_value=3),
    min_versions=st.integers(min_value=0, max_value=2),
    ttl_seconds=st.sampled_from([TTL_FOREVER, 1]),
    tagged=st.booleans(),
)
# one column: A@100 (seq 0), its same-ts re-put B@100 (seq 1), C@50 —
# the re-put takes no min_versions slot in either view
@example(
    batch=[
        (b"r1", b"a", 100, TYPE_PUT, 0, None),
        (b"r1", b"a", 100, TYPE_PUT, 1, None),
        (b"r1", b"a", 50, TYPE_PUT, 0, None),
    ],
    kdc="TRUE", max_versions=3, min_versions=2, ttl_seconds=1, tagged=False,
)
# an expired ttl_ms tag inside the min_versions floor
@example(
    batch=[(b"r1", b"a", 900, TYPE_PUT, 0, 10)],
    kdc="TRUE", max_versions=1, min_versions=1, ttl_seconds=TTL_FOREVER,
    tagged=True,
)
# KEEP_DELETED_CELLS=TTL: a marker below the TTL floor masks the put that
# the min_versions floor would otherwise keep
@example(
    batch=[
        (b"r1", b"a", 998_000, TYPE_PUT, 0, None),
        (b"r1", b"a", 998_500, TYPE_DELETE_COLUMN, 0, None),
    ],
    kdc="TTL", max_versions=1, min_versions=1, ttl_seconds=1, tagged=False,
)
def test_compaction_preserves_visible_view(
    spark, batch, kdc, max_versions, min_versions, ttl_seconds, tagged
):
    """compact(log) then read_view == read_view(log): GC must never change
    what a scan sees (the major-compaction correctness law), for every
    KEEP_DELETED_CELLS mode, version limit, min_versions floor, family TTL
    and ttl_ms tag. A KEEP_DELETED_CELLS compaction retains the markers it
    keeps and the puts they mask, and a retained put counts toward the
    versions whether masked or not (the reference's compaction matcher does
    not track those markers), so those logs hold only the markers it
    applies: none under TRUE, the ones below the TTL floor under TTL."""
    from hbase_1_3_0_spark.operators.jobs import compact

    floor = RET_NOW - ttl_seconds * 1000
    seen = {}
    for c in batch:
        applied = kdc == "FALSE" or (
            kdc == "TTL" and ttl_seconds != TTL_FOREVER and c[2] < floor
        )
        if c[3] == TYPE_PUT or applied:
            seen[c[:5]] = c
    if not seen:
        return
    df = spark.createDataFrame(
        [
            (row, "d", qual, ts, typ, f"{ts}:{seq}".encode(), seq, ttl)
            for row, qual, ts, typ, seq, ttl in seen.values()
        ],
        "row binary, family string, qualifier binary, ts long, type int, "
        "value binary, seq long, ttl_ms long",
    )
    if not tagged:
        df = df.drop("ttl_ms")
    family = dict(
        max_versions=max_versions,
        min_versions=min_versions,
        ttl_seconds=ttl_seconds,
        keep_deleted_cells=kdc,
    )

    def visible(cells):
        return {
            (bytes(r["row"]), bytes(r["qualifier"]), r["ts"], r["seq"])
            for r in read_view(cells, now_ms=RET_NOW, **family).collect()
        }

    assert visible(compact(df, now_ms=RET_NOW, **family)) == visible(df)


def test_binary_row_order_is_unsigned_lexicographic(spark):
    """SURVEY §7 watch-list #6: BinaryType comparison must be unsigned —
    0xff sorts after 0x01, matching Bytes.compareTo."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(b"\x01",), (b"\xff",), (b"\x7f",), (b"\x80",)], "row binary"
    )
    got = [bytes(r["row"]) for r in df.orderBy("row").collect()]
    assert got == [b"\x01", b"\x7f", b"\x80", b"\xff"]
    assert df.where(F.col("row") > b"\x7f").count() == 2


# --------------------------------------------------------------- SyncTable


put_st = st.tuples(
    st.sampled_from(ROWS),
    st.sampled_from(QUALS),
    st.integers(min_value=1, max_value=6),  # ts
    st.sampled_from([b"x", b"y", b"z"]),    # value
)

put_batch_st = st.lists(put_st, min_size=0, max_size=12)


@given(src_puts=put_batch_st, tgt_puts=put_batch_st)
@settings(
    max_examples=ex(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_sync_stream_always_converges_target(spark, src_puts, tgt_puts):
    """For ANY pair of put-only cell logs, applying sync_table's mutation
    stream to the target must make its read view identical to the source's
    (SyncTable.syncRowCells contract) — including newer-target-version
    masking, which needs the emitted delete_version."""
    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.operators import jobs
    from hbase_1_3_0_spark.operators import mutations as mut

    def mk_cells(puts):
        rows = [
            (r, "d", q, ts, TYPE_PUT, v, i) for i, (r, q, ts, v) in enumerate(puts)
        ]
        return spark.createDataFrame(rows, CELL_SCHEMA)

    src = mk_cells(src_puts)
    tgt = mk_cells(tgt_puts)
    stream = jobs.sync_table(src, tgt).withColumn("batch_seq", F.lit(0))
    repaired = mut.put_cells(
        tgt, mut.mutations_to_cells(stream, now_ms=999).withColumn(
            "seq", F.lit(10_000).cast("long")  # repairs apply after history
        )
    )
    want = sorted(
        (bytes(r.row), bytes(r.qualifier), r.ts, bytes(r.value))
        for r in read_view(src).collect()
    )
    got = sorted(
        (bytes(r.row), bytes(r.qualifier), r.ts, bytes(r.value))
        for r in read_view(repaired).collect()
    )
    assert got == want


@settings(max_examples=ex(15), deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60,
        unique=True,
    ),
    rate=st.floats(min_value=0.0, max_value=1.0),
    seed=st.sampled_from(["s1", "s2", "s3"]),
)
def test_sampling_matches_python_model(spark, ids, rate, seed):
    """The hash-threshold sample must equal an independent Python md5
    model exactly — the reproducibility contract sampling exists for."""
    import hashlib

    from hbase_1_3_0_spark.pipeline import sampling

    df = spark.createDataFrame([(i, "s") for i in ids], "doc_id: long, source: string")
    got = {
        r.doc_id
        for r in sampling.stratified_sample(
            df, {}, default_rate=rate, seed=seed
        ).collect()
    }
    thr = sampling.rate_to_hex(rate)
    expect = {
        i
        for i in ids
        if hashlib.md5(f"{seed}{i}".encode()).hexdigest()[:8] < thr
    }
    assert got == expect


@settings(max_examples=ex(10), deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    toks=st.lists(st.integers(min_value=0, max_value=999), min_size=1, max_size=50),
    cap=st.sampled_from([64, 256, 1000]),
)
def test_packing_matches_tape_model(spark, toks, cap):
    """Packing placement must equal the sequential concat-and-chunk tape."""
    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.pipeline import sampling

    rows = [("s", i, t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "source: string, doc_id: long, toks: long")
    got = {
        r.doc_id: (r.bin_id, r.bin_off, r.spill)
        for r in sampling.pack_sequences(
            df, capacity=cap, token_col=F.col("toks")
        ).collect()
    }
    pos = 0
    for i, t in enumerate(toks):
        assert got[i] == (pos // cap, pos % cap, max(0, pos % cap + t - cap))
        pos += t


def model_ttl_view(
    cells: list[tuple], max_versions: int, min_versions: int,
    ttl_floor: int,
) -> set[tuple]:
    """Model of the TTL x minVersions x tombstone interplay
    (ScanQueryMatcher.java:333-395): deletes mask first; among surviving
    versions newest-first, expired cells only survive inside the
    minVersions floor; maxVersions caps the total."""
    base = model_read_view(cells, max_versions=10**9)
    by_col: dict[tuple, list[tuple]] = {}
    for row, qual, ts, seq in base:
        by_col.setdefault((row, qual), []).append((ts, seq))
    out: set[tuple] = set()
    for (row, qual), versions in by_col.items():
        kept = 0
        for ts, seq in sorted(versions, reverse=True):
            if kept >= max_versions:
                break
            if ts >= ttl_floor or kept < min_versions:
                out.add((row, qual, ts, seq))
                kept += 1
            else:
                break  # expired beyond the floor: everything older is too
    return out


@settings(
    max_examples=ex(25),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    batch=batch_st,
    max_versions=st.integers(min_value=1, max_value=3),
    min_versions=st.integers(min_value=0, max_value=2),
    ttl_seconds=st.integers(min_value=4, max_value=11),
    clustered=st.booleans(),
)
def test_read_view_ttl_min_versions_matches_model(
    spark, batch, max_versions, min_versions, ttl_seconds, clustered
):
    """Fuzz the hard corner SURVEY.md flags first: TTL expiry interacting
    with the minVersions keep-floor and all four tombstone kinds. Cell ts
    are scaled to seconds (1000..6000 ms) so the generated TTLs land the
    expiry floor BETWEEN versions, not just before/after all of them."""
    if min_versions >= max_versions:
        min_versions = max_versions - 1
    seen = {}
    for c in batch:
        seen[(c[0], c[1], c[2], c[3], c[4])] = c
    batch = [(r, q, ts * 1000, typ, seq) for r, q, ts, typ, seq in seen.values()]

    now_ms = 10_000
    ttl_ms_floor = now_ms - ttl_seconds * 1000

    expected = model_ttl_view(
        batch, max_versions, min_versions, ttl_ms_floor
    )
    got = {
        (bytes(r["row"]), bytes(r["qualifier"]), r["ts"], r["seq"])
        for r in _read_view(
            spark,
            batch,
            clustered,
            max_versions=max_versions,
            min_versions=min_versions,
            ttl_seconds=ttl_seconds,
            now_ms=now_ms,
        ).collect()
    }
    assert got == expected


@settings(
    max_examples=ex(25),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    batch=batch_st,
    hi=st.integers(min_value=2, max_value=7),
    kdc=st.booleans(),
    clustered=st.booleans(),
)
def test_read_view_kdc_time_travel_matches_model(spark, batch, hi, kdc, clustered):
    """KEEP_DELETED_CELLS x time-travel fuzz: with KDC=TRUE a time-range
    read ignores delete markers at/above the range's upper bound (sees
    through later deletes); with KDC=FALSE every marker masks regardless
    of the range (ScanQueryMatcher.java:347-395, HColumnDescriptor:171)."""
    seen = {}
    for c in batch:
        seen[(c[0], c[1], c[2], c[3], c[4])] = c
    batch = list(seen.values())

    if kdc:
        # markers >= hi are invisible to this read
        masked_batch = [
            c for c in batch if c[3] == TYPE_PUT or c[2] < hi
        ]
    else:
        masked_batch = batch
    # version limit counts within the range: take top-1 after the range
    # filter, mirroring ColumnTracker counting post-timerange
    base = model_read_view(masked_batch, 10**9)
    by_col: dict[tuple, list[tuple]] = {}
    for row, qual, ts, seq in base:
        if ts < hi:
            by_col.setdefault((row, qual), []).append((ts, seq))
    expected = {
        (row, qual) + max(vs) for (row, qual), vs in by_col.items()
    }

    got = {
        (bytes(r["row"]), bytes(r["qualifier"]), r["ts"], r["seq"])
        for r in _read_view(
            spark,
            batch,
            clustered,
            max_versions=1,
            keep_deleted_cells="TRUE" if kdc else "FALSE",
            time_range=(0, hi),
        ).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# filter-algebra fuzz: random FilterList trees vs a Python predicate model
# ---------------------------------------------------------------------------

from hbase_1_3_0_spark.filters import ast as fast  # noqa: E402
from hbase_1_3_0_spark.filters.compiler import apply_filter  # noqa: E402

_F_ROWS = [b"a", b"ab", b"b", b"\x00", b"\xff\x01"]
_F_QUALS = [b"qa", b"qb"]
_F_VALS = [b"v1", b"v2", b"V1x", b"", b"\x80\x01"]
_F_OPS = list(fast.CompareOp.ALL)

comparator_st = st.one_of(
    st.sampled_from(_F_VALS + [b"v"]).map(fast.BinaryComparator),
    st.sampled_from([b"v", b"V", b"\x80"]).map(fast.BinaryPrefixComparator),
    st.sampled_from(["v1", "1x", "z"]).map(fast.SubstringComparator),
    st.just(fast.NullComparator()),
)


def leaf(draw_cls, cmp, op):
    return draw_cls(op=op, comparator=cmp)


leaf_st = st.builds(
    leaf,
    st.sampled_from([fast.RowFilter, fast.QualifierFilter, fast.ValueFilter]),
    comparator_st,
    st.sampled_from(_F_OPS),
)

filter_st = st.recursive(
    leaf_st,
    lambda children: st.builds(
        lambda op, fs: fast.FilterList(op, tuple(fs)),
        st.sampled_from(["MUST_PASS_ALL", "MUST_PASS_ONE"]),
        st.lists(children, min_size=1, max_size=3),
    ),
    max_leaves=6,
)

long_leaf_st = st.builds(
    lambda op, v: fast.ValueFilter(
        op=op, comparator=fast.LongComparator(v, codec="utf8")
    ),
    st.sampled_from(_F_OPS),
    st.integers(min_value=-5, max_value=30),
)


def _model_ordered(op, left: bytes, right: bytes) -> bool:
    return {
        "LESS": left < right,
        "LESS_OR_EQUAL": left <= right,
        "EQUAL": left == right,
        "NOT_EQUAL": left != right,
        "GREATER_OR_EQUAL": left >= right,
        "GREATER": left > right,
        "NO_OP": False,
    }[op]


def _model_compare(subject: bytes, op: str, cmp) -> bool:
    if isinstance(cmp, fast.NullComparator):
        # fixture cells always carry a value, so compareTo == 1
        # (NullComparator.java:42-44); CompareFilter.doCompare
        # (CompareFilter.java:100-123) then includes for NOT_EQUAL,
        # LESS (r<=0 false) and LESS_OR_EQUAL (r<0 false), excludes
        # for EQUAL, GREATER_OR_EQUAL, GREATER and NO_OP
        return op in ("NOT_EQUAL", "LESS", "LESS_OR_EQUAL")
    if isinstance(cmp, fast.BinaryComparator):
        return _model_ordered(op, subject, cmp.value)
    if isinstance(cmp, fast.BinaryPrefixComparator):
        return _model_ordered(op, subject[: len(cmp.value)], cmp.value)
    if isinstance(cmp, fast.SubstringComparator):
        # SubstringComparator.compareTo is 0 (contains) or 1; the
        # doCompare table therefore collapses the order ops:
        # EQUAL/GREATER_OR_EQUAL include on match, NOT_EQUAL/LESS on
        # no-match, LESS_OR_EQUAL always, GREATER/NO_OP never
        m = cmp.substr.lower() in subject.decode("utf-8", "replace").lower()
        if op in ("EQUAL", "GREATER_OR_EQUAL"):
            return m
        if op in ("NOT_EQUAL", "LESS"):
            return not m
        return op == "LESS_OR_EQUAL"
    raise AssertionError(cmp)


def _model_filter(f, cell) -> bool:
    row, qual, val = cell
    if isinstance(f, fast.FilterList):
        sub = [_model_filter(x, cell) for x in f.filters]
        return all(sub) if f.operator == "MUST_PASS_ALL" else any(sub)
    if isinstance(f, fast.RowFilter):
        return _model_compare(row, f.op, f.comparator)
    if isinstance(f, fast.QualifierFilter):
        return _model_compare(qual, f.op, f.comparator)
    if isinstance(f, fast.ValueFilter):
        if isinstance(f.comparator, fast.LongComparator):
            try:
                decoded = int(val.decode("ascii"))
            except (UnicodeDecodeError, ValueError):
                return False  # non-numeric bytes decode to null -> excluded
            return {
                "LESS": decoded < f.comparator.value,
                "LESS_OR_EQUAL": decoded <= f.comparator.value,
                "EQUAL": decoded == f.comparator.value,
                "NOT_EQUAL": decoded != f.comparator.value,
                "GREATER_OR_EQUAL": decoded >= f.comparator.value,
                "GREATER": decoded > f.comparator.value,
                "NO_OP": False,
            }[f.op]
        return _model_compare(val, f.op, f.comparator)
    raise AssertionError(f)


@settings(max_examples=ex(40), deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(f=filter_st)
def test_filter_algebra_matches_model(spark, f):
    """Random nested FilterList trees over Row/Qualifier/Value filters with
    Binary/BinaryPrefix/Substring comparators and all seven CompareOps must
    agree cell-for-cell with an independent Python evaluation (binary
    compares are unsigned-lexicographic on both sides)."""
    cells = [
        (r, q, v) for r in _F_ROWS for q in _F_QUALS for v in _F_VALS
    ]
    rows = [(r, "d", q, 1, TYPE_PUT, v, 0) for r, q, v in cells]
    df = spark.createDataFrame(rows, CELL_SCHEMA)
    got = {
        (bytes(r["row"]), bytes(r["qualifier"]), bytes(r["value"]))
        for r in apply_filter(df, f).collect()
    }
    expected = {c for c in cells if _model_filter(f, c)}
    assert got == expected


@settings(max_examples=ex(15), deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    batch_d=batch_st,
    batch_e=batch_st,
    maxv_d=st.integers(min_value=1, max_value=3),
    ttl_e=st.integers(min_value=4, max_value=11),
)
def test_multi_family_scan_matches_per_family_models(
    spark, batch_d, batch_e, maxv_d, ttl_e
):
    """One scan over families with DIFFERENT semantics (d: maxVersions,
    e: TTL with minVersions=1) must equal the per-family models — guards
    the family-grouping path in Table.scan (incl. the cf_time_range-aware
    group keys)."""
    from hbase_1_3_0_spark.catalog import FamilyMeta, TableMeta
    from hbase_1_3_0_spark.table import Scan, Table

    def dedupe_scaled(batch):
        seen = {}
        for c in batch:
            seen[(c[0], c[1], c[2], c[3], c[4])] = c
        return [
            (r, q, ts * 1000, typ, seq) for r, q, ts, typ, seq in seen.values()
        ]

    batch_d, batch_e = dedupe_scaled(batch_d), dedupe_scaled(batch_e)
    now_ms = 10_000
    rows = [
        (r, "d", q, ts, typ, f"{ts}:{seq}".encode(), seq)
        for r, q, ts, typ, seq in batch_d
    ] + [
        (r, "e", q, ts, typ, f"{ts}:{seq}".encode(), seq)
        for r, q, ts, typ, seq in batch_e
    ]
    df = spark.createDataFrame(rows, CELL_SCHEMA)
    meta = TableMeta(
        name="mf",
        families=(
            FamilyMeta(name="d", max_versions=maxv_d),
            FamilyMeta(name="e", ttl_seconds=ttl_e, min_versions=1),
        ),
    )
    t = Table(meta, df, now_ms=now_ms)
    got = {
        (r["family"], bytes(r["row"]), bytes(r["qualifier"]), r["ts"], r["seq"])
        for r in t.scan(Scan(max_versions=3)).collect()
    }
    exp_d = {
        ("d",) + c for c in model_read_view(batch_d, min(3, maxv_d))
    }
    exp_e = {
        ("e",) + c
        for c in model_ttl_view(batch_e, 1, 1, now_ms - ttl_e * 1000)
    }
    assert got == exp_d | exp_e


@settings(max_examples=ex(20), deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    vals=st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=2, max_size=30, unique=True,
    )
)
def test_ordered_long_encoding_preserves_order(spark, vals):
    """encode_ordered_long: unsigned-lexicographic byte order == numeric
    order for arbitrary int64s (incl. extremes), and decode inverts."""
    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.functions import codecs

    df = spark.createDataFrame([(v,) for v in vals], "v: long")
    enc = df.select(
        "v",
        codecs.encode_ordered_long(F.col("v")).alias("k"),
    )
    rows = enc.collect()
    by_bytes = [r.v for r in sorted(rows, key=lambda r: bytes(r.k))]
    assert by_bytes == sorted(vals)
    back = enc.select(
        "v", codecs.decode_ordered_long(F.col("k")).alias("b")
    ).collect()
    assert all(r.v == r.b for r in back)


@settings(max_examples=ex(25), deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(f=st.one_of(long_leaf_st, st.builds(
    lambda op, fs: fast.FilterList(op, tuple(fs)),
    st.sampled_from(["MUST_PASS_ALL", "MUST_PASS_ONE"]),
    st.lists(long_leaf_st, min_size=2, max_size=3),
)))
def test_long_comparator_filters_match_model(spark, f):
    """LongComparator (canonical decimal codec) across all CompareOps:
    numeric compare where the value parses, excluded where it doesn't."""
    vals = [b"0", b"7", b"22", b"-3", b"x9", b""]
    rows = [(b"r", "d", b"q", 1, TYPE_PUT, v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, CELL_SCHEMA)
    got = {bytes(r["value"]) for r in apply_filter(df, f).collect()}
    expected = {v for v in vals if _model_filter(f, (b"r", b"q", v))}
    assert got == expected


@settings(max_examples=ex(20), deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    current=st.lists(
        st.tuples(
            st.sampled_from([b"r1", b"r2", b"r3"]),
            st.sampled_from([b"", b"x", b"y", b"zz"]),
        ),
        max_size=3,
        unique_by=lambda t: t[0],
    ),
    checks=st.lists(
        st.tuples(
            st.sampled_from([b"r1", b"r2", b"r3", b"r4"]),
            st.sampled_from(
                ["LESS", "LESS_OR_EQUAL", "EQUAL", "NOT_EQUAL",
                 "GREATER_OR_EQUAL", "GREATER"]
            ),
            st.sampled_from([None, b"", b"x", b"y"]),
        ),
        min_size=1,
        max_size=4,
        unique_by=lambda t: t[0],
    ),
)
def test_check_and_mutate_matches_model(spark, current, checks):
    """CAS verdict fuzz vs the HRegion.checkAndMutate rules: null expected
    matches absent OR zero-length current; comparisons are unsigned-
    lexicographic on the current value; absent current fails every
    comparison."""
    from hbase_1_3_0_spark.catalog import TableMeta
    from hbase_1_3_0_spark.table import Table

    cells_rows = [
        (r, "d", b"q", 1, TYPE_PUT, v, 0) for r, v in current
    ]
    cells = spark.createDataFrame(cells_rows, CELL_SCHEMA)
    muts = spark.createDataFrame(
        [
            (r, "put", "d", b"new", None, b"nv", "d", b"q", op, exp, 0)
            for r, op, exp in checks
        ],
        "row binary, op string, family string, qualifier binary, ts long, "
        "value binary, check_family string, check_qualifier binary, "
        "check_op string, check_value binary, batch_seq long",
    )
    _, verdicts = Table(TableMeta(name="t"), cells, now_ms=5).check_and_mutate(muts)
    got = {bytes(r.row): r.applied for r in verdicts.collect()}

    cur_map = dict(current)
    expected = {}
    for r, op, exp in checks:
        cur = cur_map.get(r)
        if exp is None:
            ok = cur is None or cur == b""
        elif cur is None:
            ok = False
        else:
            # reference operand order (r11 fix): matches iff
            # expected <op> cellValue (HRegion.checkAndMutate
            # comparator(expected).compareTo(cell))
            ok = {
                "LESS": exp < cur,
                "LESS_OR_EQUAL": exp <= cur,
                "EQUAL": exp == cur,
                "NOT_EQUAL": exp != cur,
                "GREATER_OR_EQUAL": exp >= cur,
                "GREATER": exp > cur,
            }[op]
        expected[r] = ok
    assert got == expected


# ---------------------------------------------------------------- visibility


def test_fuzz_flat_visibility_fold_matches_reference_parser(spark):
    """Differential fuzz: for random FLAT expressions (labels, &, |, !,
    junk), the JVM fold must agree with the driver-side reference-parser
    evaluation — and DENY wherever the parser raises (fail closed)."""
    import random

    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.operators.security import (
        VisibilityParseError,
        evaluate_vis_expression,
        visibility_pred,
    )

    rng = random.Random(20240814)
    labels = ["a", "b", "finance", "pii", "x1"]
    pieces = labels + ["!", "&", "|", " ", ""]
    exprs = set()
    # well-formed flat expressions
    for _ in range(120):
        n = rng.randrange(1, 5)
        parts = []
        for i in range(n):
            lbl = rng.choice(labels)
            if rng.random() < 0.3:
                lbl = "!" + lbl
            parts.append(lbl)
            if i < n - 1:
                parts.append(rng.choice(["&", "|"]))
        exprs.add(" ".join(parts))
    # random junk (many malformed)
    for _ in range(120):
        exprs.add("".join(rng.choice(pieces) for _ in range(rng.randrange(1, 7))))
    # interior-space labels: the reference parser ends a label at SPACE, so
    # 'a b' is two adjacent labels -> ParseException -> DENY (the fold must
    # not score 'a b' as one unknown label, which would fail OPEN under |)
    exprs.update(["x1|a b", "finance|a b", "a b", "a b&finance", "!a b|a"])
    exprs = sorted(e for e in exprs if e.strip())

    auths = ("a", "finance")
    df = spark.createDataFrame([(e,) for e in exprs], "vis: string")
    got = {
        r.vis: bool(r.ok)
        for r in df.select(
            "vis", visibility_pred(auths).alias("ok")
        ).collect()
    }
    mismatches = []
    for e in exprs:
        try:
            want = evaluate_vis_expression(e, auths)
        except VisibilityParseError:
            want = False
        if got[e] != want:
            mismatches.append((e, got[e], want))
    assert not mismatches, mismatches[:10]


# ------------------------------------------------------------ py-model hash


def test_fuzz_pymodel_xxh64_matches_spark(spark):
    """tools/pymodels.xxh64 (the pure-Python model oracle for the
    seeded-hash dedup ops) must agree with Spark's xxhash64 on arbitrary
    strings — all length classes: empty, tails, 4-byte chunk, full
    32-byte stripes, multi-byte UTF-8."""
    import random

    from pyspark.sql import functions as F

    from tools.pymodels import xxh64

    rng = random.Random(99)
    alphabet = "abcXYZ019 .,!?éüñ中文🙂"
    strs = [""] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 80)))
        for _ in range(150)
    ]
    strs = sorted(set(strs))
    df = spark.createDataFrame([(s,) for s in strs], "s: string")
    got = {r.s: r.h for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    bad = [s for s in strs if got[s] != xxh64(s.encode("utf-8"))]
    assert not bad, bad[:5]


# ------------------------------------------------------------- arrow source


def test_fuzz_arrow_roundtrip_typed_rows(spark, tmp_path):
    """write_arrow -> read_arrow must be the identity on random typed
    rows: nulls, unicode, newlines, empty/NULL arrays, binary blobs —
    the type fidelity that justifies an Arrow source over JSONL."""
    import random

    rng = random.Random(4242)
    alphabet = "ab \n\t,\"'é中🙂\\x00z09"
    rows = []
    for i in range(120):
        text = (
            None
            if rng.random() < 0.1
            else "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 30)))
        )
        vec = (
            None
            if rng.random() < 0.1
            else [
                rng.uniform(-10, 10) for _ in range(rng.randrange(0, 5))
            ]
        )
        blob = (
            None
            if rng.random() < 0.2
            else bytes(rng.randrange(256) for _ in range(rng.randrange(0, 12)))
        )
        rows.append((i, text, vec, blob))
    df = spark.createDataFrame(
        rows, "doc_id: long, text: string, vec: array<double>, blob: binary"
    ).repartition(3)
    from hbase_1_3_0_spark.sources import arrow_ipc

    path = str(tmp_path / "fuzz_arrow")
    arrow_ipc.write_arrow(df, path)
    back = arrow_ipc.read_arrow(
        spark, path,
        "doc_id bigint, text string, vec array<double>, blob binary",
    )

    def norm(r):
        return (
            r[0],
            r[1],
            None if r[2] is None else tuple(r[2]),
            None if r[3] is None else bytes(r[3]),
        )

    got = sorted(norm((r.doc_id, r.text, r.vec, r.blob)) for r in back.collect())
    want = sorted(norm(r) for r in rows)
    assert got == want


# ----------------------------------------------------------------- web / URL


def test_fuzz_canonicalize_url_idempotent(spark):
    """canonicalize(canonicalize(u)) == canonicalize(u) for a mix of
    generated URLs (idempotence is what makes the canonical form a safe
    dedup key)."""
    import random

    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.pipeline.web import canonicalize_url

    rng = random.Random(7)
    urls = []
    for _ in range(200):
        scheme = rng.choice(["http", "https", "HTTPS"])
        host = rng.choice(["A.example.COM", "x.co.uk", "site9.com", "WWW.q.org"])
        path = rng.choice(["", "/", "/a", "/a/", "/a/B/c", "/a%20b"])
        params = rng.sample(
            ["utm_source=x", "id=3", "b=2", "a=1", "gclid=z", "refid=9", "ref=t"],
            rng.randrange(0, 4),
        )
        frag = rng.choice(["", "#top", "#s/e?c"])
        q = ("?" + "&".join(params)) if params else ""
        urls.append(f"{scheme}://{host}{path}{q}{frag}")
    df = spark.createDataFrame([(u,) for u in urls], "url: string")
    once = df.select(
        "url", canonicalize_url(F.col("url")).alias("c1")
    )
    twice = once.select(
        "url", "c1", canonicalize_url(F.col("c1")).alias("c2")
    )
    bad = [
        (r.url, r.c1, r.c2) for r in twice.collect() if r.c1 != r.c2
    ]
    assert not bad, bad[:5]


@settings(
    max_examples=ex(12), deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    texts=st.lists(
        st.text(alphabet="abc", min_size=0, max_size=40),
        min_size=1, max_size=8,
    ),
    planted=st.text(alphabet="abc", min_size=6, max_size=12),
    k=st.sampled_from([4, 6]),
)
def test_substring_dedup_matches_python_model(spark, texts, planted, k):
    """remove_repeated_spans must equal an independent brute-force
    Python model exactly: same window digests (md5), same global-first
    winner, same interval merge and excision — on small random corpora
    with a planted shared substring (tiny alphabet maximizes natural
    repeats, exercising winner ties and interval coalescing)."""
    import hashlib

    from hbase_1_3_0_spark.pipeline import substrings

    # plant the shared span into half the docs to guarantee cross-doc
    # repeats beyond whatever the tiny alphabet produces naturally
    docs = [
        (i, t + planted if i % 2 == 0 else t) for i, t in enumerate(texts)
    ]

    def model():
        # windows: (doc, pos0) -> digest, 0-based pos
        occ: dict[str, list[tuple[int, int]]] = {}
        for i, t in docs:
            for p in range(len(t) - k + 1):
                d = hashlib.md5(t[p : p + k].encode()).hexdigest()
                occ.setdefault(d, []).append((i, p))
        cut: dict[int, list[tuple[int, int]]] = {}
        for d, places in occ.items():
            if len(places) < 2:
                continue
            first = min(places)
            for i, p in places:
                if (i, p) != first:
                    cut.setdefault(i, []).append((p, p + k))
        out = {}
        for i, t in docs:
            spans = sorted(cut.get(i, []))
            merged: list[list[int]] = []
            for s, e in spans:
                if merged and s <= merged[-1][1]:
                    merged[-1][1] = max(merged[-1][1], e)
                else:
                    merged.append([s, e])
            kept = []
            prev = 0
            for s, e in merged:
                kept.append(t[prev:s])
                prev = e
            kept.append(t[prev:])
            out[i] = ("".join(kept), sum(e - s for s, e in merged))
        return out

    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    got = {
        r.doc_id: (r.clean_text, r.n_cut_chars)
        for r in substrings.remove_repeated_spans(df, k=k).collect()
    }
    assert got == model()


@settings(max_examples=ex(10), deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=60),
        min_size=1, max_size=6,
    ),
    k=st.integers(min_value=2, max_value=5),
    w=st.integers(min_value=1, max_value=5),
)
def test_winnow_fingerprints_match_python_model(spark, texts, k, w):
    """Winnowing equals the brute-force reference on random tiny-
    alphabet corpora across (k, w) — the tiny alphabet forces hash ties,
    exercising the rightmost-min rule; and the MOSS coverage guarantee
    holds (every w-window of grams contains a selected position)."""
    import hashlib
    import re

    from hbase_1_3_0_spark.pipeline import text as textops

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    got = {
        (r.doc_id, r.pos, r.fp)
        for r in textops.winnow_fingerprints(df, k=k, w=w).collect()
    }
    want = set()
    cover_ok = True
    for i, s in docs:
        t = re.sub(r"[^a-z0-9]", "", s.lower())
        m = len(t) - k + 1
        if m < 1:
            continue
        hs = [
            hashlib.md5(t[j:j + k].encode()).hexdigest()[:8]
            for j in range(m)
        ]
        wlen = min(w, m)
        sel_pos = set()
        for j in range(max(m - w + 1, 1)):
            sub = hs[j:j + wlen]
            mn = min(sub)
            p = j + max(q for q, h in enumerate(sub) if h == mn)
            want.add((i, p + 1, mn))
            sel_pos.add(p)
        for j in range(max(m - w + 1, 1)):
            if not any(j <= p < j + wlen for p in sel_pos):
                cover_ok = False
    assert got == want
    assert cover_ok


@settings(max_examples=ex(10), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=60),
        min_size=1, max_size=6,
    ),
    k=st.integers(min_value=2, max_value=5),
    w=st.integers(min_value=1, max_value=5),
)
def test_robust_winnowing_matches_python_model(spark, texts, k, w):
    """ROBUST winnowing (Schleimer et al. §4: on a tie keep the previous
    selection when it is still minimal, else rightmost min; record on
    change only) equals the sequential reference on tie-heavy
    tiny-alphabet corpora; the coverage guarantee still holds (every
    window contains a selected position); and the selected set is a
    subset of the standard mode's positions."""
    import hashlib
    import re

    from hbase_1_3_0_spark.pipeline import text as textops

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    got = {
        (r.doc_id, r.pos, r.fp)
        for r in textops.winnow_fingerprints(
            df, k=k, w=w, robust=True
        ).collect()
    }
    std = {
        (r.doc_id, r.pos, r.fp)
        for r in textops.winnow_fingerprints(df, k=k, w=w).collect()
    }
    want = set()
    cover_ok = True
    for i, s in docs:
        t = re.sub(r"[^a-z0-9]", "", s.lower())
        m = len(t) - k + 1
        if m < 1:
            continue
        hs = [
            hashlib.md5(t[j:j + k].encode()).hexdigest()[:8]
            for j in range(m)
        ]
        wlen = min(w, m)
        sel_pos = set()
        prev = -1  # 0-based selected gram index, -1 = none yet
        for j in range(max(m - w + 1, 1)):
            sub = hs[j:j + wlen]
            mn = min(sub)
            if j <= prev < j + wlen and hs[prev] == mn:
                sel_pos.add(prev)
                continue
            prev = j + max(q for q, h in enumerate(sub) if h == mn)
            want.add((i, prev + 1, mn))
            sel_pos.add(prev)
        for j in range(max(m - w + 1, 1)):
            if not any(j <= p < j + wlen for p in sel_pos):
                cover_ok = False
    assert got == want
    assert cover_ok
    assert {(d, p) for d, p, _ in got} <= {(d, p) for d, p, _ in std}


@settings(max_examples=ex(8), deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6),
        min_size=1, max_size=12,
    ),
    num_merges=st.integers(min_value=1, max_value=8),
)
def test_bpe_train_matches_python_model(spark, words, num_merges):
    """bpe_train equals the sequential reference trainer on random
    tiny-alphabet corpora — merge order, tie-breaks, pair counts, and
    the left-to-right non-overlap rule (the 'aaa' + (a,a) case arises
    naturally here)."""
    from hbase_1_3_0_spark.pipeline import bpe

    corpus = " ".join(words)
    df = spark.createDataFrame([(1, corpus)], "doc_id: long, text: string")
    got = [
        (r.rank, r.left, r.right, r.pair_count)
        for r in bpe.bpe_train(df, num_merges=num_merges, min_count=2)
        .orderBy("rank").collect()
    ]
    counts: dict = {}
    for wd in words:
        counts[wd] = counts.get(wd, 0) + 1
    syms_list = [(list(wd) + ["</w>"], c) for wd, c in counts.items()]
    want = []
    for rank in range(num_merges):
        pc: dict = {}
        for syms, c in syms_list:
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + c
        if not pc:
            break
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < 2:
            break
        want.append((rank, a, b, c))

        def apply(syms):
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            return out

        syms_list = [(apply(syms), c0) for syms, c0 in syms_list]
    assert got == want


@settings(max_examples=ex(8), deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.text(alphabet="ab .\n", min_size=0, max_size=80),
        min_size=1, max_size=5,
    ),
)
def test_gopher_repetition_matches_python_model(spark, texts):
    """The dup-n-gram battery equals a brute-force Python model on
    random tiny-alphabet corpora (repeats arise constantly at alphabet
    size 2, exercising ties, overlaps, and coverage dedup)."""
    from hbase_1_3_0_spark.pipeline import text as textops

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    got = {
        r.doc_id: tuple(
            r[f"top_{n}gram_frac"] for n in (2, 3, 4)
        ) + tuple(r[f"dup_{n}gram_frac"] for n in range(5, 11))
        for r in textops.gopher_repetition(df).collect()
    }
    import re

    from tools.pymodels import _round6

    want = {}
    for i, t in docs:
        ws = re.findall(r"[a-z0-9]+", t.lower())
        total = sum(len(w) for w in ws)
        if total == 0:
            continue
        vals = []
        for n in (2, 3, 4):
            grams: dict = {}
            for p in range(len(ws) - n + 1):
                g = " ".join(ws[p:p + n])
                grams.setdefault(g, []).append(p)
            best = 0
            if grams:
                g, occ = min(
                    grams.items(), key=lambda kv: (-len(kv[1]), kv[0])
                )
                if len(occ) >= 2:
                    glen = sum(len(w) for w in g.split(" "))
                    best = len(occ) * glen
            vals.append(_round6(best / total))
        for n in range(5, 11):
            grams = {}
            for p in range(len(ws) - n + 1):
                g = " ".join(ws[p:p + n])
                grams.setdefault(g, []).append(p)
            covered = set()
            for g, occ in grams.items():
                if len(occ) >= 2:
                    for p in occ:
                        covered.update(range(p, p + n))
            chars = sum(len(ws[q]) for q in covered)
            vals.append(_round6(chars / total))
        want[i] = tuple(vals)
    assert got == want


# ---------------------------------------------------------------------------
# Full OrderedBytes numeric analog (TestOrderedBytes mirror:
# hbase-common/src/test/java/org/apache/hadoop/hbase/util/TestOrderedBytes.java
# testNumeric* — sort-order preservation and round-trip over random values
# including negatives and arbitrary-precision decimals, NULL first, DESC
# inversion, Struct composite field-wise order)
# ---------------------------------------------------------------------------

_decimal_st = st.decimals(
    min_value=-(10**19), max_value=10**19, allow_nan=False,
    allow_infinity=False, places=18,
)


@settings(max_examples=ex(20), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    vals=st.lists(_decimal_st, min_size=2, max_size=25, unique=True),
    with_null=st.booleans(),
)
def test_ordered_numeric_preserves_order_and_roundtrips(
    spark, vals, with_null
):
    """encode_ordered_numeric: unsigned byte order == numeric order for
    random decimals (negatives included, any scale), NULL sorts first,
    decode inverts exactly, and DESCENDING reverses the order with NULL
    last."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.functions import codecs

    rows = [(i, v) for i, v in enumerate(vals)]
    if with_null:
        rows.append((len(rows), None))
    df = spark.createDataFrame(rows, "i: int, v: decimal(38,18)")
    enc = df.select(
        "i", "v",
        codecs.encode_ordered_numeric(F.col("v")).alias("k"),
        codecs.encode_ordered_numeric(
            F.col("v"), descending=True
        ).alias("kd"),
        codecs.decode_ordered_numeric(
            codecs.encode_ordered_numeric(F.col("v"))
        ).alias("back"),
    ).collect()
    none_first = lambda r: (r.v is not None, r.v)  # noqa: E731
    want = [r.i for r in sorted(enc, key=none_first)]
    assert [r.i for r in sorted(enc, key=lambda r: bytes(r.k))] == want
    assert [
        r.i for r in sorted(enc, key=lambda r: bytes(r.kd))
    ] == list(reversed(want))
    for r in enc:
        if r.v is None:
            assert r.back is None
        else:
            assert r.back == Decimal(r.v)


@settings(max_examples=ex(15), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    vals=st.lists(
        st.one_of(
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            st.sampled_from(
                [float("inf"), float("-inf"), float("nan"), 0.0]
            ),
        ),
        min_size=2, max_size=25,
    )
)
def test_ordered_numeric_doubles_full_range(spark, vals):
    """Doubles across the full ±1e308 range (scientific-notation
    renderings) keep the reference's total order: -inf < finite < +inf
    < NaN; decode round-trips bit-exactly for finite values."""
    import math

    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.functions import codecs

    # dedupe on the numeric value (0.0 == -0.0 collapses)
    uniq = []
    for v in vals:
        if not any(
            (math.isnan(v) and math.isnan(u)) or v == u for u in uniq
        ):
            uniq.append(v)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(uniq)], "i: int, v: double"
    )
    enc = df.select(
        "i", "v",
        codecs.encode_ordered_numeric(F.col("v")).alias("k"),
        codecs.decode_ordered_numeric(
            codecs.encode_ordered_numeric(F.col("v")), "double"
        ).alias("back"),
    ).collect()

    def rank(x):
        if math.isnan(x):
            return (2, 0.0)
        return (1, x)

    want = [r.i for r in sorted(enc, key=lambda r: rank(r.v))]
    assert [r.i for r in sorted(enc, key=lambda r: bytes(r.k))] == want
    for r in enc:
        if math.isnan(r.v):
            assert math.isnan(r.back)
        else:
            assert r.back == r.v


@settings(max_examples=ex(15), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    pairs=st.lists(
        st.tuples(
            st.one_of(st.none(), _decimal_st),
            st.one_of(
                st.none(),
                st.text(
                    alphabet=st.characters(
                        min_codepoint=2, max_codepoint=0x2FF
                    ),
                    max_size=8,
                ),
            ),
        ),
        min_size=2, max_size=20,
    )
)
def test_ordered_struct_composite_orders_field_wise(spark, pairs):
    """Struct composite (numeric, string) keys: flat unsigned byte
    comparison of the concatenated segments equals field-wise tuple
    comparison with NULLs first — the types/Struct.java contract."""
    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.functions import codecs

    uniq = list(dict.fromkeys(pairs))
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(uniq)],
        "i: int, a: decimal(38,18), b: string",
    )
    enc = df.select(
        "i", "a", "b",
        codecs.ordered_struct(
            codecs.ordered_numeric_segment(F.col("a")),
            codecs.ordered_string_segment(F.col("b")),
        ).alias("k"),
    ).collect()

    def tup(r):
        return (
            (r.a is not None, r.a),
            (r.b is not None, r.b),
        )

    want = [r.i for r in sorted(enc, key=tup)]
    assert [r.i for r in sorted(enc, key=lambda r: bytes(r.k))] == want


@settings(max_examples=ex(15), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    blobs=st.lists(
        st.one_of(st.none(), st.binary(max_size=12)),
        min_size=2, max_size=20,
    )
)
def test_ordered_blob_preserves_byte_order_and_roundtrips(spark, blobs):
    """ordered_blob_segment (OrderedBlobVar analog): segment order ==
    unsigned byte order of the raw blobs with NULL first, any content
    byte allowed (0x00/0x01 included), prefixes sort first, decode
    inverts exactly."""
    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.functions import codecs

    uniq = list(dict.fromkeys(blobs))
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(uniq)], "i: int, v: binary"
    )
    enc = df.select(
        "i", "v",
        codecs.ordered_struct(
            codecs.ordered_blob_segment(F.col("v"))
        ).alias("k"),
        codecs.decode_ordered_blob(
            codecs.ordered_blob_segment(F.col("v"))
        ).alias("back"),
    ).collect()
    none_first = lambda r: (r.v is not None, bytes(r.v or b""))  # noqa: E731
    want = [r.i for r in sorted(enc, key=none_first)]
    assert [r.i for r in sorted(enc, key=lambda r: bytes(r.k))] == want
    for r in enc:
        if r.v is None:
            assert r.back is None
        else:
            assert bytes(r.back) == bytes(r.v)


@settings(max_examples=ex(15), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    vals=st.lists(
        st.one_of(
            st.none(),
            st.decimals(min_value=-(10**6), max_value=10**6,
                        allow_nan=False, allow_infinity=False, places=3),
            st.text(
                alphabet=st.characters(min_codepoint=2, max_codepoint=0x7E),
                max_size=6,
            ),
        ),
        min_size=2, max_size=20,
    )
)
def test_ordered_union_position_orders_by_member_class(spark, vals):
    """Union2-style mixed struct position (types/Union2.java): one key
    slot holding numeric segments in some rows and string segments in
    others orders by (member class, value) — all numerics before all
    strings, NULL class first — purely from the self-identifying
    segment headers."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.functions import codecs

    uniq = list(dict.fromkeys(vals))
    rows = [
        (i,
         v if isinstance(v, Decimal) else None,
         v if isinstance(v, str) else None)
        for i, v in enumerate(uniq)
    ]
    df = spark.createDataFrame(rows, "i: int, num: decimal(12,3), s: string")
    enc = df.select(
        "i", "num", "s",
        codecs.ordered_struct(
            F.when(
                F.col("s").isNotNull(),
                codecs.ordered_string_segment(F.col("s")),
            ).otherwise(codecs.ordered_numeric_segment(F.col("num")))
        ).alias("k"),
    ).collect()

    def rank(r):
        if r.num is not None:
            return (1, r.num, "")
        if r.s is not None:
            return (2, 0, r.s)
        return (0, 0, "")

    want = [r.i for r in sorted(enc, key=rank)]
    assert [r.i for r in sorted(enc, key=lambda r: bytes(r.k))] == want


@settings(max_examples=ex(15), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    vals=st.lists(
        st.one_of(
            st.none(),
            st.text(
                alphabet=st.characters(min_codepoint=0, max_codepoint=0x2FF),
                max_size=8,
            ),
        ),
        min_size=2, max_size=20,
    )
)
def test_ordered_string_descending_reverses_and_roundtrips(spark, vals):
    """ordered_string_segment(descending=True) — the Order.DESCENDING
    analog (Order.java:43 byte complement): segment byte order equals
    REVERSE UTF-8 byte order of the strings, a prefix sorts LAST, NULL
    sorts LAST; decode inverts exactly. Unlike the ascending form, any
    codepoint (U+0000/U+0001 included) is encodable — content is
    hex-expanded before complementing."""
    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.functions import codecs

    uniq = list(dict.fromkeys(vals))
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(uniq)], "i: int, s: string"
    )
    enc = df.select(
        "i", "s",
        codecs.ordered_struct(
            codecs.ordered_string_segment(F.col("s"), descending=True)
        ).alias("k"),
        codecs.decode_ordered_string(
            codecs.ordered_string_segment(F.col("s"), descending=True),
            descending=True,
        ).alias("back"),
    ).collect()
    # descending: non-null in reverse utf-8 byte order, then NULL
    none_last_desc = lambda r: (  # noqa: E731
        r.s is None,
        _neg_bytes((r.s or "").encode("utf-8")),
    )
    want = [r.i for r in sorted(enc, key=none_last_desc)]
    assert [r.i for r in sorted(enc, key=lambda r: bytes(r.k))] == want
    for r in enc:
        assert r.back == r.s


def _neg_bytes(b):
    """Sort key inverting unsigned byte order: complemented bytes as a
    tuple, closed by a sentinel STRICTLY above any byte value (256) so
    a PREFIX always sorts after its extensions (the descending prefix
    rule). A one-byte 0xFF sentinel is NOT enough: an extension whose
    next byte is 0x00 complements to 0xFF and ties with the sentinel,
    flipping the order — hypothesis found ['', '\\x00']."""
    return tuple(255 - x for x in b) + (256,)


@settings(max_examples=ex(15), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    blobs=st.lists(
        st.one_of(st.none(), st.binary(max_size=12)),
        min_size=2, max_size=20,
    )
)
def test_ordered_blob_descending_reverses_and_roundtrips(spark, blobs):
    """ordered_blob_segment(descending=True): reverse unsigned byte
    order, prefixes last, NULL last, exact round-trip."""
    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.functions import codecs

    uniq = list(dict.fromkeys(blobs))
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(uniq)], "i: int, v: binary"
    )
    enc = df.select(
        "i", "v",
        codecs.ordered_struct(
            codecs.ordered_blob_segment(F.col("v"), descending=True)
        ).alias("k"),
        codecs.decode_ordered_blob(
            codecs.ordered_blob_segment(F.col("v"), descending=True),
            descending=True,
        ).alias("back"),
    ).collect()
    none_last_desc = lambda r: (  # noqa: E731
        r.v is None,
        _neg_bytes(bytes(r.v) if r.v is not None else b""),
    )
    want = [r.i for r in sorted(enc, key=none_last_desc)]
    assert [r.i for r in sorted(enc, key=lambda r: bytes(r.k))] == want
    for r in enc:
        if r.v is None:
            assert r.back is None
        else:
            assert bytes(r.back) == bytes(r.v)


@settings(max_examples=ex(15), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    pairs=st.lists(
        st.tuples(
            st.one_of(st.none(), _decimal_st),
            st.one_of(
                st.none(),
                st.text(
                    alphabet=st.characters(
                        min_codepoint=2, max_codepoint=0x2FF
                    ),
                    max_size=8,
                ),
            ),
        ),
        min_size=2, max_size=20,
    )
)
def test_ordered_struct_mixed_asc_desc_fields(spark, pairs):
    """Composite key with per-field order — (numeric ASC, string DESC),
    the 'entity, time DESC' row-key idiom: flat byte comparison equals
    field-wise comparison with the second field REVERSED and its NULLs
    last. Exactly the reference's per-field Order in Struct
    (types/StructBuilder.java add(field, Order.DESCENDING))."""
    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.functions import codecs

    uniq = list(dict.fromkeys(pairs))
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(uniq)],
        "i: int, a: decimal(38,18), b: string",
    )
    enc = df.select(
        "i", "a", "b",
        codecs.ordered_struct(
            codecs.ordered_numeric_segment(F.col("a")),
            codecs.ordered_string_segment(F.col("b"), descending=True),
        ).alias("k"),
    ).collect()

    def tup(r):
        return (
            (r.a is not None, r.a),
            (r.b is None, _neg_bytes((r.b or "").encode("utf-8"))),
        )

    want = [r.i for r in sorted(enc, key=tup)]
    assert [r.i for r in sorted(enc, key=lambda r: bytes(r.k))] == want


@settings(max_examples=ex(15), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    vals=st.lists(
        st.one_of(
            st.none(),
            st.decimals(min_value=-(10**6), max_value=10**6,
                        allow_nan=False, allow_infinity=False, places=3),
            st.text(
                alphabet=st.characters(min_codepoint=2, max_codepoint=0x7E),
                max_size=6,
            ),
            st.binary(max_size=6),
        ),
        min_size=2, max_size=20,
    )
)
def test_ordered_union_descending_reverses_class_order(spark, vals):
    """A DESCENDING union position reverses the ascending family order:
    blobs < strings < numerics (each family internally reversed), NULL
    class last — the complement of the ascending union contract."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.functions import codecs

    uniq = list(dict.fromkeys(vals))
    rows = [
        (i,
         v if isinstance(v, Decimal) else None,
         v if isinstance(v, str) else None,
         v if isinstance(v, bytes) else None)
        for i, v in enumerate(uniq)
    ]
    df = spark.createDataFrame(
        rows, "i: int, num: decimal(12,3), s: string, v: binary"
    )
    enc = df.select(
        "i", "num", "s", "v",
        codecs.ordered_struct(
            F.when(
                F.col("v").isNotNull(),
                codecs.ordered_blob_segment(F.col("v"), descending=True),
            )
            .when(
                F.col("s").isNotNull(),
                codecs.ordered_string_segment(F.col("s"), descending=True),
            )
            .otherwise(
                codecs.ordered_numeric_segment(
                    F.col("num"), descending=True
                )
            )
        ).alias("k"),
    ).collect()

    def rank(r):
        if r.v is not None:
            return (0, _neg_bytes(bytes(r.v)), "")
        if r.s is not None:
            return (1, _neg_bytes(r.s.encode("utf-8")), "")
        if r.num is not None:
            return (2, b"", -r.num)
        return (3, b"", 0)

    want = [r.i for r in sorted(enc, key=rank)]
    assert [r.i for r in sorted(enc, key=lambda r: bytes(r.k))] == want


@settings(max_examples=ex(8), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.text(alphabet="ab .\n", min_size=0, max_size=80),
        min_size=1, max_size=5,
    ),
)
def test_gopher_repetition_islands_equals_positions(spark, texts):
    """coverage='islands' (gaps-and-islands interval union + prefix-sum
    endpoint probes) produces byte-identical output to the per-position
    explode mode on tie-heavy tiny-alphabet corpora — the pathological
    case the islands mode exists for."""
    from hbase_1_3_0_spark.pipeline import text as textops

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    cols = ["doc_id"] + [f"top_{n}gram_frac" for n in (2, 3, 4)] + [
        f"dup_{n}gram_frac" for n in range(5, 11)
    ]
    pos_rows = {
        tuple(r[c] for c in cols)
        for r in textops.gopher_repetition(df).collect()
    }
    isl_rows = {
        tuple(r[c] for c in cols)
        for r in textops.gopher_repetition(
            df, coverage="islands"
        ).collect()
    }
    assert isl_rows == pos_rows


def test_substring_clean_rebuild_consistent(spark):
    """Length-conservation of remove_repeated_spans on the real sf0.001
    documents table: length(clean_text) == orig_len - n_cut_chars for
    EVERY doc. This assertion used to ride the driver-compared output
    of substring_clean as a boolean column; r09 moved it here so the
    driver contract is pure BIGINT span arithmetic (the r08 red was
    the oracle side's uncast HUGEINT aggregate, and the reshape leaves
    that query zero non-convention surface)."""
    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.pipeline import substrings

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = substrings.remove_repeated_spans(docs, k=40)
    bad = out.where(
        F.length("clean_text").cast("long")
        != F.col("orig_len") - F.col("n_cut_chars")
    ).count()
    assert bad == 0
    # and the surgery is non-trivial on this corpus (spans exist)
    assert out.where(F.col("n_cut_chars") > 0).count() > 0
