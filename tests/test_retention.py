"""One retention rule: the family TTL, the ``ttl_ms`` cell tag and the
``min_versions`` floor retire the same puts in a user scan, a clean-log
scan and a compaction (read_view.retain; ScanQueryMatcher is shared by
user scans and compactions, StoreScanner.java:268-271). Cell tags survive
``Engine.save`` and a reload."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from hbase_1_3_0_spark.catalog import FamilyMeta, TableMeta
from hbase_1_3_0_spark.cells import CELL_COLUMNS, TTL_FOREVER, TYPE_PUT
from hbase_1_3_0_spark.engine import Engine
from hbase_1_3_0_spark.operators.jobs import compact
from hbase_1_3_0_spark.operators.read_view import read_view
from hbase_1_3_0_spark.table import Scan, Table
from tests._prop_budget import ex

NOW = 1_000_000
TAGGED = (
    "row binary, family string, qualifier binary, ts long, type int, "
    "value binary, seq long, ttl_ms long"
)


def _ids(df) -> list[tuple]:
    return sorted(
        (bytes(r["row"]), r["family"], bytes(r["qualifier"]), r["ts"], r["seq"])
        for r in df.collect()
    )


def _view(df, **family) -> list[tuple]:
    return _ids(read_view(df, now_ms=NOW, **family))


def test_kdc_compaction_same_ts_reput_takes_no_floor_slot(spark):
    """A@100 (seq 0) and its same-ts re-put B@100 (seq 1) hold ONE floor
    slot; C@50 holds the second, before and after a KEEP_DELETED_CELLS
    compaction. Ranking the re-put as its own version retires C."""
    cells = spark.createDataFrame(
        [
            (b"r", "d", b"q", 100, TYPE_PUT, b"A", 0, None),
            (b"r", "d", b"q", 100, TYPE_PUT, b"B", 1, None),
            (b"r", "d", b"q", 50, TYPE_PUT, b"C", 0, None),
        ],
        TAGGED,
    )
    family = dict(
        max_versions=3, min_versions=2, ttl_seconds=1, keep_deleted_cells="TRUE"
    )
    want = [(b"r", "d", b"q", 50, 0), (b"r", "d", b"q", 100, 1)]
    assert _view(cells, **family) == want
    assert _view(compact(cells, now_ms=NOW, **family), **family) == want


def test_kdc_compaction_keeps_an_expired_tag_inside_the_floor(spark):
    """A put whose ``ttl_ms`` tag has expired, but which is its column's
    only version under ``min_versions=1``, stays visible through a
    KEEP_DELETED_CELLS compaction: the floor keeps it whatever its tag
    says."""
    cells = spark.createDataFrame(
        [(b"r", "d", b"q", 900, TYPE_PUT, b"A", 0, 10)], TAGGED
    )
    family = dict(max_versions=1, min_versions=1, keep_deleted_cells="TRUE")
    want = [(b"r", "d", b"q", 900, 0)]
    assert _view(cells, **family) == want
    assert _view(compact(cells, now_ms=NOW, **family), **family) == want


def test_clean_log_scan_keeps_an_expired_tag_inside_the_floor(spark):
    """The clean-log scan applies the same floor: the single version of a
    ``min_versions=1`` column survives its expired ``ttl_ms`` tag, as it
    does on the full read view."""
    cells = spark.createDataFrame(
        [(b"r", "d", b"q", 900, TYPE_PUT, b"A", 0, 10)], TAGGED
    )
    fams = (FamilyMeta(max_versions=1, min_versions=1),)
    full = Table(TableMeta(name="t", families=fams), cells, now_ms=NOW)
    clean = Table(
        TableMeta(name="t", families=fams, clean_log=True), cells, now_ms=NOW
    )
    assert _ids(clean.scan()) == _ids(full.scan()) == [(b"r", "d", b"q", 900, 0)]


# one put per (row, family, qualifier): the single-version log a clean
# scan assumes
_clean_cell = st.tuples(
    st.sampled_from([b"r1", b"r2", b"\xff"]),
    st.sampled_from(["a", "b"]),
    st.sampled_from([b"x", b"y"]),
    st.sampled_from([998_000, 998_900, 999_000, 999_500, 999_990]),
    st.sampled_from([None, 5, 600, 5_000]),
)
_family = st.tuples(
    st.integers(min_value=0, max_value=2),
    st.sampled_from([TTL_FOREVER, 1]),
)


@settings(
    max_examples=ex(25),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    cells=st.lists(_clean_cell, min_size=1, max_size=12, unique_by=lambda c: c[:3]),
    fam_a=_family,
    fam_b=_family,
    families=st.sampled_from([None, ("a",), ("a", "b")]),
    time_range=st.sampled_from([None, (998_900, 999_600)]),
    cf_time_range=st.sampled_from([None, (("b", 999_000, 1_000_000),)]),
)
@example(
    cells=[(b"r1", "a", b"x", 999_000, 10)],
    fam_a=(1, TTL_FOREVER),
    fam_b=(0, TTL_FOREVER),
    families=None,
    time_range=None,
    cf_time_range=None,
)
def test_clean_scan_matches_full_read_view(
    spark, cells, fam_a, fam_b, families, time_range, cf_time_range
):
    """On a single-version log, the clean-log scan returns what the full
    read view returns, whatever the family TTLs, ``min_versions`` floors,
    ``ttl_ms`` tags, family selection and (per-family) time ranges."""
    df = spark.createDataFrame(
        [
            (row, fam, q, ts, TYPE_PUT, b"v", 0, ttl)
            for row, fam, q, ts, ttl in cells
        ],
        TAGGED,
    )
    fams = tuple(
        FamilyMeta(name=name, min_versions=minv, ttl_seconds=ttl)
        for name, (minv, ttl) in (("a", fam_a), ("b", fam_b))
    )
    s = Scan(families=families, time_range=time_range, cf_time_range=cf_time_range)
    full = Table(TableMeta(name="t", families=fams), df, now_ms=NOW)
    clean = Table(
        TableMeta(name="t", families=fams, clean_log=True), df, now_ms=NOW
    )
    assert _ids(clean.scan(s)) == _ids(full.scan(s))


def _tagged_table(spark):
    """One cell labelled ``vis='pii'``, one whose ``ttl_ms`` has expired at
    the table clock, one plain cell."""
    return spark.createDataFrame(
        [
            (b"a", "d", b"q", 900, TYPE_PUT, b"secret", 0, None, "pii"),
            (b"b", "d", b"q", 900, TYPE_PUT, b"stale", 0, 10, None),
            (b"c", "d", b"q", 900, TYPE_PUT, b"plain", 0, None, None),
        ],
        "row binary, family string, qualifier binary, ts long, type int, "
        "value binary, seq long, ttl_ms long, vis string",
    )


def test_save_and_reload_keep_cell_tags(spark, tmp_path):
    """``Engine.save`` and ``Engine.table`` read a log's tag columns back:
    the labelled and the expired cell stay hidden from a scan without
    authorizations, in the saved table, the reloaded one and one a second
    Engine opens over the same root. A log without tags reads back with no
    tag column."""
    eng = Engine(spark, tmp_path, now_ms=1_000)
    t = eng.create_table(TableMeta(name="tags"), _tagged_table(spark))
    want = [(b"c", "d", b"q", 900, 0)]
    assert _ids(t.scan()) == want
    assert _ids(eng.save(t).scan()) == want
    assert _ids(eng.table("tags").scan()) == want
    assert _ids(Engine(spark, tmp_path, now_ms=1_000).table("tags").scan()) == want

    plain = eng.create_table(
        TableMeta(name="plain"),
        _tagged_table(spark).select(*CELL_COLUMNS),
    )
    assert eng.save(plain).cells.columns == CELL_COLUMNS
    assert eng.table("plain").cells.columns == CELL_COLUMNS


def test_compact_table_keeps_the_visible_view(spark, tmp_path):
    """A KEEP_DELETED_CELLS=FALSE compaction with ``min_versions=1`` keeps
    the expired-tag version inside the floor and marks the log clean; the
    clean-log scan of the saved result returns what the full scan returned
    before, tags included."""
    eng = Engine(spark, tmp_path, now_ms=1_000)
    fams = (FamilyMeta(max_versions=1, min_versions=1),)
    t = eng.create_table(TableMeta(name="t", families=fams), _tagged_table(spark))
    before = _ids(t.scan())
    out = eng.compact_table(t)
    assert out.meta.clean_log
    assert _ids(out.scan()) == before == [
        (b"b", "d", b"q", 900, 0),
        (b"c", "d", b"q", 900, 0),
    ]
