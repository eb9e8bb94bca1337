"""Round-2 semantics: KDC-aware compaction, ts-aware SyncTable, per-cell TTL,
BitComparator length rule, ColumnPagination bookmark, WALPlayer idempotence,
Increment TimeRange, signed ordered keys, reversed order-dependent filters.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hbase_1_3_0_spark.cells import (
    CELL_SCHEMA,
    TYPE_DELETE_COLUMN,
    TYPE_DELETE_FAMILY,
    TYPE_DELETE_VERSION,
    TYPE_PUT,
)
from hbase_1_3_0_spark.catalog import FamilyMeta, TableMeta
from hbase_1_3_0_spark.filters import ast as fast
from hbase_1_3_0_spark.functions import codecs
from hbase_1_3_0_spark.operators import jobs, mutations as mut
from hbase_1_3_0_spark.operators.read_view import read_view
from hbase_1_3_0_spark.table import Scan, Table


def mk(spark, rows):
    """rows: (row, family, qualifier, ts, type, value[, seq])"""
    data = [
        (
            r[0].encode() if isinstance(r[0], str) else r[0],
            r[1],
            r[2].encode() if isinstance(r[2], str) else r[2],
            r[3],
            r[4],
            (r[5].encode() if isinstance(r[5], str) else r[5]),
            r[6] if len(r) > 6 else 0,
        )
        for r in rows
    ]
    return spark.createDataFrame(data, CELL_SCHEMA)


# ---------------------------------------------------------------- compaction


def test_compact_kdc_false_drops_deleted(spark):
    cells = mk(spark, [
        ("r1", "d", "q", 100, TYPE_PUT, "v1"),
        ("r1", "d", "q", 200, TYPE_DELETE_COLUMN, None),
        ("r2", "d", "q", 100, TYPE_PUT, "keep"),
    ])
    out = jobs.compact(cells, keep_deleted_cells="FALSE").collect()
    assert [(bytes(r.row), r.type) for r in out] == [(b"r2", TYPE_PUT)]


def test_compact_kdc_true_retains_markers_and_deleted(spark):
    """COMPACT_RETAIN_DELETES (ScanQueryMatcher.java:349-381): compacting a
    KDC=TRUE family must NOT destroy tombstones or the cells they mask —
    time-range reads before the delete must still see the data."""
    cells = mk(spark, [
        ("r1", "d", "q", 100, TYPE_PUT, "v1"),
        ("r1", "d", "q", 200, TYPE_DELETE_COLUMN, None),
    ])
    out = jobs.compact(cells, keep_deleted_cells="TRUE")
    kinds = sorted((bytes(r.row), r.type) for r in out.collect())
    assert kinds == [(b"r1", TYPE_PUT), (b"r1", TYPE_DELETE_COLUMN)]
    # a time-range read over the compacted log still sees the old value
    seen = read_view(
        out, keep_deleted_cells="TRUE", time_range=(0, 150)
    ).collect()
    assert [(bytes(r.value)) for r in seen] == [b"v1"]


def test_compact_kdc_ttl_expires_deleted(spark):
    now = 1_000_000
    cells = mk(spark, [
        ("r1", "d", "q", 100, TYPE_PUT, "expired"),       # far past TTL
        ("r1", "d", "q", 150, TYPE_DELETE_COLUMN, None),  # old marker
        ("r1", "d", "q", now - 1_000, TYPE_PUT, "live"),
    ])
    out = jobs.compact(
        cells,
        keep_deleted_cells="TTL",
        ttl_seconds=10,
        now_ms=now,
        max_versions=2,
    ).collect()
    got = sorted((r.ts, r.type) for r in out)
    assert got == [(now - 1_000, TYPE_PUT)]


def test_compact_table_kdc_keeps_clean_log_false(spark):
    cells = mk(spark, [("r1", "d", "q", 100, TYPE_PUT, "v")])
    from hbase_1_3_0_spark.engine import Engine

    eng = Engine(spark, now_ms=1_000)
    meta = TableMeta(
        name="t_kdc",
        families=(FamilyMeta(keep_deleted_cells="TRUE"),),
    )
    t = eng.create_table(meta, cells)
    out = eng.compact_table(t)
    assert out.meta.clean_log is False
    meta2 = TableMeta(name="t_clean")
    t2 = eng.create_table(meta2, cells)
    assert eng.compact_table(t2).meta.clean_log is True


# ----------------------------------------------------------------- SyncTable


def test_sync_table_flags_ts_only_mismatch(spark):
    src = mk(spark, [("r1", "d", "q", 200, TYPE_PUT, "same")])
    tgt = mk(spark, [("r1", "d", "q", 100, TYPE_PUT, "same")])
    ops = sorted(r.op for r in jobs.sync_table(src, tgt).collect())
    # equal value, different ts -> still a diff (the reference hash covers ts)
    assert ops == ["put"]


def test_sync_table_deletes_newer_target_version(spark):
    src = mk(spark, [("r1", "d", "q", 100, TYPE_PUT, "good")])
    tgt = mk(spark, [("r1", "d", "q", 200, TYPE_PUT, "bad")])
    out = jobs.sync_table(src, tgt)
    ops = sorted((r.op, r.ts) for r in out.collect())
    assert ops == [("delete_version", 200), ("put", 100)]


def test_sync_table_stream_converges_target(spark):
    """Applying the emitted mutation stream must make target == source —
    including the masked-put case the delete_version exists for."""
    src = mk(spark, [
        ("r1", "d", "q", 100, TYPE_PUT, "good"),
        ("r2", "d", "q", 300, TYPE_PUT, "only_src"),
    ])
    tgt = mk(spark, [
        ("r1", "d", "q", 200, TYPE_PUT, "bad"),      # newer divergent version
        ("r3", "d", "q", 100, TYPE_PUT, "only_tgt"),
    ])
    stream = jobs.sync_table(src, tgt).withColumn("batch_seq", F.lit(1))
    repaired = mut.put_cells(
        tgt, mut.mutations_to_cells(stream, now_ms=999)
    )
    want = sorted(
        (bytes(r.row), bytes(r.value)) for r in read_view(src).collect()
    )
    got = sorted(
        (bytes(r.row), bytes(r.value)) for r in read_view(repaired).collect()
    )
    assert got == want


# -------------------------------------------------------------- per-cell TTL


def test_cell_ttl_expires_and_survives(spark):
    now = 1_000_000
    cells = mk(spark, [
        ("r1", "d", "a", 100, TYPE_PUT, "expired"),
        ("r1", "d", "b", 100, TYPE_PUT, "live"),
        ("r1", "d", "c", 100, TYPE_PUT, "untagged"),
    ]).withColumn(
        "ttl_ms",
        F.when(F.col("qualifier") == F.lit(b"a"), F.lit(1_000).cast("long"))
        .when(F.col("qualifier") == F.lit(b"b"), F.lit(10_000_000).cast("long")),
    )
    got = sorted(
        bytes(r.qualifier) for r in read_view(cells, now_ms=now).collect()
    )
    assert got == [b"b", b"c"]


def test_cell_ttl_min_of_cell_and_family(spark):
    now = 1_000_000
    cells = mk(spark, [
        ("r1", "d", "a", now - 5_000, TYPE_PUT, "v"),
    ]).withColumn("ttl_ms", F.lit(60_000).cast("long"))
    # family TTL (1s) is tighter than the cell tag -> expired
    assert read_view(cells, ttl_seconds=1, now_ms=now).count() == 0
    # cell tag (1s worth) tighter than family TTL -> expired as well
    cells2 = cells.withColumn("ttl_ms", F.lit(1_000).cast("long"))
    assert read_view(cells2, ttl_seconds=3600, now_ms=now).count() == 0


def test_cell_ttl_on_clean_fast_path(spark):
    now = 1_000_000
    cells = mk(spark, [
        ("r1", "d", "a", 100, TYPE_PUT, "expired"),
        ("r2", "d", "a", now - 10, TYPE_PUT, "live"),
    ]).withColumn(
        "ttl_ms",
        F.when(F.col("row") == F.lit(b"r1"), F.lit(1_000).cast("long")),
    )
    t = Table(TableMeta(name="t", clean_log=True), cells, now_ms=now)
    assert [bytes(r.row) for r in t.scan().collect()] == [b"r2"]


# ------------------------------------------------------------- BitComparator


def test_bit_comparator_length_equality(spark):
    cells = mk(spark, [
        ("r1", "d", "q", 100, TYPE_PUT, b"\xff\x00\xff"),   # match (3b, nonzero AND)
        ("r2", "d", "q", 100, TYPE_PUT, b"\x00\x00\x00"),   # zero AND result
        ("r3", "d", "q", 100, TYPE_PUT, b"\xff\xff"),       # length mismatch
    ])
    f = fast.ValueFilter(
        op="EQUAL",
        comparator=fast.BitComparator(value=b"\xf0\x0f\xf0", bit_op="AND"),
    )
    t = Table(TableMeta(name="t"), cells, now_ms=1)
    assert [bytes(r.row) for r in t.scan(filter=f).collect()] == [b"r1"]
    f2 = fast.ValueFilter(
        op="NOT_EQUAL",
        comparator=fast.BitComparator(value=b"\xf0\x0f\xf0", bit_op="AND"),
    )
    got = sorted(bytes(r.row) for r in t.scan(filter=f2).collect())
    assert got == [b"r2", b"r3"]


def test_bit_comparator_long_mask_xor(spark):
    mask = bytes(range(16))  # 16-byte mask, beyond the old 8-byte limit
    cells = mk(spark, [
        ("r1", "d", "q", 100, TYPE_PUT, bytes(range(16))),      # XOR == 0
        ("r2", "d", "q", 100, TYPE_PUT, bytes(range(1, 17))),   # XOR != 0
    ])
    f = fast.ValueFilter(
        op="EQUAL", comparator=fast.BitComparator(value=mask, bit_op="XOR")
    )
    t = Table(TableMeta(name="t"), cells, now_ms=1)
    assert [bytes(r.row) for r in t.scan(filter=f).collect()] == [b"r2"]


# --------------------------------------------- ColumnPagination columnOffset


def test_column_pagination_column_offset(spark):
    cells = mk(spark, [
        ("r1", "d", q, 100, TYPE_PUT, q) for q in ("a", "b", "c", "d", "e")
    ])
    f = fast.ColumnPaginationFilter(limit=2, column_offset=b"c")
    t = Table(TableMeta(name="t"), cells, now_ms=1)
    got = sorted(bytes(r.qualifier) for r in t.scan(filter=f).collect())
    assert got == [b"c", b"d"]


def test_column_pagination_offset_spans_families(spark):
    # bookmark before every qualifier of the second family: pagination
    # starts at the first column >= bookmark in (family, qualifier) order
    # and continues across families
    cells = mk(spark, [
        ("r1", "a", "q9", 100, TYPE_PUT, "x"),
        ("r1", "b", "q1", 100, TYPE_PUT, "y"),
        ("r1", "b", "q2", 100, TYPE_PUT, "z"),
    ])
    f = fast.ColumnPaginationFilter(limit=2, column_offset=b"q9")
    meta = TableMeta(name="t", families=(FamilyMeta("a"), FamilyMeta("b")))
    t = Table(meta, cells, now_ms=1)
    got = sorted(
        (r.family, bytes(r.qualifier)) for r in t.scan(filter=f).collect()
    )
    assert got == [("a", b"q9"), ("b", b"q1")]


# ------------------------------------------------------ intra-row paging fix


def test_max_results_per_cf_zero_means_zero(spark):
    cells = mk(spark, [("r1", "d", "q", 100, TYPE_PUT, "v")])
    t = Table(TableMeta(name="t"), cells, now_ms=1)
    assert t.scan(Scan(max_results_per_cf=0)).count() == 0


def test_per_cf_paging_counts_cells_not_columns(spark):
    # two versions of one column: storeLimit=1 returns only the newest CELL
    cells = mk(spark, [
        ("r1", "d", "q", 100, TYPE_PUT, "old"),
        ("r1", "d", "q", 200, TYPE_PUT, "new"),
    ])
    meta = TableMeta(name="t", families=(FamilyMeta(max_versions=3),))
    t = Table(meta, cells, now_ms=1)
    got = t.scan(Scan(max_versions=3, max_results_per_cf=1)).collect()
    assert [(r.ts, bytes(r.value)) for r in got] == [(200, b"new")]


# ----------------------------------------------------------------- WALPlayer


def test_wal_player_idempotent_and_replays_deletes(spark, tmp_path):
    log = mk(spark, [
        ("r1", "d", "q", 100, TYPE_PUT, "v1"),
        ("r2", "d", "q", 100, TYPE_PUT, "v2"),
    ])
    edits = mk(spark, [
        ("r1", "d", "q", 200, TYPE_PUT, "v1b"),
        ("r2", "d", "q", 200, TYPE_DELETE_COLUMN, None),
    ])
    wal_dir = tmp_path / "wal"
    edits.write.parquet(str(wal_dir))
    once = jobs.wal_player(spark, wal_dir, log)
    twice = jobs.wal_player(spark, wal_dir, once)
    assert once.count() == 4 and twice.count() == 4  # replay is a no-op
    vis = {bytes(r.row): bytes(r.value) for r in read_view(twice).collect()}
    assert vis == {b"r1": b"v1b"}


# -------------------------------------------------------- Increment TimeRange


def test_increment_time_range_reads_old_version(spark):
    cells = mk(spark, [
        ("r1", "d", "c", 100, TYPE_PUT, (7).to_bytes(8, "big")),
        ("r1", "d", "c", 200, TYPE_PUT, (70).to_bytes(8, "big")),
    ])
    incs = spark.createDataFrame(
        [(b"r1", "d", b"c", 5)], "row binary, family string, qualifier binary, delta long"
    )
    t = Table(TableMeta(name="t"), cells, now_ms=300)
    _, res = t.increment(incs, time_range=(0, 150))
    assert res.first().new_value == 12  # 7 + 5, not 70 + 5
    _, res2 = t.increment(incs)
    assert res2.first().new_value == 75


def test_append_time_range(spark):
    cells = mk(spark, [
        ("r1", "d", "q", 100, TYPE_PUT, "old"),
        ("r1", "d", "q", 200, TYPE_PUT, "new"),
    ])
    apps = spark.createDataFrame(
        [(b"r1", "d", b"q", b"+x", 0)],
        "row binary, family string, qualifier binary, value binary, batch_seq long",
    )
    _, res = Table(TableMeta(name="t"), cells, now_ms=300).append(
        apps, time_range=(0, 150)
    )
    assert bytes(res.first().new_value) == b"old+x"


# ----------------------------------------------------- checkAnd* zero-length


def test_check_and_put_zero_length_matches_null_expected(spark):
    cells = mk(spark, [("r1", "d", "q", 100, TYPE_PUT, b"")])
    muts = spark.createDataFrame(
        [("put", b"r1", "d", b"q2", None, b"v", "d", b"q", "EQUAL", None, 0)],
        "op string, row binary, family string, qualifier binary, ts long, "
        "value binary, check_family string, check_qualifier binary, "
        "check_op string, check_value binary, batch_seq long",
    )
    _, verdicts = Table(TableMeta(name="t"), cells, now_ms=200).check_and_mutate(
        muts
    )
    assert verdicts.first().applied is True


# ------------------------------------------------------- signed ordered keys


def test_key_segment_signed_orders_negatives(spark):
    vals = [-12345.67, -1.0, -0.01, 0.0, 0.01, 99.99, 12345.67]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    segs = [
        r.s
        for r in df.select(
            codecs.key_segment_signed(F.col("v"), scale=2).alias("s")
        ).collect()
    ]
    by_bytes = [s for _, s in sorted(zip(segs, segs))]
    assert by_bytes == segs  # already numeric-ordered -> lex order matches
    back = [
        r.b
        for r in df.select(
            codecs.decode_key_signed(
                codecs.ordered_key(
                    codecs.key_segment_signed(F.col("v"), scale=2)
                ),
                0,
                scale=2,
            ).alias("b")
        ).collect()
    ]
    assert back == pytest.approx(vals)


def test_encode_ordered_long_roundtrip_and_order(spark):
    vals = [-(1 << 62), -100, -1, 0, 1, 100, (1 << 62)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    enc = df.select(
        F.col("v"),
        codecs.encode_ordered_long(F.col("v")).alias("e"),
        codecs.decode_ordered_long(
            codecs.encode_ordered_long(F.col("v"))
        ).alias("back"),
    ).collect()
    assert [r.back for r in enc] == vals
    blobs = [bytes(r.e) for r in enc]
    assert sorted(blobs) == blobs  # unsigned-lex == numeric order


def test_encode_signed_segment_literal_matches_column(spark):
    df = spark.createDataFrame([(-500.0,)], "v double")
    col_seg = df.select(
        codecs.key_segment_signed(F.col("v"), scale=2).alias("s")
    ).first().s
    assert col_seg.encode() == codecs.encode_signed_segment(-500.0, scale=2)


# ------------------------------------------- reversed order-dependent filters


@pytest.fixture()
def five_rows(spark):
    return mk(spark, [
        (f"r{i}", "d", "q", 100, TYPE_PUT, f"v{i}") for i in range(1, 6)
    ])


def test_page_filter_reversed_takes_top(five_rows):
    t = Table(TableMeta(name="t"), five_rows, now_ms=1)
    got = sorted(
        bytes(r.row)
        for r in t.scan(
            Scan(reversed=True, filter=fast.PageFilter(page_size=2))
        ).collect()
    )
    assert got == [b"r4", b"r5"]


def test_while_match_row_filter_rewrites_to_prunable_range(five_rows):
    """WhileMatch(RowFilter <) collapses to a pure row predicate — the plan
    must have NO join/aggregate (the generic path needs a broadcast
    cross-join against the first failing row)."""
    t = Table(TableMeta(name="t", clean_log=True), five_rows, now_ms=1)
    f = fast.WhileMatchFilter(
        wrapped=fast.RowFilter(
            op="LESS", comparator=fast.BinaryComparator(value=b"r3")
        )
    )
    out = t.scan(filter=f)
    assert sorted(bytes(r.row) for r in out.collect()) == [b"r1", b"r2"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Aggregate" not in plan


def test_while_match_not_equal_keeps_generic_semantics(spark):
    # NOT_EQUAL is non-monotone: if the excluded key never occurs the scan
    # never stops -> must NOT be rewritten to a range
    cells = mk(spark, [
        (r, "d", "q", 100, TYPE_PUT, "v") for r in ("r1", "r2", "r4", "r5")
    ])
    f = fast.WhileMatchFilter(
        wrapped=fast.RowFilter(
            op="NOT_EQUAL", comparator=fast.BinaryComparator(value=b"r3")
        )
    )
    t = Table(TableMeta(name="t"), cells, now_ms=1)
    got = sorted(bytes(r.row) for r in t.scan(filter=f).collect())
    assert got == [b"r1", b"r2", b"r4", b"r5"]  # r3 absent -> nothing cut


# ------------------------------------------------------------- security tags


def test_visibility_labels(spark):
    cells = mk(spark, [
        ("r1", "d", "q", 100, TYPE_PUT, "open"),
        ("r2", "d", "q", 100, TYPE_PUT, "pii_only"),
        ("r3", "d", "q", 100, TYPE_PUT, "conj"),
        ("r4", "d", "q", 100, TYPE_PUT, "alt"),
    ]).withColumn(
        "vis",
        F.when(F.col("row") == F.lit(b"r2"), F.lit("pii"))
        .when(F.col("row") == F.lit(b"r3"), F.lit("pii&finance"))
        .when(F.col("row") == F.lit(b"r4"), F.lit("public|pii")),
    )
    t = Table(TableMeta(name="t"), cells, now_ms=1)
    # no authorizations: only unlabeled cells
    assert [bytes(r.row) for r in t.scan().collect()] == [b"r1"]
    got = sorted(
        bytes(r.row)
        for r in t.scan(Scan(authorizations=("public", "finance"))).collect()
    )
    assert got == [b"r1", b"r4"]
    got2 = sorted(
        bytes(r.row)
        for r in t.scan(Scan(authorizations=("pii", "finance"))).collect()
    )
    assert got2 == [b"r1", b"r2", b"r3", b"r4"]


def test_cell_acl(spark):
    cells = mk(spark, [
        ("r1", "d", "q", 100, TYPE_PUT, "open"),
        ("r2", "d", "q", 100, TYPE_PUT, "alice_only"),
    ]).withColumn(
        "acl",
        F.when(F.col("row") == F.lit(b"r2"), F.array(F.lit("alice"))),
    )
    t = Table(TableMeta(name="t"), cells, now_ms=1)
    assert sorted(
        bytes(r.row) for r in t.scan(Scan(user="alice")).collect()
    ) == [b"r1", b"r2"]
    assert [bytes(r.row) for r in t.scan(Scan(user="bob")).collect()] == [b"r1"]
    # no user context -> table-level access, tags not enforced
    assert t.scan().count() == 2


def test_visibility_masks_before_version_counting(spark):
    # newest version labeled, older unlabeled: a scan without auths sees the
    # OLDER version (the labeled one is skipped before version counting)
    cells = mk(spark, [
        ("r1", "d", "q", 100, TYPE_PUT, "old"),
        ("r1", "d", "q", 200, TYPE_PUT, "secret"),
    ]).withColumn(
        "vis", F.when(F.col("ts") == 200, F.lit("pii"))
    )
    t = Table(TableMeta(name="t"), cells, now_ms=1)
    assert [bytes(r.value) for r in t.scan().collect()] == [b"old"]


# --------------------------------------------------------- VerifyReplication


def test_verify_replication_counters(spark):
    src = mk(spark, [
        ("r1", "d", "q", 100, TYPE_PUT, "same"),
        ("r2", "d", "q", 100, TYPE_PUT, "src_only"),
        ("r3", "d", "q", 100, TYPE_PUT, "diff_src"),
        ("r5", "d", "a", 100, TYPE_PUT, "x"),
        ("r5", "d", "b", 100, TYPE_PUT, "y"),
    ])
    tgt = mk(spark, [
        ("r1", "d", "q", 100, TYPE_PUT, "same"),
        ("r3", "d", "q", 100, TYPE_PUT, "diff_tgt"),
        ("r4", "d", "q", 100, TYPE_PUT, "tgt_only"),
        ("r5", "d", "a", 100, TYPE_PUT, "x"),  # missing column b
    ])
    row = jobs.verify_replication(src, tgt).first()
    assert (
        row.goodrows,
        row.only_in_source,
        row.only_in_target,
        row.content_different,
    ) == (1, 1, 1, 2)


def test_while_match_reversed_truncates_from_top(five_rows):
    # reversed scan: prefix continues while rows from the TOP pass; first
    # failing row (r3) cuts everything at-or-below it
    f = fast.WhileMatchFilter(
        wrapped=fast.RowFilter(
            op="NOT_EQUAL", comparator=fast.BinaryComparator(value=b"r3")
        )
    )
    t = Table(TableMeta(name="t"), five_rows, now_ms=1)
    got = sorted(
        bytes(r.row) for r in t.scan(Scan(reversed=True, filter=f)).collect()
    )
    assert got == [b"r4", b"r5"]


# ---------------------------------------------------- near-dup clustering


def test_connected_components_chains_and_singleton_pairs(spark):
    from hbase_1_3_0_spark.pipeline import dedup as dd

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (10, 11), (11, 12), (12, 13)],
        "id_a long, id_b long",
    )
    want = {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 10: 10, 11: 10, 12: 10, 13: 10}
    got = {
        r.id: r.component for r in dd.connected_components(pairs).collect()
    }
    assert got == want
    # fixed-rounds mode (no per-round changed-count job) converges to the
    # same labels when max_iterations covers the diameter
    got_fixed = {
        r.id: r.component
        for r in dd.connected_components(
            pairs, max_iterations=4, check_convergence=False
        ).collect()
    }
    assert got_fixed == want


def test_dedup_by_components_keeps_canonical(spark):
    from hbase_1_3_0_spark.pipeline import dedup as dd

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long"
    )
    kept = sorted(
        r.doc_id for r in dd.dedup_by_components(docs, pairs).collect()
    )
    # clusters {0,1,2} -> keep 0; {4,5} -> keep 4; unpaired 3 kept
    assert kept == [0, 3, 4]


def test_repetition_stats(spark):
    from hbase_1_3_0_spark.pipeline import text

    docs = spark.createDataFrame(
        [
            (1, "a b c\na b c\nunique line"),
            (2, "spam spam spam spam ham"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in text.repetition_stats(docs).collect()}
    assert got[1].n_lines == 3 and got[1].dup_line_frac == pytest.approx(1 / 3)
    assert got[2].top_word_frac == pytest.approx(0.8)
    assert got[3].n_words == 0 and got[3].dup_line_frac == 0.0


def test_visibility_full_grammar(spark):
    """ExpressionParser grammar: parens, NOT, quoted labels, and the
    reference's EQUAL &/| precedence with LEFT associativity
    (processANDorOROp folds as operators arrive: a|b&c == (a|b)&c)."""
    from hbase_1_3_0_spark.operators.security import (
        VisibilityParseError,
        evaluate_vis_expression,
        parse_vis_expression,
    )

    assert parse_vis_expression("a|b&c") == (
        "&", ("|", ("label", "a"), ("label", "b")), ("label", "c")
    )
    assert evaluate_vis_expression("a|b&c", ["a"]) is False
    assert evaluate_vis_expression("a|(b&c)", ["a"]) is True
    assert evaluate_vis_expression("(a&b)|!c", ["x"]) is True
    assert evaluate_vis_expression("!(a|b)", ["a"]) is False
    assert evaluate_vis_expression('"has space"&x', ["has space", "x"]) is True
    for bad in ["a&", "&a", "a||b", "(a", "a)", "", "a!b", "(  )", '"x']:
        with pytest.raises(VisibilityParseError):
            parse_vis_expression(bad)


def test_visibility_scan_parens_not_and_precedence(spark):
    """End-to-end scan: declared-policy full grammar + flat NOT + the
    discriminating mixed-precedence case."""
    cells = mk(spark, [
        ("r1", "d", "q", 100, TYPE_PUT, "parens_pass"),
        ("r2", "d", "q", 100, TYPE_PUT, "parens_fail"),
        ("r3", "d", "q", 100, TYPE_PUT, "not_flat"),
        ("r4", "d", "q", 100, TYPE_PUT, "mixed_prec"),
        ("r5", "d", "q", 100, TYPE_PUT, "undeclared_parens"),
    ]).withColumn(
        "vis",
        F.when(F.col("row") == F.lit(b"r1"), F.lit("(a&b)|!c"))
        .when(F.col("row") == F.lit(b"r2"), F.lit("(a&missing)|c"))
        .when(F.col("row") == F.lit(b"r3"), F.lit("!c"))
        .when(F.col("row") == F.lit(b"r4"), F.lit("a|x&missing"))
        .when(F.col("row") == F.lit(b"r5"), F.lit("(zz)")),
    )
    t = Table(
        TableMeta(
            name="t",
            visibility_policies=("(a&b)|!c", "(a&missing)|c"),
        ),
        cells,
        now_ms=1,
    )
    got = sorted(
        bytes(r.row) for r in t.scan(Scan(authorizations=("a", "b"))).collect()
    )
    # r1: (a&b)|!c -> T. r2: (a&missing)|c -> F. r3: !c -> T.
    # r4: (a|x)&missing -> F (OR-over-AND would wrongly say T).
    # r5: parens but NOT a declared policy -> fail closed.
    assert got == [b"r1", b"r3"]


@pytest.mark.parametrize(
    "kdc,ttl_s,expect",
    [
        # FALSE: tombstone + masked cell GC'd outright
        ("FALSE", None, {(999_000, TYPE_PUT)}),
        # TRUE, no TTL: everything retained forever
        (
            "TRUE",
            None,
            {(100, TYPE_PUT), (150, TYPE_DELETE_COLUMN), (999_000, TYPE_PUT)},
        ),
        # TTL, no TTL configured: marker never expires -> same as TRUE
        (
            "TTL",
            None,
            {(100, TYPE_PUT), (150, TYPE_DELETE_COLUMN), (999_000, TYPE_PUT)},
        ),
        # TRUE + TTL: the deleted CELL expires by TTL ("removed by
        # other means such TTL", KeepDeletedCells.java TRUE javadoc)
        # but the MARKER is retained forever
        ("TRUE", 10, {(150, TYPE_DELETE_COLUMN), (999_000, TYPE_PUT)}),
        # TTL + TTL: the marker itself expires once ts < now - ttl
        # (ScanQueryMatcher.java:349-350 `TTL && timestamp < ttl` makes
        # it behave like FALSE) -> only the live put remains
        ("TTL", 10, {(999_000, TYPE_PUT)}),
    ],
)
def test_kdc_three_mode_decision_table(spark, kdc, ttl_s, expect):
    """KeepDeletedCells FALSE/TRUE/TTL compaction decision table
    (KeepDeletedCells.java enum semantics; ScanQueryMatcher.java:347-395
    marker handling): TRUE and TTL must DIFFER exactly on whether an
    expired delete marker survives."""
    now = 1_000_000
    cells = mk(spark, [
        ("r1", "d", "q", 100, TYPE_PUT, "old"),            # masked put
        ("r1", "d", "q", 150, TYPE_DELETE_COLUMN, None),   # marker
        ("r1", "d", "q", 999_000, TYPE_PUT, "live"),
    ])
    out = jobs.compact(
        cells,
        keep_deleted_cells=kdc,
        ttl_seconds=ttl_s,
        now_ms=now,
        max_versions=2,
    )
    got = {(r.ts, r.type) for r in out.collect()}
    assert got == expect


def test_kdc_ttl_with_min_versions_keeps_floor_versions(spark):
    """The enum's stated use case: TTL + MIN_VERSIONS keeps a minimum
    number of versions past the TTL while still purging expired
    markers."""
    now = 1_000_000
    cells = mk(spark, [
        ("r1", "d", "q", 100, TYPE_PUT, "v-ancient"),
        ("r1", "d", "q", 200, TYPE_PUT, "v-old"),
        ("r1", "d", "q", 150, TYPE_DELETE_COLUMN, None, 0),
    ])
    out = jobs.compact(
        cells,
        keep_deleted_cells="TTL",
        ttl_seconds=10,
        min_versions=1,
        now_ms=now,
        max_versions=2,
    )
    got = {(r.ts, r.type) for r in out.collect()}
    # marker expired -> gone; min_versions=1 retains the newest expired
    # put; the older one is TTL-GC'd
    assert got == {(200, TYPE_PUT)}
