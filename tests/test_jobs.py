"""Batch jobs: RowCounter, CellCounter, Export/Import, ImportTsv, CopyTable,
HashTable/SyncTable, bulk-load writer layout."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hbase_1_3_0_spark.cells import CELL_SCHEMA, TYPE_PUT
from hbase_1_3_0_spark.functions import codecs
from hbase_1_3_0_spark.operators import jobs
from hbase_1_3_0_spark.sources import fixtures, writer
from tests.conftest import load


@pytest.fixture(scope="module")
def orders_cells(spark, sf_dir):
    return fixtures.kv_cells(spark, sf_dir, "orders"), load(spark, sf_dir, "orders")


def test_row_counter(orders_cells):
    cells, df = orders_cells
    assert jobs.row_counter(cells).first().rows == df.count()
    # range-restricted
    lo = str(10).zfill(codecs.KEY_SEGMENT_WIDTH).encode()
    hi = str(20).zfill(codecs.KEY_SEGMENT_WIDTH).encode()
    got = jobs.row_counter(cells, start_row=lo, stop_row=hi).first().rows
    assert got == df.where("o_orderkey >= 10 and o_orderkey < 20").count()


def test_cell_counter(orders_cells):
    cells, df = orders_cells
    out = {r.qualifier: (r.cells, r.rows) for r in jobs.cell_counter(cells).collect()}
    n = df.count()
    assert set(out) == set(df.columns)
    assert all(v == (n, n) for v in out.values())


def test_export_import_roundtrip(orders_cells, tmp_path, spark):
    cells, _ = orders_cells
    jobs.export_table(cells, tmp_path / "exp")
    back = jobs.import_table(spark, tmp_path / "exp")
    assert back.exceptAll(cells).count() == 0 and cells.exceptAll(back).count() == 0


def test_import_tsv(tmp_path, spark):
    p = tmp_path / "in.tsv"
    p.write_text("1\talice\t10\n2\tbob\t20\n")
    cells = jobs.import_tsv(
        spark, p, ["HBASE_ROW_KEY", "name", "score"], family="d"
    )
    got = {
        (bytes(r.row), bytes(r.qualifier)): bytes(r.value)
        for r in cells.collect()
    }
    assert got[(b"1", b"name")] == b"alice"
    assert got[(b"2", b"score")] == b"20"


def test_copy_table_with_family_rename(orders_cells, spark):
    cells, df = orders_cells
    lo = str(100).zfill(codecs.KEY_SEGMENT_WIDTH).encode()
    out = jobs.copy_table(cells, start_row=lo, rename_family={"d": "x"})
    fams = {r.family for r in out.select("family").distinct().collect()}
    assert fams == {"x"}
    assert out.select("row").distinct().count() == df.where("o_orderkey >= 100").count()


def test_hash_table_and_sync_table(spark, orders_cells):
    cells, _ = orders_cells
    # mutate a copy: change one value, delete one column, add one cell
    victim = str(5).zfill(codecs.KEY_SEGMENT_WIDTH).encode()
    changed = cells.withColumn(
        "value",
        F.when(
            (F.col("row") == F.lit(victim)) & (F.col("qualifier") == F.lit(b"o_orderstatus")),
            F.lit(b"XX"),
        ).otherwise(F.col("value")),
    ).where(
        ~((F.col("row") == F.lit(victim)) & (F.col("qualifier") == F.lit(b"o_orderpriority")))
    )
    extra = spark.createDataFrame(
        [(b"zzz-extra", "d", b"q", 1_000_000, TYPE_PUT, b"v", 0)], CELL_SCHEMA
    )
    target = changed.unionByName(extra)

    # HashTable digests differ in some buckets
    h_src = jobs.hash_table(cells, num_buckets=64)
    h_tgt = jobs.hash_table(target, num_buckets=64)
    diff = (
        h_src.alias("a")
        .join(h_tgt.alias("b"), "bucket", "full_outer")
        .where(
            F.col("a.digest").isNull()
            | F.col("b.digest").isNull()
            | (F.col("a.digest") != F.col("b.digest"))
        )
    )
    assert diff.count() > 0

    # SyncTable emits exactly the fixing mutations
    muts = jobs.sync_table(cells, target)
    got = {(bytes(r.row), bytes(r.qualifier), r.op) for r in muts.collect()}
    assert (victim, b"o_orderstatus", "put") in got
    assert (victim, b"o_orderpriority", "put") in got
    assert (b"zzz-extra", b"q", "delete_column") in got
    assert len(got) == 3


def test_grouping_table_map(orders_cells):
    cells, df = orders_cells
    out = jobs.grouping_table_map(cells, [b"o_orderstatus", b"o_orderpriority"])
    n = out.select("group_key").distinct().count()
    exp = df.select("o_orderstatus", "o_orderpriority").distinct().count()
    assert n == exp


def test_bulk_load_layout_prunes(tmp_path, spark, orders_cells):
    cells, df = orders_cells
    writer.write_cells(cells, tmp_path / "tbl", num_partitions=8)
    back = writer.read_cells(spark, tmp_path / "tbl")
    assert back.count() == cells.count()
    lo = str(42).zfill(codecs.KEY_SEGMENT_WIDTH).encode()
    hi = str(43).zfill(codecs.KEY_SEGMENT_WIDTH).encode()
    plan = back.where(
        (F.col("row") >= F.lit(lo)) & (F.col("row") < F.lit(hi))
    )._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(row), GreaterThanOrEqual(row" in plan


def test_engine_compact_table_roundtrip(spark, tmp_path):
    """Compaction drops masked/over-version cells, persists, and earns the
    clean-log fast path; the visible view is unchanged."""
    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.catalog import TableMeta
    from hbase_1_3_0_spark.cells import (
        CELL_SCHEMA,
        TYPE_DELETE_COLUMN,
        TYPE_PUT,
    )
    from hbase_1_3_0_spark.engine import Engine

    rows = [
        (b"r1", "d", b"a", 100, TYPE_PUT, b"old", 0),
        (b"r1", "d", b"a", 200, TYPE_PUT, b"new", 0),
        (b"r2", "d", b"a", 100, TYPE_PUT, b"dead", 0),
        (b"r2", "d", b"a", 150, TYPE_DELETE_COLUMN, None, 0),
        (b"r3", "d", b"b", 100, TYPE_PUT, b"live", 0),
    ]
    eng = Engine(spark, root=tmp_path, now_ms=1000)
    t = eng.create_table(
        TableMeta(name="ct"), spark.createDataFrame(rows, CELL_SCHEMA)
    )
    before = {(bytes(r["row"]), r["value"]) for r in t.scan().collect()}

    compacted = eng.compact_table(t)
    assert compacted.meta.clean_log is True
    # raw log now holds ONLY the visible cells (tombstone + masked dropped)
    raw = compacted.scan(raw=True).collect()
    assert len(raw) == 2
    after = {(bytes(r["row"]), r["value"]) for r in compacted.scan().collect()}
    assert after == before == {(b"r1", b"new"), (b"r3", b"live")}
    # reload from disk through the catalog: flag and data survive
    reloaded = eng.table("ct")
    assert reloaded.meta.clean_log is True
    assert {(bytes(r["row"]), r["value"]) for r in reloaded.scan().collect()} == before
    # scan plan on the reloaded table is shuffle-free
    from hbase_1_3_0_spark.plans import inspect

    assert inspect.shuffle_exchange_count(reloaded.scan()) == 0


# ----------------------------------------------------------- multi-table IO


def test_multi_table_scan_tags_and_ranges(spark, sf_dir):
    from hbase_1_3_0_spark.catalog import TableMeta
    from hbase_1_3_0_spark.sources import fixtures
    from hbase_1_3_0_spark.table import Scan, Table

    def k(n):
        return f"{n:019d}".encode()

    c = Table(
        TableMeta(name="customer", clean_log=True),
        fixtures.kv_cells(spark, sf_dir, "customer"),
        now_ms=1,
    )
    n = Table(
        TableMeta(name="nation", clean_log=True),
        fixtures.kv_cells(spark, sf_dir, "nation"),
        now_ms=1,
    )
    out = jobs.multi_table_scan(
        [(c, Scan(start_row=k(1), stop_row=k(3))), (n, None)]
    )
    per_table = {
        r["table"]: r["cnt"]
        for r in out.groupBy("table").agg(F.count("*").alias("cnt")).collect()
    }
    assert set(per_table) == {"customer", "nation"}
    assert per_table["nation"] == 25 * 3  # 25 nations x 3 columns
    assert per_table["customer"] > 0


def test_multi_table_write_routes_by_table(spark):
    from hbase_1_3_0_spark.cells import CELL_SCHEMA, TYPE_PUT

    def cell(row, q, v):
        return (row, "d", q, 100, TYPE_PUT, v, 0)

    t1 = spark.createDataFrame([cell(b"a", b"q", b"1")], CELL_SCHEMA)
    t2 = spark.createDataFrame([cell(b"b", b"q", b"2")], CELL_SCHEMA)
    muts = spark.createDataFrame(
        [("one", b"a2", "d", b"q", 200, TYPE_PUT, b"x", 1),
         ("two", b"b2", "d", b"q", 200, TYPE_PUT, b"y", 1)],
        "table string, row binary, family string, qualifier binary, "
        "ts long, type int, value binary, seq long",
    )
    out = jobs.multi_table_write(muts, {"one": t1, "two": t2})
    assert out["one"].count() == 2 and out["two"].count() == 2
    rows1 = {bytes(r.row) for r in out["one"].collect()}
    assert rows1 == {b"a", b"a2"}


def test_presplit_boundaries_and_write(spark, sf_dir, tmp_path):
    """RegionSplitter analogs: HexStringSplit/UniformSplit boundary math
    and boundary-pinned bulk-load partitioning."""
    from hbase_1_3_0_spark.sources import fixtures, writer

    hx = writer.hex_string_split(4)
    assert hx == [b"40000000", b"80000000", b"c0000000"]
    un = writer.uniform_split(2, key_len=8)
    assert un == [b"\x80\x00\x00\x00\x00\x00\x00\x00"]
    assert writer.hex_string_split(1) == []

    cells = fixtures.kv_cells(spark, sf_dir, "nation")
    # boundaries on the 19-digit zero-padded numeric keys
    splits = [b"0000000000000000008", b"0000000000000000016"]
    out = tmp_path / "presplit"
    writer.write_cells(cells, out, split_points=splits)
    back = writer.read_cells(spark, out)
    assert back.count() == cells.count()
    # no output file straddles a declared boundary
    import pyspark.sql.functions as F

    per_file = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("row").alias("lo"), F.max("row").alias("hi"))
        .collect()
    )
    for r in per_file:
        for b in splits:
            assert not (bytes(r.lo) < b <= bytes(r.hi)), (r.f, b)


def test_jsonl_corrupt_record_quarantine(spark, tmp_path):
    """Malformed JSONL lines are captured, counted, and excluded — never
    silently dropped and never fatal."""
    from hbase_1_3_0_spark.sources import jsonl

    p = tmp_path / "corpus.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good one"}\n'
        "this is not json at all\n"
        '{"doc_id": 2, "text": "also good"}\n'
        '{"doc_id": 3, "text": "truncated...\n'
    )
    schema = "doc_id bigint, text string"
    clean = jsonl.read_jsonl(spark, str(p), schema)
    assert {r.doc_id for r in clean.collect()} == {1, 2}
    stats = jsonl.corrupt_stats(spark, str(p), schema).collect()[0]
    assert stats.n_lines == 4 and stats.n_corrupt == 2
    assert stats.corrupt_frac == 0.5
    quarantined = jsonl.read_jsonl(spark, str(p), schema, keep_corrupt=True)
    bad = [r for r in quarantined.collect() if r._corrupt_record is not None]
    assert len(bad) == 2


def test_jsonl_write_read_roundtrip(spark, tmp_path):
    from hbase_1_3_0_spark.sources import jsonl

    df = spark.createDataFrame(
        [(1, "line with\nnewline", "en"), (2, 'quote " and \\ slash', "de")],
        "doc_id: long, text: string, lang: string",
    )
    path = str(tmp_path / "out")
    jsonl.write_jsonl(df, path, compression="gzip")
    back = jsonl.read_jsonl(
        spark, path, "doc_id bigint, text string, lang string"
    )
    got = {(r.doc_id, r.text, r.lang) for r in back.collect()}
    assert got == {(1, "line with\nnewline", "en"), (2, 'quote " and \\ slash', "de")}


def test_csv_roundtrip_with_quoting(spark, tmp_path):
    """CSV twin of the JSONL source: multiline quoted fields, embedded
    commas/quotes, declared schema, malformed-row drop."""
    from hbase_1_3_0_spark.sources import jsonl as corpus_io

    df = spark.createDataFrame(
        [
            (1, "plain text", "en"),
            (2, 'has, comma and "quote"', "de"),
            (3, "multi\nline value", "fr"),
        ],
        "doc_id: long, text: string, lang: string",
    )
    path = str(tmp_path / "csv")
    corpus_io.write_csv(df, path)
    back = corpus_io.read_csv(
        spark, path, "doc_id bigint, text string, lang string"
    )
    got = {(r.doc_id, r.text, r.lang) for r in back.collect()}
    assert got == {
        (1, "plain text", "en"),
        (2, 'has, comma and "quote"', "de"),
        (3, "multi\nline value", "fr"),
    }
    # malformed row (wrong arity) quarantines under keep_corrupt
    bad = tmp_path / "bad.csv"
    bad.write_text("doc_id,text,lang\n1,ok,en\nnot-a-number,x\n")
    q = corpus_io.read_csv(
        spark, str(bad), "doc_id bigint, text string, lang string",
        keep_corrupt=True,
    )
    rows = q.collect()
    assert sum(1 for r in rows if r._corrupt_record is not None) == 1


def test_arrow_roundtrip_with_array_column(spark, tmp_path):
    """Arrow IPC twin of the JSONL source: columnar types (including
    array<double>) round-trip EXACTLY — the fidelity JSONL can't give —
    with one IPC file per partition and a bounded manifest."""
    from hbase_1_3_0_spark.sources import arrow_ipc

    df = spark.createDataFrame(
        [
            (1, "line with\nnewline", [0.5, -1.25]),
            (2, 'quote " and \\ slash', [2.0]),
            (3, "третий", []),
        ],
        "doc_id: long, text: string, vec: array<double>",
    ).repartition(2)
    path = str(tmp_path / "arrow")
    manifest = arrow_ipc.write_arrow(df, path)
    assert sum(n for _, n in manifest) == 3
    assert all(f.endswith(".arrow") for f, _ in manifest)
    back = arrow_ipc.read_arrow(
        spark, path, "doc_id bigint, text string, vec array<double>"
    )
    got = {(r.doc_id, r.text, tuple(r.vec)) for r in back.collect()}
    assert got == {
        (1, "line with\nnewline", (0.5, -1.25)),
        (2, 'quote " and \\ slash', (2.0,)),
        (3, "третий", ()),
    }


def test_arrow_health_gate_and_skip(spark, tmp_path):
    """Per-file quarantine: a corrupt file and a schema-mismatched file
    report ok=false in arrow_health; read_arrow fails on them by default
    and skips them under on_mismatch='skip'."""
    import pytest

    from hbase_1_3_0_spark.sources import arrow_ipc

    good = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id: long, text: string"
    ).coalesce(1)
    path = tmp_path / "mixed"
    arrow_ipc.write_arrow(good, str(path))
    # a file with a DIFFERENT schema
    other = spark.createDataFrame([(9,)], "other_col: long").coalesce(1)
    arrow_ipc.write_arrow(other, str(tmp_path / "other"))
    import shutil

    mismatch = next((tmp_path / "other").glob("*.arrow"))
    shutil.copy(mismatch, path / "zz-mismatch.arrow")
    # a truncated/corrupt file
    (path / "zz-corrupt.arrow").write_bytes(b"ARROW1\x00\x00garbage")

    health = {
        r.file.rsplit("/", 1)[-1]: r
        for r in arrow_ipc.arrow_health(
            spark, str(path), "doc_id bigint, text string"
        ).collect()
    }
    assert len(health) == 3
    oks = [r for r in health.values() if r.ok]
    assert len(oks) == 1 and oks[0].n_rows == 2
    assert health["zz-mismatch.arrow"].error == "schema mismatch"
    assert health["zz-corrupt.arrow"].error is not None

    with pytest.raises(Exception):
        arrow_ipc.read_arrow(
            spark, str(path), "doc_id bigint, text string"
        ).collect()
    # the corrupt file still fails even under skip (quarantine it first);
    # schema-mismatch alone skips cleanly
    (path / "zz-corrupt.arrow").unlink()
    got = {
        (r.doc_id, r.text)
        for r in arrow_ipc.read_arrow(
            spark, str(path), "doc_id bigint, text string",
            on_mismatch="skip",
        ).collect()
    }
    assert got == {(1, "a"), (2, "b")}

    # 'wrong path' must never read as 'empty corpus'
    with pytest.raises(FileNotFoundError):
        arrow_ipc.read_arrow(
            spark, str(tmp_path / "nope"), "doc_id bigint, text string"
        )
    with pytest.raises(ValueError, match="local/shared-filesystem"):
        arrow_ipc.read_arrow(
            spark, "s3://bucket/corpus", "doc_id bigint, text string"
        )


def test_arrow_streaming_ingest(spark, tmp_path):
    """read_arrow_stream: .arrow files arriving in a directory stream
    through binaryFile + mapInPandas decode; two trigger cycles see
    exactly the union of both files' rows (file-level exactly-once via
    the checkpoint)."""
    from hbase_1_3_0_spark.sources import arrow_ipc

    src = tmp_path / "landing"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id: long, text: string"
    ).coalesce(1)
    arrow_ipc.write_arrow(b1, str(tmp_path / "b1"))
    import shutil

    shutil.copy(next((tmp_path / "b1").glob("*.arrow")), src / "b1.arrow")

    out = str(tmp_path / "out")

    def drain():
        stream = arrow_ipc.read_arrow_stream(
            spark, str(src), "doc_id bigint, text string"
        )
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    got1 = {(r.doc_id, r.text) for r in spark.read.parquet(out).collect()}
    assert got1 == {(1, "alpha"), (2, "beta")}

    b2 = spark.createDataFrame([(3, "gamma")], "doc_id: long, text: string")
    arrow_ipc.write_arrow(b2.coalesce(1), str(tmp_path / "b2"))
    shutil.copy(next((tmp_path / "b2").glob("*.arrow")), src / "b2.arrow")
    drain()
    got2 = {(r.doc_id, r.text) for r in spark.read.parquet(out).collect()}
    # same checkpoint: only the NEW file lands in the second drain —
    # no reprocessing of b1.arrow (file-level exactly-once)
    assert got2 == {(1, "alpha"), (2, "beta"), (3, "gamma")}


def test_bucketed_cells_diff_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """write_cells_bucketed co-locates the (row, family, qualifier)
    identity: the SyncTable-style full-outer diff of two bucketed logs
    plans with ZERO exchanges and produces the same diff as the plain
    layout."""
    from hbase_1_3_0_spark.sources import fixtures as fx
    from hbase_1_3_0_spark.sources import writer as w
    from hbase_1_3_0_spark.sources.kv_encoder import table_to_cells

    nation = fx.load_table(spark, sf_dir, "nation")
    src = table_to_cells(nation, ["n_nationkey"])
    tgt = table_to_cells(nation.where(F.col("n_nationkey") % 5 != 0), ["n_nationkey"])
    w.write_cells_bucketed(src, "bk_src", num_buckets=4)
    w.write_cells_bucketed(tgt, "bk_tgt", num_buckets=4)
    a, b = spark.table("bk_src"), spark.table("bk_tgt")
    j = a.join(b, ["row", "family", "qualifier"], "full_outer").where(
        b["ts"].isNull() | a["ts"].isNull()
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    plain = src.join(tgt, ["row", "family", "qualifier"], "full_outer").where(
        tgt["ts"].isNull() | src["ts"].isNull()
    )
    key = lambda r: (bytes(r.row), r.family, bytes(r.qualifier))  # noqa: E731
    assert sorted(map(key, j.collect())) == sorted(map(key, plain.collect()))

    # the full sync_table job (read-view aggs + diff join) also plans
    # with ZERO exchanges on the (row, family, qualifier) identity —
    # the only exchanges left are the (empty) tombstone-marker aggs
    # keyed (row, family), which is what b-sync-bucketed measures
    import re

    from hbase_1_3_0_spark.operators import jobs

    sync_plan = (
        jobs.sync_table(a, b)._jdf.queryExecution().executedPlan().toString()
    )
    ident_exchanges = re.findall(
        r"Exchange hashpartitioning\(row#\d+, family#\d+, qualifier#\d+",
        sync_plan,
    )
    assert not ident_exchanges, ident_exchanges
    spark.sql("DROP TABLE IF EXISTS bk_src")
    spark.sql("DROP TABLE IF EXISTS bk_tgt")


def test_arrow_write_commit_protocol(spark, tmp_path):
    """ADVICE r5: write_arrow must be retry/speculation-safe — attempts
    write uniquely-named staging files and the driver finalizes ONLY
    manifest-listed ones to deterministic part-<partition> names, so a
    failed attempt's file can never be read back as duplicate rows."""
    from hbase_1_3_0_spark.sources import arrow_ipc

    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(8)], "doc_id: long, text: string"
    ).repartition(4)
    path = tmp_path / "arrow_commit"
    manifest = arrow_ipc.write_arrow(df, str(path))
    names = sorted(p.name for p in path.glob("*.arrow"))
    # deterministic per-partition names, one per non-empty partition
    assert names == sorted(f.rsplit("/", 1)[1] for f, _ in manifest)
    assert all(
        n.startswith("part-") and n.endswith(".arrow") and len(n) == 16
        for n in names
    )
    # no staging residue survives the commit
    assert not list(path.glob("_staging-*"))
    back = arrow_ipc.read_arrow(spark, str(path), "doc_id bigint, text string")
    assert back.count() == 8

    # an orphaned stale staging dir (a crashed prior writer) must be
    # invisible to the reader
    stale = path / "_staging-deadbeef"
    stale.mkdir()
    (stale / "part-00000-junk.arrow").write_bytes(b"not arrow")
    assert arrow_ipc.read_arrow(
        spark, str(path), "doc_id bigint, text string"
    ).count() == 8


def test_arrow_write_append_mode(spark, tmp_path):
    """mode='append' continues part numbering after the existing run —
    a second write must never rename over a prior write's files; an
    unknown mode is refused."""
    import pytest

    from hbase_1_3_0_spark.sources import arrow_ipc

    path = str(tmp_path / "arrow_append")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id: long, text: string").coalesce(1)
    df2 = spark.createDataFrame([(3, "c")], "doc_id: long, text: string").coalesce(1)
    arrow_ipc.write_arrow(df1, path)
    arrow_ipc.write_arrow(df2, path, mode="append")
    back = arrow_ipc.read_arrow(spark, path, "doc_id bigint, text string")
    assert sorted(r.doc_id for r in back.collect()) == [1, 2, 3]
    names = sorted(p.name for p in (tmp_path / "arrow_append").glob("*.arrow"))
    assert names == ["part-00000.arrow", "part-00001.arrow"]
    with pytest.raises(ValueError, match="mode"):
        arrow_ipc.write_arrow(df1, path, mode="add")


@pytest.mark.parametrize(
    "fmt,codec",
    [
        ("jsonl", None), ("jsonl", "gzip"), ("jsonl", "bzip2"),
        ("csv", None), ("csv", "gzip"),
        ("arrow", None), ("arrow", "zstd"), ("arrow", "lz4"),
    ],
)
def test_write_side_compression_matrix(spark, tmp_path, fmt, codec):
    """Every corpus sink round-trips identically under every supported
    write-side codec — the property a 100 TB pipeline depends on when it
    flips compression on (text sources decompress by file extension;
    Arrow IPC carries buffer compression in-band). Compressed text
    output must actually carry the codec's extension (that extension IS
    the decompression contract on read)."""
    from hbase_1_3_0_spark.sources import arrow_ipc, jsonl as corpus_io

    if fmt == "arrow":
        import pyarrow as pa

        if codec and not pa.Codec.is_available(codec):
            pytest.skip(f"pyarrow build lacks {codec}")
    # awkward values on purpose: newline in text, quotes, non-ascii
    rows = [
        (i, f'doc {i} with "quotes", commas\nand a newline é', "en")
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "doc_id: long, text: string, lang: string"
    ).coalesce(2)
    path = str(tmp_path / "out")
    schema = "doc_id bigint, text string, lang string"
    if fmt == "jsonl":
        corpus_io.write_jsonl(df, path, compression=codec)
        back = corpus_io.read_jsonl(spark, path, schema)
        ext = {"gzip": ".gz", "bzip2": ".bz2"}.get(codec)
        parts = [p for p in (tmp_path / "out").iterdir()
                 if p.name.startswith("part-")]
    elif fmt == "csv":
        corpus_io.write_csv(df, path, compression=codec)
        back = corpus_io.read_csv(spark, path, schema)
        ext = {"gzip": ".gz"}.get(codec)
        parts = [p for p in (tmp_path / "out").iterdir()
                 if p.name.startswith("part-")]
    else:
        arrow_ipc.write_arrow(df, path, compression=codec)
        back = arrow_ipc.read_arrow(spark, path, schema)
        ext = None  # IPC buffer compression is in-band, not an extension
        parts = list((tmp_path / "out").glob("part-*.arrow"))
    assert parts, "sink wrote no part files"
    if ext is not None:
        assert all(p.name.endswith(ext) for p in parts), parts
    got = sorted(
        (r.doc_id, r.text, r.lang) for r in back.collect()
    )
    assert got == sorted(rows)
    if codec is not None and fmt != "arrow":
        # compressed text of this shape must beat raw (repetitive docs)
        raw_dir = tmp_path / "raw"
        if fmt == "jsonl":
            corpus_io.write_jsonl(df, str(raw_dir))
        else:
            corpus_io.write_csv(df, str(raw_dir))
        size = lambda d: sum(
            p.stat().st_size for p in d.iterdir() if p.name.startswith("part-")
        )
        assert size(tmp_path / "out") < size(raw_dir)


def test_canary_read_probe(spark):
    """Canary: one FirstKeyOnly probe per region x family — every
    region reports ok with its first row's first qualifier."""
    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.operators import jobs as jobs_mod
    from hbase_1_3_0_spark.sources.kv_encoder import table_to_cells

    df = spark.range(0, 120).select(
        F.lpad(F.col("id").cast("string"), 6, "0").alias("k"),
        F.col("id").alias("v"),
        (F.col("id") * 2).alias("w"),
    )
    cells = table_to_cells(df, ["k"], ["v", "w"])
    out = jobs_mod.canary_read_probe(cells, num_regions=4).collect()
    assert len(out) == 4  # one family, 4 regions
    assert all(r.ok for r in out)
    # region 0's probe is the global first row; first qualifier is the
    # alphabetically-first column
    by_region = {r.region: r for r in out}
    assert bytes(by_region[0].probe_row) == b"000000"
    assert all(bytes(r.first_qualifier) == b"v" for r in out)
    # probes ascend with region ordinals (ntile ranges are ordered)
    probes = [bytes(by_region[i].probe_row) for i in range(4)]
    assert probes == sorted(probes)


def test_canary_exact_ntile_buckets(spark):
    """The distributed rank derivation must reproduce EXACT ntile
    bucketing: 10 rows into 4 regions -> sizes 3,3,2,2, so the region
    min rows sit at ranks 0,3,6,8."""
    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.operators import jobs as jobs_mod
    from hbase_1_3_0_spark.sources.kv_encoder import table_to_cells

    df = spark.range(0, 10).select(
        F.lpad(F.col("id").cast("string"), 3, "0").alias("k"),
        F.col("id").alias("v"),
    )
    cells = table_to_cells(df, ["k"], ["v"])
    out = jobs_mod.canary_read_probe(cells, num_regions=4).collect()
    got = {r.region: bytes(r.probe_row) for r in out}
    assert got == {0: b"000", 1: b"003", 2: b"006", 3: b"008"}


def test_canary_region_col_and_split_points_paths(spark):
    """The two scale-primary derivations: a pre-split log's own region
    column, and an explicit RegionSplitter boundary list."""
    from pyspark.sql import functions as F

    from hbase_1_3_0_spark.operators import jobs as jobs_mod
    from hbase_1_3_0_spark.sources.kv_encoder import table_to_cells

    df = spark.range(0, 40).select(
        F.lpad(F.col("id").cast("string"), 3, "0").alias("k"),
        F.col("id").alias("v"),
    )
    cells = table_to_cells(df, ["k"], ["v"])

    with_region = cells.withColumn(
        "region", (F.decode("row", "UTF-8").cast("long") / 10).cast("long")
    )
    out = jobs_mod.canary_read_probe(with_region, region_col="region")
    got = {r.region: bytes(r.probe_row) for r in out.collect()}
    assert got == {0: b"000", 1: b"010", 2: b"020", 3: b"030"}

    out2 = jobs_mod.canary_read_probe(
        cells, split_points=[b"010", b"020", b"030"]
    )
    got2 = {r.region: bytes(r.probe_row) for r in out2.collect()}
    assert got2 == got


def test_export_with_filter(orders_cells, tmp_path, spark):
    """Export.java:117 threads a scan filter into the dump: prefix
    criteria and ^regex criteria per getExportFilter (:133)."""
    cells, _ = orders_cells
    rows = [bytes(r.row) for r in cells.select("row").distinct().collect()]
    prefix = rows[0][:2].decode("latin-1")
    expected = [r for r in rows if r.startswith(prefix.encode("latin-1"))]

    jobs.export_table(
        cells, tmp_path / "expf", filter=jobs.export_filter(prefix)
    )
    back = jobs.import_table(spark, tmp_path / "expf")
    got = {bytes(r.row) for r in back.select("row").distinct().collect()}
    assert got == set(expected)

    # ^regex criteria -> RowFilter(EQUAL, RegexStringComparator)
    jobs.export_table(
        cells, tmp_path / "expr", filter=jobs.export_filter("^.*" )
    )
    allback = jobs.import_table(spark, tmp_path / "expr")
    assert {bytes(r.row) for r in allback.select("row").distinct().collect()} == set(rows)


def test_export_with_dsl_filter_string(orders_cells, tmp_path, spark):
    """A ParseFilter DSL string is accepted directly."""
    cells, _ = orders_cells
    jobs.export_table(
        cells, tmp_path / "expd", filter="FirstKeyOnlyFilter()"
    )
    back = jobs.import_table(spark, tmp_path / "expd")
    per_row = back.groupBy("row").count().select("count").distinct().collect()
    assert [r[0] for r in per_row] == [1]
