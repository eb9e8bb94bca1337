"""Streaming (WAL/replication analog) tests — SURVEY.md §2.5.

Uses file-source micro-batches with availableNow triggers so every test is
deterministic and bounded.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hbase_1_3_0_spark.cells import CELL_SCHEMA, TYPE_PUT
from hbase_1_3_0_spark.functions import codecs
from hbase_1_3_0_spark.operators.read_view import read_view
from hbase_1_3_0_spark.sources import writer
from hbase_1_3_0_spark.streaming import wal


def _cells(spark, rows):
    return spark.createDataFrame(rows, CELL_SCHEMA)


def _put(row, qual, ts, value, seq=0):
    return (row, "d", qual, ts, TYPE_PUT, value, seq)


def test_replication_sink_dedups_and_applies(spark, tmp_path):
    wal_dir = tmp_path / "wal"
    ckpt = tmp_path / "ckpt"
    batch1 = _cells(
        spark,
        [
            _put(b"r1", b"c", 100, b"v1"),
            _put(b"r1", b"c", 100, b"v1"),  # duplicate delivery (same identity)
            _put(b"r2", b"c", 100, b"v2"),
        ],
    )
    wal.write_wal_batch(batch1, wal_dir)

    peer: dict[tuple, bytes] = {}
    applied_batches: list[int] = []

    def apply_batch(df, batch_id):
        applied_batches.append(batch_id)
        for r in df.collect():
            peer[(r["row"], r["family"], r["qualifier"], r["ts"], r["seq"])] = (
                r["value"]
            )

    q = wal.replicate(
        wal.mutation_stream(spark, wal_dir), apply_batch, checkpoint_dir=ckpt
    ).start()
    q.awaitTermination(120)
    assert peer == {
        (b"r1", "d", b"c", 100, 0): b"v1",
        (b"r2", "d", b"c", 100, 0): b"v2",
    }

    # second WAL segment; restart from checkpoint -> only the new batch ships
    batch2 = _cells(spark, [_put(b"r3", b"c", 200, b"v3")])
    wal.write_wal_batch(batch2, wal_dir)
    q2 = wal.replicate(
        wal.mutation_stream(spark, wal_dir), apply_batch, checkpoint_dir=ckpt
    ).start()
    q2.awaitTermination(120)
    assert peer[(b"r3", "d", b"c", 200, 0)] == b"v3"
    assert len(peer) == 3  # replayed identities absorbed idempotently


INC_SCHEMA = T.StructType(
    [
        T.StructField("row", T.BinaryType()),
        T.StructField("family", T.StringType()),
        T.StructField("qualifier", T.BinaryType()),
        T.StructField("delta", T.LongType()),
        T.StructField("event_ts", T.TimestampType()),
    ]
)


def _inc_rows(spark, rows, path):
    import datetime

    data = [
        (r, "d", q, d, datetime.datetime(2024, 1, 1, hour, minute))
        for r, q, d, hour, minute in rows
    ]
    spark.createDataFrame(data, INC_SCHEMA).write.mode("append").parquet(str(path))


def test_streaming_counters_update_mode(spark, tmp_path):
    src = tmp_path / "incs"
    _inc_rows(
        spark,
        [
            (b"u1", b"clicks", 1, 0, 0),
            (b"u1", b"clicks", 1, 0, 5),
            (b"u2", b"clicks", 3, 0, 10),
        ],
        src,
    )
    stream = (
        spark.readStream.schema(INC_SCHEMA).parquet(str(src))
    )
    counters = wal.streaming_counters(stream)
    q = (
        counters.writeStream.format("memory")
        .queryName("counters_t")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["row"], r["qualifier"]): r["counter"]
        for r in spark.sql("select * from counters_t").collect()
    }
    assert got == {(b"u1", b"clicks"): 2, (b"u2", b"clicks"): 3}


def test_windowed_counters_append_mode_closes_old_windows(spark, tmp_path):
    src = tmp_path / "incs_w"
    # events at hours 0 and 1; an hour-3 event advances the watermark past
    # both earlier windows so append mode emits them.
    _inc_rows(
        spark,
        [
            (b"u1", b"c", 1, 0, 10),
            (b"u1", b"c", 2, 0, 50),
            (b"u1", b"c", 5, 1, 10),
            (b"u1", b"c", 7, 3, 0),
        ],
        src,
    )
    stream = spark.readStream.schema(INC_SCHEMA).parquet(str(src))
    counters = wal.windowed_counters(stream, watermark="10 minutes")
    q = (
        counters.writeStream.format("memory")
        .queryName("wcounters_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from wcounters_t").collect()
    got = {(r["window_start"].hour, r["row"]): r["counter"] for r in rows}
    assert got[(0, b"u1")] == 3
    assert got[(1, b"u1")] == 5
    assert (3, b"u1") not in got  # open window not emitted in append mode


def test_counters_as_cells_roundtrip(spark):
    counters = spark.createDataFrame(
        [(b"u1", "d", b"clicks", 42)],
        "row binary, family string, qualifier binary, counter long",
    )
    cells = wal.counters_as_cells(counters, ts_ms=1000)
    r = cells.collect()[0]
    assert r["value"] == (42).to_bytes(8, "big")
    decoded = cells.select(codecs.decode_long_be(F.col("value")).alias("v"))
    assert decoded.collect()[0]["v"] == 42


def test_ttl_maintenance_rewrites_log(spark, tmp_path):
    path = tmp_path / "table"
    now_ms = 10_000_000
    live_ts = now_ms - 1_000  # 1s old
    dead_ts = now_ms - 7_200_000  # 2h old
    cells = _cells(
        spark,
        [
            _put(b"r1", b"a", live_ts, b"new"),
            _put(b"r1", b"b", dead_ts, b"old"),
            _put(b"r2", b"a", dead_ts, b"old2"),
        ],
    )
    writer.write_cells(cells, path)
    wal.ttl_maintenance(
        spark, path, ttl_seconds=3600, now_ms=now_ms, max_versions=1
    )
    remaining = writer.read_cells(spark, path).collect()
    assert [(r["row"], r["qualifier"]) for r in remaining] == [(b"r1", b"a")]
    # visible view of the compacted log matches read_view of the original
    view = read_view(cells, max_versions=1, ttl_seconds=3600, now_ms=now_ms)
    assert {(r["row"], r["qualifier"]) for r in view.collect()} == {
        (b"r1", b"a")
    }


def test_stateful_ttl_counters_accumulate_across_batches(spark, tmp_path):
    src = tmp_path / "incs"
    ckpt = tmp_path / "ckpt_ttl"
    inc1 = spark.createDataFrame(
        [(b"r1", "d", b"c", 2, None), (b"r1", "d", b"c", 3, None)],
        INC_SCHEMA,
    ).drop("event_ts")
    inc2 = spark.createDataFrame(
        [(b"r1", "d", b"c", 5, None), (b"r2", "d", b"c", 1, None)],
        INC_SCHEMA,
    ).drop("event_ts")
    inc1.write.parquet(str(src / "b1"))
    inc2.write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.schema(inc1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = wal.stateful_ttl_counters(stream, ttl_ms=3_600_000)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("ttl_ctrs")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    # a processing-time-timeout stream never quiesces (timeout-check
    # batches run forever by design); poll the sink for the accumulated
    # state instead of sleeping a fixed window (r14 — this test spent a
    # hard-coded 45 s in awaitTermination), with the same 45 s ceiling
    import time as _time

    deadline = _time.time() + 45
    rows, last = [], {}
    while _time.time() < deadline:
        rows = spark.table("ttl_ctrs").collect()
        last = {}
        for r in rows:
            last[bytes(r.row)] = r.counter
        # state accumulated across micro-batches: the LAST update for
        # r1 is 10 once both input batches have committed
        if last.get(b"r1") == 10 and b"r2" in last:
            break
        _time.sleep(0.5)
    # grace: let at least two more timeout-check micro-batches run after
    # the state accumulated, so a wrongly early expiry has the chance to
    # reach the sink before expired=False is asserted
    def batch_id() -> int:
        return (q.lastProgress or {}).get("batchId", -1)

    settled = batch_id() + 2
    grace_deadline = _time.time() + 30
    while batch_id() < settled and _time.time() < grace_deadline:
        _time.sleep(0.5)
    rows = spark.table("ttl_ctrs").collect()
    ran = batch_id()
    q.stop()
    assert ran >= settled, f"only reached batch {ran}, wanted {settled}"
    assert last[b"r1"] == 10
    assert last[b"r2"] == 1
    assert all(r.expired is False for r in rows)


def test_event_time_ttl_counters_terminate_and_expire(spark, tmp_path):
    """Event-time TTL counters: bounded runs TERMINATE (timeouts fire on
    watermark advance, not wall clock); idle keys expire with their final
    counter, the freshest key survives."""
    import datetime as dt

    src = tmp_path / "et_incs"
    ckpt = tmp_path / "et_ckpt"
    T0 = dt.datetime(2026, 1, 1)
    schema = (
        "row binary, family string, qualifier binary, delta long, "
        "event_ts timestamp"
    )
    b1 = spark.createDataFrame(
        [(b"r1", "d", b"c", 2, T0), (b"r2", "d", b"c", 1, T0 + dt.timedelta(seconds=1))],
        schema,
    )
    b2 = spark.createDataFrame(
        [(b"r1", "d", b"c", 5, T0 + dt.timedelta(seconds=5000))], schema
    )
    b1.coalesce(1).write.parquet(str(src / "b1"))
    b2.coalesce(1).write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = wal.stateful_ttl_counters_event_time(stream, ttl_ms=600_000)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("et_ctrs")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240) is True  # bounded: MUST terminate
    rows = spark.table("et_ctrs").collect()
    expired = {bytes(r.row): r.counter for r in rows if r.expired}
    live_max = {}
    for r in rows:
        if not r.expired:
            live_max[bytes(r.row)] = max(live_max.get(bytes(r.row), 0), r.counter)
    assert expired == {b"r2": 1}      # idle past TTL of event time
    assert live_max[b"r1"] == 7       # accumulated 2 + 5 across batches


def test_sessionize_gap_semantics(spark):
    """Session merges events <= gap apart (the gap boundary is closed:
    an event exactly AT last+gap merges); only a strictly longer quiet
    period splits; end = last event + gap."""
    import datetime as dt

    from hbase_1_3_0_spark.streaming import wal

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        # user 1: events at 0, 10, 25 min (gaps 10, 15), then exactly
        # 30 min after 25 -> still the SAME session (closed boundary)
        (1, t0, 1.0), (1, t0 + 10 * m, 2.0), (1, t0 + 25 * m, 3.0),
        (1, t0 + 55 * m, 4.0),
        # then 31 min of quiet -> a NEW session
        (1, t0 + 86 * m, 5.0),
        # user 2: single event
        (2, t0 + 5 * m, 7.0),
    ]
    df = spark.createDataFrame(rows, "user_id: long, ts: timestamp, value: double")
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in wal.sessionize(df, gap="30 minutes").collect()
    }
    assert got == {
        (1, t0, t0 + 85 * m, 4, 10.0),
        (1, t0 + 86 * m, t0 + 116 * m, 1, 5.0),
        (2, t0 + 5 * m, t0 + 35 * m, 1, 7.0),
    }


def test_sessionize_streaming_matches_batch(spark, tmp_path):
    """The SAME sessionize plan runs under readStream with a watermark:
    an availableNow replay over the file source must emit exactly the
    batch-mode sessions (append mode emits sessions the watermark
    closed; a far-future flush event closes all real sessions)."""
    import datetime as dt

    src = tmp_path / "events"
    ckpt = tmp_path / "ckpt_sess"
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, t0, 1.0), (1, t0 + 10 * m, 2.0),        # session A (user 1)
        (1, t0 + 90 * m, 3.0),                       # session B (user 1)
        (2, t0 + 5 * m, 7.0), (2, t0 + 20 * m, 1.0), # session C (user 2)
        # flush: a sentinel far past everything advances the watermark
        (99, t0 + 10_000 * m, 0.0),
    ]
    df = spark.createDataFrame(rows, "user_id: long, ts: timestamp, value: double")
    df.write.parquet(str(src))

    stream = spark.readStream.schema(df.schema).parquet(str(src))
    out = wal.sessionize(stream, gap="30 minutes", watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM sessions_stream").collect()
        if r.user_id != 99
    }
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in wal.sessionize(df, gap="30 minutes").collect()
        if r.user_id != 99
    }
    assert got == want and len(want) == 3


def test_dedup_ingest_stream_across_batches(spark, tmp_path):
    """Cross-batch streaming dedup: batch 2's duplicates of batch 1's
    survivors are dropped via the persisted digest store."""
    src = tmp_path / "incoming"
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id: long, text: string"
    )
    b1.write.parquet(str(src))
    q = wal.dedup_ingest_stream(
        spark,
        src,
        out_dir=tmp_path / "accepted",
        store_dir=tmp_path / "store",
        checkpoint_dir=tmp_path / "ckpt",
        schema=b1.schema,
    )
    q.awaitTermination(120)
    b2 = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "beta"), (13, "gamma")],
        "doc_id: long, text: string",
    )
    b2.write.mode("append").parquet(str(src))
    q2 = wal.dedup_ingest_stream(
        spark,
        src,
        out_dir=tmp_path / "accepted",
        store_dir=tmp_path / "store",
        checkpoint_dir=tmp_path / "ckpt",
        schema=b1.schema,
    )
    q2.awaitTermination(120)
    accepted = sorted(
        r.doc_id for r in spark.read.parquet(str(tmp_path / "accepted")).collect()
    )
    assert accepted == [1, 2, 11]
    store = spark.read.parquet(str(tmp_path / "store"))
    assert store.select("fp").distinct().count() == 3  # alpha, beta, gamma


def test_dedup_ingest_crash_between_writes_replays_clean(
    spark, tmp_path, monkeypatch
):
    """A crash between the survivor write and the digest write, followed
    by Structured Streaming's batch re-delivery, must end in the same
    state as a clean run: zero duplicates AND zero lost documents, in
    BOTH crash orders (VERDICT r4 wrong #2 — exactly-once must be a
    mechanism, not a docstring claim)."""
    import pyspark.sql.readwriter as rw

    out_dir, store_dir = str(tmp_path / "out"), str(tmp_path / "store")

    def commit(batch_rows, batch_id):
        bdf = spark.createDataFrame(batch_rows, "doc_id: long, text: string")
        wal._dedup_commit_batch(
            spark, bdf, batch_id, out_dir=out_dir, store_dir=store_dir
        )

    def commit_crashing_at(batch_rows, batch_id, crash_on_write):
        """Run one commit but raise inside the Nth .parquet() write."""
        calls = {"n": 0}
        real = rw.DataFrameWriter.parquet

        def flaky(self, path, **kw):
            calls["n"] += 1
            if calls["n"] == crash_on_write:
                raise RuntimeError("injected crash")
            return real(self, path, **kw)

        monkeypatch.setattr(rw.DataFrameWriter, "parquet", flaky)
        try:
            import pytest as _pytest

            with _pytest.raises(RuntimeError, match="injected crash"):
                commit(batch_rows, batch_id)
        finally:
            monkeypatch.setattr(rw.DataFrameWriter, "parquet", real)

    commit([(1, "alpha"), (2, "beta"), (3, "alpha")], 0)

    # crash order A: survivors landed, digest write failed -> replay
    b1 = [(10, "alpha"), (11, "gamma"), (12, "gamma")]
    commit_crashing_at(b1, 1, crash_on_write=2)
    commit(b1, 1)  # re-delivery
    accepted = sorted(
        r.doc_id for r in spark.read.parquet(out_dir).collect()
    )
    assert accepted == [1, 2, 11]  # no duplicate 11, no lost docs

    # crash order B: digest landed, survivor write failed (the
    # loss-window order) -> replay must NOT treat batch 2 as all-dup
    b2 = [(20, "delta"), (21, "beta")]
    commit_crashing_at(b2, 2, crash_on_write=1)
    # simulate the worse interleaving: digests committed, out missing
    bdf = spark.createDataFrame(b2, "doc_id: long, text: string")
    from pyspark.sql import functions as F2

    (
        bdf.where(F2.col("doc_id") == 20)
        .select(F2.md5(F2.col("text")).alias("fp"))
        .withColumn("batch_id", F2.lit(2))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(store_dir)
    )
    commit(b2, 2)  # re-delivery
    accepted = sorted(
        r.doc_id for r in spark.read.parquet(out_dir).collect()
    )
    assert accepted == [1, 2, 11, 20]  # delta landed exactly once
    store = spark.read.parquet(store_dir)
    assert store.select("fp").distinct().count() == 4
    # a third replay of the same batch is a no-op
    commit(b2, 2)
    assert sorted(
        r.doc_id for r in spark.read.parquet(out_dir).collect()
    ) == [1, 2, 11, 20]


def test_streaming_corpus_pipeline_end_to_end(spark, tmp_path):
    """The composed streaming ingest path a corpus build actually runs:
    .arrow files land in a directory -> read_arrow_stream decodes them
    -> a quality predicate drops junk in-stream -> the foreachBatch
    dedup sink commits survivors idempotently against the cross-batch
    digest store. Two landing waves; duplicates across waves are
    dropped, junk never lands, everything else lands exactly once."""
    import shutil

    from hbase_1_3_0_spark.sources import arrow_ipc
    from hbase_1_3_0_spark.streaming import wal

    landing = tmp_path / "landing"
    landing.mkdir()
    out_dir = str(tmp_path / "accepted")
    store_dir = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def land(name, rows):
        df = spark.createDataFrame(
            rows, "doc_id: long, text: string"
        ).coalesce(1)
        arrow_ipc.write_arrow(df, str(tmp_path / name))
        shutil.copy(
            next((tmp_path / name).glob("*.arrow")), landing / f"{name}.arrow"
        )

    def drain():
        stream = arrow_ipc.read_arrow_stream(
            spark, str(landing), "doc_id bigint, text string"
        )
        good = stream.where(F.length("text") >= 5)  # in-stream quality gate

        def process(batch_df, batch_id):
            wal._dedup_commit_batch(
                spark, batch_df, batch_id,
                out_dir=out_dir, store_dir=store_dir,
            )

        q = (
            good.writeStream.foreachBatch(process)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    land("w1", [(1, "alpha document"), (2, "x"), (3, "beta document")])
    drain()
    got = sorted(r.doc_id for r in spark.read.parquet(out_dir).collect())
    assert got == [1, 3]  # junk (2) gated out in-stream

    land(
        "w2",
        [(10, "alpha document"), (11, "gamma document"), (12, "y")],
    )
    drain()
    got = sorted(r.doc_id for r in spark.read.parquet(out_dir).collect())
    # 10 is a cross-wave duplicate of 1; 12 is junk; 11 lands once
    assert got == [1, 3, 11]


def test_dedup_ingest_store_edge_states(spark, tmp_path):
    """(a) a store dir that EXISTS but holds no committed parquet files
    (crash during the very first store write) reads as empty — the
    replay must proceed, not wedge on UNABLE_TO_INFER_SCHEMA; (b) a
    legacy flat (non-partitioned) store fails loudly instead of writing
    a mixed layout Spark can't read back."""
    import pytest

    from hbase_1_3_0_spark.streaming import wal

    out_dir = str(tmp_path / "out")
    empty_store = tmp_path / "store_empty"
    empty_store.mkdir()
    bdf = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha")], "doc_id: long, text: string"
    )
    wal._dedup_commit_batch(
        spark, bdf, 0, out_dir=out_dir, store_dir=str(empty_store)
    )
    assert [r.doc_id for r in spark.read.parquet(out_dir).collect()] == [1]

    legacy = tmp_path / "store_legacy"
    spark.createDataFrame([("aa",)], "fp: string").write.parquet(str(legacy))
    with pytest.raises(ValueError, match="legacy flat layout"):
        wal._dedup_commit_batch(
            spark, bdf, 1, out_dir=str(tmp_path / "out2"),
            store_dir=str(legacy),
        )


def test_dedup_ingest_fresh_checkpoint_guard(spark, tmp_path):
    """ADVICE r5: restarting the stream with a FRESH checkpoint against
    an existing store restarts batch ids at 0 — dynamic overwrite would
    clobber prior batches and the own-batch exclusion would admit
    duplicates. The sink must fail loudly when the store already holds
    batch_id > the incoming one; the equal case (own half-commit
    replay) must still proceed."""
    import pytest

    from hbase_1_3_0_spark.streaming import wal

    out_dir, store_dir = str(tmp_path / "out"), str(tmp_path / "store")

    def commit(rows, batch_id):
        bdf = spark.createDataFrame(rows, "doc_id: long, text: string")
        wal._dedup_commit_batch(
            spark, bdf, batch_id, out_dir=out_dir, store_dir=store_dir
        )

    commit([(1, "alpha")], 0)
    commit([(2, "beta")], 1)
    # replay of the CURRENT batch id is fine (idempotent re-delivery)
    commit([(2, "beta")], 1)
    # a fresh checkpoint restarting at 0 must be refused
    with pytest.raises(ValueError, match="checkpoint was reset"):
        commit([(3, "gamma")], 0)
    # state unharmed: the refused batch wrote nothing
    assert sorted(
        r.doc_id for r in spark.read.parquet(out_dir).collect()
    ) == [1, 2]


def test_compact_digest_store_preserves_seen_set(spark, tmp_path):
    """Compaction folds historical batch partitions into the
    batch_id=-1 base: the seen-SET is preserved exactly, file/partition
    counts are bounded, replay of the newest (uncompacted) batch still
    works, and new batches still dedup against folded history."""
    from hbase_1_3_0_spark.streaming import wal

    out_dir, store_dir = str(tmp_path / "out"), str(tmp_path / "store")

    def commit(rows, batch_id):
        bdf = spark.createDataFrame(rows, "doc_id: long, text: string")
        wal._dedup_commit_batch(
            spark, bdf, batch_id, out_dir=out_dir, store_dir=store_dir
        )

    commit([(1, "alpha"), (2, "beta")], 0)
    commit([(10, "gamma"), (11, "alpha")], 1)
    commit([(20, "delta")], 2)
    commit([(30, "epsilon")], 3)
    before = {
        r.fp for r in spark.read.parquet(store_dir).select("fp").collect()
    }

    wal.compact_digest_store(spark, store_dir, up_to_batch=2, num_files=2)
    parts = sorted(
        int(p.name.split("=")[1])
        for p in (tmp_path / "store").glob("batch_id=*")
    )
    assert parts == [-1, 3]
    after = {
        r.fp for r in spark.read.parquet(store_dir).select("fp").collect()
    }
    assert after == before  # seen-set preserved exactly
    base_files = list((tmp_path / "store" / "batch_id=-1").glob("*.parquet"))
    assert 0 < len(base_files) <= 2

    # replay of the newest (uncompacted) batch is still a no-op
    commit([(30, "epsilon")], 3)
    assert sorted(
        r.doc_id for r in spark.read.parquet(out_dir).collect()
    ) == [1, 2, 10, 20, 30]
    # new batch dedups against FOLDED history (alpha died in batch 0)
    commit([(40, "alpha"), (41, "zeta")], 4)
    assert sorted(
        r.doc_id for r in spark.read.parquet(out_dir).collect()
    ) == [1, 2, 10, 20, 30, 41]
    # idempotent: re-running the same compaction converges
    wal.compact_digest_store(spark, store_dir, up_to_batch=2, num_files=2)
    assert {
        r.fp for r in spark.read.parquet(store_dir).select("fp").collect()
    } == after | {
        r.fp
        for r in spark.read.parquet(store_dir)
        .where(F.col("batch_id").isin(3, 4)).select("fp").collect()
    }


def test_neardup_ingest_across_batches(spark, tmp_path):
    """Near-dup streaming sink: exact clones and near-identical texts
    die against the signature store; the store holds only signatures
    (never text); smaller-id in-batch neighbors kill (greedy rule);
    unrelated docs land; replay of the newest batch is a no-op."""
    from hbase_1_3_0_spark.streaming import wal

    out_dir, store_dir = str(tmp_path / "out"), str(tmp_path / "store")
    base = (
        "the quick brown fox jumps over the lazy dog and keeps on "
        "running through the quiet forest all day long without rest"
    )
    other = (
        "completely different material about spark physical plans and "
        "shuffle exchanges nothing shared with the fox sentences at all"
    )

    def commit(rows, batch_id):
        bdf = spark.createDataFrame(rows, "doc_id: long, text: string")
        wal._neardup_commit_batch(
            spark, bdf, batch_id, out_dir=out_dir, store_dir=store_dir,
            threshold=0.5,
        )

    # batch 0: doc 2 is an in-batch near-dup of doc 1 (smaller id wins)
    commit([(1, base), (2, base + "!"), (3, other)], 0)
    got = sorted(r.doc_id for r in spark.read.parquet(out_dir).collect())
    assert got == [1, 3]
    # store is signatures only
    store = spark.read.parquet(store_dir)
    assert set(store.columns) == {"doc_id", "sig", "batch_id"}
    assert sorted(r.doc_id for r in store.collect()) == [1, 3]

    # batch 1: 10 = exact clone of 1, 11 = near-dup of 1, 12 = fresh
    fresh = (
        "yet another unrelated passage concerning parquet row groups "
        "and min max statistics used for pruning large table scans"
    )
    commit([(10, base), (11, base + " again"), (12, fresh)], 1)
    got = sorted(r.doc_id for r in spark.read.parquet(out_dir).collect())
    assert got == [1, 3, 12]
    # replay batch 1 (crash re-delivery): identical final state
    commit([(10, base), (11, base + " again"), (12, fresh)], 1)
    assert sorted(
        r.doc_id for r in spark.read.parquet(out_dir).collect()
    ) == [1, 3, 12]


def test_neardup_ingest_stream_end_to_end(spark, tmp_path):
    """The composed stream: files land, availableNow drains through
    neardup_ingest_stream, near-dups across waves die."""
    from hbase_1_3_0_spark.streaming import wal

    src = tmp_path / "src"
    src.mkdir()
    t1 = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    )
    t2 = (
        "one two three four five six seven eight nine ten eleven "
        "twelve thirteen fourteen fifteen sixteen seventeen eighteen"
    )

    def land(name, rows):
        df = spark.createDataFrame(
            rows, "doc_id: long, text: string"
        ).coalesce(1)
        scratch = tmp_path / f"scratch_{name}"
        df.write.mode("overwrite").parquet(str(scratch))
        import glob as g
        import shutil

        shutil.copy(
            g.glob(f"{scratch}/part-*.parquet")[0], src / f"{name}.parquet"
        )

    land("b0", [(1, t1), (2, t2)])
    land("b1", [(10, t1 + " end"), (11, "totally new words appear here "
                                        "that overlap with neither text")])
    q = wal.neardup_ingest_stream(
        spark, str(src),
        out_dir=str(tmp_path / "out"), store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema="doc_id bigint, text string",
        threshold=0.5, max_files_per_trigger=1,
        band_store_dir=str(tmp_path / "bands"),
    )
    q.awaitTermination(120)
    got = sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert got == [1, 2, 11]  # 10 is a near-dup of 1 across waves
    # the stream maintained the band store: one partition per batch,
    # 16 band rows per accepted doc
    bands = spark.read.parquet(str(tmp_path / "bands"))
    assert bands.count() == 3 * 16
    assert sorted(r.doc_id for r in bands.select("doc_id").distinct()
                  .collect()) == [1, 2, 11]


def test_compact_neardup_store_preserves_signatures(spark, tmp_path):
    """The signature store compacts exactly like the digest store:
    history folds into batch_id=-1 carrying the sig arrays, membership
    preserved, and later batches still near-dup against folded
    history."""
    from hbase_1_3_0_spark.streaming import wal

    out_dir, store_dir = str(tmp_path / "out"), str(tmp_path / "store")
    t1 = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    )
    t2 = (
        "one two three four five six seven eight nine ten eleven "
        "twelve thirteen fourteen fifteen sixteen seventeen eighteen"
    )

    def commit(rows, batch_id):
        bdf = spark.createDataFrame(rows, "doc_id: long, text: string")
        wal._neardup_commit_batch(
            spark, bdf, batch_id, out_dir=out_dir, store_dir=store_dir,
            threshold=0.5,
        )

    commit([(1, t1)], 0)
    commit([(2, t2)], 1)
    before = {
        (r.doc_id, tuple(r.sig))
        for r in spark.read.parquet(store_dir).collect()
    }
    wal.compact_neardup_store(spark, store_dir, up_to_batch=1, num_files=2)
    parts = sorted(
        int(p.name.split("=")[1])
        for p in (tmp_path / "store").glob("batch_id=*")
    )
    assert parts == [-1]
    after = {
        (r.doc_id, tuple(r.sig))
        for r in spark.read.parquet(store_dir).collect()
    }
    assert after == before
    # a near-dup of folded history still dies; fresh text lands
    commit([(10, t1 + " more"), (11, "entirely new unshared sentence "
                                     "about bloom filters and sorted runs")], 2)
    got = sorted(
        r.doc_id for r in spark.read.parquet(out_dir).collect()
    )
    assert got == [1, 2, 11]

def test_neardup_band_store_equivalence(spark, tmp_path):
    """The persisted band store changes the probe's physical shape, not
    its answer: twin ingests with and without band_store_dir accept the
    same documents batch-by-batch, the band store holds exactly the
    banding of the signature store, and replay stays idempotent."""
    from hbase_1_3_0_spark.pipeline.dedup import signature_bands
    from hbase_1_3_0_spark.streaming import wal

    t1 = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    )
    t2 = (
        "one two three four five six seven eight nine ten eleven "
        "twelve thirteen fourteen fifteen sixteen seventeen eighteen"
    )
    batches = [
        [(1, t1), (2, t1 + "!"), (3, t2)],
        [(10, t1), (11, t2 + " end"), (12, "fresh unshared words about "
                                           "broadcast joins and codegen")],
        [(20, t2), (21, "another novel passage on watermark semantics "
                        "and state store checkpoint formats")],
    ]
    plain = {"out": str(tmp_path / "po"), "store": str(tmp_path / "ps")}
    banded = {
        "out": str(tmp_path / "bo"), "store": str(tmp_path / "bs"),
        "bands": str(tmp_path / "bb"),
    }

    for bid, rows in enumerate(batches):
        bdf = spark.createDataFrame(rows, "doc_id: long, text: string")
        wal._neardup_commit_batch(
            spark, bdf, bid, out_dir=plain["out"],
            store_dir=plain["store"], threshold=0.5,
        )
        wal._neardup_commit_batch(
            spark, bdf, bid, out_dir=banded["out"],
            store_dir=banded["store"], threshold=0.5,
            band_store_dir=banded["bands"],
        )
        a = sorted(
            r.doc_id
            for r in spark.read.parquet(plain["out"]).collect()
        )
        b = sorted(
            r.doc_id
            for r in spark.read.parquet(banded["out"]).collect()
        )
        assert a == b, f"batch {bid}: {a} != {b}"

    # band store is exactly the banding of the signature store
    store = spark.read.parquet(banded["store"])
    want = {
        (r._id, r.band, r.bucket)
        for r in signature_bands(
            store.select(
                F.col("doc_id").alias("_id"), F.col("sig").alias("_sig")
            ),
            bands=16, num_hashes=64,
        ).collect()
    }
    got = {
        (r.doc_id, r.band, r.bucket)
        for r in spark.read.parquet(banded["bands"]).collect()
    }
    assert got == want

    # replay of the newest batch is a no-op for all three stores
    bdf = spark.createDataFrame(batches[-1], "doc_id: long, text: string")
    wal._neardup_commit_batch(
        spark, bdf, 2, out_dir=banded["out"], store_dir=banded["store"],
        threshold=0.5, band_store_dir=banded["bands"],
    )
    assert {
        (r.doc_id, r.band, r.bucket)
        for r in spark.read.parquet(banded["bands"]).collect()
    } == got

    # enabling a band store against an existing signature store without
    # backfill fails loudly (empty band table would admit duplicates)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="backfill_neardup_band_store"):
        wal._neardup_commit_batch(
            spark,
            spark.createDataFrame([(30, t1)], "doc_id: long, text: string"),
            3, out_dir=plain["out"], store_dir=plain["store"],
            threshold=0.5, band_store_dir=str(tmp_path / "missing_bands"),
        )
    # ... and backfill is the migration path: build the band table from
    # the signature store, then the banded probe kills folded history
    wal.backfill_neardup_band_store(
        spark, plain["store"], str(tmp_path / "pb"), bands=16, num_hashes=64
    )
    wal._neardup_commit_batch(
        spark,
        spark.createDataFrame(
            [(30, t1), (31, "still more unseen text mentioning skew "
                            "salting and adaptive coalesce")],
            "doc_id: long, text: string",
        ),
        3, out_dir=plain["out"], store_dir=plain["store"],
        threshold=0.5, band_store_dir=str(tmp_path / "pb"),
    )
    assert sorted(
        r.doc_id
        for r in spark.read.parquet(plain["out"])
        .where(F.col("batch_id") == 3).collect()
    ) == [31]  # 30 is a clone of folded doc 1


def test_compact_neardup_band_store(spark, tmp_path):
    """Band-store compaction folds history into a (band, bucket)-sorted
    batch_id=-1 base with membership preserved, and later batches still
    probe folded history correctly."""
    from hbase_1_3_0_spark.streaming import wal

    out_dir = str(tmp_path / "out")
    store_dir = str(tmp_path / "store")
    band_dir = str(tmp_path / "bands")
    t1 = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    )
    t2 = (
        "one two three four five six seven eight nine ten eleven "
        "twelve thirteen fourteen fifteen sixteen seventeen eighteen"
    )

    def commit(rows, batch_id):
        bdf = spark.createDataFrame(rows, "doc_id: long, text: string")
        wal._neardup_commit_batch(
            spark, bdf, batch_id, out_dir=out_dir, store_dir=store_dir,
            threshold=0.5, band_store_dir=band_dir,
        )

    commit([(1, t1)], 0)
    commit([(2, t2)], 1)
    before = {
        (r.doc_id, r.band, r.bucket)
        for r in spark.read.parquet(band_dir).collect()
    }
    wal.compact_neardup_store(spark, store_dir, up_to_batch=1, num_files=2)
    wal.compact_neardup_band_store(
        spark, band_dir, up_to_batch=1, num_files=2
    )
    parts = sorted(
        int(p.name.split("=")[1])
        for p in (tmp_path / "bands").glob("batch_id=*")
    )
    assert parts == [-1]
    after = {
        (r.doc_id, r.band, r.bucket)
        for r in spark.read.parquet(band_dir).collect()
    }
    assert after == before
    # near-dups of folded history die via the compacted band base
    commit([(10, t1 + " more"), (11, "wholly different closing words "
                                     "about speculative task retries")], 2)
    got = sorted(r.doc_id for r in spark.read.parquet(out_dir).collect())
    assert got == [1, 2, 11]


def test_neardup_first_batch_half_commit_replays(spark, tmp_path):
    """A crash on the VERY FIRST micro-batch between the signature-store
    write and the band-store write leaves a signature store holding only
    the batch's own partition and an absent band store. Replaying that
    batch is the stream's normal recovery (its own partition is excluded
    from the probe anyway) and must NOT trip the backfill guard — while
    genuinely earlier signature history without band rows still does."""
    import shutil

    from hbase_1_3_0_spark.streaming import wal

    out_dir = str(tmp_path / "out")
    store_dir = str(tmp_path / "store")
    band_dir = str(tmp_path / "bands")
    t1 = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    )

    def commit(rows, batch_id):
        bdf = spark.createDataFrame(rows, "doc_id: long, text: string")
        wal._neardup_commit_batch(
            spark, bdf, batch_id, out_dir=out_dir, store_dir=store_dir,
            threshold=0.5, band_store_dir=band_dir,
        )

    # batch 0 commits fully, then we delete the band store to simulate
    # the crash having happened before its write
    commit([(1, t1), (2, t1 + " tail")], 0)
    accepted = sorted(
        r.doc_id for r in spark.read.parquet(out_dir).collect()
    )
    shutil.rmtree(band_dir)

    # replay of batch 0 proceeds (no raise), reproduces the same
    # survivors, and rebuilds the band store for the batch
    commit([(1, t1), (2, t1 + " tail")], 0)
    assert sorted(
        r.doc_id for r in spark.read.parquet(out_dir).collect()
    ) == accepted
    assert spark.read.parquet(band_dir).count() > 0

    # but with REAL prior history (batch 0 accepted, band store gone),
    # a later batch still fails loudly toward backfill
    shutil.rmtree(band_dir)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="backfill_neardup_band_store"):
        commit([(10, "completely novel words about broadcast joins")], 1)


def test_replication_peer_table_cfs_scoping(spark, tmp_path):
    """ReplicationAdmin tableCFs + REPLICATION_SCOPE
    (ReplicationAdmin.java:203 parseTableCFsFromConfig;
    HColumnDescriptor.java:221 scope LOCAL default): peer A subscribes
    everything, peer B only family 'd' of this table, peer C a
    different table (ships nothing); a scope-list restricts every peer
    to the GLOBAL families."""
    wal_dir = tmp_path / "wal"
    batch = _cells(
        spark,
        [
            (b"r1", "d", b"c", 100, TYPE_PUT, b"v1", 0),
            (b"r1", "e", b"c", 100, TYPE_PUT, b"v2", 0),
            (b"r2", "f", b"c", 100, TYPE_PUT, b"v3", 0),
        ],
    )
    wal.write_wal_batch(batch, wal_dir)

    def run(name, **kw):
        got = []

        def apply_batch(df, _bid):
            got.extend((r["row"], r["family"]) for r in df.collect())

        q = wal.replicate(
            wal.mutation_stream(spark, wal_dir), apply_batch,
            checkpoint_dir=tmp_path / f"ckpt_{name}",
            table_name="t1", **kw,
        ).start()
        q.awaitTermination(120)
        return sorted(got)

    assert run("a") == [(b"r1", "d"), (b"r1", "e"), (b"r2", "f")]
    assert run("b", table_cfs={"t1": ["d"]}) == [(b"r1", "d")]
    assert run("b2", table_cfs={"t1": None}) == [
        (b"r1", "d"), (b"r1", "e"), (b"r2", "f")
    ]
    assert run("c", table_cfs={"other": None}) == []
    # scope: only 'd' and 'e' are GLOBAL on this table
    assert run("s", replicated_families=["d", "e"]) == [
        (b"r1", "d"), (b"r1", "e")
    ]
    # scope composes with the peer subscription
    assert run("sb", table_cfs={"t1": ["e", "f"]},
               replicated_families=["d", "e"]) == [(b"r1", "e")]


def test_parse_table_cfs_grammar():
    """parseTableCFsFromConfig (:203): the exact string grammar incl.
    the ignore-malformed rule."""
    assert wal.parse_table_cfs(None) is None
    assert wal.parse_table_cfs("  ") is None
    assert wal.parse_table_cfs("t1:cf1,cf2;t2") == {
        "t1": ["cf1", "cf2"], "t2": None,
    }
    # blank entries skipped; malformed (two colons / empty name) ignored
    assert wal.parse_table_cfs(";t1: cf1 , ;a:b:c;:cfX;t3") == {
        "t1": ["cf1"], "t3": None,
    }


def test_catalog_peer_registry_drives_replication(spark, tmp_path):
    from hbase_1_3_0_spark.catalog import Catalog, FamilyMeta, TableMeta

    cat = Catalog(tmp_path / "cat.json")
    cat.add_replication_peer("p1", "t1:d;t9")
    with pytest.raises(ValueError):
        cat.add_replication_peer("p1")
    meta = TableMeta(
        name="t1",
        families=(
            FamilyMeta(name="d", replication_scope=1),
            FamilyMeta(name="e"),  # LOCAL: never ships
        ),
    )
    assert wal.replicated_families(meta) == ["d"]
    # persistence roundtrip keeps the subscription
    again = Catalog(tmp_path / "cat.json")
    assert again.replication_peers() == ["p1"]
    assert again.replication_peer("p1") == {"t1": ["d"], "t9": None}

    wal_dir = tmp_path / "wal"
    batch = _cells(
        spark,
        [
            (b"r1", "d", b"c", 100, TYPE_PUT, b"v1", 0),
            (b"r1", "e", b"c", 100, TYPE_PUT, b"v2", 0),
        ],
    )
    wal.write_wal_batch(batch, wal_dir)
    got = []

    def apply_batch(df, _bid):
        got.extend((r["row"], r["family"]) for r in df.collect())

    q = wal.replicate(
        wal.mutation_stream(spark, wal_dir), apply_batch,
        checkpoint_dir=tmp_path / "ckpt",
        table_name="t1",
        table_cfs=again.replication_peer("p1"),
        replicated_families=wal.replicated_families(meta),
    ).start()
    q.awaitTermination(120)
    assert got == [(b"r1", "d")]


def test_inbatch_kill_kernel_matches_jvm_pair_chain(spark):
    """The r14 vectorized in-batch kill kernel is decision-identical to
    the JVM pair chain it replaced (band self-join + distinct + est
    filter), on a corpus engineered with hot buckets (template
    near-dups), exact clones, singletons — and with Arrow record
    batches forced small enough that one (band, bucket) group spans
    several batches (the kernel must concatenate before grouping)."""
    from hbase_1_3_0_spark.pipeline.dedup import (
        minhash_signatures,
        signature_bands,
    )
    from hbase_1_3_0_spark.streaming import wal

    tmpl = (
        "breaking news from the region tonight a storm swept the coast "
        "and utility crews restored power to thousands of homes by dawn"
    )
    rows = []
    for i in range(120):  # hot template cluster: tiny edits
        rows.append((i, tmpl + f" update {i % 7}"))
    for i in range(120, 140):  # exact clones of one text
        rows.append((i, tmpl))
    rows.append((1000, "a totally unrelated sentence about parquet io"))
    rows.append((1001, "another lone document on query plan exchanges"))
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    sigs = minhash_signatures(
        df, text_col="text", id_col="doc_id", n=5, num_hashes=64, seed=42
    ).localCheckpoint()

    # reference: the pre-r14 JVM chain, verbatim
    bands = signature_bands(sigs, bands=16, num_hashes=64)
    inb = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "bucket"])
        .where(F.col("y._id") < F.col("x._id"))
        .select(F.col("x._id").alias("_id"), F.col("y._id").alias("_nid"))
    )
    est = (
        F.aggregate(
            F.zip_with(
                F.col("_sig_a"), F.col("_sig_b"),
                lambda x, y: (x == y).cast("int"),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(64)
    )
    ref = (
        inb.distinct()
        .join(sigs.select("_id", F.col("_sig").alias("_sig_a")), "_id")
        .join(
            sigs.select(
                F.col("_id").alias("_nid"), F.col("_sig").alias("_sig_b")
            ),
            "_nid",
        )
        .where(est >= F.lit(0.8))
        .select("_id")
    )
    expected = {r._id for r in ref.distinct().collect()}
    assert expected, "fixture must actually kill something"
    assert 1000 not in expected and 1001 not in expected

    got = {
        r._id
        for r in wal._inbatch_killed_ids(
            sigs, bands=16, num_hashes=64, threshold=0.8
        ).collect()
    }
    assert got == expected

    # force multi-batch partitions: every group of >8 rows spans batches
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    try:
        got_small = {
            r._id
            for r in wal._inbatch_killed_ids(
                sigs, bands=16, num_hashes=64, threshold=0.8
            ).collect()
        }
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old
        )
    assert got_small == expected
