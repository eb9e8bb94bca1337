"""The two closed-loop workloads: one client, the next operation sent only
after the previous one has returned and been checked.

Each workload is a fixed schedule of operation slots; the seed chooses the
data, keys, widths and values, never the schedule, so plan shapes (and the
counts taken from them) repeat run to run. An operation is timed from the
first library call to the collected result; the check against the
engine-independent expectation runs after the clock stops.
"""

from __future__ import annotations

import glob
import os
import random
import struct
import time
from dataclasses import dataclass, field, replace

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hbase_1_3_0_spark.catalog import TableMeta
from hbase_1_3_0_spark.cells import CELL_SCHEMA
from hbase_1_3_0_spark.engine import Engine
from hbase_1_3_0_spark.filters import ast as fast
from hbase_1_3_0_spark.operators import aggregations as agg
from hbase_1_3_0_spark.operators import jobs
from hbase_1_3_0_spark.pipeline import dedup, text
from hbase_1_3_0_spark.sources import kv_encoder, writer
from hbase_1_3_0_spark.streaming import wal
from hbase_1_3_0_spark.table import Table

from data import (
    DELETE_COLUMN,
    FAMILY,
    NOW_MS,
    PUT,
    Oracle,
    VisibleModel,
    be8,
    key,
    make_corpus,
    make_log,
    write_cells_parquet,
    write_docs_parquet,
)

MUTATION_SCHEMA = (
    "op string, row binary, family string, qualifier binary, ts long, "
    "value binary, check_family string, check_qualifier binary, "
    "check_op string, check_value binary, batch_seq long"
)
INCREMENT_SCHEMA = "row binary, family string, qualifier binary, delta long"
APPEND_SCHEMA = "row binary, family string, qualifier binary, value binary, batch_seq long"
DOC_SCHEMA = "doc_id long, text string, source string"


@dataclass
class Sample:
    cls: str
    kind: str  # "read" or "write"
    ms: float
    cells: int
    ok: bool


@dataclass
class Run:
    """What a workload hands back to the reporter."""

    samples: list[Sample] = field(default_factory=list)
    failed: int = 0
    setup_builds_s: list[float] = field(default_factory=list)
    stored_bytes: int = 0
    user_bytes: int = 0
    sizes: dict = field(default_factory=dict)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def _user_bytes(cells) -> int:
    return sum(
        len(r) + len(q or b"") + len(v or b"") for r, _f, q, _ts, t, v, _s in cells if t == PUT
    )


def _pq_rows(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    return [r for f in files for r in pq.read_table(f).to_pylist()]


class Loop:
    """Closed loop over a fixed schedule: one client, one operation at a
    time."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.run = Run()

    def time_op(self, cls: str, kind: str, fn, check) -> None:
        """``fn()`` does the library calls and returns (result, cells);
        ``check(result)`` returns whether it matches the expectation."""
        with self.tracer.op(cls):
            t0 = time.perf_counter()
            try:
                result, cells = fn()
            except Exception as e:  # an operation that raises is a failed one
                self.run.failed += 1
                self.run.samples.append(Sample(cls, kind, 0.0, 0, False))
                print(f"[perfbench] {cls} failed: {type(e).__name__}: {e}"[:500], flush=True)
                return
            ms = (time.perf_counter() - t0) * 1e3
        ok = bool(check(result))
        if not ok:
            print(f"[perfbench] {cls}: wrong result", flush=True)
        self.run.samples.append(Sample(cls, kind, ms, cells, ok))

    def drive(self, passes) -> Run:
        """Run the schedule's passes (lists of slots, callables taking the
        loop) back to back."""
        for slots in passes:
            for slot in slots:
                slot(self)
        return self.run


def collect(tracer, cls: str, df, depth: int | None = None):
    tracer.plan(cls, df, depth)
    with tracer.span("exec"):
        rows = df.collect()
    tracer.query(df)
    return rows


def _row_cells(rows) -> dict[bytes, dict[bytes, bytes]]:
    out: dict[bytes, dict[bytes, bytes]] = {}
    for r in rows:
        out.setdefault(bytes(r["row"]), {})[bytes(r["qualifier"])] = bytes(r["value"])
    return out


# ================================================================ point-ops
POINT_QUALIFIERS = [b"status", b"price", b"date", b"prio", b"clerk", b"comment", b"cnt", b"log"]
#: chained write pairs, one per round. cas runs at depth 0 in round 0 and
#: at depth 1 in round 1, so the per-depth exchange counts come from cas
#: alone and compare depths, not operation classes
CHAIN_PAIRS = [("cas", "increment"), ("append", "cas"), ("increment", "append")]
CHAIN_DEPTH = 2
#: range-scan widths in rows, by round (fixed, so cells per pass are too)
RANGE_WIDTHS = [100, 10]
GET_FILTERS = [
    ("ColumnPrefixFilter ('p')", lambda cells: {q: v for q, v in cells.items() if q.startswith(b"p")}),
    (
        "SingleColumnValueFilter ('d', 'status', =, 'binary:O', true, true)",
        lambda cells: cells if cells.get(b"status") == b"O" else {},
    ),
]


class PointOps:
    """Single-row reads and chained single-row writes over a stored,
    multi-version, tombstoned cell log."""

    def __init__(self, spark, tracer, scratch: str, seed: int, rows: int):
        self.spark, self.tracer, self.scratch = spark, tracer, scratch
        self.seed, self.n_rows = seed, rows
        self.rnd = random.Random(seed ^ 0x5EED)

    def build(self, k: int) -> None:
        """The timed set-up: generate the log and store it through the engine."""
        log = make_log(self.seed, self.n_rows, POINT_QUALIFIERS)
        raw = os.path.join(self.scratch, f"point-raw-{k}.parquet")
        write_cells_parquet(log.cells, raw)
        self.engine = Engine(self.spark, os.path.join(self.scratch, f"point-wh-{k}"), now_ms=NOW_MS)
        parts = max(1, min(8, self.n_rows // 1000))
        t = self.engine.create_table(
            TableMeta(name="orders", range_partitions=parts),
            self.spark.read.schema(CELL_SCHEMA).parquet(raw),
        )
        self.engine.save(t)
        self.log = log
        self.path = str(self.engine._path(t.meta))

    def prepare(self) -> None:
        self.model = VisibleModel(self.log.cells)

    def finish(self, run: Run) -> None:
        run.stored_bytes = _dir_bytes(self.path)
        run.user_bytes = _user_bytes(self.log.cells)
        run.sizes = {
            "cells": len(self.log.cells),
            "rows": self.n_rows,
            "version_share": round(self.log.version_share, 4),
            "tombstone_share": round(self.log.tombstone_share, 4),
            "chain_depth": CHAIN_DEPTH,
            "multi_get_keys": 10,
        }

    # ---------------------------------------------------------- helpers
    def _key(self, exclude=()) -> bytes:
        while True:
            k = key(self.rnd.randrange(self.n_rows))
            if k not in exclude:
                return k

    def stored(self) -> Table:
        return self.engine.table("orders")

    def _read(self, loop: Loop, cls: str, build, expect, check=None, plan_cls=None) -> None:
        """A read op: ``build()`` returns the DataFrame; ``expect`` is the
        expected {row: {qualifier: value}} unless ``check`` is given."""

        def fn():
            rows = collect(self.tracer, plan_cls or cls, build())
            self.tracer.count("scan.cells_returned", len(rows))
            return rows, len(rows)

        loop.time_op(cls, "read", fn, check or (lambda rows: _row_cells(rows) == expect))

    # ------------------------------------------------------------ reads
    def get(self, loop: Loop) -> None:
        k = self._key()
        cells = self.model.cells(k)
        self._read(loop, "get", lambda: self.stored().get(k), {k: cells} if cells else {})

    def get_filter(self, loop: Loop) -> None:
        k = self._key()
        dsl, want = GET_FILTERS[self.round % len(GET_FILTERS)]
        cells = want(self.model.cells(k))
        self._read(
            loop, "get_filter", lambda: self.stored().get(k, filter=dsl), {k: cells} if cells else {}
        )

    def multi_get(self, loop: Loop) -> None:
        keys = {self._key() for _ in range(10)}
        while len(keys) < 10:
            keys.add(self._key())
        want = {k: self.model.cells(k) for k in keys if self.model.cells(k)}
        self._read(loop, "multi_get", lambda: self.stored().multi_get(sorted(keys)), want)

    def exists(self, loop: Loop) -> None:
        keys = [self._key() for _ in range(4)] + [key(self.n_rows + self.rnd.randrange(100))]
        want = {k for k in keys if self.model.cells(k)}
        self._read(
            loop, "exists", lambda: self.stored().exists(keys), None,
            check=lambda rows: {bytes(r["row"]) for r in rows} == want,
        )

    def range_scan(self, loop: Loop) -> None:
        width = RANGE_WIDTHS[self.round % len(RANGE_WIDTHS)]
        start = self.rnd.randrange(max(1, self.n_rows - width))
        lo, hi = key(start), key(start + width)
        want = {
            key(i): self.model.cells(key(i))
            for i in range(start, start + width)
            if self.model.cells(key(i))
        }
        self._read(loop, "range_scan", lambda: self.stored().scan(start_row=lo, stop_row=hi), want)

    def read_after_write(self, loop: Loop) -> None:
        """A Get on the chained table for the row the last write touched."""
        k, depth = self.touched[-1], len(self.touched)
        cells = self.chain_model.cells(k)
        self._read(
            loop, "get_chain", lambda: self.chain.get(k), {k: cells} if cells else {},
            plan_cls=f"get_chain_d{depth}",
        )

    # ----------------------------------------------------------- writes
    def write(self, loop: Loop, cls: str) -> None:
        depth = len(self.touched)
        if depth == 0:
            self.chain_model = self.model.copy()
        k = self._key(exclude=self.touched)
        self.touched.append(k)
        cur = self.chain_model.cells(k)
        if cls == "cas":
            current = cur.get(b"status")
            expected = current if (current and self.rnd.random() < 0.5) else b"Z"
            new = f"S{self.rnd.randrange(10**6)}".encode()
            applied = current == expected
            muts = [("put", k, FAMILY, b"prio", None, new, FAMILY, b"status", "EQUAL", expected, 0)]

            def fn():
                base = self.chain or self.stored()
                t, verdicts = base.check_and_mutate(
                    self.spark.createDataFrame(muts, MUTATION_SCHEMA)
                )
                rows = collect(self.tracer, cls, verdicts, depth)
                self.chain = t
                return rows, 1

            def check(rows):
                self.tracer.count("mutations.cas_checked", 1)
                self.tracer.count("mutations.cas_applied", int(applied))
                return [bool(r["applied"]) for r in rows] == [applied]

            if applied:
                self.chain_model.put(k, b"prio", new)
        elif cls == "increment":
            delta = self.rnd.randrange(1, 1000)
            old = cur.get(b"cnt")
            want = (struct.unpack(">q", old)[0] if old else 0) + delta

            def fn():
                base = self.chain or self.stored()
                t, res = base.increment(
                    self.spark.createDataFrame([(k, FAMILY, b"cnt", delta)], INCREMENT_SCHEMA)
                )
                rows = collect(self.tracer, cls, res)
                self.chain = t
                return rows, 1

            def check(rows):
                return [r["new_value"] for r in rows] == [want]

            self.chain_model.put(k, b"cnt", be8(want))
        else:
            suffix = f",{self.rnd.randrange(10**6)}".encode()
            want = cur.get(b"log", b"") + suffix

            def fn():
                base = self.chain or self.stored()
                t, res = base.append(
                    self.spark.createDataFrame([(k, FAMILY, b"log", suffix, 0)], APPEND_SCHEMA)
                )
                rows = collect(self.tracer, cls, res)
                self.chain = t
                return rows, 1

            def check(rows):
                return [bytes(r["new_value"]) for r in rows] == [want]

            self.chain_model.put(k, b"log", want)
        n_failed = loop.run.failed
        loop.time_op(cls, "write", fn, check)
        if loop.run.failed != n_failed:
            self.chain, self.touched = None, []  # restart from the stored table

    def schedule(self, passes: int):
        """One pass is one round: reads on the stored table, a chain of
        CHAIN_DEPTH writes with a read of the first write's row, then a
        restart from the stored table. Rounds rotate the write pair."""
        for self.round in range(passes):
            w0, w1 = CHAIN_PAIRS[self.round % len(CHAIN_PAIRS)]
            self.chain, self.touched = None, []
            yield [
                self.get,
                self.get_filter,
                self.multi_get,
                lambda loop: self.write(loop, w0),
                lambda loop: self.read_after_write(loop) if self.touched else None,
                self.exists,
                self.range_scan,
                lambda loop: self.write(loop, w1) if self.touched else None,
            ]


# ===================================================================== bulk
BULK_QUALIFIERS = [b"status", b"mode", b"quantity", b"price", b"date", b"comment"]
SCVF_LIST = (
    "(SingleColumnValueFilter ('d', 'status', =, 'binary:F', true, true) AND "
    "SingleColumnValueFilter ('d', 'mode', =, 'substring:AI', true, true))"
)


def _checksum_df(df):
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.length("value")), F.lit(0)).alias("b"),
        F.coalesce(F.sum("ts"), F.lit(0)).alias("t"),
    )


class Bulk:
    """Execution-bound scans, aggregations and MapReduce-job analogs over a
    multi-version tombstoned log, the bulk write side (bulk load, batched
    commit, WAL replication, compaction) and the MinHash and text-statistics
    pipeline steps."""

    def __init__(self, spark, tracer, scratch: str, seed: int, rows: int, docs: int):
        self.spark, self.tracer, self.scratch = spark, tracer, scratch
        self.seed, self.n_rows, self.n_docs = seed, rows, docs
        self.rnd = random.Random(seed ^ 0xB01C)
        self.parts = max(2, min(8, rows // 2000))

    # ------------------------------------------------------------ setup
    def build(self, k: int) -> None:
        """The timed set-up: generate the log and store it through the engine."""
        log = make_log(self.seed, self.n_rows, BULK_QUALIFIERS)
        d = os.path.join(self.scratch, f"bulk-{k}")
        os.makedirs(d, exist_ok=True)
        raw = os.path.join(d, "raw.parquet")
        write_cells_parquet(log.cells, raw)
        self.engine = Engine(self.spark, os.path.join(d, "wh"), now_ms=NOW_MS)
        t = self.engine.create_table(
            TableMeta(name="lineitem", range_partitions=self.parts),
            self.spark.read.schema(CELL_SCHEMA).parquet(raw),
        )
        self.engine.save(t)
        self.engine.catalog.create_table(TableMeta(name="compacted", range_partitions=self.parts))
        self.log, self.raw, self.dir = log, raw, d

    def prepare(self) -> None:
        """Expectations and side inputs, built once after the timed set-up."""
        d, raw, cells = self.dir, self.raw, self.log.cells
        self.oracle = Oracle([raw])

        # the batched commit overlay: puts and column deletes on disjoint
        # columns, one increment per row on a fresh counter column
        ornd = random.Random(self.seed + 1)
        rows = ornd.sample(range(self.n_rows), max(10, self.n_rows // 20))
        self.puts = [(key(i), FAMILY, b"comment", NOW_MS, PUT, f"upd{i}".encode(), 0) for i in rows]
        self.dels = [(key(i), FAMILY, b"date", NOW_MS, DELETE_COLUMN, None, 0) for i in rows]
        self.incs = [(key(i), FAMILY, b"hits", NOW_MS, PUT, be8(i % 97 + 1), 0) for i in rows]
        self.after_model = VisibleModel(cells + self.puts + self.dels + self.incs)

        # WAL segments: the overlay cells, with a duplicated segment the
        # replication sink must drop within the micro-batch
        self.wal_dir = os.path.join(d, "wal")
        os.makedirs(self.wal_dir)
        segs = [self.puts, self.dels, self.incs, self.puts]
        for i, seg in enumerate(segs):
            write_cells_parquet(seg, os.path.join(self.wal_dir, f"seg-{i}.parquet"))
        self.wal_cells = {(r, q, ts, ty) for seg in segs for r, _f, q, ts, ty, _v, _s in seg}

        # wide rows for the bulk load (the kv_encoder input)
        wrnd = random.Random(self.seed + 2)
        self.wide = [
            (i, wrnd.randrange(1, 50), wrnd.randrange(100, 10**6),
             wrnd.choice(["O", "F", "P"]), "c" * wrnd.randrange(1, 30))
            for i in range(self.n_rows)
        ]
        self.wide_bytes = sum(len(str(v)) for r in self.wide for v in r[1:])

        corpus = make_corpus(self.seed, self.n_docs)
        self.corpus = corpus
        docs_path = os.path.join(d, "docs.parquet")
        write_docs_parquet(corpus.docs, docs_path)
        self.docs = self.spark.read.parquet(docs_path)
        # the near-dup stream's source: the corpus in id order, three files
        # with rising mtimes, one micro-batch each
        self.nd_src = os.path.join(d, "nd-src")
        os.makedirs(self.nd_src)
        third = -(-len(corpus.docs) // 3)
        for b in range(3):
            path = os.path.join(self.nd_src, f"b{b}.parquet")
            write_docs_parquet(corpus.docs[b * third:(b + 1) * third], path)
            os.utime(path, (1_000_000 + b, 1_000_000 + b))
        self.n_op = 0

    def finish(self, run: Run) -> None:
        self.oracle.close()
        run.stored_bytes = self.bulk_bytes or 1
        run.user_bytes = self.wide_user_bytes or 1
        run.sizes = {
            "cells": len(self.log.cells),
            "rows": self.n_rows,
            "version_share": round(self.log.version_share, 4),
            "tombstone_share": round(self.log.tombstone_share, 4),
            "docs": self.n_docs,
            "overlay_cells": len(self.puts) * 3,
        }

    def stored(self) -> Table:
        return self.engine.table("lineitem")

    def _out(self, name: str) -> str:
        self.n_op += 1
        return os.path.join(self.dir, f"{name}-{self.n_op}")

    # ------------------------------------------------------------ reads
    def _scan(self, loop: Loop, cls: str, build, where: str) -> None:
        want = self.oracle.checksum(where)

        def fn():
            rows = collect(self.tracer, cls, _checksum_df(build()))
            return rows, len(self.log.cells)

        loop.time_op(cls, "read", fn, lambda rows: (rows[0]["n"], rows[0]["b"], rows[0]["t"]) == want)
        self.tracer.count("scan.cells_returned", want[0])

    def full_scan(self, loop):
        self._scan(loop, "full_scan", lambda: self.stored().scan(), "TRUE")

    def scvf_scan(self, loop):
        self._scan(
            loop, "scvf_list_scan", lambda: self.stored().scan(filter=SCVF_LIST),
            "row IN (SELECT row FROM visible WHERE qualifier = 'status'::BLOB AND value = 'F'::BLOB) "
            "AND row IN (SELECT row FROM visible WHERE qualifier = 'mode'::BLOB "
            "AND contains(decode(value), 'AI'))",
        )

    def multi_range_scan(self, loop):
        slots = range(0, self.n_rows - 50, 50)
        starts = sorted(self.rnd.sample(slots, min(20, len(slots))))
        ranges = tuple(fast.RowRange(key(s), True, key(s + 25), False) for s in starts)
        where = " OR ".join(
            f"(row >= '{key(s).decode()}'::BLOB AND row < '{key(s + 25).decode()}'::BLOB)"
            for s in starts
        )
        self._scan(
            loop, "multi_row_range_scan",
            lambda: self.stored().scan(filter=fast.MultiRowRangeFilter(ranges=ranges)), where,
        )

    def aggregate(self, loop):
        want = self.oracle.one(
            "SELECT min(v), max(v), sum(v), count(v) FROM (SELECT CAST(decode(value) AS BIGINT) v "
            "FROM visible WHERE qualifier = 'quantity'::BLOB)"
        )

        def fn():
            df = agg.aggregate(self.stored().scan(), FAMILY, b"quantity", interpreter="long")
            return collect(self.tracer, "aggregate", df), len(self.log.cells)

        loop.time_op(
            "aggregate", "read", fn,
            lambda rows: (rows[0]["min"], rows[0]["max"], rows[0]["sum"], rows[0]["count"]) == tuple(want),
        )

    def median(self, loop):
        want = self.oracle.one(
            "SELECT median(CAST(decode(value) AS BIGINT)) FROM visible WHERE qualifier = 'price'::BLOB"
        )[0]

        def fn():
            df = agg.median(self.stored().scan(), FAMILY, b"price", interpreter="long")
            return collect(self.tracer, "median", df), len(self.log.cells)

        loop.time_op("median", "read", fn, lambda rows: abs(float(rows[0][0]) - float(want)) < 1e-6)

    def row_counter(self, loop):
        want = self.oracle.one("SELECT count(DISTINCT row) FROM visible")[0]

        def fn():
            df = jobs.row_counter(self.stored().cells)
            return collect(self.tracer, "row_counter", df), len(self.log.cells)

        loop.time_op("row_counter", "read", fn, lambda rows: rows[0]["rows"] == want)

    def sync_table(self, loop):
        """Diff the log against a copy missing some rows: the repair is a
        put for every visible cell of those rows."""
        lo = self.rnd.randrange(self.n_rows - 20)
        gone = [key(i) for i in range(lo, lo + 20)]
        want = self.oracle.checksum(
            f"row >= '{gone[0].decode()}'::BLOB AND row <= '{gone[-1].decode()}'::BLOB"
        )[0]

        def fn():
            src = self.stored().cells
            target = src.where(~F.col("row").isin(gone))
            df = jobs.sync_table(src, target).groupBy("op").count()
            return collect(self.tracer, "sync_table", df), 2 * len(self.log.cells)

        loop.time_op(
            "sync_table", "read", fn, lambda rows: {r["op"]: r["count"] for r in rows} == {"put": want}
        )

    def minhash(self, loop):
        # unrelated documents of random words are far below the threshold,
        # so the qualifying pairs are exactly those of identical texts
        by_text: dict[str, list[int]] = {}
        for i, t, _s in self.corpus.docs:
            by_text.setdefault(t, []).append(i)
        want = sorted(
            (a, b) for ids in by_text.values() for a in ids for b in ids if a < b
        )

        def fn():
            df = dedup.minhash_dedup_pairs(self.docs, threshold=0.5)
            with self.tracer.span("pipeline.minhash"):
                rows = collect(self.tracer, "minhash", df)
            return rows, self.n_docs

        def check(rows):
            return sorted((r["id_a"], r["id_b"]) for r in rows) == want

        loop.time_op("minhash", "read", fn, check)

    def neardup_stream(self, loop):
        """The streaming near-dup filter: three micro-batches with the
        band store. Identical texts share every signature and band, so
        whatever the estimator, at most one copy of a text may survive;
        that is checked. Distinct texts that lose every copy are counted
        as ``pipeline.neardup_kills`` (0 on a correct estimator)."""
        out, store, bands, ckpt = (self._out(n) for n in ("nd-out", "nd-store", "nd-bands", "nd-ckpt"))
        docs = {i: t for i, t, _s in self.corpus.docs}

        def fn():
            q = wal.neardup_ingest_stream(
                self.spark, self.nd_src, out_dir=out, store_dir=store, checkpoint_dir=ckpt,
                schema=DOC_SCHEMA, threshold=0.8, max_files_per_trigger=1, band_store_dir=bands,
            )
            with self.tracer.span("pipeline.neardup"), self.tracer.span("exec"):
                q.awaitTermination()
            self._progress(q)
            return out, self.n_docs

        def check(path):
            kept = [(r["doc_id"], r["text"]) for r in _pq_rows(path)]
            texts = {t for _i, t in kept}
            self.tracer.count("pipeline.neardup_kills", len(set(docs.values()) - texts))
            return (
                len(kept) > 0
                and len(texts) == len(kept)
                and all(docs.get(i) == t for i, t in kept)
            )

        loop.time_op("neardup_stream", "write", fn, check)

    def text_stats(self, loop):
        def fn():
            df = text.text_stats(self.docs).agg(
                F.sum("n_tokens").alias("tok"), F.sum("n_chars_computed").alias("chars")
            )
            with self.tracer.span("pipeline.text"):
                rows = collect(self.tracer, "text_stats", df)
            return rows, self.n_docs

        loop.time_op(
            "text_stats", "read", fn,
            lambda rows: (rows[0]["tok"], rows[0]["chars"]) == (self.corpus.tokens(), self.corpus.chars()),
        )

    # ----------------------------------------------------------- writes
    def bulk_load(self, loop):
        """Bulk load through kv_encoder and the writer, input arriving in
        hash order so the writer's range partitioner does real work."""
        cls = "bulk_load"
        out = self._out(cls)
        schema = "l_key long, l_qty long, l_price long, l_status string, l_comment string"

        def fn():
            wide = self.spark.createDataFrame(self.wide, schema).repartition(
                self.parts, F.col("l_status")
            )
            cells = kv_encoder.table_to_cells(wide, ["l_key"], ["l_qty", "l_price", "l_status", "l_comment"])
            with self.tracer.span("exec"):
                writer.write_cells(cells, out, num_partitions=self.parts)
            return out, 4 * self.n_rows

        def check(path):
            rows = _pq_rows(path)
            self.bulk_bytes = _dir_bytes(path)
            self.wide_user_bytes = self.wide_bytes + sum(len(r["row"]) + len(r["qualifier"]) for r in rows)
            self.tracer.count("writer.bytes_written", self.bulk_bytes)
            self.tracer.count("writer.files_written", len(glob.glob(os.path.join(path, "*.parquet"))))
            return (
                len(rows) == 4 * self.n_rows
                and sum(len(r["value"]) for r in rows) == self.wide_bytes
                and [r["row"] for r in rows] == sorted(r["row"] for r in rows)
            )

        loop.time_op(cls, "write", fn, check)

    def save_batch(self, loop):
        """Batched puts, deletes and increments committed with Engine.save."""
        name = os.path.basename(self._out("ingest"))
        puts, dels = self.puts, self.dels
        incs = [(r, f, q, struct.unpack(">q", v)[0]) for r, f, q, _ts, _t, v, _s in self.incs]

        def fn():
            base = self.stored()
            t = Table(replace(base.meta, name=name), base.cells, NOW_MS)
            t = t.put(self.spark.createDataFrame(puts, CELL_SCHEMA))
            t = t.delete(
                self.spark.createDataFrame(
                    [("delete_column", r, f, q, None) for r, f, q, *_ in dels],
                    "op string, row binary, family string, qualifier binary, ts long",
                )
            )
            t, _res = t.increment(self.spark.createDataFrame(incs, INCREMENT_SCHEMA))
            saved = self.engine.save(t)
            self.ingested = saved
            return str(self.engine._path(saved.meta)), len(puts) + len(dels) + len(incs)

        def check(path):
            got = VisibleModel([tuple(r.values()) for r in _pq_rows(path)])
            return got.rows == self.after_model.rows

        loop.time_op("save_batch", "write", fn, check)

    def _progress(self, query) -> None:
        for p in query.recentProgress:
            d = p.durationMs or {}
            self.tracer.count("streaming.batches", 1)
            self.tracer.count("streaming.trigger_ms", d.get("triggerExecution", 0))
            self.tracer.count("streaming.add_batch_ms", d.get("addBatch", 0))

    def replicate(self, loop):
        peer, ckpt = self._out("peer"), self._out("ckpt")

        def fn():
            stream = wal.mutation_stream(self.spark, self.wal_dir)
            q = wal.replicate(
                stream,
                lambda b, _i: b.write.mode("append").parquet(peer),
                checkpoint_dir=ckpt,
            ).start()
            with self.tracer.span("exec"):
                q.awaitTermination()
            self._progress(q)
            return peer, len(self.wal_cells)

        def check(path):
            rows = _pq_rows(path)
            return (
                len(rows) == len(self.wal_cells)
                and {(r["row"], r["qualifier"], r["ts"], r["type"]) for r in rows} == self.wal_cells
            )

        loop.time_op("replicate", "write", fn, check)

    def compact(self, loop):
        base = getattr(self, "ingested", None)
        want = self.after_model if base else VisibleModel(self.log.cells)

        def fn():
            meta = self.engine.catalog.describe("compacted")
            out = self.engine.compact_table(Table(meta, (base or self.stored()).cells, NOW_MS))
            path = str(self.engine._path(out.meta))
            self.tracer.count("engine.compact_bytes_rewritten", _dir_bytes(path))
            return path, len(self.log.cells)

        def check(path):
            rows = _pq_rows(path)
            got = VisibleModel([tuple(r.values()) for r in rows])
            return len(rows) == sum(len(c) for c in want.rows.values()) and got.rows == want.rows

        loop.time_op("compact", "write", fn, check)

    def schedule(self, passes: int):
        """One pass is the whole fixed sequence of bulk steps."""
        self.bulk_bytes = self.wide_user_bytes = 0
        steps = [
            self.full_scan, self.bulk_load, self.scvf_scan, self.save_batch,
            self.multi_range_scan, self.aggregate, self.median, self.row_counter,
            self.replicate, self.sync_table, self.compact, self.minhash, self.neardup_stream,
            self.text_stats,
        ]
        for _ in range(passes):
            yield steps
