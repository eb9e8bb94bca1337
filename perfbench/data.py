"""Seeded inputs and engine-independent expectations.

Everything here is plain Python, pyarrow and DuckDB: the expected answers
are computed without the engine, from the same generated cells the engine
is given.
"""

from __future__ import annotations

import random
import re
import struct
from dataclasses import dataclass

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

# KeyValue.Type codes (the engine's cells.py uses the same numbers)
PUT, DELETE_COLUMN, DELETE_FAMILY = 4, 12, 14
FAMILY = "d"
NOW_MS = 9_000_000
WORD_RE = re.compile(r"[A-Za-z0-9]+")

CELL_ARROW = pa.schema(
    [
        pa.field("row", pa.binary(), False),
        pa.field("family", pa.string(), False),
        pa.field("qualifier", pa.binary()),
        pa.field("ts", pa.int64(), False),
        pa.field("type", pa.int32(), False),
        pa.field("value", pa.binary()),
        pa.field("seq", pa.int64(), False),
    ]
)


def key(i: int) -> bytes:
    return f"{i:08d}".encode()


def be8(n: int) -> bytes:
    return struct.pack(">q", n)


def write_cells_parquet(cells: list[tuple], path: str) -> None:
    cols = list(zip(*cells))
    pq.write_table(
        pa.table([pa.array(c, f.type) for c, f in zip(cols, CELL_ARROW)], schema=CELL_ARROW),
        path,
    )


# --------------------------------------------------------------- cell logs
@dataclass
class CellLog:
    """A generated multi-version, tombstoned cell log."""

    cells: list[tuple]
    n_rows: int
    #: shares of the log, for the workload records
    version_share: float = 0.0
    tombstone_share: float = 0.0


def _value(rnd: random.Random, q: bytes, version: int) -> bytes:
    if q == b"status":
        return rnd.choice((b"O", b"F", b"P"))
    if q == b"mode":
        return rnd.choice((b"AIR", b"RAIL", b"SHIP", b"TRUCK", b"MAIL"))
    if q in (b"quantity", b"price"):
        return str(rnd.randrange(1, 100_000) * (version + 1)).encode()
    if q == b"cnt":
        return be8(rnd.randrange(0, 1000))
    # text values: version-dependent length, so a wrong version shows in
    # the length checksum as well as in the ts checksum
    return ("x" * (version + 1) + f"{q.decode()}-{rnd.randrange(10**9)}").encode()


def make_log(
    seed: int,
    n_rows: int,
    qualifiers: list[bytes],
    *,
    p_version: float = 0.3,
    p_delete_column: float = 0.05,
    p_delete_family: float = 0.02,
) -> CellLog:
    """Base puts at ts 1000, second versions at ts 2000, column tombstones
    at ts 2500 (mask both versions) and family tombstones at ts 1500 (mask
    base versions only)."""
    rnd = random.Random(seed)
    cells: list[tuple] = []
    versions = tombstones = 0
    for i in range(n_rows):
        row = key(i)
        if rnd.random() < p_delete_family:
            cells.append((row, FAMILY, None, 1500, DELETE_FAMILY, None, 0))
            tombstones += 1
        for q in qualifiers:
            cells.append((row, FAMILY, q, 1000, PUT, _value(rnd, q, 0), 0))
            if rnd.random() < p_version:
                cells.append((row, FAMILY, q, 2000, PUT, _value(rnd, q, 1), 0))
                versions += 1
            if rnd.random() < p_delete_column:
                cells.append((row, FAMILY, q, 2500, DELETE_COLUMN, None, 0))
                tombstones += 1
    n = len(cells)
    return CellLog(cells, n_rows, versions / n, tombstones / n)


class VisibleModel:
    """Python read view of a cell log: newest put per column not masked by
    a column tombstone (ts <= marker) or family tombstone (ts <= marker)."""

    def __init__(self, cells: list[tuple]):
        self.rows: dict[bytes, dict[bytes, tuple[int, bytes]]] = {}
        col_del: dict[tuple[bytes, bytes], int] = {}
        fam_del: dict[bytes, int] = {}
        for row, _f, q, ts, typ, value, _s in cells:
            if typ == PUT:
                cur = self.rows.setdefault(row, {}).get(q)
                if cur is None or ts > cur[0]:
                    self.rows[row][q] = (ts, value)
            elif typ == DELETE_COLUMN:
                col_del[(row, q)] = max(ts, col_del.get((row, q), ts))
            elif typ == DELETE_FAMILY:
                fam_del[row] = max(ts, fam_del.get(row, ts))
        for row, cols in self.rows.items():
            for q in list(cols):
                ts = cols[q][0]
                if ts <= col_del.get((row, q), -1) or ts <= fam_del.get(row, -1):
                    del cols[q]
        self.rows = {r: c for r, c in self.rows.items() if c}

    def cells(self, row: bytes) -> dict[bytes, bytes]:
        return {q: v for q, (_ts, v) in self.rows.get(row, {}).items()}

    def put(self, row: bytes, q: bytes, value: bytes) -> None:
        self.rows.setdefault(row, {})[q] = (NOW_MS, value)

    def copy(self) -> "VisibleModel":
        out = VisibleModel.__new__(VisibleModel)
        out.rows = {r: dict(c) for r, c in self.rows.items()}
        return out


# --------------------------------------------------------- DuckDB oracles
_VISIBLE_SQL = """
WITH c AS (SELECT * FROM read_parquet({paths})),
col_del AS (SELECT row, qualifier, max(ts) AS dts FROM c WHERE type = 12 GROUP BY ALL),
fam_del AS (SELECT row, max(ts) AS fts FROM c WHERE type = 14 GROUP BY ALL),
newest AS (
  SELECT * FROM c WHERE type = 4
  QUALIFY row_number() OVER (PARTITION BY row, qualifier ORDER BY ts DESC, seq DESC) = 1)
SELECT n.* FROM newest n
LEFT JOIN col_del USING (row, qualifier) LEFT JOIN fam_del USING (row)
WHERE n.ts > coalesce(dts, -1) AND n.ts > coalesce(fts, -1)
"""


class Oracle:
    """DuckDB over the generated parquet files: the expected visible view
    and the checksums the bulk workload compares against."""

    def __init__(self, paths: list[str]):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 1")
        self.con.execute(
            "CREATE TABLE visible AS " + _VISIBLE_SQL.format(paths=paths)
        )

    def one(self, sql: str):
        return self.con.execute(sql).fetchone()

    def checksum(self, where: str = "TRUE") -> tuple[int, int, int]:
        """(cells, value bytes, ts sum) of the visible cells matching ``where``."""
        r = self.one(
            "SELECT count(*), coalesce(sum(octet_length(value)), 0), "
            f"coalesce(sum(ts), 0) FROM visible WHERE {where}"
        )
        return tuple(int(x) for x in r)

    def close(self) -> None:
        self.con.close()


# -------------------------------------------------------------- documents
@dataclass
class Corpus:
    docs: list[tuple[int, str, str]]

    def tokens(self) -> int:
        return sum(len(WORD_RE.findall(t)) for _i, t, _s in self.docs)

    def chars(self) -> int:
        return sum(len(t) for _i, t, _s in self.docs)


def make_corpus(seed: int, n_docs: int, dup_share: float = 0.1) -> Corpus:
    rnd = random.Random(seed)
    vocab = [
        "".join(rnd.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rnd.randrange(3, 9)))
        for _ in range(2000)
    ]
    n_orig = int(n_docs / (1 + dup_share))
    docs = [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(40, 120))), "web")
        for i in range(n_orig)
    ]
    for j in range(n_docs - n_orig):
        src = rnd.randrange(n_orig)
        docs.append((n_orig + j, docs[src][1], "dup"))
    return Corpus(docs)


def write_docs_parquet(docs: list[tuple[int, str, str]], path: str) -> None:
    ids, texts, sources = zip(*docs)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "source": pa.array(sources, pa.string()),
            }
        ),
        path,
    )
