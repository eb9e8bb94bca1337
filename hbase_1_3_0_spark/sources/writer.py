"""Cell-log writer: the bulk-load physical layout.

Reference: HFileOutputFormat2 + LoadIncrementalHFiles bulk load
(HFileOutputFormat2.java:93, LoadIncrementalHFiles.java:114) total-order
partitions and sorts cells before writing; Spark's
``repartitionByRange('row')`` IS total-order partitioning
(SimpleTotalOrderPartitioner analog), and ``sortWithinPartitions`` gives
each file the KVComparator order so parquet min/max stats on ``row``/``ts``
reproduce HFile key-range + timerange pruning (StoreFile.passesKeyRangeFilter
:1478, TimeRangeTracker.java:46). Parquet bloom filter on ``row`` = the ROW
bloom (StoreFile.passesGeneralBloomFilter:1378).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hbase_1_3_0_spark.cells import CELL_SCHEMA
from hbase_1_3_0_spark.operators.mutations import TAG_COLUMNS

#: the file in a log directory that names the cell-tag columns the log's
#: parquet files hold, with their types (a leading ``_``: the parquet
#: reader skips it). A log without tags has none.
TAGS_FILE = "_cell_tags.json"


def hex_string_split(n: int) -> list[bytes]:
    """RegionSplitter.HexStringSplit (RegionSplitter.java:117): n-1 split
    points dividing the 8-hex-digit key space ["00000000", "FFFFFFFF")
    evenly; boundaries are ASCII hex strings, so they sort correctly
    against hex-encoded row keys."""
    if n < 2:
        return []
    space = 1 << 32
    return [
        format(space * i // n, "08x").encode("ascii") for i in range(1, n)
    ]


def uniform_split(n: int, *, key_len: int = 8) -> list[bytes]:
    """RegionSplitter.UniformSplit (RegionSplitter.java:662): n-1 raw-byte
    split points evenly spaced over the ``key_len``-byte unsigned key
    space — for keys that are themselves uniform bytes (hashes)."""
    if n < 2:
        return []
    space = 1 << (8 * key_len)
    return [
        (space * i // n).to_bytes(key_len, "big") for i in range(1, n)
    ]


def write_cells(
    cells: DataFrame,
    path: str | Path,
    *,
    num_partitions: int | None = None,
    split_points: list[bytes] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bulk-load writer. ``split_points`` pins explicit region boundaries
    (the pre-split table / RegionSplitter path — LoadIncrementalHFiles
    splits HFiles at existing region boundaries, :114): cells are bucketed
    by binary-search over the boundary list (a pure map: one codegen'd
    fold over a literal array) and range-partitioned on (bucket, row), so
    output files never straddle a declared boundary. Without
    ``split_points`` Spark's sampled range partitioner picks boundaries
    from the data (SimpleTotalOrderPartitioner analog)."""
    df = cells
    writer_part_cols: list[str] = []
    if split_points:
        # one DIRECTORY per region (region=NNN), the exact analog of the
        # region layout: a file can never straddle a declared boundary.
        # The bucket id is a codegen'd fold over the literal boundary
        # array (binary unsigned compare, same as Bytes.compareTo).
        bounds = F.array(*[F.lit(b) for b in sorted(split_points)])
        bucket = F.aggregate(
            bounds,
            F.lit(0),
            lambda acc, b: acc + F.when(F.col("row") >= b, 1).otherwise(0),
        )
        df = df.withColumn("region", bucket).repartitionByRange(
            len(split_points) + 1, "region", "row"
        )
        writer_part_cols = ["region"]
    elif num_partitions:
        df = df.repartitionByRange(num_partitions, "row")
    else:
        df = df.repartitionByRange("row")
    df = df.sortWithinPartitions(
        F.col("row").asc(),
        F.col("family").asc(),
        F.col("qualifier").asc(),
        F.col("ts").desc(),
        F.col("seq").desc(),
    )
    w = (
        df.write.mode(mode)
        .option("parquet.bloom.filter.enabled#row", "true")
        .option("parquet.bloom.filter.expected.ndv#row", "1000000")
    )
    if writer_part_cols:
        w = w.partitionBy(*writer_part_cols)
    w.parquet(str(path))
    _record_tags(cells, path, mode)


def _tag_fields(path: str | Path) -> list[T.StructField]:
    f = Path(path) / TAGS_FILE
    return T.StructType.fromJson(json.loads(f.read_text())).fields if f.exists() else []


def _record_tags(cells: DataFrame, path: str | Path, mode: str) -> None:
    """Name the log's tag columns (:data:`TAGS_FILE`), so that
    :func:`read_cells` reads them back without inferring the schema: a
    cell's TTL, visibility and ACL tags must survive a save."""
    tags = {f.name: f for f in cells.schema.fields if f.name in TAG_COLUMNS}
    if mode == "append":
        tags = {f.name: f for f in _tag_fields(path)} | tags
    if tags:
        (Path(path) / TAGS_FILE).write_text(T.StructType(list(tags.values())).json())
    else:
        (Path(path) / TAGS_FILE).unlink(missing_ok=True)


def write_cells_bucketed(
    cells: DataFrame,
    table_name: str,
    *,
    num_buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Co-located cell-log layout for diff/sync workloads: bucket AND
    sort by the (row, family, qualifier) cell identity via the catalog
    writer. Two tables written this way full-outer join with ZERO
    exchanges (measured: the HashTable/SyncTable diff plans shuffle-free
    — at 100 TB that's the entire diff cost gone except the scan), at
    the price of a metastore entry and a fixed bucket count.

    Bucketing on `row` alone does NOT qualify: Spark only elides the
    join exchange when the bucket spec covers the join keys exactly.
    The range-partitioned path layout (:func:`write_cells`) remains the
    default — bucketed layout is for tables whose dominant workload is
    keyed diffs/joins rather than row-range scans."""
    (
        cells.write.mode(mode)
        .bucketBy(num_buckets, "row", "family", "qualifier")
        .sortBy("row", "family", "qualifier")
        .saveAsTable(table_name)
    )


def read_cells(spark: SparkSession, path: str | Path) -> DataFrame:
    """Read a cell log with the declared CELL_SCHEMA enforced, plus the
    cell-tag columns its :data:`TAGS_FILE` names.

    One explicit-schema read serves both layouts — no inference pass, so
    schema drift in rewritten logs can't leak into downstream plans and
    an empty log directory reads as 0 rows instead of throwing. For the
    pre-split (region=NNN partitioned) layout Spark appends the
    partition-discovery column after the declared schema; the select
    drops it."""
    schema = T.StructType(CELL_SCHEMA.fields + _tag_fields(path))
    df = spark.read.schema(schema).parquet(str(path))
    return df.select(*schema.fieldNames())
