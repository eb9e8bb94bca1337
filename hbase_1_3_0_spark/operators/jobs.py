"""Batch analytics jobs — the MapReduce surface re-expressed (SURVEY.md §2.4).

Each reference job collapses to a short declarative pipeline; region-count
parallelism (TableInputFormat: one split per region, TableInputFormat.java:49)
is replaced by Spark's file-split parallelism over the range-partitioned
parquet cell log.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hbase_1_3_0_spark.cells import CELL_COLUMNS, CELL_SCHEMA, TTL_FOREVER, TYPE_PUT
from hbase_1_3_0_spark.operators.read_view import (
    clock,
    limit_versions,
    mask_deletes,
    read_view,
    retain,
    ttl_floor,
)
from hbase_1_3_0_spark.sources import kv_encoder, writer


def row_counter(
    cells: DataFrame,
    *,
    start_row: bytes | None = None,
    stop_row: bytes | None = None,
) -> DataFrame:
    """RowCounter (RowCounter.java:44): count distinct visible rows; uses the
    FirstKeyOnly idea (:153) — here countDistinct, partial-aggregated."""
    df = cells
    if start_row is not None:
        df = df.where(F.col("row") >= F.lit(start_row))
    if stop_row is not None:
        df = df.where(F.col("row") < F.lit(stop_row))
    visible = read_view(df, max_versions=1)
    return visible.select(F.countDistinct("row").alias("rows"))


def cell_counter(cells: DataFrame) -> DataFrame:
    """CellCounter (CellCounter.java:72, counters at :142-172): per
    (family, qualifier) cell + version counts over the raw log."""
    return (
        cells.where(F.col("type") == TYPE_PUT)
        .groupBy("family", F.decode(F.col("qualifier"), "UTF-8").alias("qualifier"))
        .agg(
            F.count(F.lit(1)).alias("cells"),
            F.countDistinct("row").alias("rows"),
            F.countDistinct("row", "ts").alias("versions"),
        )
    )


def export_filter(criteria: str):
    """Export's CLI filter dispatch (Export.java getExportFilter, :133):
    ``^pattern`` builds RowFilter(EQUAL, RegexStringComparator), any
    other string is a row-key PrefixFilter — byte-for-byte the
    reference's two cases."""
    from hbase_1_3_0_spark.filters import ast as fast

    if criteria.startswith("^"):
        return fast.RowFilter(
            op=fast.CompareOp.EQUAL,
            comparator=fast.RegexStringComparator(criteria[1:]),
        )
    return fast.PrefixFilter(prefix=criteria.encode("utf-8"))


def export_table(
    cells: DataFrame,
    path: str | Path,
    *,
    max_versions: int = 1,
    time_range: tuple[int, int] | None = None,
    raw: bool = False,
    filter=None,
) -> None:
    """Export (Export.java:52): dump visible cells (versions/timerange args)
    as range-partitioned parquet.

    ``filter`` mirrors Export's optional scan filter (Export.java:117
    ``s.setFilter(exportFilter)``): a filter AST node, a ParseFilter
    DSL string, or an Export CLI criteria string via
    :func:`export_filter`. Applied after the read view, the same
    scan-side order Table.getScanner uses (table.py:184,207)."""
    out = read_view(cells, max_versions=max_versions, time_range=time_range, raw=raw)
    if filter is not None:
        from hbase_1_3_0_spark.filters.compiler import apply_filter
        from hbase_1_3_0_spark.filters.parser import parse_filter

        if isinstance(filter, str):
            filter = parse_filter(filter)
        out = apply_filter(out, filter)
    writer.write_cells(out, path)


def import_table(
    spark: SparkSession, path: str | Path, *, filter=None
) -> DataFrame:
    """Import (Import.java:85): read an export back as a cell log.

    ``filter`` mirrors Import's -Dimport.filter.class arg: a filter AST node
    or ParseFilter DSL string applied to the imported cells."""
    cells = writer.read_cells(spark, path)
    if filter is not None:
        from hbase_1_3_0_spark.filters.compiler import apply_filter
        from hbase_1_3_0_spark.filters.parser import parse_filter

        if isinstance(filter, str):
            filter = parse_filter(filter)
        cells = apply_filter(cells, filter)
    return cells


def import_tsv(
    spark: SparkSession,
    path: str | Path,
    columns: list[str],
    *,
    family: str = "d",
    sep: str = "\t",
    ts: int = kv_encoder.DEFAULT_TS,
) -> DataFrame:
    """ImportTsv (ImportTsv.java:79): parse TSV/CSV into Put cells.

    ``columns`` mirrors the -Dimporttsv.columns spec: entries are qualifier
    names, with 'HBASE_ROW_KEY' marking the row-key column (composite keys:
    repeat HBASE_ROW_KEY for each key part)."""
    names = [
        f"_k{i}" if c == "HBASE_ROW_KEY" else c for i, c in enumerate(columns)
    ]
    schema = T.StructType([T.StructField(n, T.StringType()) for n in names])
    df = spark.read.csv(str(path), sep=sep, schema=schema)
    key_cols = [n for n in names if n.startswith("_k")]
    value_cols = [n for n in names if not n.startswith("_k")]
    return kv_encoder.table_to_cells(
        df, key_cols, value_cols, family=family, ts=ts
    )


def copy_table(
    cells: DataFrame,
    *,
    start_row: bytes | None = None,
    stop_row: bytes | None = None,
    time_range: tuple[int, int] | None = None,
    rename_family: dict[str, str] | None = None,
) -> DataFrame:
    """CopyTable (CopyTable.java:55): range/timerange slice with optional CF
    rename — read -> transform -> (caller writes)."""
    df = cells
    if start_row is not None:
        df = df.where(F.col("row") >= F.lit(start_row))
    if stop_row is not None:
        df = df.where(F.col("row") < F.lit(stop_row))
    if time_range is not None:
        df = df.where(
            (F.col("ts") >= time_range[0]) & (F.col("ts") < time_range[1])
        )
    if rename_family:
        mapping = F.create_map(
            *[x for k, v in rename_family.items() for x in (F.lit(k), F.lit(v))]
        )
        df = df.withColumn(
            "family", F.coalesce(mapping[F.col("family")], F.col("family"))
        )
    return df.select(*CELL_COLUMNS)


def _md5_long(col) -> "F.Column":
    """First 60 bits of md5 as a positive BIGINT — portable across engines
    (any SQL engine with md5 + hex parsing reproduces it exactly)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _hash_bucket(num_buckets: int) -> "F.Column":
    """Row -> bucket id, md5-derived (HashTable's row ranges)."""
    h = F.conv(
        F.substring(F.md5(F.encode(F.hex(F.col("row")), "UTF-8")), 1, 8), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(num_buckets))


def hash_table(cells: DataFrame, *, num_buckets: int = 1024) -> DataFrame:
    """HashTable (HashTable.java:64): partition-wise content hashes.

    Buckets rows by key hash and xors cell hashes within the bucket — an
    order-independent bucket digest, so two tables can be diffed by comparing
    ~num_buckets rows instead of the full data. The per-cell hash is a
    60-bit md5 of a canonical hex serialization (HashTable.java uses MD5
    batch hashes too); md5 + bit_xor is commutative, exact, and reproducible
    by any SQL engine, which keeps the digests oracle-checkable."""
    visible = read_view(cells, max_versions=1)
    cell_str = F.concat_ws(
        "|",
        F.hex(F.col("row")),
        F.col("family"),
        F.hex(F.col("qualifier")),
        F.col("ts").cast("string"),
        F.coalesce(F.hex(F.col("value")), F.lit("")),
    )
    return (
        visible.select(
            _hash_bucket(num_buckets).alias("bucket"),
            _md5_long(F.encode(cell_str, "UTF-8")).alias("h"),
        )
        .groupBy("bucket")
        .agg(F.bit_xor("h").alias("digest"), F.count(F.lit(1)).alias("cells"))
    )


def sync_table(source: DataFrame, target: DataFrame) -> DataFrame:
    """SyncTable (SyncTable.java:56): compute the mutation stream that makes
    ``target`` identical to ``source`` — a distributed diff/merge.

    Full-outer join of the two read views on (row,family,qualifier), diffing
    on BOTH value and timestamp (the reference's range hash covers
    timestamps): source-only or value/ts-mismatched -> put at the source ts;
    target-only -> delete_column; and when the mismatched target column has
    versions NEWER than the source cell, a delete_version for EVERY surviving
    target version with ts > s_ts accompanies the put (SyncTable.syncRowCells
    emits one exact-version delete per spurious target cell) — deleting only
    the visible newest would expose the next-newest hidden version and the
    repair would not converge.

    The reference's HashTable digest prefilter (diff only the ranges whose
    digests differ) is not applied: measured on dense and sparse diffs
    (SYNC_PROBE_r14.json) it cost more than the direct join every time."""
    s = read_view(source, max_versions=1).select(
        "row", "family", "qualifier",
        F.col("ts").alias("s_ts"), F.col("value").alias("s_value"),
    )
    # one pass over the surviving target puts: visible newest cell AND the
    # full surviving-version ts set per column (partial-aggregatable groupBy,
    # no window sort; version counts per column are small by design)
    t = (
        mask_deletes(target)
        .groupBy("row", "family", "qualifier")
        .agg(
            F.max_by(
                F.struct("ts", "value"), F.struct(F.col("ts"), F.col("seq"))
            ).alias("_vis"),
            F.collect_set("ts").alias("_t_all_ts"),
        )
        .select(
            "row", "family", "qualifier",
            F.col("_vis.ts").alias("t_ts"),
            F.col("_vis.value").alias("t_value"),
            "_t_all_ts",
        )
    )
    joined = s.join(t, ["row", "family", "qualifier"], "full_outer")
    diff = joined.where(
        F.col("s_ts").isNull()
        | F.col("t_ts").isNull()
        | (F.col("s_value") != F.col("t_value"))
        | (F.col("s_ts") != F.col("t_ts"))
    )
    # one pass over the diff (a 3-way union of filters would re-execute the
    # full-outer join once per branch): build the 0-2 mutations per cell as
    # an array of structs and explode
    nothing = F.lit(None).cast(
        "struct<op:string, value:binary, ts:bigint>"
    )
    put_m = F.when(
        F.col("s_ts").isNotNull(),
        F.struct(
            F.lit("put").alias("op"),
            F.col("s_value").alias("value"),
            F.col("s_ts").alias("ts"),
        ),
    ).otherwise(nothing)
    del_col_m = F.when(
        F.col("s_ts").isNull(),
        F.struct(
            F.lit("delete_column").alias("op"),
            F.lit(None).cast("binary").alias("value"),
            F.col("t_ts").alias("ts"),
        ),
    ).otherwise(nothing)
    # one delete_version per surviving target version newer than the source
    # cell — not just the visible newest (deleting only t_ts would expose
    # the next hidden version and never converge)
    del_ver_arr = F.when(
        F.col("s_ts").isNotNull()
        & F.col("t_ts").isNotNull()
        & (F.col("t_ts") > F.col("s_ts")),
        F.transform(
            F.filter(F.col("_t_all_ts"), lambda x: x > F.col("s_ts")),
            lambda ts: F.struct(
                F.lit("delete_version").alias("op"),
                F.lit(None).cast("binary").alias("value"),
                ts.alias("ts"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<op:string, value:binary, ts:bigint>>")
    )
    return diff.select(
        "row",
        "family",
        "qualifier",
        F.explode(
            F.array_compact(
                F.concat(F.array(put_m, del_col_m), del_ver_arr)
            )
        ).alias("_m"),
    ).select(
        "row",
        "family",
        "qualifier",
        F.col("_m.op").alias("op"),
        F.col("_m.value").alias("value"),
        F.col("_m.ts").alias("ts"),
    )


def wal_player(
    spark: SparkSession, wal_dir: str | Path, cells: DataFrame
) -> DataFrame:
    """WALPlayer (hbase-server/.../mapreduce/WALPlayer.java): replay WAL
    segment files into an existing table's cell log.

    Edits are mutation-typed cells (puts AND tombstones — WALPlayer replays
    deletes too); replay is idempotent on the cell identity
    ``(row, family, qualifier, ts, type, seq)``: edits already present in
    the log are skipped, so replaying a segment twice (at-least-once WAL
    shipping) is a no-op. The anti-join's small side is the WAL batch, so
    the table log is never shuffled."""
    edits = spark.read.schema(CELL_SCHEMA).parquet(str(wal_dir))
    identity = ["row", "family", "qualifier", "ts", "type", "seq"]
    dedup = edits.dropDuplicates(identity)
    # prune the log to the touched rows first (broadcast semi-join; row
    # predicate reaches the parquet scan) so the identity anti-join's right
    # side is tiny — the table log itself is never shuffled
    touched = cells.join(
        F.broadcast(dedup.select("row").distinct()), "row", "left_semi"
    ).select(*identity)
    cond = None
    for c in identity:
        eq = dedup[c].eqNullSafe(touched[c])
        cond = eq if cond is None else (cond & eq)
    fresh = dedup.join(touched, cond, "left_anti")
    return cells.unionByName(fresh.select(*CELL_COLUMNS))


def verify_replication(source: DataFrame, target: DataFrame) -> DataFrame:
    """VerifyReplication (hbase-server/.../replication/VerifyReplication.java):
    compare a table against its replica and report the job counters —
    GOODROWS plus the BADROWS breakdown (ONLY_IN_SOURCE / ONLY_IN_TARGET /
    CONTENT_DIFFERENT), one summary row.

    Per-cell full-outer join of the two read views, then one per-row
    aggregation classifies each row; both shuffles key on ``row`` so the
    classification aggregation reuses the join's partitioning."""
    s = read_view(source, max_versions=1).select(
        "row", "family", "qualifier",
        F.col("ts").alias("s_ts"), F.col("value").alias("s_value"),
    )
    t = read_view(target, max_versions=1).select(
        "row", "family", "qualifier",
        F.col("ts").alias("t_ts"), F.col("value").alias("t_value"),
    )
    cellwise = s.join(t, ["row", "family", "qualifier"], "full_outer").select(
        "row",
        F.col("s_ts").isNotNull().alias("in_s"),
        F.col("t_ts").isNotNull().alias("in_t"),
        (
            F.col("s_ts").isNotNull()
            & F.col("t_ts").isNotNull()
            & ((F.col("s_value") != F.col("t_value")) | (F.col("s_ts") != F.col("t_ts")))
        ).alias("mismatch"),
    )
    rows = cellwise.groupBy("row").agg(
        F.max(F.col("in_s").cast("int")).alias("any_s"),
        F.min(F.col("in_s").cast("int")).alias("all_s"),
        F.max(F.col("in_t").cast("int")).alias("any_t"),
        F.min(F.col("in_t").cast("int")).alias("all_t"),
        F.max(F.col("mismatch").cast("int")).alias("any_mismatch"),
    )
    verdict = (
        F.when(F.col("any_t") == 0, F.lit("only_in_source"))
        .when(F.col("any_s") == 0, F.lit("only_in_target"))
        .when(
            (F.col("any_mismatch") == 1)
            | (F.col("all_s") == 0)
            | (F.col("all_t") == 0),
            F.lit("content_different"),
        )
        .otherwise(F.lit("good"))
    )
    return rows.select(verdict.alias("v")).agg(
        F.sum((F.col("v") == "good").cast("long")).alias("goodrows"),
        F.sum((F.col("v") == "only_in_source").cast("long")).alias(
            "only_in_source"
        ),
        F.sum((F.col("v") == "only_in_target").cast("long")).alias(
            "only_in_target"
        ),
        F.sum((F.col("v") == "content_different").cast("long")).alias(
            "content_different"
        ),
    )


def grouping_table_map(cells: DataFrame, qualifiers: list[bytes]) -> DataFrame:
    """GroupingTableMapper (GroupingTableMapper.java:42): key each row by the
    concatenation of selected column values -> groupBy-ready key column."""
    visible = read_view(cells, max_versions=1)
    q = F.col("qualifier")
    per_row = visible.groupBy("row").agg(
        *[
            F.max(F.when(q == F.lit(qq), F.col("value"))).alias(f"_g{i}")
            for i, qq in enumerate(qualifiers)
        ]
    )
    return per_row.select(
        "row",
        F.concat_ws(
            " ", *[F.decode(F.col(f"_g{i}"), "UTF-8") for i in range(len(qualifiers))]
        ).alias("group_key"),
    )


def compact(
    cells: DataFrame,
    *,
    max_versions: int = 1,
    min_versions: int = 0,
    ttl_seconds: int | None = None,
    keep_deleted_cells: str = "FALSE",
    now_ms: int | None = None,
) -> DataFrame:
    """Major compaction: rewrite the log applying the family's retention
    semantics. Both branches judge expiry with the read view's one
    retention rule (:func:`read_view.retain`, stated in read_view's module
    docstring), as the reference shares ScanQueryMatcher between user
    scans and compactions (StoreScanner.java:268-271; SURVEY.md §2.5).

    ``keep_deleted_cells=FALSE`` (the default): tombstones and the cells
    they mask, over-version and expired cells are all dropped — the clean
    visible view remains.

    ``keep_deleted_cells=TRUE/TTL``: the reference RETAINS delete markers
    and the deleted cells during compaction (COMPACT_RETAIN_DELETES,
    ScanQueryMatcher.java:349-381) so time-range reads can still see through
    them; only retention and version trimming apply to the puts, and a
    retained put counts toward the versions whether or not a marker masks
    it. Under ``TTL``, a marker older than the family's TTL floor
    (:func:`read_view.ttl_floor`) is tracked like a KEEP_DELETED_CELLS=FALSE
    marker (SQM:349-352): it masks its puts and is dropped with them."""
    ttl = ttl_seconds if ttl_seconds is not None else TTL_FOREVER

    if keep_deleted_cells in ("TRUE", "TTL"):
        now = clock(now_ms)
        floor = ttl_floor(ttl, now) if keep_deleted_cells == "TTL" else None
        markers = cells.where(F.col("type") != TYPE_PUT)
        if floor is None:
            puts = cells.where(F.col("type") == TYPE_PUT)
        else:
            puts = mask_deletes(cells, marker_ts_below=floor)
            markers = markers.where(F.col("ts") >= floor)
        kept = retain(
            puts, min_versions=min_versions, ttl_seconds=ttl, now_ms=now
        )
        return limit_versions(kept, max_versions).unionByName(markers)

    return read_view(
        cells,
        max_versions=max_versions,
        min_versions=min_versions,
        ttl_seconds=ttl,
        keep_deleted_cells=keep_deleted_cells,
        now_ms=now_ms,
    )


def multi_table_scan(scans: list[tuple]) -> DataFrame:
    """MultiTableInputFormat (hbase-server/.../mapreduce/
    MultiTableInputFormat.java:45, scans conf at
    MultiTableInputFormatBase.java:76): one job over N (table, scan) pairs,
    each output record tagged with its source table.

    Spark shape: N independent scan plans (each keeps its own row-range
    pushdown / partition pruning) combined by a plan-level union — no
    shuffle; the ``table`` tag is an ordinary column for downstream
    grouping, mirroring TableSplit.getTableName routing."""
    from hbase_1_3_0_spark.table import Scan, Table  # local: avoid cycle

    tagged = []
    for table, scan in scans:
        assert isinstance(table, Table)
        df = table.scan(scan) if scan is not None else table.scan()
        tagged.append(
            df.select(
                F.lit(table.meta.name).alias("table"), *CELL_COLUMNS
            )
        )
    out = tagged[0]
    for df in tagged[1:]:
        out = out.unionByName(df)
    return out


def multi_table_write(
    mutations: DataFrame, tables: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """MultiTableOutputFormat (hbase-server/.../mapreduce/
    MultiTableOutputFormat.java:58: the record key IS the target table
    name): route a mutation-cell stream carrying a ``table`` column into N
    cell logs; returns the updated log per table.

    The routing filter is a partition-prunable predicate per table — each
    target's append job reads only its slice; the loop is over the TABLE
    SET (bounded catalog metadata), never over rows."""
    out = {}
    for name, cells in tables.items():
        batch = mutations.where(F.col("table") == name).drop("table")
        out[name] = cells.unionByName(batch.select(*cells.columns))
    return out


def canary_read_probe(
    cells: DataFrame,
    *,
    num_regions: int = 8,
    region_col: str | None = None,
    split_points: list[bytes] | None = None,
) -> DataFrame:
    """Canary region-read health probe (hbase-server/.../tool/
    Canary.java:193 RegionTask.read): for every region x column
    family, read ONE first cell with a FirstKeyOnlyFilter — a Get at
    the region start key, or the scan-of-first-element for the empty
    start key (:224-238). Success per (region, family) is the health
    signal the Canary sink publishes.

    Region derivation, in priority order:

    - ``region_col``: a pre-split log's own region id column — zero
      extra work, the PRIMARY path for real layouts.
    - ``split_points``: explicit boundary list (RegionSplitter
      output) — a broadcast literal-array fold assigns regions, no
      shuffle beyond the probe's own aggregation.
    - default: ``num_regions`` ntile ranges of the distinct row-key
      space. The ntile BUCKETING is kept (first ``N mod k`` buckets
      get the extra row — the contract the oracle mirrors) but the
      global rank behind it is computed DISTRIBUTEDLY: range
      repartition + per-partition row_number + driver-side partition
      offsets (the sorted zipWithIndex idiom, same trick as the
      weighted-median walk, aggregations.py:133). No single-partition
      window anywhere — the old ``ntile().over(Window.orderBy())``
      funneled every distinct row key through ONE task, a
      scale-killer for the one tool whose job is to be cheap.

    Output: (region, family, probe_row, first_qualifier, ok).
    """
    from pyspark.sql import Window

    if region_col is not None:
        rows = cells.select(
            "row", F.col(region_col).cast("long").alias("region")
        ).distinct()
    elif split_points is not None:
        bounds = F.array(*[F.lit(b) for b in sorted(split_points)])
        bucket = F.aggregate(
            bounds,
            F.lit(0).cast("long"),
            lambda acc, b: acc
            + F.when(F.col("row") >= b, 1).otherwise(0).cast("long"),
        )
        rows = cells.select("row").distinct().select(
            "row", bucket.alias("region")
        )
    else:
        parted = (
            cells.select("row")
            .distinct()
            .repartitionByRange("row")
            .sortWithinPartitions("row")
            .select("row", F.spark_partition_id().alias("_pid"))
            .localCheckpoint()  # pin partitioning: counts + ranks must
            # see the SAME placement
        )
        counts = sorted(
            (r._pid, r["count"])
            for r in parted.groupBy("_pid").count().collect()
        )
        total = sum(c for _, c in counts)
        offsets, acc = [], 0
        for pid, c in counts:
            offsets.append((pid, acc))
            acc += c
        off = F.broadcast(
            cells.sparkSession.createDataFrame(
                offsets or [(0, 0)], "_pid int, _off long"
            )
        )
        local_rank = F.row_number().over(
            Window.partitionBy("_pid").orderBy("row")
        )
        ranked = parted.join(off, "_pid").select(
            "row", (local_rank - 1 + F.col("_off")).alias("_rank")
        )
        # exact ntile arithmetic over the global rank: with N rows and
        # k buckets, the first N mod k buckets hold N div k + 1 rows.
        # `div` keeps it in bigint — float division would wobble past
        # 2^53 ranks
        q, rem = divmod(total, num_regions)
        cut = rem * (q + 1)
        region = F.expr(
            f"CASE WHEN _rank < {cut} THEN _rank div {q + 1} "
            f"ELSE {rem} + (_rank - {cut}) div {max(q, 1)} END"
        ).cast("long")
        rows = ranked.select("row", region.alias("region"))
    first_rows = rows.groupBy("region").agg(F.min("row").alias("row"))
    # prune to the probe's columns (also avoids colliding with a
    # pre-split log's own region column)
    probed = cells.select("row", "family", "qualifier").join(
        F.broadcast(first_rows), "row"
    )
    # FirstKeyOnlyFilter: the row's first cell in qualifier order
    return (
        probed.groupBy("region", "family")
        .agg(
            F.min("row").alias("probe_row"),
            F.min("qualifier").alias("first_qualifier"),
            F.count(F.lit(1)).alias("_cells"),
        )
        .select(
            "region",
            "family",
            "probe_row",
            "first_qualifier",
            (F.col("_cells") > 0).alias("ok"),
        )
    )
