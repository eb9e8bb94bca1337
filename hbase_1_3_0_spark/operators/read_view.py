"""The read view: what a Get/Scan actually returns from the cell log.

This reproduces the reference's ``ScanQueryMatcher`` state machine
(hbase-server/.../regionserver/ScanQueryMatcher.java:283-410) declaratively:

1. **Tombstone masking** (ScanDeleteTracker, instantiated SQM:220):
   - ``DeleteFamily``        (type 14) masks every cell of (row,family) with
     ``ts <= marker_ts``.
   - ``DeleteFamilyVersion`` (type 10) masks every cell of (row,family) with
     ``ts == marker_ts`` exactly.
   - ``DeleteColumn``        (type 12) masks every version of
     (row,family,qualifier) with ``ts <= marker_ts``.
   - ``Delete`` (version)    (type  8) masks exactly one
     (row,family,qualifier,ts).
   Masking is by *timestamp*, not arrival order — a put written after a
   delete but with an older-or-equal ts stays masked until compaction (the
   classic HBase "deletes mask puts" semantics).
2. **Retention** (:func:`retain`: TTL expiry, SQM:329-331, with the
   ``minVersions`` floor, SQM:347-395). A put is alive at the table clock
   unless it is older than the family TTL or than its own ``ttl_ms`` tag.
   A put is retained when it is alive, or when it sits inside the
   ``min_versions`` floor: the newest ``min_versions`` timestamps of its
   column (``dense_rank`` over ``ts``: a same-ts re-put takes no slot),
   whatever its tag says. On a single-version (clean) log that is "alive
   or ``min_versions > 0``", with no window. User reads, clean-log scans
   and compactions all apply this one function, as the reference shares
   ScanQueryMatcher between scans and compactions (StoreScanner:268-271).
3. **Time range** (Scan.setTimeRange, Scan.java:330): half-open ``[min, max)``
   over the surviving puts; version counting happens *within* the range
   (ColumnTracker counts post-timerange matches, ExplicitColumnTracker.java:160).
4. **Version limit**: newest ``max_versions`` per (row,family,qualifier) by
   ``(ts desc, seq desc)`` (ScanWildcardColumnTracker.java:78).
5. ``raw`` mode (Scan.setRaw, Scan.java:859) skips 1-4 and exposes markers.
6. ``KEEP_DELETED_CELLS=TRUE`` (HColumnDescriptor.java:171): delete markers
   newer than the query's time-range upper bound do not mask — time-travel
   reads see through later deletes (SQM:347-395).

The reference's filter runs between steps 3 and 4: the column tracker
counts only the versions the filter INCLUDEs. A Table scan therefore reads
each family group up to step 3 (``max_versions=None``), applies its column
selection, security tags and the filter's pre-quota part to all groups at
once (``compiler.compile_matcher``: per-cell conjuncts and SCVF row
verdicts, windows over ``row``), and only then the version limit
(:func:`limit_versions`, one limit per group).

Scale notes (100 TB): a Table scan clusters the cells of its row range
by ``row`` once (:func:`cluster_rows`, after the row-range predicates, so
they still prune the parquet scan). Every row-keyed step after that runs
inside the partitions with no further exchange: the markers reach their
puts through windows over (row, family) and (row, family, qualifier)
(:func:`mask_deletes` with ``clustered=True``), the version limit
aggregates per column where the cells already are, and the scan's
row-level filter verdicts are windows over ``row``. The trade against
the join form: that one exchange carries every version and every marker
of the scanned range, where the join form aggregates the markers apart,
broadcasts them to the puts and shuffles only partially aggregated
columns for the version limit — one wider shuffle against several
narrower exchanges, each its own stage and job. The MapReduce jobs over
unclustered cells (``jobs.row_counter``, ``hash_table``, ``sync_table``,
``compact``, ...) keep the join form: on a marker-free log (a bulk load)
AQE drops its empty marker joins and it wins (sf0.1 ``orders`` on 4
cores: row_counter 0.50 s against 1.33 s for windows), while on a
tombstoned multi-version log windows win (row_counter 560–599 ms
against 860–978); tests/test_plans.py pins the split. For
``max_versions == 1`` (the HBase default) the version limit is a
``groupBy().agg(max_by(...))`` — partial-aggregatable, no window sort —
and only the general ``n > 1`` case pays a window.

Small-key path (the one-region-RPC analog of a Get, HRegion.java:5707): when
the key set is a driver-side list of at most
``spark.sql.parquet.pushdown.inFilterThreshold`` keys whose estimated size
is under ``spark.sql.autoBroadcastJoinThreshold`` (:func:`small_key_set`),
:func:`pin_rows` pushes ``row IN (...)`` into the parquet scan and pins the
surviving cells to ONE partition — the degenerate clustering, which the
same window forms need no exchange for, and key lookups a union plus a
window (:func:`local_lookup`), so the whole read view plans with zero
exchanges. The bound: the pruned scan runs in one task; under the key
count limit the reader prunes each key as its own equality, so that task
reads only the row groups that may hold one of the keys.
"""

from __future__ import annotations

import time
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hbase_1_3_0_spark.cells import (
    CELL_COLUMNS,
    TTL_FOREVER,
    TYPE_DELETE_COLUMN,
    TYPE_DELETE_FAMILY,
    TYPE_DELETE_FAMILY_VERSION,
    TYPE_DELETE_VERSION,
    TYPE_PUT,
)


#: a put outlives the marker timestamps attached to it (one parsed SQL
#: expression: one py4j round trip instead of one per Column operator)
_SURVIVES = (
    "(_fam_del_ts IS NULL OR ts > _fam_del_ts)"
    " AND NOT coalesce(array_contains(_famver_del_ts, ts), false)"
    " AND (_col_del_ts IS NULL OR ts > _col_del_ts)"
    " AND NOT coalesce(array_contains(_ver_del_ts, ts), false)"
)


def small_key_limit(spark: SparkSession) -> int:
    """The most keys the small-key path takes:
    ``spark.sql.parquet.pushdown.inFilterThreshold`` (10 by default). Up to
    that many values the parquet reader prunes an IN list key by key, as
    one equality each; past it the IN widens to a min/max span whose row
    groups one pinned task would read serially."""
    return spark._jsparkSession.sessionState().conf().parquetFilterPushDownInFilterThreshold()


def broadcast_threshold(spark: SparkSession) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes (-1: disabled):
    the bound on driver-side data that the small-key path and the
    driver-list rebuild (``mutations.driver_list``) take."""
    return spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()


def small_key_set(
    spark: SparkSession, keys: Iterable[bytes | None]
) -> list[bytes] | None:
    """The small-key path's engagement rule: the sorted distinct keys when
    there are at most :func:`small_key_limit` of them and their estimated
    size (key bytes + 8 per key) is under :func:`broadcast_threshold`,
    else None (a disabled threshold disables the path). Null keys match no
    row and drop out."""
    uniq = sorted({bytes(k) for k in keys if k is not None})
    if len(uniq) > small_key_limit(spark):
        return None
    threshold = broadcast_threshold(spark)
    return uniq if sum(len(k) + 8 for k in uniq) < threshold else None


def pin_rows(cells: DataFrame, keys: list[bytes]) -> DataFrame:
    """Prune ``cells`` to ``keys`` in the scan and pin them to one partition.

    The IN list is one parsed SQL expression (one py4j round trip, however
    many keys), so Catalyst pushes it into the parquet reader as row-group
    min/max and bloom pruning."""
    if not keys:
        return cells.where(F.lit(False)).coalesce(1)
    in_list = ", ".join(f"X'{k.hex()}'" for k in keys)
    return cells.where(F.expr(f"`row` IN ({in_list})")).coalesce(1)


def cluster_rows(cells: DataFrame) -> DataFrame:
    """Hash-partition ``cells`` on ``row``: the one exchange of a general
    scan. No partition count, so AQE may still coalesce the shuffle's
    partitions; predicates written above it are still pushed below it, into
    the parquet scan."""
    return cells.repartition("row")


def prune_rows(
    cells: DataFrame, keys: list[bytes] | DataFrame, cluster: bool = True
) -> DataFrame:
    """Prune ``cells`` to a key set, as every keyed read does: a small key
    list (:func:`small_key_set`) is pinned (:func:`pin_rows`); a key frame
    (one ``row`` column) is broadcast-semi-joined, then clustered by row
    (:func:`cluster_rows`) unless ``cluster`` is false."""
    if isinstance(keys, DataFrame):
        pruned = cells.join(F.broadcast(keys), "row", "left_semi")
        return cluster_rows(pruned) if cluster else pruned
    return pin_rows(cells, keys)


def local_lookup(left: DataFrame, right: DataFrame, on: list[str]) -> DataFrame:
    """``left`` LEFT JOIN ``right`` USING ``on`` for inputs pinned to one
    partition each (:func:`pin_rows`), where ``right`` holds at most one
    row per key: ``right``'s other columns reach the matching ``left`` rows
    through a window over the union of both sides, coalesced back to one
    partition, so the lookup plans a sort and no exchange whatever the size
    estimates (a two-sided join re-shuffles one-partition children once
    their estimates pass spark.sql.maxSinglePartitionBytes, and a
    product-of-children join estimate does). Null keys match nothing, as in
    an equi-join."""
    side = "_lk_right"
    both = left.withColumn(side, F.lit(False)).unionByName(
        right.withColumn(side, F.lit(True)), allowMissingColumns=True
    ).coalesce(1)
    keyed = " AND ".join(f"`{k}` IS NOT NULL" for k in on)
    over = "PARTITION BY " + ", ".join(f"`{k}`" for k in on)
    looked = both.selectExpr(
        *[f"`{c}`" for c in left.columns],
        *[
            f"CASE WHEN {keyed} THEN max(CASE WHEN {side} THEN `{c}` END) "
            f"OVER ({over}) END AS `{c}`"
            for c in right.columns
            if c not in on
        ],
        side,
    )
    return looked.where(f"NOT {side}").drop(side)


def mask_deletes(
    cells: DataFrame,
    *,
    marker_ts_below: int | None = None,
    clustered: bool = False,
) -> DataFrame:
    """Apply the four tombstone kinds; return surviving Put cells.

    ``marker_ts_below``: only markers with ``ts < marker_ts_below`` take
    effect (the KEEP_DELETED_CELLS time-travel carve-out). ``clustered``:
    the cells are clustered by row (:func:`cluster_rows`, or one partition,
    :func:`pin_rows`); the markers then reach their puts through windows
    over (row, family) and (row, family, qualifier) — sorts inside each
    partition, no exchange. A window partition groups NULL qualifiers
    together, the same null-safe match the join form spells out. The join
    form serves unclustered callers: it aggregates the markers and joins
    them back, which AQE can broadcast.
    """
    if clustered:
        live = f"type <> {TYPE_PUT}"
        if marker_ts_below is not None:
            live += f" AND ts < {int(marker_ts_below)}"
        fam = "OVER (PARTITION BY `row`, family)"
        col = "OVER (PARTITION BY `row`, family, qualifier)"

        def marker_ts(kind: int) -> str:
            return f"CASE WHEN {live} AND type = {kind} THEN ts END"

        flagged = cells.selectExpr(
            "*",
            f"max({marker_ts(TYPE_DELETE_FAMILY)}) {fam} AS _fam_del_ts",
            f"collect_set({marker_ts(TYPE_DELETE_FAMILY_VERSION)}) {fam}"
            " AS _famver_del_ts",
            f"max({marker_ts(TYPE_DELETE_COLUMN)}) {col} AS _col_del_ts",
            f"collect_set({marker_ts(TYPE_DELETE_VERSION)}) {col}"
            " AS _ver_del_ts",
        )
        return flagged.where(f"type = {TYPE_PUT} AND {_SURVIVES}").drop(
            "_fam_del_ts", "_famver_del_ts", "_col_del_ts", "_ver_del_ts"
        )

    markers = cells.where(F.col("type") != TYPE_PUT)
    if marker_ts_below is not None:
        markers = markers.where(F.col("ts") < F.lit(marker_ts_below))

    fam_markers = (
        markers.where(
            F.col("type").isin(TYPE_DELETE_FAMILY, TYPE_DELETE_FAMILY_VERSION)
        )
        .groupBy("row", "family")
        .agg(
            F.max(F.when(F.col("type") == TYPE_DELETE_FAMILY, F.col("ts"))).alias(
                "_fam_del_ts"
            ),
            F.collect_set(
                F.when(F.col("type") == TYPE_DELETE_FAMILY_VERSION, F.col("ts"))
            ).alias("_famver_del_ts"),
        )
    )
    col_markers = (
        markers.where(F.col("type").isin(TYPE_DELETE_COLUMN, TYPE_DELETE_VERSION))
        .groupBy("row", "family", "qualifier")
        .agg(
            F.max(F.when(F.col("type") == TYPE_DELETE_COLUMN, F.col("ts"))).alias(
                "_col_del_ts"
            ),
            F.collect_set(
                F.when(F.col("type") == TYPE_DELETE_VERSION, F.col("ts"))
            ).alias("_ver_del_ts"),
        )
    )

    puts = cells.where(F.col("type") == TYPE_PUT)
    # the column-marker join must be NULL-SAFE on qualifier: HBase's
    # null/empty qualifier is a real column (TestFromClientSide
    # testNull:1391 deletes it with deleteColumns(FAMILY, null)), and a
    # plain equi-join would never match the NULL-qualifier marker to the
    # NULL-qualifier put
    cm = col_markers.select(
        F.col("row").alias("_cm_row"),
        F.col("family").alias("_cm_family"),
        F.col("qualifier").alias("_cm_qual"),
        "_col_del_ts",
        "_ver_del_ts",
    )
    survived = (
        puts.join(fam_markers, ["row", "family"], "left")
        .join(
            cm,
            (F.col("row") == F.col("_cm_row"))
            & (F.col("family") == F.col("_cm_family"))
            & F.col("qualifier").eqNullSafe(F.col("_cm_qual")),
            "left",
        )
        .where(_SURVIVES)
        # preserve extra cell-metadata columns (e.g. per-cell ttl_ms tags)
        .select(*cells.columns)
    )
    return survived


#: a cell's version index within its column: 1 for the newest ts. A
#: same-ts re-put REPLACES the cell rather than adding a version: the
#: reference returns ONE cell per (column, ts), the newest write winning,
#: and the dupe takes no version slot (TestFromClientSide.java:3490
#: testDuplicateVersions), so it has no index. The per-ts winner is the
#: first cell in (ts desc, seq desc) order; the index is a dense_rank by ts
#: alone. Both windows share one partitioning and the (ts desc) ordering is
#: a prefix of (ts desc, seq desc), so they plan as ONE sort.
VERSION_INDEX = (
    "CASE WHEN lag(ts) OVER (PARTITION BY `row`, family, qualifier"
    " ORDER BY ts DESC, seq DESC) = ts THEN NULL"
    " ELSE dense_rank() OVER (PARTITION BY `row`, family, qualifier"
    " ORDER BY ts DESC) END"
)


def limit_versions(
    cells: DataFrame, max_versions: int | Column, raw: bool = False
) -> DataFrame:
    """Keep the newest ``max_versions`` per column by (ts desc, seq desc).
    ``max_versions`` may be a per-cell Column (family groups with different
    limits in one frame). ``raw``: markers and same-ts re-puts count as
    versions too, and ``2**31 - 1`` keeps every cell (a raw scan's
    setMaxVersions())."""
    if raw:
        # raw scans still respect the SCAN's maxVersions — markers count
        # as cells of their column (TestFromClientSide.java:5526
        # testRawScanRespectsVersions; the family cap does NOT apply to
        # raw, which is why callers dump stores with setRaw+setMaxVersions)
        if isinstance(max_versions, int) and max_versions >= 2**31 - 1:
            return cells
        w = Window.partitionBy("row", "family", "qualifier").orderBy(
            F.col("ts").desc(), F.col("seq").desc()
        )
        return (
            cells.withColumn("_vrank", F.row_number().over(w))
            .where(F.col("_vrank") <= max_versions)
            .select(*cells.columns)
        )
    if isinstance(max_versions, int) and max_versions == 1:
        # Fast path: partial-aggregatable max_by, no window. Plans as a
        # SortAggregate (struct buffers can't hash-aggregate) but with a
        # map-side partial: the shuffle carries ONE cell per column, not the
        # full version history — unlike a Window, which would shuffle and
        # sort every cell. (The hash-agg alternative — max over a packed
        # decimal + self-join — would shuffle the whole table for the join;
        # measured worse.)
        # One parsed SQL expression per step: a py4j round trip each, not
        # one per column reference.
        key = ("row", "family", "qualifier")
        others = [c for c in cells.columns if c not in key]
        newest = ", ".join(f"`{c}`" for c in others)
        picked = cells.groupBy(*key).agg(
            F.expr(f"max_by(struct({newest}), struct(ts, seq)) AS _newest")
        )
        return picked.selectExpr(
            *[f"`{c}`" if c in key else f"_newest.`{c}` AS `{c}`" for c in cells.columns]
        )
    return (
        cells.selectExpr("*", f"{VERSION_INDEX} AS _vi")
        .where(F.col("_vi") <= max_versions)
        .drop("_vi")
    )


def clock(now_ms: int | None) -> int:
    """The table clock: ``now_ms`` when pinned, else the wall clock."""
    return now_ms if now_ms is not None else int(time.time() * 1000)


def ttl_floor(ttl_seconds: int, now_ms: int | None) -> int | None:
    """The oldest ``ts`` the family TTL keeps alive at the table clock, or
    None when the family never expires (``TTL_FOREVER``)."""
    if ttl_seconds == TTL_FOREVER:
        return None
    return clock(now_ms) - ttl_seconds * 1000


def retain(
    puts: DataFrame,
    *,
    min_versions: int = 0,
    ttl_seconds: int = TTL_FOREVER,
    now_ms: int | None = None,
    single_version: bool = False,
    families: list[str] | None = None,
) -> DataFrame:
    """The retention rule (module docstring, step 2) over ``puts``.
    ``single_version``: one version per column (a clean log), so no window.
    ``families``: judge only these families' cells; others pass."""
    now = clock(now_ms)
    alive = []
    floor = ttl_floor(ttl_seconds, now)
    if floor is not None:
        alive.append(f"ts >= {floor}")
    if "ttl_ms" in puts.columns:
        # per-cell TTL tags (TagType.java:33, TTL_TAG_TYPE=8); the
        # effective TTL is min(cell TTL, family TTL), SQM:329-331
        alive.append(f"(ttl_ms IS NULL OR {now} - ts < ttl_ms)")
    if not alive or (single_version and min_versions > 0):
        return puts
    keep = " AND ".join(alive)
    if families is not None:
        names = ", ".join("'" + f.replace("'", "\\'") + "'" for f in families)
        keep = f"family NOT IN ({names}) OR ({keep})"
    if min_versions == 0 or single_version:
        return puts.where(keep)
    # dense_rank by ts alone: a same-ts re-put shares its predecessor's
    # version index and takes no floor slot (the ColumnTrackers skip
    # same-ts cells in version counting, sameAsPreviousTS)
    floor_rank = (
        "dense_rank() OVER (PARTITION BY `row`, family, qualifier"
        f" ORDER BY ts DESC) <= {int(min_versions)}"
    )
    return (
        puts.selectExpr("*", f"({keep}) OR {floor_rank} AS _retained")
        .where("_retained")
        .drop("_retained")
    )


def read_view(
    cells: DataFrame,
    *,
    max_versions: int | None = 1,
    min_versions: int = 0,
    ttl_seconds: int = TTL_FOREVER,
    keep_deleted_cells: str = "FALSE",
    time_range: tuple[int, int] | None = None,
    now_ms: int | None = None,
    raw: bool = False,
    clustered: bool = False,
) -> DataFrame:
    """The user-visible cell stream for a Get/Scan over a cell log.

    ``max_versions=None`` stops before the version limit (step 4): the
    cells ScanQueryMatcher shows the filter. A Table scan judges its
    filter there and limits versions after it (Table._read_view), so a
    newer version the filter rejects takes no version slot
    (ScanQueryMatcher.java:283-410).

    ``clustered``: ``cells`` is clustered by row (:func:`cluster_rows` or
    :func:`pin_rows`); the read view then plans without exchanges.
    """
    if raw:
        out = cells
        if time_range is not None:
            lo, hi = time_range
            out = out.where((F.col("ts") >= lo) & (F.col("ts") < hi))
        if max_versions is None:
            return out
        return limit_versions(out, max_versions, raw=True)

    marker_ts_below = None
    if keep_deleted_cells in ("TRUE", "TTL") and time_range is not None:
        marker_ts_below = time_range[1]

    visible = mask_deletes(
        cells, marker_ts_below=marker_ts_below, clustered=clustered
    )

    visible = retain(
        visible, min_versions=min_versions, ttl_seconds=ttl_seconds, now_ms=now_ms
    )

    if time_range is not None:
        lo, hi = time_range
        visible = visible.where((F.col("ts") >= lo) & (F.col("ts") < hi))

    if max_versions is None:
        return visible
    return limit_versions(visible, max_versions)
