"""Table — the client API surface (Get / Scan / mutations), Spark-first.

Mirrors hbase-client Table.java + Get.java/Scan.java option surface
(SURVEY.md §2.1). A Get IS a single-row Scan in the reference
(HRegion.java:5707-5714 wraps Get in Scan) — here too: ``get`` delegates to
``scan`` with a one-row range, so there is exactly one read code path.

Execution order of a scan (mirrors the reference read path, SURVEY.md §3.1):

1. row-range predicate on the raw cell log — applied FIRST so Catalyst pushes
   it into the parquet scan (region pruning + HFile key-range pruning analog);
   masking is per-row, so pre-filtering by row is semantics-preserving.
   Keyed reads (``multi_get`` / ``exists``) enter here too, with their key
   set (``read_view.prune_rows``). A small driver-side key set — a Get's
   row, a literal list that passes ``read_view.small_key_set`` — is the
   small-key path: ``row IN (...)`` pruned in the scan, the cells pinned to
   one partition, and every later step plans without an exchange (the one
   region RPC of a reference Get). Range scans, and larger literal lists or
   key DataFrames (a broadcast semi join first), take the general path: the
   cells are hash-partitioned on row ONCE, and every later row-keyed step
   runs inside those partitions without another exchange. A clean-log scan
   (TableMeta.clean_log) needs no row-keyed read-view step and stays
   unclustered and shuffle-free.
2. read view, in ScanQueryMatcher order (SQM:283-410): tombstones, TTL
   and time range per family group; then the family / column selection
   (Scan.addFamily/addColumn) and the cell security tags; then the
   filter's pre-quota part over every group at once — its per-cell
   conjuncts and its SCVF row verdicts (compiler.compile_matcher); then
   each group's version quota over the passing cells, so a newer version
   the filter rejects takes no version slot.
3. the rest of the filter tree (its order-dependent members, compiled
   filter algebra) over the version-limited cells.
4. per-CF column offset/limit (setRowOffsetPerColumnFamily:502,
   setMaxResultsPerColumnFamily:493).
5. row limit, optionally reversed (setReversed:694) — ordered prefix.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hbase_1_3_0_spark.catalog import TableMeta
from hbase_1_3_0_spark.cells import CELL_COLUMNS, TYPE_PUT
from hbase_1_3_0_spark.filters import ast as filter_ast
from hbase_1_3_0_spark.filters.compiler import (
    Matcher,
    apply_filter,
    compile_filter,
    compile_matcher,
    first_rows,
)
from hbase_1_3_0_spark.filters.parser import parse_filter
from hbase_1_3_0_spark.operators import mutations as mut
from hbase_1_3_0_spark.operators.coprocessor import Observers
from hbase_1_3_0_spark.operators.read_view import (
    clock,
    cluster_rows,
    limit_versions,
    prune_rows,
    read_view,
    retain,
    small_key_set,
)
from hbase_1_3_0_spark.sources import kv_encoder


@dataclass(frozen=True)
class Scan:
    """Declarative scan spec (Scan.java:84 option surface)."""

    start_row: bytes | None = None  # setStartRow:367 (inclusive)
    stop_row: bytes | None = None  # setStopRow:381 (exclusive)
    stop_inclusive: bool = False  # InclusiveStopFilter analog
    #: setRowPrefixFilter:397 — start/stop sugar: rows starting with the
    #: prefix; b"" = full table; trailing-0xFF prefixes get the
    #: calculateTheClosestNextRowKeyForPrefix successor (all-0xFF = open
    #: end). Mutually exclusive with explicit start/stop (:392 "undefined
    #: results" — here: rejected).
    row_prefix: bytes | None = None
    families: tuple[str, ...] | None = None  # addFamily
    columns: tuple[tuple[str, bytes], ...] | None = None  # addColumn:306
    time_range: tuple[int, int] | None = None  # setTimeRange:330
    #: per-family [min, max) overrides of ``time_range``
    #: (setColumnFamilyTimeRange:347) as ((family, lo, hi), ...)
    cf_time_range: tuple[tuple[str, int, int], ...] | None = None
    max_versions: int | None = None  # setMaxVersions:464 (None => 1)
    raw: bool = False  # setRaw:859
    reversed: bool = False  # setReversed:694
    limit: int | None = None  # row limit (caching/maxResultSize are physical)
    filter: filter_ast.Filter | str | None = None  # setFilter:539
    row_offset_per_cf: int = 0  # setRowOffsetPerColumnFamily:502
    max_results_per_cf: int | None = None  # setMaxResultsPerColumnFamily:493
    #: visibility authorizations (Scan.setAuthorizations; labeled cells are
    #: invisible unless their label expression is satisfied)
    authorizations: tuple[str, ...] | None = None
    #: requesting principal for per-cell ACL tags (AccessController analog)
    user: str | None = None

    def with_(self, **kw) -> "Scan":
        return replace(self, **kw)

    def selected_families(self) -> "frozenset[str] | None":
        """The family set this scan touches, or None for all: the union
        of ``families`` (whole-family selections) and the families named
        by ``columns`` (the reference familyMap key set)."""
        if self.families is None and self.columns is None:
            return None
        out = set(self.families or ())
        out |= {fam for fam, _q in (self.columns or ())}
        return frozenset(out)


@dataclass(frozen=True)
class Get:
    """Point-read spec (Get.java:68). A Get is a single-row Scan."""

    row: bytes
    families: tuple[str, ...] | None = None
    columns: tuple[tuple[str, bytes], ...] | None = None
    time_range: tuple[int, int] | None = None
    max_versions: int | None = None
    filter: filter_ast.Filter | str | None = None
    check_existence_only: bool = False  # Get.setCheckExistenceOnly:139

    def to_scan(self) -> Scan:
        return Scan(
            start_row=self.row,
            stop_row=self.row,
            stop_inclusive=True,
            families=self.families,
            columns=self.columns,
            time_range=self.time_range,
            max_versions=self.max_versions,
            filter=self.filter,
        )


def family_groups(
    meta: TableMeta, s: Scan
) -> list[tuple[tuple, list[str] | None]]:
    """The scan's families grouped by read-view parameters (max_versions,
    min_versions, ttl_seconds, keep_deleted_cells, time range — a per-family
    range, setColumnFamilyTimeRange:347, overrides the scan's), each with
    its family names, or None when one group reads the whole log."""
    fams = meta.families
    sel_fams = s.selected_families()
    if sel_fams is not None:
        fams = tuple(f for f in fams if f.name in sel_fams)
    cf_tr = {f: (lo, hi) for f, lo, hi in (s.cf_time_range or ())}
    groups: dict[tuple, list[str]] = {}
    for fm in fams:
        key = (
            fm.max_versions, fm.min_versions, fm.ttl_seconds,
            fm.keep_deleted_cells, cf_tr.get(fm.name, s.time_range),
        )
        groups.setdefault(key, []).append(fm.name)
    whole = len(groups) == 1 and s.families is None
    return [(key, None if whole else names) for key, names in groups.items()]


class Table:
    """A cell-log-backed table. Immutable-functional: mutations return a new
    Table over the appended log (the write job is the commit point)."""

    def __init__(
        self,
        meta: TableMeta,
        cells: DataFrame,
        now_ms: int | None = None,
        observers: "Observers | None" = None,
    ):
        self.meta = meta
        self.cells = cells
        self._now_ms = now_ms  # pin for deterministic tests; None = wall clock
        self.observers = observers if observers is not None else Observers()

    def _with(self, cells: DataFrame) -> "Table":
        # any mutation may introduce extra versions or tombstones
        meta = replace(self.meta, clean_log=False) if self.meta.clean_log else self.meta
        return Table(meta, cells, self._now_ms, self.observers)

    def with_observers(self, **hooks) -> "Table":
        """Register RegionObserver-style hooks (coprocessor.Observers):
        ``pre_scan`` / ``post_scan`` / ``pre_mutate`` / ``post_mutate`` /
        ``post_increment`` / ``post_append`` / ``pre_compact``."""
        return Table(
            self.meta, self.cells, self._now_ms, self.observers.with_(**hooks)
        )

    # ------------------------------------------------------------------ read
    def scan(self, scan: Scan | None = None, **kw) -> DataFrame:
        """Sorted range scan -> visible cells (Table.getScanner, Table.java:196)."""
        s = scan or Scan()
        if kw:
            s = s.with_(**kw)
        return self._scan(s)

    def _scan(
        self, s: Scan, keys: list[bytes] | DataFrame | None = None
    ) -> DataFrame:
        """The one read path. ``keys`` prunes the scan to a key set
        (read_view.prune_rows): a small driver-side list
        (read_view.small_key_set) is pinned to one partition, so the read
        view, the filters and the row limit plan without exchanges; a key
        DataFrame (one ``row`` column) is broadcast-semi-joined. A
        single-row range (a Get) takes the small-key path by itself.
        Otherwise the scanned cells are clustered by row once
        (read_view.cluster_rows) unless the read view is the clean-log one."""
        if s.row_prefix is not None:
            # setRowPrefixFilter (Scan.java:397): pure start/stop sugar
            if s.start_row is not None or s.stop_row is not None:
                raise ValueError(
                    "row_prefix with explicit start/stop rows is the "
                    "reference's documented undefined-results case"
                )
            if s.reversed:
                raise ValueError("row_prefix on a reversed scan is not "
                                 "supported; set start/stop explicitly")
            from hbase_1_3_0_spark.filters.compiler import prefix_successor

            s = s.with_(
                start_row=s.row_prefix or None,
                stop_row=prefix_successor(s.row_prefix)
                if s.row_prefix else None,
                row_prefix=None,
            )
        # an empty family map selects every family (Scan.hasFamilies false),
        # on both read-view paths
        if s.families == () or s.columns == ():
            s = s.with_(families=s.families or None, columns=s.columns or None)
        # raw scans reject explicit column selection (StoreScanner.java:193
        # "Cannot specify any column for a raw scan" — the
        # ExplicitColumnTracker does not support raw; TestKeepDeletes
        # testRawScanWithColumns). Family selection stays allowed.
        if s.raw and s.columns is not None:
            raise ValueError("Cannot specify any column for a raw scan")
        # a scan selecting only undeclared families is the reference's
        # NoSuchColumnFamilyException, on the clean-log path too. Divergence:
        # a selection mixing declared and undeclared families reads the
        # declared ones' cells, where the reference throws as well.
        sel = s.selected_families()
        if sel and not sel & {f.name for f in self.meta.families}:
            self.meta.family(min(sel))  # raises KeyError("no such column family")
        # negative timestamps rejected at the API surface (HTable
        # checkTimestamp / TestFromClientSide.java:5322 — data-embedded
        # cells may still carry them, the KeyValue backward-compat rule)
        for tr in (s.time_range, *(s.cf_time_range or ())):
            lo_hi = tr[-2:] if tr is not None else ()
            if any(t < 0 for t in lo_hi):
                raise ValueError("negative timestamps are not allowed")
        if (
            keys is None
            and s.start_row is not None
            and s.start_row == s.stop_row
            and s.stop_inclusive
        ):
            keys = small_key_set(self.cells.sparkSession, [s.start_row])
        pinned = isinstance(keys, list)
        # preScannerOpen/preGetOp hooks rewrite the raw cell stream; filters
        # they add still push down through Catalyst
        df = Observers.apply(self.observers.pre_scan, self.cells)

        # 1. row range first — pushed into the parquet scan by Catalyst.
        # Reversed scans flip the range roles (Scan.setReversed:694 +
        # ReversedClientScanner: startRow is the LARGEST key, inclusive;
        # stopRow the smallest, exclusive).
        if s.reversed:
            if s.start_row is not None:
                df = df.where(F.col("row") <= F.lit(s.start_row))
            if s.stop_row is not None:
                if s.stop_inclusive:
                    df = df.where(F.col("row") >= F.lit(s.stop_row))
                else:
                    df = df.where(F.col("row") > F.lit(s.stop_row))
        else:
            if s.start_row is not None:
                df = df.where(F.col("row") >= F.lit(s.start_row))
            if s.stop_row is not None:
                if s.stop_inclusive:
                    df = df.where(F.col("row") <= F.lit(s.stop_row))
                else:
                    df = df.where(F.col("row") < F.lit(s.stop_row))

        # 1b. cluster by row, once: every row-keyed step after this (marker
        # masking, version limit, row-level filter verdicts, per-CF paging,
        # the row limit) then runs inside the partitions. A clean-log scan
        # has no row-keyed step in its read view and stays unclustered.
        clustered = pinned or s.raw or not self.meta.clean_log
        if keys is not None:
            df = prune_rows(df, keys, cluster=clustered)
        elif clustered:
            df = cluster_rows(df)

        # 2. read view per family-parameter group, then the scan's column
        # selection and the cell security tags, then the filter's pre-quota
        # part, then the version quota (Table._read_view) — ScanQueryMatcher
        # order: a newer version the filter rejects is SKIPped, not counted
        # against VERSIONS. Window-free predicates there still reach the
        # parquet scan via pushdown. A clean log is single-version: its
        # whole filter runs after the view.
        filt = s.filter
        if isinstance(filt, str):
            filt = parse_filter(filt)
        matcher = None
        if not self.meta.clean_log or s.raw:
            # raw ignores the family limits; an any-version SCVF then
            # judges the versions the scan returns
            versions = {
                f.name: (s.max_versions or 1) if s.raw else f.max_versions
                for f in self.meta.families
            }
            matcher = compile_matcher(filt, s.reversed, versions)
            filt = matcher.rest
        df = self._read_view(df, s, self._visible(df, s), matcher, clustered)

        # 3. what the filter judges after the version quota: the read view
        # reduced each column to one version unless the scan asked for
        # more (or raw), so version-sensitive filters can skip their
        # version-rank window
        single_version = not s.raw and all(
            min(s.max_versions or 1, key[0]) == 1
            for key, _names in family_groups(self.meta, s)
        )
        df = apply_filter(
            df, filt, single_version=single_version,
            reversed_scan=s.reversed, clustered=clustered,
        )

        # 4. intra-row per-CF paging. storeOffset/storeLimit count CELLS
        # (individual versions), not columns (HRegion per-store offset/limit;
        # multi-version scans page through versions too), so the index is a
        # row_number over the intra-row cell order (qualifier asc, ts desc,
        # seq desc — the KVComparator order). max_results_per_cf == 0 means
        # zero results, not "no limit".
        if s.row_offset_per_cf or s.max_results_per_cf is not None:
            idx = F.row_number().over(
                Window.partitionBy("row", "family").orderBy(
                    F.col("qualifier").asc(), F.col("ts").desc(), F.col("seq").desc()
                )
            )
            lo = s.row_offset_per_cf
            hi = lo + s.max_results_per_cf if s.max_results_per_cf is not None else None
            df = df.withColumn("_ci", idx)
            cond = F.col("_ci") > lo
            if hi is not None:
                cond = cond & (F.col("_ci") <= hi)
            df = df.where(cond).drop("_ci")

        # 5. row limit (ordered prefix; TakeOrderedAndProject, no full sort)
        if s.limit is not None:
            df = first_rows(df, s.limit, s.reversed)
        # postScannerNext hooks rewrite the visible cells (e.g. redaction)
        df = Observers.apply(self.observers.post_scan, df)
        return df.select(*CELL_COLUMNS)

    def scan_metrics(self, scan: Scan | None = None, **kw) -> DataFrame:
        """ScanMetrics (Scan.setScanMetricsEnabled + ServerSideScanMetrics
        .java:57,:63): one row of (rows_scanned, rows_returned,
        rows_filtered) for the scan — countOfRowsScanned is every live
        row the scanner visited in the range (post read-view, pre
        filter), countOfRowsFiltered the visited rows the filter
        excluded entirely, exactly scanned - returned.

        Batch-engine posture notes: the counts come from TWO passes of
        the same range (the reference tallies both server-side in one
        iteration; a metrics call is diagnostic, not a hot path), and a
        row ``limit`` bounds rows_returned only — the reference stops
        scanning at the limit, a batch scan visits the whole range."""
        s = scan or Scan()
        if kw:
            s = s.with_(**kw)
        visited = self.scan(s.with_(filter=None, limit=None))
        returned = self.scan(s)
        a = visited.agg(F.count_distinct(F.col("row")).alias("rows_scanned"))
        b = returned.agg(
            F.count_distinct(F.col("row")).alias("rows_returned")
        )
        return a.crossJoin(b).select(
            "rows_scanned",
            "rows_returned",
            (F.col("rows_scanned") - F.col("rows_returned")).alias(
                "rows_filtered"
            ),
        )

    def scan_batched(
        self, scan: Scan | None = None, *, batch: int, **kw
    ) -> DataFrame:
        """Scan.setBatch analog (Scan.java:479; implies
        setAllowPartialResults, :714): chunk each row's visible cells into
        partial Results of at most ``batch`` cells, in the intra-row
        KVComparator order (family asc, qualifier asc, ts desc, seq desc).
        Returns the scan's cells plus a ``result_id`` column — cells
        sharing (row, result_id) form one partial Result, mirroring the
        client seeing a wide row split across next() calls.

        Like the reference (which throws IncompatibleFilterException when
        the filter has row-level semantics), filters that compile to
        order-dependent transforms are rejected: their verdicts depend on
        whole-row visibility, which partial Results break."""
        if batch <= 0:
            raise ValueError("batch must be positive")
        s = scan or Scan()
        if kw:
            s = s.with_(**kw)
        filt = s.filter
        if isinstance(filt, str):
            filt = parse_filter(filt)
        if filt is not None and compile_filter(filt).transforms:
            raise ValueError(
                "cannot set batch on a scan whose filter has row-level "
                "semantics (IncompatibleFilterException analog, "
                "Scan.java:481)"
            )
        cells = self.scan(s)
        idx = F.row_number().over(
            Window.partitionBy("row").orderBy(
                F.col("family").asc(),
                F.col("qualifier").asc(),
                F.col("ts").desc(),
                F.col("seq").desc(),
            )
        )
        return cells.withColumn(
            "result_id", F.floor((idx - 1) / F.lit(batch)).cast("long")
        )

    def _visible(self, cells: DataFrame, s: Scan) -> Column | None:
        """What the scan may see, per cell, or None. The column selection
        is the reference familyMap, a UNION of per-family selections
        (Get.addFamily/addColumn; TestFromClientSide
        testSingleRowMultipleFamily — r11 fix: this was an intersection); a
        family in ``families`` wins whole-family over its ``columns``
        entries. It precedes the filter (SQM.java:428-431), so an SCVF on
        an unselected column finds it missing. The security tags
        (visibility labels / per-cell ACLs) hold before version counting,
        like the VisibilityController/AccessController coprocessors."""
        from hbase_1_3_0_spark.operators import security

        preds, tags = [], cells.columns
        if s.families is not None or s.columns is not None:
            keep = F.lit(False)
            if s.families is not None:
                keep = keep | F.col("family").isin(list(s.families))
            for fam, qual in s.columns or ():
                # addColumn(family, null) selects the NULL-qualifier column
                # (TestFromClientSide testScan_NullQualifier); a plain ==
                # against a null literal matches nothing
                qcond = (
                    F.col("qualifier").isNull()
                    if qual is None
                    else (F.col("qualifier") == F.lit(qual))
                )
                keep = keep | ((F.col("family") == fam) & qcond)
            preds.append(keep)
        if security.VISIBILITY_COLUMN in tags:
            preds.append(security.visibility_pred(
                s.authorizations or (),
                policies=self.meta.visibility_policies,
            ))
        if security.ACL_COLUMN in tags and s.user is not None:
            preds.append(security.acl_pred(s.user))
        return reduce(lambda a, b: a & b, preds) if preds else None

    def _read_view(
        self,
        df: DataFrame,
        s: Scan,
        visible: Column | None = None,
        matcher: Matcher | None = None,
        clustered: bool = False,
    ) -> DataFrame:
        """The scan's read view: each family group's visible cells
        (read_view up to its version limit), the ``visible`` predicate, the
        ``matcher``'s pre-quota filter part over all groups at once (its
        row verdicts read every family), then each group's version quota."""
        if self.meta.clean_log and not s.raw:
            out = self._read_view_clean(df, s)
            return out.where(visible) if visible is not None else out
        outs, caps, quota = [], [], s.max_versions or 1
        for (maxv, minv, ttl, kdc, eff_tr), names in family_groups(self.meta, s):
            sub = df if names is None else df.where(F.col("family").isin(names))
            outs.append(read_view(
                sub, max_versions=None, min_versions=minv, ttl_seconds=ttl,
                keep_deleted_cells=kdc, time_range=eff_tr, now_ms=self._now_ms,
                raw=s.raw, clustered=clustered,
            ))
            # raw ignores the FAMILY cap but honors the scan's
            # (testRawScanRespectsVersions: raw + setMaxVersions() shows
            # versions past the family limit — they exist until compaction)
            caps.append((names, quota if s.raw else min(quota, maxv)))
        out = reduce(DataFrame.unionByName, outs)
        if visible is not None:
            out = out.where(visible)
        if matcher is not None:
            out = matcher.judge(out)
        cap = caps[0][1]
        if any(n != cap for _names, n in caps):
            # groups with different limits: each cell takes its group's
            cap = F.when(F.col("family").isin(caps[0][0]), cap)
            for names, n in caps[1:]:
                cap = cap.when(F.col("family").isin(names), n)
        return limit_versions(out, cap, raw=s.raw)

    def _rmw_view(self, time_range: tuple[int, int] | None = None) -> mut.View:
        """The read view a read-modify-write op judges its current values
        by: cells the op has pruned to its touched rows
        (clustered or pinned) -> visible cells under
        ``Scan(time_range=time_range)``, with the family parameters and the
        table's clock. No observers and no cell-security predicates, as in
        the reference's row read under the lock. Always the full view, even
        on a clean log: a mixed batch appends its puts before its RMW ops
        read, and the clean-log view would then see duplicate versions."""
        full = self._with(self.cells)
        s = Scan(time_range=time_range)
        return lambda cells: full._read_view(cells, s, clustered=True)

    def _read_view_clean(self, df: DataFrame, s: Scan) -> DataFrame:
        """Fast path for a clean log (single-version, tombstone-free —
        TableMeta.clean_log): no version-limit aggregation, no tombstone
        masking, no shuffle. A full scan stays one codegen'd stage over the
        parquet files. The HBase analog: ScanQueryMatcher skips delete
        tracking when no store has delete markers. Each family group
        (:func:`family_groups`) applies read_view.retain and its time range
        as row-local predicates over the one scan."""
        groups = family_groups(self.meta, s)
        out = df.where(F.col("type") == TYPE_PUT)
        if not groups or groups[0][1] is not None:
            out = out.where(
                F.col("family").isin([n for _key, names in groups for n in names])
            )
        for (_maxv, minv, ttl, _kdc, tr), names in groups:
            scope = names if len(groups) > 1 else None
            out = retain(
                out,
                min_versions=minv,
                ttl_seconds=ttl,
                now_ms=self._now_ms,
                single_version=True,
                families=scope,
            )
            if tr is not None:
                in_range = (F.col("ts") >= tr[0]) & (F.col("ts") < tr[1])
                if scope is not None:
                    in_range = ~F.col("family").isin(scope) | in_range
                out = out.where(in_range)
        return out.select(*CELL_COLUMNS)

    def get(self, g: Get | bytes, **kw) -> DataFrame:
        """Point read (Table.get, Table.java:169) — a single-row scan."""
        if isinstance(g, (bytes, bytearray)):
            g = Get(bytes(g), **kw)
        return self.scan(g.to_scan())

    def multi_get(self, rows: list[bytes] | DataFrame, **kw) -> DataFrame:
        """Batch point reads (Table.get(List<Get>), Table.java:183) — one
        job, no per-key RPCs, through the one read path (observers
        included). A literal key list that passes read_view.small_key_set
        takes the small-key path (pruned in the scan, one partition, no
        exchanges); a DataFrame (its first column holds the keys) or a
        larger key set is a broadcast semi join of the keys against the
        cell log."""
        if isinstance(rows, DataFrame):
            keys = rows.select(F.col(rows.columns[0]).alias("row"))
        else:
            spark = self.cells.sparkSession
            keys = small_key_set(spark, rows)
            if keys is None:
                keys = mut.local_relation(
                    spark,
                    [(bytes(r),) for r in rows],
                    T.StructType([T.StructField("row", T.BinaryType())]),
                )
        return self._scan(Scan(**kw), keys)

    def get_row_or_before(self, row: bytes, family: str) -> DataFrame:
        """Closest-row-at-or-before point lookup (Table.getRowOrBefore /
        HRegion.getClosestRowBefore — deprecated in 1.3 but part of its
        client surface; semantics pinned to TestFromClientSide.java:4385
        testGetClosestRowBefore). Returns the visible cells of the
        LARGEST row key <= ``row`` within one family; empty when no row
        sorts at or below the probe. Scale shape: the candidate scan is
        a prunable row <= key range; the winner key is a one-row
        broadcast, so the probe never shuffles the scanned side."""
        cand = self.scan(
            stop_row=bytes(row), stop_inclusive=True, families=(family,)
        )
        winner = cand.agg(F.max("row").alias("_rob_row"))
        return cand.join(
            F.broadcast(winner), F.col("row") == F.col("_rob_row"), "inner"
        ).drop("_rob_row")

    def exists(self, rows: list[bytes] | DataFrame) -> DataFrame:
        """Existence probe (Table.exists / setCheckExistenceOnly, Get.java:139)."""
        return (
            self.multi_get(rows)
            .select("row")
            .distinct()
            .withColumn("exists", F.lit(True))
        )

    def to_wide(self, columns: dict[str, T.DataType | str], family: str = "d") -> DataFrame:
        """Scan + decode to a typed wide DataFrame (the `scan().to_df()` bonus
        surface, SURVEY.md §2.7)."""
        return kv_encoder.cells_to_table(self.scan(), columns, family=family)

    # ----------------------------------------------------------------- write
    # Every write entry that takes a frame passes it through
    # mutations.driver_list: a createDataFrame(list) batch enters the write
    # path as a LocalRelation (increment, append and check_and_mutate do so
    # inside mutations.small_key_frame).
    def put(self, new_cells: DataFrame) -> "Table":
        new_cells, _ = mut.driver_list(new_cells)
        new_cells = Observers.apply(self.observers.pre_mutate, new_cells)
        out = self._with(mut.put_cells(self.cells, new_cells))
        # postPut analog (RegionObserver.java:560): hooks observe the
        # committed cell frame; they cannot alter it
        Observers.notify(self.observers.post_mutate, new_cells)
        return out

    def put_wide(
        self, df: DataFrame, key_cols: list[str], *, family: str = "d", ts=None, seq=0
    ) -> "Table":
        if ts is not None and ts < 0:
            # Put(row, ts) timestamp check (TestFromClientSide.java:5322)
            raise ValueError("negative timestamps are not allowed")
        df, _ = mut.driver_list(df)
        cells = kv_encoder.table_to_cells(
            df, key_cols, family=family, ts=ts if ts is not None else clock(self._now_ms), seq=seq
        )
        return self.put(cells)

    def delete(self, deletes: DataFrame) -> "Table":
        """Append tombstones. ``deletes``: op/row/family/qualifier/ts[/batch_seq]."""
        d, _ = mut.driver_list(deletes)
        if "value" not in d.columns:
            d = d.withColumn("value", F.lit(None).cast("binary"))
        if "batch_seq" not in d.columns:
            d = d.withColumn("batch_seq", F.lit(0))
        tombstones = Observers.apply(
            self.observers.pre_mutate, mut.mutations_to_cells(d, now_ms=clock(self._now_ms))
        )
        out = self._with(mut.put_cells(self.cells, tombstones))
        # postDelete analog (RegionObserver.java:592)
        Observers.notify(self.observers.post_mutate, tombstones)
        return out

    def increment(
        self,
        increments: DataFrame,
        codec: str = "be8",
        time_range: tuple[int, int] | None = None,
    ):
        new_cells, results = mut.increment(
            self.cells,
            increments,
            view=self._rmw_view(time_range),
            now_ms=clock(self._now_ms),
            codec=codec,
        )
        # postIncrement analog (RegionObserver.java:772): each hook may
        # REPLACE the returned Result — chained, committed cells untouched
        results = Observers.apply(self.observers.post_increment, results)
        return self._with(new_cells), results

    def append(
        self, appends: DataFrame, time_range: tuple[int, int] | None = None
    ):
        new_cells, results = mut.append_value(
            self.cells,
            appends,
            view=self._rmw_view(time_range),
            now_ms=clock(self._now_ms),
        )
        # postAppend analog (RegionObserver.java:887) — chained Result
        # rewrite, same contract as post_increment
        results = Observers.apply(self.observers.post_append, results)
        return self._with(new_cells), results

    def check_and_mutate(self, mutations: DataFrame):
        new_cells, verdicts = mut.check_and_mutate(
            self.cells, mutations, view=self._rmw_view(), now_ms=clock(self._now_ms)
        )
        return self._with(new_cells), verdicts

    def check_and_mutate_row(self, groups: DataFrame, mutations: DataFrame):
        """CAS-guarded RowMutations (Table.checkAndMutate(..., RowMutations),
        Table.java:596): each group's single predicate gates its whole
        atomic multi-op payload."""
        new_cells, verdicts = mut.check_and_mutate_row(
            self.cells,
            mut.driver_list(groups)[0],
            mut.driver_list(mutations)[0],
            view=self._rmw_view(),
            now_ms=clock(self._now_ms),
        )
        return self._with(new_cells), verdicts

    def mutate_row(self, mutations: DataFrame) -> "Table":
        mutations, _ = mut.driver_list(mutations)
        committed = mut.mutations_to_cells(mutations, now_ms=clock(self._now_ms))
        out = self._with(mut.put_cells(self.cells, committed))
        # postBatchMutate analog for the atomic RowMutations group
        # (RegionObserver.java:637)
        Observers.notify(self.observers.post_mutate, committed)
        return out

    def mutate_rows(self, mutations: DataFrame, regions: DataFrame):
        """MultiRowMutationEndpoint.mutateRows analog
        (MultiRowMutationEndpoint.java:84): atomic multi-ROW groups,
        each valid only if confined to one region of ``regions``."""
        new_cells, verdicts = mut.mutate_rows(
            self.cells,
            mut.driver_list(mutations)[0],
            mut.driver_list(regions)[0],
            now_ms=clock(self._now_ms),
        )
        return self._with(new_cells), verdicts

    def batch(self, mutations: DataFrame, codec: str = "be8") -> "Table":
        mutations, _ = mut.driver_list(mutations)
        out = self._with(
            mut.apply_mutation_batch(
                self.cells,
                mutations,
                view=self._rmw_view(),
                now_ms=clock(self._now_ms),
                codec=codec,
            )
        )
        # postBatchMutate analog (RegionObserver.java:637): hooks get the
        # MUTATION frame, not resolved cells — the reference's hook
        # receives MiniBatchOperationInProgress<Mutation> (increments/
        # appends arrive as ops, their resolved values live in the store)
        Observers.notify(self.observers.post_mutate, mutations)
        return out

    def buffered_mutator(self, flush_batches: int = 16) -> "BufferedMutator":
        return BufferedMutator(self, flush_batches=flush_batches)


class BufferedMutator:
    """Client-side write buffering (BufferedMutator.java:65: mutate:86,
    flush:112): accumulate mutation-cell DataFrames and commit them as ONE
    append — the micro-batch pattern. One union+write job per flush instead
    of one per mutate call."""

    def __init__(self, table: Table, *, flush_batches: int = 16):
        self._table = table
        self._buffer: list[DataFrame] = []
        self._flush_batches = flush_batches

    def mutate(self, cells: DataFrame) -> None:
        self._buffer.append(mut.driver_list(cells)[0])
        if len(self._buffer) >= self._flush_batches:
            self.flush()

    def flush(self) -> Table:
        if self._buffer:
            batch = self._buffer[0]
            for df in self._buffer[1:]:
                batch = batch.unionByName(df)
            self._table = self._table.put(batch)
            self._buffer = []
        return self._table

    @property
    def table(self) -> Table:
        return self._table
