"""Engine — session, catalog, and table storage glue.

The Admin-surface analog (Admin.java: createTable/createNamespace/...) plus
the physical layout discipline of SURVEY.md §4: cell logs persist as parquet,
range-partitioned by ``row`` and sorted (row, family, qualifier, ts desc)
within partitions, with parquet bloom filters on ``row`` — giving Catalyst
the same pruning surface HBase gets from region boundaries, HFile key ranges
and row blooms.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from hbase_1_3_0_spark.catalog import Catalog, TableMeta
from hbase_1_3_0_spark.sources import writer
from hbase_1_3_0_spark.table import Table


def build_session(
    app_name: str = "hbase_1_3_0_spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Tuned local session. At cluster scale the same conf names apply; AQE
    re-plans shuffle partition counts, broadcasts, and skew joins at runtime."""
    import os

    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        b = b.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
    }
    conf.update(extra_conf or {})
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


class CorruptedSnapshotError(IOError):
    """CorruptedSnapshotException analog (hbase-client/.../snapshot/
    CorruptedSnapshotException.java) — export/verify integrity failure."""


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        root: str | Path | None = None,
        now_ms: int | None = None,
    ):
        self.spark = spark
        self.root = Path(root) if root else None
        self.catalog = Catalog(self.root / "_catalog.json" if self.root else None)
        self._cells: dict[str, DataFrame] = {}
        self._now_ms = now_ms

    # -- Admin surface ------------------------------------------------------
    def create_table(
        self, meta: TableMeta, cells: DataFrame | None = None
    ) -> Table:
        self.catalog.create_table(meta)
        if cells is not None:
            self._cells[meta.qualified_name] = cells
        return self.table(meta.name, meta.namespace)

    def register_cells(self, name: str, cells: DataFrame, meta: TableMeta | None = None) -> Table:
        """Register an in-memory/ephemeral cell log (no persistence)."""
        meta = meta or TableMeta(name=name)
        if meta.qualified_name not in self.catalog.tables():
            self.catalog.create_table(meta)
        self._cells[meta.qualified_name] = cells
        return self.table(meta.name, meta.namespace)

    def table(self, name: str, namespace: str = "default") -> Table:
        meta = self.catalog.describe(name, namespace)
        qn = meta.qualified_name
        if qn in self._cells:
            cells = self._cells[qn]
        elif self.root:
            cells = writer.read_cells(self.spark, self._path(meta))
        else:
            raise KeyError(f"no cells registered for {qn}")
        return Table(meta, cells, self._now_ms)

    def save(self, table: Table) -> Table:
        """Commit a table's cell log to storage (the write-job commit point =
        the batch atomicity boundary, SURVEY.md §3.3)."""
        if not self.root:
            self._cells[table.meta.qualified_name] = table.cells
            return table
        path = self._path(table.meta)
        writer.write_cells(
            table.cells,
            path,
            num_partitions=table.meta.range_partitions,
            split_points=(
                list(table.meta.split_points)
                if table.meta.split_points
                else None
            ),
        )
        fresh = writer.read_cells(self.spark, path)
        self._cells.pop(table.meta.qualified_name, None)
        return Table(table.meta, fresh, self._now_ms)

    def compact_table(self, table: Table) -> Table:
        """Major compaction honoring each family's semantic parameters
        (max_versions/min_versions/TTL/keepDeletedCells), then re-register.

        After compaction the log holds only visible cells; when every family
        keeps a single version the table earns ``clean_log`` — subsequent
        scans take the shuffle-free fast path (the post-major-compaction
        no-delete-markers state of an HBase store)."""
        from dataclasses import replace as _replace

        from hbase_1_3_0_spark.operators import jobs
        from pyspark.sql import functions as F

        fams = table.meta.families
        groups: dict[tuple, list] = {}
        for fm in fams:
            key = (fm.max_versions, fm.min_versions, fm.ttl_seconds, fm.keep_deleted_cells)
            groups.setdefault(key, []).append(fm)
        outs = []
        for (maxv, minv, ttl, kdc), members in groups.items():
            sub = table.cells
            if len(groups) > 1:
                sub = sub.where(F.col("family").isin([m.name for m in members]))
            outs.append(
                jobs.compact(
                    sub,
                    max_versions=maxv,
                    min_versions=minv,
                    ttl_seconds=ttl,
                    keep_deleted_cells=kdc,
                    now_ms=self._now_ms,
                )
            )
        compacted = outs[0]
        for o in outs[1:]:
            compacted = compacted.unionByName(o)
        # KEEP_DELETED_CELLS retains markers through compaction
        # (COMPACT_RETAIN_DELETES), so only KDC=FALSE single-version
        # families leave a clean (tombstone-free, single-version) log
        meta = _replace(
            table.meta,
            clean_log=all(
                f.max_versions == 1 and f.keep_deleted_cells == "FALSE"
                for f in fams
            ),
        )
        self.catalog.alter_table(meta)
        out = Table(meta, compacted, self._now_ms)
        return self.save(out)

    def snapshot(self, table: Table, snapshot_name: str) -> Path:
        """Snapshot = immutable directory copy of the parquet cell log
        (TableSnapshotInputFormat analog, TableSnapshotInputFormat.java:86)."""
        if not self.root:
            raise ValueError("snapshots need a storage root")
        import shutil

        src = self._path(table.meta)
        dst = self.root / "_snapshots" / snapshot_name
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copytree(src, dst)
        return dst

    def truncate_table(self, table: Table) -> Table:
        """Admin.truncateTable (Admin.java:560): drop all data, keep the
        schema. The replacement log is empty; a truncated log is trivially
        clean, so scans take the no-shuffle fast path."""
        from dataclasses import replace as _replace

        from hbase_1_3_0_spark.cells import CELL_SCHEMA

        empty = self.spark.createDataFrame([], CELL_SCHEMA)
        meta = _replace(table.meta, clean_log=True)
        self.catalog.alter_table(meta)
        if self.root:
            import shutil

            shutil.rmtree(self._path(meta), ignore_errors=True)
        self._cells[meta.qualified_name] = empty
        return Table(meta, empty, self._now_ms)

    def drop_table(self, table: Table) -> None:
        """Admin.deleteTable (Admin.java:309): remove data and catalog
        entry."""
        self.catalog.drop_table(table.meta.name, table.meta.namespace)
        self._cells.pop(table.meta.qualified_name, None)
        if self.root:
            import shutil

            shutil.rmtree(self._path(table.meta), ignore_errors=True)

    def clone_snapshot(self, snapshot_name: str, meta: TableMeta) -> Table:
        """Admin.cloneSnapshot (Admin.java:1196): a NEW table whose initial
        log is the snapshot content. Parquet files are immutable, so the
        clone is a cheap directory copy (the reference's clone is likewise
        HFile reference links, not a data rewrite)."""
        if not self.root:
            raise ValueError("snapshots need a storage root")
        import shutil

        src = self.root / "_snapshots" / snapshot_name
        if not src.exists():
            raise KeyError(f"no such snapshot: {snapshot_name}")
        self.catalog.create_table(meta)
        dst = self._path(meta)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copytree(src, dst)
        return self.table(meta.name, meta.namespace)

    def restore_snapshot(self, table: Table, snapshot_name: str) -> Table:
        """Admin.restoreSnapshot (Admin.java:1170): roll the table's data
        back to the snapshot content (schema kept)."""
        if not self.root:
            raise ValueError("snapshots need a storage root")
        import shutil

        src = self.root / "_snapshots" / snapshot_name
        if not src.exists():
            raise KeyError(f"no such snapshot: {snapshot_name}")
        dst = self._path(table.meta)
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(src, dst)
        self._cells.pop(table.meta.qualified_name, None)
        return self.table(table.meta.name, table.meta.namespace)

    def list_snapshots(self) -> list[str]:
        if not self.root:
            return []
        d = self.root / "_snapshots"
        return sorted(p.name for p in d.iterdir()) if d.exists() else []

    def delete_snapshot(self, snapshot_name: str) -> None:
        if self.root:
            import shutil

            shutil.rmtree(
                self.root / "_snapshots" / snapshot_name, ignore_errors=True
            )

    def export_snapshot(
        self,
        snapshot_name: str,
        dest_root: str | Path,
        *,
        target_name: str | None = None,
        overwrite: bool = False,
        verify_target: bool = True,
    ) -> Path:
        """ExportSnapshot analog (hbase-server/.../snapshot/
        ExportSnapshot.java:88): ship a snapshot to another storage
        root. The reference copies HFiles into a working dir under the
        target root, renames to the final snapshot dir, and verifies
        the target references (run():929-1016, -overwrite :892,
        -target rename :872, verifySnapshot :804 via
        SnapshotReferenceUtil); same shape here over parquet files,
        with the reference-manifest role played by an explicit
        ``_manifest.json`` of (relative path, size, md5).

        The copy is tmp-dir-then-rename so a crashed export never
        leaves a half-snapshot under the final name, and a re-run of a
        failed export needs no cleanup (the tmp dir is replaced)."""
        import hashlib
        import json as _json
        import shutil

        if not self.root:
            raise ValueError("snapshots need a storage root")
        src = self.root / "_snapshots" / snapshot_name
        if not src.exists():
            raise KeyError(f"no such snapshot: {snapshot_name}")
        target = target_name or snapshot_name
        dest_root = Path(dest_root)
        final = dest_root / "_snapshots" / target
        if final.exists():
            if not overwrite:
                # :936 "The snapshot '...' already exists in the
                # destination: ..." posture — refuse without -overwrite
                raise FileExistsError(
                    f"the snapshot '{target}' already exists in the "
                    f"destination: {final} (use overwrite=True)"
                )
            shutil.rmtree(final)
        tmp = dest_root / "_snapshots" / ".tmp" / target
        if tmp.exists():
            shutil.rmtree(tmp)  # stale working dir from a dead export
        tmp.parent.mkdir(parents=True, exist_ok=True)
        shutil.copytree(src, tmp)

        manifest = []
        # only the TOP-LEVEL _manifest.json is the export's own metadata;
        # a nested file of the same name is snapshot data and gets hashed.
        for p in sorted(tmp.rglob("*")):
            if p.is_file() and p != tmp / "_manifest.json":
                manifest.append({
                    "path": str(p.relative_to(tmp)),
                    "size": p.stat().st_size,
                    "md5": hashlib.md5(p.read_bytes()).hexdigest(),
                })
        (tmp / "_manifest.json").write_text(
            _json.dumps(manifest, indent=1)
        )
        tmp.rename(final)  # the :1001 atomic publish
        if verify_target:
            self.verify_snapshot(final)
        return final

    @staticmethod
    def verify_snapshot(snapshot_dir: str | Path) -> int:
        """SnapshotReferenceUtil.verifySnapshot analog: every file the
        manifest references must exist with matching size and digest,
        and no unreferenced data files may appear (a foreign file means
        the directory is not the exported snapshot). Returns the number
        of verified files; raises ``CorruptedSnapshotError`` otherwise."""
        import hashlib
        import json as _json

        snapshot_dir = Path(snapshot_dir)
        mpath = snapshot_dir / "_manifest.json"
        if not mpath.exists():
            raise CorruptedSnapshotError(f"missing manifest: {mpath}")
        manifest = _json.loads(mpath.read_text())
        seen = set()
        for entry in manifest:
            p = snapshot_dir / entry["path"]
            seen.add(p)
            if not p.exists():
                raise CorruptedSnapshotError(f"missing file: {p}")
            if p.stat().st_size != entry["size"]:
                raise CorruptedSnapshotError(
                    f"size mismatch: {p} ({p.stat().st_size} != "
                    f"{entry['size']})"
                )
            if hashlib.md5(p.read_bytes()).hexdigest() != entry["md5"]:
                raise CorruptedSnapshotError(f"digest mismatch: {p}")
        extra = [
            p for p in snapshot_dir.rglob("*")
            if p.is_file() and p != mpath and p not in seen
        ]
        if extra:
            raise CorruptedSnapshotError(
                f"unreferenced files in snapshot: {extra[:3]}"
            )
        return len(manifest)

    def region_boundaries(self, table: Table) -> DataFrame:
        """RegionLocator.getStartEndKeys analog (hbase-client/.../
        RegionLocator.java:58): the row-key range each region covers. For
        a saved table the regions ARE the range-partitioned parquet files —
        the same pruning boundaries HBase gets from region start/end keys —
        so regions key on the source file (``_metadata.file_path``), not on
        the read partition: the reader packs several small files into one
        partition. Tables that are not file-backed fall back to the
        partition id. One narrow aggregation, no shuffle of cell data."""
        from pyspark.errors import AnalysisException
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        try:
            keyed = table.cells.select(
                F.col("_metadata.file_path").alias("_pid"), "row"
            )
        except AnalysisException:
            keyed = table.cells.select(
                F.spark_partition_id().alias("_pid"), "row"
            )
        per_part = (
            keyed.groupBy("_pid")
            .agg(
                F.min("row").alias("start_key"),
                F.max("row").alias("end_key"),
                F.count(F.lit(1)).alias("cells"),
            )
        )
        # parquet file-listing order is not key order; regions are numbered
        # by their key range, like the meta table's region ordering
        w = Window.orderBy("start_key")
        return per_part.select(
            (F.row_number().over(w) - 1).alias("region"),
            "start_key",
            "end_key",
            "cells",
        )

    def cluster_status_df(
        self,
        servers: list[str],
        *,
        dead_servers: tuple[str, ...] = (),
    ) -> DataFrame:
        """ClusterStatus over the ENGINE'S OWN layout (the master's view
        a real deployment gets from regionserver reports): one
        RegionLoad row per physical region of every saved table —
        region identity = the parquet region file, KV count and family
        (store) count from a per-file metadata aggregation,
        storefileSizeMB from the file's REAL on-disk size (MB-truncated
        like RegionLoad.getStorefileSizeMB) — placed onto ``servers``
        with the reference's roundRobinAssignment
        (BaseLoadBalancer.java:1533), then rolled up by
        :func:`operators.cluster_status.cluster_status`. Request
        counters are runtime telemetry with no storage analog and read
        as 0. The per-file collect is region-list metadata scale."""
        import os
        from urllib.parse import unquote, urlparse

        from pyspark.sql import functions as F

        from hbase_1_3_0_spark.operators.balancer import (
            round_robin_assignment,
        )
        from hbase_1_3_0_spark.operators.cluster_status import cluster_status

        rl_rows = []
        for qn in self.catalog.tables():
            ns, _, name = qn.partition(":")
            try:
                t = self.table(name, ns)
            except KeyError:
                continue
            if not t.cells.inputFiles():
                continue  # in-memory only: no physical regions yet
            per_file = (
                t.cells.select(
                    F.input_file_name().alias("f"), "family"
                )
                .groupBy("f")
                .agg(
                    F.countDistinct("family").alias("stores"),
                    F.count(F.lit(1)).alias("cells"),
                )
                .collect()
            )
            for r in per_file:
                path = unquote(urlparse(r.f).path)
                size = os.path.getsize(path) if os.path.exists(path) else 0
                rl_rows.append(
                    (qn, os.path.basename(path), int(r.stores), 1,
                     size // (1 << 20), int(r.cells))
                )
        rl = self.spark.createDataFrame(
            rl_rows,
            "table_name string, region string, stores long, "
            "storefiles long, storefile_size_mb long, cells long",
        )
        placed = round_robin_assignment(
            rl.select("table_name", "region"),
            self.spark.createDataFrame(
                [(s,) for s in servers], "server string"
            ),
        ).withColumnRenamed("dest", "server")
        return cluster_status(
            rl.join(placed, ["table_name", "region"]),
            servers=servers,
            dead_servers=dead_servers,
        )

    def split_table(
        self, table: Table, num_partitions: int, *, algo: str | None = None
    ) -> Table:
        """Admin.split analog (Admin.java:1548): re-save the log with a new
        range-partition count — the bulk region split/merge. The rewrite IS
        the split: repartitionByRange gives total-order boundaries, exactly
        HBase's split-point semantics.

        ``algo`` selects a RegionSplitter pre-split algorithm
        (RegionSplitter.java:887,1040) instead of data-sampled
        boundaries: ``"hex"`` (HexStringSplit — ASCII-hex row keys) or
        ``"uniform"`` (UniformSplit — uniformly random byte keys) pins
        ``split_points`` to the algorithm's computed boundaries, the
        reference's pre-split-before-bulk-load idiom."""
        from dataclasses import replace as _replace

        points: tuple[bytes, ...] | None = table.meta.split_points
        if algo is not None:
            from hbase_1_3_0_spark.operators import region_splitter as rs

            if algo == "hex":
                points = tuple(rs.hex_string_split(num_partitions))
            elif algo == "uniform":
                points = tuple(rs.uniform_split(num_partitions))
            else:
                raise ValueError(f"unknown split algorithm: {algo}")
        meta = _replace(
            table.meta, range_partitions=num_partitions, split_points=points
        )
        self.catalog.alter_table(meta)
        return self.save(Table(meta, table.cells, self._now_ms))

    def rolling_split(self, table: Table, *, algo: str = "uniform") -> Table:
        """RegionSplitter rolling split (`-r`, RegionSplitter.java:436):
        split EVERY region of a pre-split table at its algorithm
        midpoint — region count doubles, data rewrites once through
        the range-partitioned writer (the reference's throttled
        per-region split+compact cycle collapses into the one
        rewrite). Requires explicit ``split_points`` (pre-split the
        table first via ``split_table(algo=...)``)."""
        from dataclasses import replace as _replace

        from hbase_1_3_0_spark.operators import region_splitter as rs

        if not table.meta.split_points:
            raise ValueError(
                "rolling_split needs a pre-split table (explicit "
                "split_points); run split_table(n, algo=...) first"
            )
        points = tuple(
            rs.rolling_split_points(table.meta.split_points, algo)
        )
        meta = _replace(
            table.meta,
            split_points=points,
            range_partitions=len(points) + 1,
        )
        self.catalog.alter_table(meta)
        return self.save(Table(meta, table.cells, self._now_ms))

    def merge_table(self, table: Table, factor: int = 2) -> Table:
        """Admin.mergeRegions analog (Admin.java:778), bulk form: adjacent
        regions coalesce in groups of ``factor`` — the inverse of
        :meth:`split_table`. On a pre-split table every boundary that
        separates two regions of the same merge group is dropped (region
        directories re-save against the widened boundary list); otherwise
        the sampled range-partition count shrinks by ``factor``. Either
        way the rewrite is one range repartition — no data semantics
        change, scans return identical cells."""
        from dataclasses import replace as _replace

        if factor < 2:
            raise ValueError("merge factor must be >= 2")
        meta = table.meta
        if meta.split_points:
            bounds = sorted(meta.split_points)
            kept = tuple(
                b for i, b in enumerate(bounds) if (i + 1) % factor == 0
            )
            # factor >= region count: every boundary drops — pin ONE
            # region rather than falling back to sampled partitioning
            meta = _replace(
                meta,
                split_points=kept or None,
                range_partitions=meta.range_partitions if kept else 1,
            )
        else:
            # catalog value, else the session's parallelism — NOT
            # table.cells.rdd.getNumPartitions(): touching .rdd forces
            # the whole DataFrame through an RDD conversion node just
            # to read a partition count
            current = (
                meta.range_partitions
                or table.cells.sparkSession.sparkContext.defaultParallelism
            )
            meta = _replace(
                meta, range_partitions=max(1, current // factor)
            )
        self.catalog.alter_table(meta)
        return self.save(Table(meta, table.cells, self._now_ms))

    def _path(self, meta: TableMeta) -> Path:
        assert self.root is not None
        return self.root / meta.namespace / meta.name
