"""Layer tracing from outside the engine.

Spans are recorded around calls into each package module's public
functions (by wrapping the module attributes the callers look up), around
the benchmark's own build and action phases, and per operation. They stay
in memory and are written as JSON lines when the run ends. Spark-side
figures come from the public handles Spark offers: a query's phase
tracker, its executed plan, the status tracker under a per-operation job
group, the JVM's GC beans and the event log.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

#: (module, attribute, layer) wrapped in a traced run. Attributes are
#: wrapped where callers look them up, so ``table.read_view`` (the name
#: ``Table.scan`` calls) is wrapped rather than the defining module's.
WRAPPED = [
    ("hbase_1_3_0_spark.engine", "Engine.table", "table.build"),
    ("hbase_1_3_0_spark.table", "Table.scan", "table.build"),
    ("hbase_1_3_0_spark.table", "Table.get", "table.build"),
    ("hbase_1_3_0_spark.table", "Table.multi_get", "table.build"),
    ("hbase_1_3_0_spark.table", "Table.exists", "table.build"),
    ("hbase_1_3_0_spark.table", "Table.put", "table.build"),
    ("hbase_1_3_0_spark.table", "Table.delete", "table.build"),
    ("hbase_1_3_0_spark.table", "Table.increment", "table.build"),
    ("hbase_1_3_0_spark.table", "Table.append", "table.build"),
    ("hbase_1_3_0_spark.table", "Table.check_and_mutate", "table.build"),
    ("hbase_1_3_0_spark.table", "parse_filter", "filters.parse"),
    ("hbase_1_3_0_spark.table", "compile_filter", "filters.compile"),
    ("hbase_1_3_0_spark.table", "apply_filter", "filters.compile"),
    ("hbase_1_3_0_spark.table", "read_view", "read_view.build"),
    ("hbase_1_3_0_spark.operators.mutations", "read_view", "read_view.build"),
    ("hbase_1_3_0_spark.operators.jobs", "read_view", "read_view.build"),
    ("hbase_1_3_0_spark.operators.mutations", "increment", "mutations.build"),
    ("hbase_1_3_0_spark.operators.mutations", "append_value", "mutations.build"),
    ("hbase_1_3_0_spark.operators.mutations", "check_and_mutate", "mutations.build"),
    ("hbase_1_3_0_spark.operators.mutations", "put_cells", "mutations.build"),
    ("hbase_1_3_0_spark.operators.mutations", "mutations_to_cells", "mutations.build"),
    ("hbase_1_3_0_spark.engine", "Engine.save", "engine.save"),
    ("hbase_1_3_0_spark.engine", "Engine.compact_table", "engine.compact"),
    ("hbase_1_3_0_spark.sources.writer", "write_cells", "writer"),
    ("hbase_1_3_0_spark.sources.kv_encoder", "table_to_cells", "kv_encoder"),
]


class Tracer:
    """Spans and counters of one run. ``enabled=False`` makes every hook a
    no-op, so the untraced run pays only a context-manager call per phase."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.first: dict[str, float] = {}
        self._stack: list[int] = []
        self._op = 0
        self._restore: list[tuple] = []
        if enabled:
            for mod, attr, layer in WRAPPED:
                self._wrap(mod, attr, layer)

    # ------------------------------------------------------------- spans
    def _wrap(self, mod_name: str, attr: str, layer: str) -> None:
        owner = importlib.import_module(mod_name)
        *path, name = attr.split(".")
        for p in path:
            owner = getattr(owner, p)
        fn = getattr(owner, name)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(layer):
                return fn(*a, **kw)

        setattr(owner, name, traced)
        self._restore.append((owner, name, fn))

    def unwrap(self) -> None:
        for owner, name, fn in reversed(self._restore):
            setattr(owner, name, fn)
        self._restore.clear()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "id": len(self.spans),
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def op(self, cls: str):
        """One measured operation: its own span id and Spark job group."""
        self._op += 1
        if self.enabled:
            self.spark.sparkContext.setJobGroup(f"op-{self._op}", cls)
        with self.span(f"op.{cls}"):
            yield
        if self.enabled:
            self._job_counts(cls)

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] += value

    def first_count(self, name: str, value: float) -> None:
        """A count taken from the first occurrence only: plan shapes of a
        fixed schedule position, which repeat exactly run to run."""
        if self.enabled and name not in self.first:
            self.first[name] = value

    def self_ms(self) -> dict[str, float]:
        """Self time per span name: duration minus what children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"] - child[s["id"]]) * 1e3
        return out

    def inside_ms(self) -> dict[str, float]:
        """Time inside each layer's calls: span durations, skipping spans
        nested in a span of the same name (Table.get calls Table.scan)."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            p = s["parent"]
            while p is not None and self.spans[p]["name"] != s["name"]:
                p = self.spans[p]["parent"]
            if p is None:
                out[s["name"]] += (s["end"] - s["start"]) * 1e3
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # ------------------------------------------------------ Spark figures
    def plan(self, cls: str, df, depth: int | None = None) -> None:
        """Exchange counts of a DataFrame's physical plan, read before it
        runs: adaptive execution rewrites the plan while stages finish, so
        only the initial plan repeats exactly. ``depth`` is the chain depth
        of a chained write."""
        if not self.enabled:
            return
        from hbase_1_3_0_spark.plans import inspect

        names = [f"plan.exchanges.{cls}"]
        if depth is not None:
            names.append(f"plan.exchanges_at_depth.{depth}")
        if all(n in self.first for n in names):
            return
        n_ex = inspect.exchange_count(df)
        for n in names:
            self.first_count(n, n_ex)
        self.first_count(f"plan.shuffle_exchanges.{cls}", inspect.shuffle_exchange_count(df))

    def query(self, df) -> None:
        """Catalyst phase times and scan rows of an executed DataFrame."""
        if not self.enabled:
            return
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        for k in ("analysis", "optimization", "planning"):
            if phases.contains(k):
                p = phases.apply(k)
                self.count(f"catalyst.{k}_ms", p.endTimeMs() - p.startTimeMs())
        self.count("scan.cells_read", _scan_rows(qe.executedPlan()))

    def _job_counts(self, cls: str) -> None:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(f"op-{self._op}")
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si:
                    stages += 1
                    tasks += si.numTasks
        self.count("exec.jobs", len(jobs))
        self.count("exec.stages", stages)
        self.count("exec.tasks", tasks)
        self.first_count(f"exec.jobs.{cls}", len(jobs))

    def gc_ms(self) -> float:
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))


def _scan_rows(plan) -> int:
    """Rows output by the file scans of an executed plan (AQE stages and
    reused exchanges included)."""
    total, todo = 0, [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            todo.append(node.plan())
            continue
        if name.startswith("ReusedExchange"):
            continue  # its rows were counted where the exchange first ran
        if name.startswith("Scan") and node.metrics().contains("numOutputRows"):
            total += node.metrics().apply("numOutputRows").value()
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return total


def event_log_counts(event_dir: str) -> dict[str, float]:
    """Shuffle bytes written, bytes spilled and failed tasks from the
    Spark event log of the run."""
    out = {"exec.shuffle_write_bytes": 0.0, "exec.spill_bytes": 0.0, "exec.failed_tasks": 0.0}
    for path in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    out["exec.failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                out["exec.shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                )
                out["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return out
