"""Benchmark entry point.

    python3 perfbench/run.py --workload point-ops --seed 1 --seconds 30 --trace 0

Runs one closed-loop workload (one client) against the library's public API
on a host-fitted local Spark session, checks every result against an
engine-independent expectation, and prints one JSON object as the last line
of standard output. ``--trace 0`` reports the end-to-end metrics, ``--trace
1`` the per-layer metrics (and writes the run's spans as JSON lines under
``.perfbench/traces``). Exits non-zero when any operation failed or
returned a wrong result, or when the engine package is not importable.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: default sizes per workload; --rows/--docs override them (self-check)
SIZES = {"point-ops": {"rows": 2000}, "bulk": {"rows": 3000, "docs": 200}}
SETUPS = 3  # set-up repetitions per run; setup_s takes their median
#: nominal seconds of one schedule pass on a 4-core host: a run measures a
#: fixed number of whole passes, round(--seconds / pass), at least one, so
#: every run of a workload does the same work in the same order
PASS_SECONDS = {"point-ops": 20, "bulk": 45}


def host() -> dict:
    """Cores this process may use and a driver heap that fits the host."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = next(int(l.split()[1]) // 1024 for l in f if l.startswith("MemTotal"))
    return {"cores": cores, "driver_mb": max(1024, min(3072, total_mb // 4))}


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def start_session(scratch: str, trace: bool):
    from hbase_1_3_0_spark.engine import build_session

    h = host()
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": f"{h['driver_mb']}m",
        "spark.default.parallelism": str(h["cores"]),
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(scratch, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = build_session(
        "perfbench",
        master=f"local[{h['cores']}]",
        shuffle_partitions=h["cores"],
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the driver JVM (it exits when its stdin closes,
    taking its Python workers with it) and wait for it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


def end_to_end(run, session_s: float, wall_s: float) -> dict:
    """Latencies are geometric means over a run's operations: a run holds
    14 to 16 samples from classes whose costs differ several-fold, and a
    median of such a mix jumps between classes from run to run."""
    ok = [s for s in run.samples if s.ms > 0]
    reads = [s.ms for s in ok if s.kind == "read"]
    writes = [s.ms for s in ok if s.kind == "write"]
    busy_s = max(sum(s.ms for s in ok) / 1e3, 1e-9)
    m = {
        "setup_s": (session_s + statistics.median(run.setup_builds_s), "s"),
        "read_geomean_ms": (geomean(reads), "ms"),
        "write_geomean_ms": (geomean(writes), "ms"),
        "ops_per_s": (len(ok) / busy_s, "1/s"),
        "cells_per_s": (sum(s.cells for s in ok) / busy_s, "1/s"),
        "bytes_stored_per_user_byte": (run.stored_bytes / max(1, run.user_bytes), "ratio"),
    }
    print(
        f"[perfbench] samples read={len(reads)} write={len(writes)} wall_s={wall_s:.1f} "
        + " ".join(f"{s.cls}:{s.ms:.0f}" for s in ok),
        flush=True,
    )
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


#: per-op-class plan counts reported (0 where the workload has no such op)
PLAN_CLASSES = [
    "get", "get_filter", "multi_get", "exists", "range_scan", "cas", "increment",
    "append", "full_scan", "scvf_list_scan", "aggregate", "median", "row_counter",
    "sync_table",
]


def per_layer(run, tracer, session_s: float, gc_ms: float, rss_mb: float, events: dict) -> dict:
    inside = tracer.inside_ms()
    c, first = tracer.counts, tracer.first
    ms = {
        "table.build_ms": inside["table.build"],
        "filters.parse_ms": inside["filters.parse"],
        "filters.compile_ms": inside["filters.compile"],
        "read_view.build_ms": inside["read_view.build"],
        "mutations.build_ms": inside["mutations.build"],
        "engine.save_ms": inside["engine.save"],
        "writer.ms": inside["writer"],
        "exec.ms": inside["exec"],
        "catalyst.analysis_ms": c["catalyst.analysis_ms"],
        "catalyst.optimization_ms": c["catalyst.optimization_ms"],
        "catalyst.planning_ms": c["catalyst.planning_ms"],
        "jvm.gc_ms": gc_ms,
    }
    out = {k: (v, "ms") for k, v in ms.items()}
    out["engine.session_start_s"] = (session_s, "s")
    # peak memory is a layer figure, not an end-to-end one: the driver
    # heap grows with GC timing, so it spreads 20 % from run to run
    out["jvm.peak_rss_mb"] = (rss_mb, "MB")
    counts = {
        "exec.jobs": c["exec.jobs"],
        "exec.stages": c["exec.stages"],
        "exec.tasks": c["exec.tasks"],
        **events,
        "scan.cells_read": c["scan.cells_read"],
        "scan.cells_returned": c["scan.cells_returned"],
        "writer.bytes_written": c["writer.bytes_written"],
        "writer.files_written": c["writer.files_written"],
        "engine.compact_bytes_rewritten": c["engine.compact_bytes_rewritten"],
        "streaming.batches": c["streaming.batches"],
        "pipeline.neardup_kills": c["pipeline.neardup_kills"],
        "ops.read_samples": sum(s.kind == "read" for s in run.samples),
        "ops.write_samples": sum(s.kind == "write" for s in run.samples),
    }
    for cls in PLAN_CLASSES:
        counts[f"plan.exchanges.{cls}"] = first.get(f"plan.exchanges.{cls}", 0)
    for cls in ("get", "cas"):
        counts[f"plan.shuffle_exchanges.{cls}"] = first.get(f"plan.shuffle_exchanges.{cls}", 0)
    for d in range(2):
        counts[f"plan.exchanges_at_depth.{d}"] = first.get(f"plan.exchanges_at_depth.{d}", 0)
    out.update({k: (v, "count") for k, v in counts.items()})
    out["scan.useful_ratio"] = (
        c["scan.cells_returned"] / c["scan.cells_read"] if c["scan.cells_read"] else 0.0,
        "ratio",
    )
    out["mutations.cas_applied_ratio"] = (
        c["mutations.cas_applied"] / c["mutations.cas_checked"] if c["mutations.cas_checked"] else 0.0,
        "ratio",
    )
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, help="override the fixture's row count")
    ap.add_argument("--docs", type=int, help="override the corpus size (bulk)")
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import hbase_1_3_0_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its scratch (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(scratch, bool(args.trace))
        session_s = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._gateway.proc.pid

        from layers import Tracer, event_log_counts
        from workloads import Bulk, Loop, PointOps

        tracer = Tracer(spark, bool(args.trace))
        size = {**SIZES[args.workload]}
        if args.rows:
            size["rows"] = args.rows
        if args.docs:
            size["docs"] = args.docs
        cls = PointOps if args.workload == "point-ops" else Bulk
        wl = cls(spark, tracer, scratch, args.seed, **size)
        loop = Loop(tracer)
        for k in range(SETUPS):
            t = time.perf_counter()
            with tracer.span("setup"):
                wl.build(k)
            loop.run.setup_builds_s.append(time.perf_counter() - t)
        wl.prepare()

        gc0 = tracer.gc_ms() if args.trace else 0.0
        t = time.perf_counter()
        passes = max(1, round(args.seconds / PASS_SECONDS[args.workload]))
        run = loop.drive(wl.schedule(passes))
        wall_s = time.perf_counter() - t
        gc_ms = tracer.gc_ms() - gc0 if args.trace else 0.0
        wl.finish(run)
        rss_mb = vm_hwm_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        tracer.unwrap()
        stop_session(spark)
        spark = None

        wrong = sum(1 for s in run.samples if not s.ok) - run.failed
        if args.trace:
            events = event_log_counts(os.path.join(scratch, "events"))
            metrics = per_layer(run, tracer, session_s, gc_ms, rss_mb, events)
            stem = os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}")
            tracer.write(stem + ".jsonl")
            with open(stem + ".summary.json", "w") as f:
                json.dump(
                    {
                        # the traced run's own end-to-end figures: compared
                        # with an untraced run they give the tracing overhead
                        "end_to_end": end_to_end(run, session_s, wall_s),
                        "inside_ms": tracer.inside_ms(),
                        "self_ms": tracer.self_ms(),
                        "counts": tracer.counts,
                        "first": tracer.first,
                        "sizes": run.sizes,
                    },
                    f,
                    indent=1,
                    sort_keys=True,
                )
        else:
            metrics = end_to_end(run, session_s, wall_s)
        print(f"[perfbench] sizes {json.dumps(run.sizes)}", flush=True)
        print(
            json.dumps(
                {
                    "correct": wrong == 0,
                    "attempted": len(run.samples),
                    "failed": run.failed + wrong,
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
        return 0 if wrong == 0 and run.failed == 0 else 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
