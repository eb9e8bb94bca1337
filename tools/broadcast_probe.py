"""Broadcast-threshold probe (VERDICT r12 next-round #2).

The 10x scale probes show plan-SHAPE stability, but three hot paths
depend on a build side staying under the ~10 MB adaptive broadcast
threshold, and none had been pushed past it:

1. **fused-SCVF verdict row set on UNCLUSTERED input**
   (compiler.py _scvf_multi_transform): AQE-decided — the staged
   round-robin exchange exists precisely so AQE sizes the REAL verdict
   set. Only unclustered callers reach that join: the probe's table is
   a clean log, whose scan is not clustered by row (a non-clean scan
   clusters its cells and judges SCVFs as windows, with no join to
   flip). This probe sweeps filter selectivity (~1% -> 100%) and also
   forces the 100x-representative crossing by lowering
   spark.sql.adaptive.autoBroadcastJoinThreshold, recording the
   BHJ->SMJ flip and the fallback's cost.
2. **embedding-decontamination eval-set broadcast**
   (decontaminate.embedding_contamination): an EXPLICIT F.broadcast
   hint — it can NEVER flip; growing the eval set past the threshold
   keeps broadcasting until driver memory, so the probe measures the
   hint's actual ceiling behavior (size estimate + runtime linearity)
   at 1x/10x/50x eval sets. The documented contract (docstring) routes
   probe sets too large to broadcast to the LSH/IVF paths.
3. **streaming near-dup band probe join** (_neardup_commit_batch):
   the broadcast side is the BATCH's band rows (the store side is the
   big side by design), so the crossing comes from batch size, not
   history. The probe replays the probe join at 2k/20k/200k-doc
   batches against a fixed 400k-signature band store.

Usage: python tools/broadcast_probe.py [--out BROADCAST_PROBE.json]
One JSON line to stdout; progress to stderr. Findings land in
SCALING.md (r13 section).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from hbase_1_3_0_spark.catalog import TableMeta  # noqa: E402
from hbase_1_3_0_spark.engine import build_session  # noqa: E402
from hbase_1_3_0_spark.pipeline import decontaminate  # noqa: E402
from hbase_1_3_0_spark.pipeline.dedup import (  # noqa: E402
    minhash_signatures,
    signature_bands,
)
from hbase_1_3_0_spark.sources import fixtures, writer  # noqa: E402
from hbase_1_3_0_spark.table import Table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCRATCH = "/dev/shm" if os.path.isdir("/dev/shm") else None
NOW_MS = 9_000_000


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _joins(plan: str) -> dict:
    return {
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
    }


def _timed_sink(df):
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def _strategy(df) -> dict:
    """Join strategy of the FINAL adaptive plan. A noop write executes a
    CLONED QueryExecution and leaves this one's adaptive sections
    unfinalized (scale_probe r12 lesson), so the capture runs collect()
    on a 1-row count over the frame — downstream of every join, so the
    strategy decision is untouched and the driver sees one row."""
    agg = df.groupBy().count()
    agg.collect()
    return _joins(_final_plan(agg))


def probe_scvf(spark, li, results):
    """Selectivity sweep x threshold sweep over the fused-SCVF staged
    join, as a clean-log (unclustered) scan takes it."""
    cases = {
        # ~1% of lineitem rows
        "sel_1pct": (
            "(SingleColumnValueFilter ('d','l_returnflag',=,'binary:R',"
            "true,true) AND SingleColumnValueFilter ('d','l_shipdate',=,"
            "'substring:1996-06',true,true))"
        ),
        # ~25% (returnflag R)
        "sel_25pct": (
            "SingleColumnValueFilter ('d','l_returnflag',=,'binary:R',"
            "true,true)"
        ),
        # 100%: every row's verdict set — the worst case
        "sel_100pct": (
            "SingleColumnValueFilter ('d','l_returnflag',!=,'binary:~~~',"
            "true,true)"
        ),
    }
    # default ~10MB; 64KB = the 100x-representative ratio (a verdict
    # set 100x this sf crosses the real 10MB line the same way)
    thresholds = {"default": None, "64kb": "65536"}
    for tname, tval in thresholds.items():
        if tval is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", tval
            )
        for cname, dsl in cases.items():
            df = li.scan(filter=dsl)
            secs = _timed_sink(df)
            row = {"secs": secs, **_strategy(li.scan(filter=dsl))}
            results[f"scvf/{cname}/{tname}"] = row
            print(f"scvf/{cname}/{tname}: {row}", file=sys.stderr)
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def probe_decontaminate(spark, results):
    """Explicit-hint path: eval set grown 1x/10x/50x. The corpus is a
    5k-vector slice — the probe measures the BROADCAST side, and a
    small stream side keeps the BNLJ term from swamping wall-clock."""
    emb = fixtures.load_table(spark, SF_DIR, "embeddings")
    corpus = emb.limit(500).select(
        "vec_id", F.col("embedding").alias("vec")
    ).cache()
    corpus.count()
    base = emb.limit(1000).select(
        F.col("vec_id").alias("eval_id"), F.col("embedding").alias("vec")
    )
    for mult in (1, 10, 50):
        probes = (
            base.crossJoin(
                spark.range(mult).select(F.col("id").alias("_rep"))
            )
            .select(
                (F.col("eval_id") * 100 + F.col("_rep")).alias("vec_id"),
                "vec",
            )
            .cache()
        )
        n = probes.count()
        df = decontaminate.embedding_contamination(
            corpus, probes,
            id_col="vec_id", vec_col="vec", threshold=0.99,
        )
        secs = _timed_sink(df)
        row = {"secs": secs, "eval_rows": n, **_strategy(df)}
        results[f"decon/evalx{mult}"] = row
        print(f"decon/evalx{mult}: {row}", file=sys.stderr)
        probes.unpersist()
    corpus.unpersist()


def probe_band_store(spark, results):
    """Batch-size sweep of the near-dup probe join against a fixed
    400k-signature (6.4M band rows) store — the broadcast side is the
    batch, so the crossing comes from batch growth."""
    root = tempfile.mkdtemp(prefix="bprobe_bands_", dir=SCRATCH)
    n_hist, bands, num_hashes = 400_000, 16, 64
    hist_sigs = spark.range(n_hist).select(
        (F.col("id") + 10_000_000).alias("_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda i: F.xxhash64(F.col("id"), i),
        ).alias("_sig"),
    )
    (
        signature_bands(hist_sigs, bands=bands, num_hashes=num_hashes)
        .select(F.col("_id").alias("doc_id"), "band", "bucket")
        .write.mode("overwrite").parquet(f"{root}/bands")
    )
    prior_bands = spark.read.parquet(f"{root}/bands").select(
        F.col("doc_id").alias("_nid"), "band", "bucket"
    )
    for batch_docs in (2_000, 20_000, 200_000):
        batch_sigs = spark.range(batch_docs).select(
            F.col("id").alias("_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                lambda i: F.xxhash64(F.col("id") * 7 + 3, i),
            ).alias("_sig"),
        )
        batch_bands = signature_bands(
            batch_sigs, bands=bands, num_hashes=num_hashes
        )
        cand = (
            batch_bands.join(prior_bands, ["band", "bucket"])
            .select("_id", "_nid")
            .distinct()
        )
        secs = _timed_sink(cand)
        row = {"secs": secs, "batch_docs": batch_docs, **_strategy(cand)}
        results[f"band/batch{batch_docs}"] = row
        print(f"band/batch{batch_docs}: {row}", file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    spark = build_session("broadcast-probe")
    spark.sparkContext.setLogLevel("ERROR")

    root = tempfile.mkdtemp(prefix="bprobe_cells_", dir=SCRATCH)
    writer.write_cells(
        fixtures.kv_cells(spark, SF_DIR, "lineitem"), f"{root}/lineitem"
    )
    li = Table(
        TableMeta(name="lineitem", clean_log=True),
        writer.read_cells(spark, f"{root}/lineitem"),
        now_ms=NOW_MS,
    )

    results: dict[str, dict] = {}
    probe_scvf(spark, li, results)
    probe_decontaminate(spark, results)
    probe_band_store(spark, results)
    out = {"sf_dir": SF_DIR, "results": results}
    line = json.dumps(out)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
