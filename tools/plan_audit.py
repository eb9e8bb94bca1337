"""Plan audit: dump the formatted physical plan of headline queries and
grep them for scale-killers (cartesian products, unpushed row-range
filters, Python eval in JVM-only paths, global sorts).

Writes PLANS.md at the repo root. Run per round after correctness is
green; the committed file is the "is this the plan you'd want at 100 TB"
evidence trail.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from hbase_1_3_0_spark.engine import build_session  # noqa: E402

# headline queries: one per operator area, weighted toward the plans that
# must stay shuffle-lean at scale
AUDIT = [
    "scan_range",       # range scan: pushed row predicates, no shuffle
    "multi_get",        # broadcast semi join of the key set
    "filter_scvf",      # fused SCVF: hash agg + broadcastable join
    "versions_latest",  # read view: max_by fast path, no window sort
    "increment",        # RMW: fold deltas, join touched keys only
    "sync_diff",        # full-outer diff
    "exact_dedup",      # one hash-groupBy shuffle
    "minhash_pairs",    # star-linked LSH: no cartesian
    "cosine_topk",      # broadcast queries over corpus
    "stratified_sample",  # pure narrow map: zero exchanges
    "pack_sequences",   # exactly one hash exchange + window
    "corpus_stats",     # single hash agg with two-level distinct
    "multi_range",      # parity binary-search fold + prunable envelope
    "url_dedup",        # canonical-md5 groupBy: 32-hex shuffle keys
    "lm_bigram",        # lag window + (prev,word) join: no cartesian
    "lm_trigram",       # KN backoff: bounded type-table joins, no cartesian
    "substring_dedup",  # two-phase: one digest shuffle, broadcast hot set
    "ivfpq_topk",       # composed index: one broadcast join, no self-join
    "events_sessionize",  # session_window: one keyed shuffle
    "temperature_mix",  # one hash agg + broadcast 1-row totals
    "winnow_fp",        # winnowing: pure array exprs, zero exchanges
    "winnow_overlap",   # fp-bucket pair join behind the hot-fp cap
    "bpe_vocab",        # segment + explode + one vocab-keyed hash agg
    "langid_ngram",     # broadcast profiles; doc-keyed agg + window
    "embedding_decontaminate",  # broadcast eval set; corpus unshuffled
    "gopher_quality",   # one codegen'd projection riding the scan
    "gopher_repetition",  # one counting shuffle for all n
    "c4_clean",         # shuffle-free line/page filter projection
    "pack_bins",        # grouped applyInPandas (justified Python tier)
    "semdedup",         # cluster-confined quadratic: one cluster-keyed self-join
    "perplexity_buckets",  # per-stratum ntile window + broadcast model joins
    "bloom_probe",      # bloom build: one (region,bit) distinct; probe broadcast
    "region_normalizer",  # per-table windows: one metadata shuffle
    "dsir_sample",      # one (doc,bucket) shuffle; broadcast models; top-k
    "quality_classifier",  # GD iters: broadcast weight joins, keyed aggs
    "region_chain_check",  # sweep windows; pairs only at problem keys
    "shard_manifest",   # pack window + one shard groupBy, no joins
    "access_check",     # broadcast grant table; requests never shuffle
    "balancer_plan",    # metadata windows + equi interval joins per table
    "quota_throttle",   # one (key, window) rank; zero joins
    "multirow_mutation",  # broadcast region range-join on the batch
    "quota_settings",   # six broadcast joins; request side unshuffled
    "cluster_status",   # one metadata groupBy + one window
    "replication_scope",  # per-peer family-filter pushdown unions
    "filter_page_reverse",  # reversed page: ordered-prefix, no full sort
    "closest_row_before",   # row <= key scan + 1-row broadcast winner
    "median_approx",    # sketch + exact guard band: two aggs, no window
    "filter_skip_scvf",     # Skip(SCVF): verdict agg + staged semi-join
    "linked_list_verify",   # ITBLL: one window + one agg + one key join
]

RED_FLAGS = {
    "CartesianProduct": "cartesian product",
    "BroadcastNestedLoopJoin": "nested-loop join",
    "Exchange rangepartitioning": "global sort shuffle",
}

# side-effect-only guard expressions that MUST survive into the executed
# plan: Catalyst's equal-branch simplification silently deleted the
# increment width guard once (r12 lesson, mutations.py:131-150), so every
# guard is asserted present in the plan text, not just in the source.
# query -> (plan token, what the guard enforces)
# NOTE the token is raise_error, not assert_true: AssertTrue is
# RuntimeReplaceable and the analyzer rewrites it to
# if(cond, null, raise_error(msg)) before optimization — raise_error is
# what a surviving guard looks like in plan text (probed r13: the
# executed plan contains raise_error and a 3-byte value raises
# "Field is not a long, it's 3 bytes wide").
GUARDS = {
    "increment": (
        "raise_error",
        "be8 width guard — 'Field is not a long' (HRegion.java:7920)",
    ),
    "substring_dedup": (
        "raise_error",
        "winner-key packing bound — window position < POS_PACK",
    ),
}

# intentional plan shapes, reviewed and documented at the operator:
# pattern -> (query, why it is the plan you'd want)
WAIVERS = {
    ("quota_settings", "cartesian product"): (
        "the CartesianProduct is the QUERY'S OWN request matrix — "
        "users.crossJoin(tables) over two literal metadata lists "
        "(4 x 5 = 20 rows) built to exercise every resolution branch; "
        "the operator under test (resolve_operation_quota) contributes "
        "only BroadcastHashJoins and never shuffles the request side "
        "(plan-asserted in tests/test_plans.py)"
    ),
    ("cosine_topk", "nested-loop join"): (
        "BroadcastNestedLoopJoin broadcasts the ~100 QUERY vectors against "
        "the corpus stream — brute-force top-k IS corpus x queries; the "
        "corpus side is never shuffled and the loop side is tiny "
        "(similarity.py cosine_topk; lsh/ivf_topk are the bucketed scale "
        "paths)"
    ),
    ("lm_bigram", "nested-loop join"): (
        "crossJoin(broadcast(totals)) attaches the ONE-ROW corpus-total "
        "aggregate to every token — the grand-total pattern "
        "(aggregations.py:150 precedent); a 1-row broadcast loop side is "
        "O(rows), not quadratic"
    ),
    ("lm_trigram", "nested-loop join"): (
        "same grand-total pattern as lm_bigram: the ONE-ROW vocab-size "
        "and bigram-type-count aggregates attach to the token stream by "
        "1-row broadcast crossJoin — O(rows), not quadratic"
    ),
    ("temperature_mix", "nested-loop join"): (
        "crossJoin(broadcast(totals)) attaches the ONE-ROW totals "
        "aggregate to the per-source table (rows = #sources); same "
        "1-row-broadcast grand-total pattern"
    ),
    ("langid_ngram", "nested-loop join"): (
        "crossJoin(broadcast(langs)) fans each doc's top-K grams out to "
        "the candidate LANGUAGE LIST — a handful of rows by definition; "
        "fan-out is docs x langs, bounded and intended (out-of-place "
        "distance needs a score per candidate language)"
    ),
    ("embedding_decontaminate", "nested-loop join"): (
        "crossJoin(broadcast(evalset)) scores the corpus against the "
        "EVAL SET — small by definition and broadcast; corpus side never "
        "shuffles. Brute-force is the oracle-checkable baseline; the "
        "docstring routes non-broadcastable probe sets to the LSH/IVF "
        "paths (same posture as the cosine_topk waiver)"
    ),
    ("perplexity_buckets", "nested-loop join"): (
        "inherits perplexity_proxy's ONE-ROW corpus-total broadcast "
        "crossJoin (the lm_bigram grand-total waiver); the bucket "
        "assignment itself is a per-stratum window, no loop join"
    ),
    ("bloom_probe", "nested-loop join"): (
        "crossJoin(broadcast(sizing)) fans the PROBE BATCH (a multi-get "
        "key set, small by definition) out to the per-region bloom "
        "metadata (#regions rows) — probes x regions x k positions is "
        "the work a region-blind multi-get must do; the bit table and "
        "the cell log never shuffle (operators/bloom.py bloom_probe)"
    ),
    ("dsir_sample", "nested-loop join"): (
        "two ONE-ROW smoothing-floor scalars attach to the feature "
        "stream by broadcast crossJoin (the lm_bigram grand-total "
        "waiver); model joins are broadcast hash joins, top-k is "
        "TakeOrderedAndProject (pipeline/dsir.py)"
    ),
    ("multirow_mutation", "nested-loop join"): (
        "the REGION TABLE (split boundaries — metadata, #regions rows) "
        "broadcasts against the batch's distinct (group,row) pairs for "
        "the range containment test `row >= start AND row < end` — a "
        "non-equi join by nature, with the loop side the tiny broadcast "
        "boundary list; the cell log itself never joins "
        "(operators/mutations.py mutate_rows)"
    ),
    ("quality_classifier", "nested-loop join"): (
        "the ONE-ROW bias scalar attaches to the scored docs by "
        "broadcast crossJoin (grand-total waiver); weight joins are "
        "broadcast hash joins on the <=buckets+1-row model "
        "(pipeline/classifier.py score_quality)"
    ),
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = build_session("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    out = [
        "# PLANS — physical-plan audit",
        "",
        f"Formatted plans of the headline queries at `{sf_dir}` "
        "(`tools/plan_audit.py`). Flags scanned per plan: "
        + ", ".join(f"`{k}`" for k in RED_FLAGS),
        "",
    ]
    flagged = []
    for name in AUDIT:
        df = qs[name](spark, sf_dir)
        # collect() finalizes THIS QueryExecution under AQE (a noop write
        # would execute a separate cloned plan and leave isFinalPlan=false)
        df.collect()
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # strip the (possibly huge) per-node column lists after the tree
        tree = plan.split("\n\n")[0]
        # codegen stage ids come from the pre-AQE executed plan string
        # ("*(N) Op" markers); the formatted tree hides them
        exec_str = df._jdf.queryExecution().executedPlan().toString()
        hits = [label for pat, label in RED_FLAGS.items() if pat in plan]
        if name in GUARDS:
            token, what = GUARDS[name]
            if token not in plan and token not in exec_str:
                hits.append(f"guard folded away: {token} ({what})")
            else:
                status_note = f"guard `{token}` survives ({what})"
        else:
            status_note = None
        waived = [h for h in hits if (name, h) in WAIVERS]
        hits = [h for h in hits if (name, h) not in WAIVERS]
        n_exchanges = len(re.findall(r"Exchange ", tree))
        codegen_spans = len(set(re.findall(r"\*\((\d+)\)", exec_str)))
        status = "FLAGS: " + ", ".join(hits) if hits else "clean"
        if status_note and not hits:
            status += f"; {status_note}"
        if waived:
            status += " (waived: " + "; ".join(
                f"{h} — {WAIVERS[(name, h)]}" for h in waived
            ) + ")"
        if hits:
            flagged.append((name, hits))
        out += [
            f"## {name} — {status}; {n_exchanges} exchange(s), "
            f"{codegen_spans} codegen span(s)",
            "",
            "```",
            tree,
            "```",
            "",
        ]
    Path("PLANS.md").write_text("\n".join(out) + "\n")
    print(f"wrote PLANS.md; flagged: {flagged or 'none'}")
    spark.stop()
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
