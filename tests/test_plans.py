"""Plan-shape assertions (SURVEY.md §4): the physical optimizations the
reference gets from its storage engine must be visible in our Catalyst
plans — pushdown, pruning, codegen, no accidental Python eval.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hbase_1_3_0_spark.catalog import FamilyMeta, TableMeta
from hbase_1_3_0_spark.plans import inspect
from hbase_1_3_0_spark.sources import fixtures, writer
from hbase_1_3_0_spark.table import Table
from tests._small_key import recorded_deltas


@pytest.fixture(scope="module")
def disk_table(spark, sf_dir, tmp_path_factory):
    path = tmp_path_factory.mktemp("plans") / "customer"
    writer.write_cells(fixtures.kv_cells(spark, sf_dir, "customer"), path)
    cells = writer.read_cells(spark, path)
    return Table(TableMeta(name="customer", clean_log=True), cells, now_ms=1)


def _k(n: int) -> bytes:
    return f"{n:019d}".encode()


def test_row_range_reaches_parquet_scan(disk_table):
    df = disk_table.scan(start_row=_k(10), stop_row=_k(50))
    assert inspect.pushes_down(df, "row")
    pf = " ".join(inspect.pushed_filters(df))
    assert "GreaterThanOrEqual(row" in pf and "LessThan(row" in pf


def test_clean_scan_is_shuffle_free_single_codegen_stage(disk_table):
    df = disk_table.scan(start_row=_k(10), stop_row=_k(50))
    assert inspect.shuffle_exchange_count(df) == 0
    assert inspect.codegen_stage_count(df) >= 1
    assert not inspect.has_python_eval(df)


def test_full_read_view_broadcasts_markers_not_puts(spark, sf_dir, disk_table):
    # same cells without the clean flag: marker joins must be broadcasts;
    # the only shuffle is the version-limit aggregation
    t = Table(TableMeta(name="c2"), disk_table.cells, now_ms=1)
    df = t.scan(start_row=_k(10), stop_row=_k(50))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert inspect.pushes_down(df, "row")


# --------------------------------------------------------------------------
# Small-key path: a small driver-side key set (read_view.small_key_set) is
# pruned in the scan and pinned to one partition, so point reads plan no
# exchange at all and RMW calls at most two; each RMW delta enters the next
# table as a checkpointed leaf, so chained plans do not grow.
# --------------------------------------------------------------------------

SK_MUT_SCHEMA = (
    "op string, row binary, family string, qualifier binary, ts long, "
    "value binary, check_family string, check_qualifier binary, "
    "check_op string, check_value binary, batch_seq long"
)


def _full_view(disk_table) -> Table:
    # the same cells with the full read view: not clean, versioned family
    meta = TableMeta(name="sk", families=(FamilyMeta(name="d", max_versions=3),))
    return Table(meta, disk_table.cells, now_ms=1)


def _cas_step(spark, t: Table, n: int):
    muts = spark.createDataFrame(
        [("put", _k(7), "d", b"c_mktsegment", None, b"v%d" % n,
          "d", b"c_name", "NOT_EQUAL", b"x", 0)],
        SK_MUT_SCHEMA,
    )
    return t.check_and_mutate(muts)


def test_small_key_reads_plan_zero_exchanges(disk_table):
    t = _full_view(disk_table)
    get = t.get(_k(7))
    reads = [
        get,
        t.get(_k(7), filter="SingleColumnValueFilter ('d', 'c_name', =, "
                            "'binary:x', true, true)"),
        t.multi_get([_k(1), _k(2), _k(40)]),
        t.exists([_k(3), b"missing"]),
    ]
    for df in reads:
        assert inspect.exchange_count(df) == 0  # broadcasts included
    assert inspect.pushes_down(get, "row")


def test_small_key_rmw_plans_at_most_two_exchanges(spark, disk_table):
    """Counted on the plans that run: each call's delta (the CAS judge,
    the increment/append fold and lookup) as it is computed, not the
    checkpoint leaf the returned frames read."""
    t = _full_view(disk_table)
    with recorded_deltas() as deltas:
        _, verdicts = _cas_step(spark, t, 0)
        _, incremented = t.increment(spark.createDataFrame(
            [(_k(7), "d", b"cnt", 5)],
            "row binary, family string, qualifier binary, delta long",
        ))
        _, appended = t.append(spark.createDataFrame(
            [(_k(7), "d", b"c_mktsegment", b"+", 0)],
            "row binary, family string, qualifier binary, value binary, "
            "batch_seq long",
        ))
        for df in (verdicts, incremented, appended):
            assert df.count() == 1
    assert len(deltas) == 3
    for df in deltas:
        assert inspect.exchange_count(df) <= 2


def test_chained_cas_plans_stay_flat(spark, disk_table):
    """A Get after 5 chained CAS steps plans like a Get after 1: the
    deltas are leaves, not re-derived judges."""
    t = _full_view(disk_table)
    shapes = []
    for n in range(5):
        t, verdicts = _cas_step(spark, t, n)
        assert verdicts.first().applied
        get = t.get(_k(7))
        plan = get._jdf.queryExecution().executedPlan().toString()
        shapes.append((inspect.exchange_count(get), plan.count("Window")))
    assert shapes[-1] == shapes[0]


def test_column_projection_prunes_parquet_read(disk_table):
    df = disk_table.scan().select("row", "qualifier")
    schemas = inspect.scan_read_schema(df)
    assert schemas and all("value" not in s for s in schemas)


def test_text_pipeline_stays_jvm_side(spark, sf_dir):
    from hbase_1_3_0_spark.pipeline import text

    docs = fixtures.load_table(spark, sf_dir, "documents")
    assert not inspect.has_python_eval(text.text_stats(docs))


def test_multimodal_is_arrow_batched_python(spark, sf_dir):
    from hbase_1_3_0_spark.pipeline import multimodal

    docs = fixtures.load_table(spark, sf_dir, "documents")
    media = multimodal.attach_media(
        docs.select("doc_id", F.encode("text", "UTF-8").alias("b")),
        "b",
        media_type="image",
        fmt="png",
    )
    feats = multimodal.extract_features(media, fake=True)
    # Python IS expected here — but via Arrow batches, never row-at-a-time
    assert inspect.has_python_eval(feats)
    plan = feats._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_security_tags_stay_jvm_side_and_push_row_range(spark, disk_table):
    # visibility/ACL predicates are split+exists/forall Column exprs: the
    # row-range pushdown must survive them and no Python may appear
    from hbase_1_3_0_spark.table import Scan

    cells = disk_table.cells.withColumn(
        "vis", F.when(F.col("ts") < 0, F.lit("pii"))
    ).withColumn("acl", F.when(F.col("ts") < 0, F.array(F.lit("alice"))))
    t = Table(TableMeta(name="sec", clean_log=True), cells, now_ms=1)
    df = t.scan(
        Scan(
            start_row=_k(10),
            stop_row=_k(50),
            authorizations=("finance",),
            user="bob",
        )
    )
    assert inspect.pushes_down(df, "row")
    assert not inspect.has_python_eval(df)


def test_while_match_monotone_rewrite_pushes_down(disk_table):
    # WhileMatch(RowFilter <) must collapse to a pushed row predicate —
    # no join, no aggregation, row bound in PushedFilters
    df = disk_table.scan(filter=f"WHILE RowFilter (<, 'binary:{50:019d}')")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Aggregate" not in plan
    assert any("LessThan(row" in f for f in inspect.pushed_filters(df))


def test_hash_table_digest_hash_aggregates_no_python(disk_table):
    # the bucket-digest aggregation itself must plan as a HashAggregate
    # (bit_xor over a long buffer); the read view's newest-version pick is
    # a partial SortAggregate by design (struct buffers can't hash-agg and
    # the join alternative would shuffle the full table)
    from hbase_1_3_0_spark.operators import jobs

    df = jobs.hash_table(disk_table.cells, num_buckets=16)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not inspect.has_python_eval(df)
    assert "HashAggregate(keys=[bucket" in plan


def test_fused_scvf_plans_as_hash_agg(disk_table):
    # AND-composed SCVFs: one hash aggregation (never a SortAggregate —
    # struct-max buffers would force sort-based aggregation whose generated
    # code also JIT-compiles an order of magnitude slower) + one join of
    # the big side, no window over the full scan
    dsl = (
        "(SingleColumnValueFilter ('d', 'o_orderstatus', =, 'binary:F', true, true) AND "
        "SingleColumnValueFilter ('d', 'o_orderpriority', =, 'substring:urgent', true, true))"
    )
    df = disk_table.scan(filter=dsl)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan
    assert "Window" not in plan


def test_quality_and_pii_stay_jvm_side(spark, sf_dir):
    from hbase_1_3_0_spark.pipeline import text

    docs = fixtures.load_table(spark, sf_dir, "documents")
    assert not inspect.has_python_eval(text.quality_filter(docs))
    assert not inspect.has_python_eval(text.pii_redact(docs))


def test_contamination_is_jvm_side_single_index_shuffle(spark, sf_dir):
    """The corpus side reduces to a distinct-gram index (hashed 8-byte keys)
    and the probe join carries no Python eval anywhere."""
    from hbase_1_3_0_spark.pipeline import decontaminate

    docs = fixtures.load_table(spark, sf_dir, "documents")
    out = decontaminate.ngram_contamination(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
    )
    assert not inspect.has_python_eval(out)


def test_star_lsh_no_cartesian_and_jvm_side(spark, sf_dir):
    """Star-linked LSH candidates: no CartesianProduct/BroadcastNestedLoop
    (bucket joins are equi-joins), no Python eval; same for simhash."""
    from hbase_1_3_0_spark.pipeline import dedup

    docs = fixtures.load_table(spark, sf_dir, "documents")
    for df in (
        dedup.minhash_lsh_candidates(docs),
        dedup.simhash_near_pairs(docs),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan
        assert not inspect.has_python_eval(df)


def test_sampling_and_packing_plans(spark, sf_dir):
    """Sampling is a pure narrow map (no Exchange at all); packing does
    exactly ONE shuffle (hash on the stratum) and no global sort."""
    from hbase_1_3_0_spark.pipeline import sampling

    docs = fixtures.load_table(spark, sf_dir, "documents")
    sample_plan = (
        sampling.stratified_sample(docs, {"src0": 0.5}, default_rate=0.1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in sample_plan

    pack = sampling.pack_sequences(docs, capacity=512)
    pack_plan = pack._jdf.queryExecution().executedPlan().toString()
    assert pack_plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in pack_plan
    assert not inspect.has_python_eval(pack)


def test_substring_dedup_two_phase_plan(spark, sf_dir):
    """The repeated-substring pass must be the documented TWO-PHASE
    shape: the corpus-bytes window table appears exactly twice (one
    Generate per phase), the second phase probes the hot digest set
    through a BROADCAST join (no second corpus shuffle), and the span
    subtree is consumed once (no sort-merge joins, <=3 corpus scans)."""
    from hbase_1_3_0_spark.pipeline import substrings

    docs = fixtures.load_table(spark, sf_dir, "documents")
    out = substrings.remove_repeated_spans(docs, k=40)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate") == 2
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Scan parquet") <= 3
    assert not inspect.has_python_eval(out)


def test_trigram_lm_single_corpus_pass(spark, sf_dir):
    """The KN trigram LM must materialize the tokenize+lag token table
    ONCE: every downstream branch (vocab, totals, type tables, scoring)
    reads the checkpoint, so the final plan scans the documents parquet
    at most 3 times (r5 shipped ~15 scans — one per uncached branch)."""
    from hbase_1_3_0_spark.pipeline import lm

    docs = fixtures.load_table(spark, sf_dir, "documents")
    out = lm.trigram_perplexity(docs, vocab_size=500)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 3
    assert not inspect.has_python_eval(out)


def test_winnow_fingerprints_zero_shuffle(spark, sf_dir):
    """Winnowing is a pure per-row array computation: no exchange at
    all, no Python eval, one corpus scan."""
    from hbase_1_3_0_spark.pipeline import text

    docs = fixtures.load_table(spark, sf_dir, "documents")
    out = text.winnow_fingerprints(docs)
    assert inspect.shuffle_exchange_count(out) == 0
    assert not inspect.has_python_eval(out)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


def test_winnow_overlap_single_winnow_pass(spark, sf_dir):
    """The (doc, fp) table is checkpointed before its three consumers
    (df-cap agg + both self-join sides): the final plan contains ZERO
    documents-parquet scans — every branch reads the materialized
    fingerprint table, so the corpus winnowing pass ran exactly once."""
    from hbase_1_3_0_spark.pipeline import text

    docs = fixtures.load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 100
    )
    out = text.winnow_overlap(docs, min_shared=2, max_df=50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0
    assert "CartesianProduct" not in plan
    assert not inspect.has_python_eval(out)


def test_bpe_word_counts_single_scan_map_side_combine(spark, sf_dir):
    """BPE's only corpus-width pass: one scan, one hash aggregation
    with a partial (map-side) stage, no Python."""
    from hbase_1_3_0_spark.pipeline import bpe

    docs = fixtures.load_table(spark, sf_dir, "documents")
    out = bpe.word_counts(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert inspect.shuffle_exchange_count(out) == 1
    assert plan.count("HashAggregate") == 2  # partial + final
    assert not inspect.has_python_eval(out)


def test_langid_profiles_broadcast(spark, sf_dir):
    """Classification joins the tiny rank profiles by BROADCAST (both
    the language list and the profile table); the doc side never
    sort-merge-joins."""
    from hbase_1_3_0_spark.pipeline import langid

    docs = fixtures.load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 100
    )
    prof = langid.train_profiles(docs)
    out = langid.classify(docs, prof)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert not inspect.has_python_eval(out)


def test_dedup_by_components_anti_join_no_forced_broadcast(spark, sf_dir):
    """dedup_by_components must keep the LEFT ANTI join on the loser
    set but NOT carry a mandatory broadcast hint: the loser set is
    unbounded (a 40%-dup corpus has O(corpus) losers), so the choice
    must be AQE's. The optimized logical plan therefore shows the anti
    join without a user-injected ResolvedHint/hints= broadcast."""
    from hbase_1_3_0_spark.pipeline import dedup

    docs = fixtures.load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 200
    )
    pairs = (
        docs.alias("a")
        .select((F.col("doc_id") % 50).alias("g"), F.col("doc_id").alias("id_a"))
        .join(
            docs.select(
                (F.col("doc_id") % 50).alias("g"),
                F.col("doc_id").alias("id_b"),
            ),
            "g",
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .limit(100)
    )
    out = dedup.dedup_by_components(docs, pairs)
    qe = out._jdf.queryExecution()
    logical = qe.optimizedPlan().toString()
    assert "LeftAnti" in logical
    # a user-forced broadcast survives optimization as a join hint on
    # the anti join; AQE-chosen broadcasts never appear in the logical
    # plan, so this distinguishes hint from runtime choice
    assert "leftHint" not in logical.split("LeftAnti")[1].split("\n")[0] \
        and "broadcast" not in logical.split("LeftAnti")[1].split("\n")[0]
    assert out.count() >= 0  # executes end-to-end


def test_winnow_robust_zero_shuffle(spark, sf_dir):
    """Robust winnowing's sequential tie rule is an aggregate fold over
    the window sequence — still a pure per-row array computation: no
    exchange, no Python eval, one corpus scan."""
    from hbase_1_3_0_spark.pipeline import text

    docs = fixtures.load_table(spark, sf_dir, "documents")
    out = text.winnow_fingerprints(docs, robust=True)
    assert inspect.shuffle_exchange_count(out) == 0
    assert not inspect.has_python_eval(out)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


def test_gopher_islands_no_explode_no_range_join(spark, sf_dir):
    """coverage='islands' must not multiply the occurrence table: no
    per-position Generate on the coverage branch beyond the shared
    gram-building explode (3 Generates: the gram array explode once per
    uncheckpointed consumer branch — top, occurrence, count side; the
    token posexplode is behind the localCheckpoint), and both
    prefix-sum probes are EQUI joins — no BroadcastNestedLoopJoin, no
    CartesianProduct, and no sequence() position explode anywhere (the
    positions mode's coverage explode is exactly a Generate over
    sequence(pos, pos+n-1))."""
    from hbase_1_3_0_spark.pipeline import text

    docs = fixtures.load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 100
    )
    out = text.gopher_repetition(docs, coverage="islands")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Generate") == 3
    assert "sequence(" not in plan
    assert not inspect.has_python_eval(out)


def test_canary_default_has_no_single_partition_window(spark, sf_dir):
    """The default canary region derivation must not funnel the
    distinct row-key space through one task (VERDICT r07 'What's
    wrong' #2): no SinglePartition exchange anywhere in the plan —
    the ntile arithmetic rides a range-partitioned per-partition
    row_number instead."""
    from hbase_1_3_0_spark.operators import jobs
    from hbase_1_3_0_spark.sources import fixtures

    cells = fixtures.kv_cells(spark, sf_dir, "customer")
    df = jobs.canary_read_probe(cells, num_regions=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_quota_resolution_broadcasts_settings_no_request_shuffle(spark):
    """resolve_operation_quota: every settings-derived side is a
    broadcast; the request stream never shuffles (the 100 TB posture —
    settings are master metadata, requests are the ops log)."""
    from hbase_1_3_0_spark.operators.quota_settings import (
        MasterQuotaManager,
        resolve_operation_quota,
        throttle_table,
        throttle_user,
    )

    m = MasterQuotaManager()
    m.set_quota(throttle_user("u1", "REQUEST_NUMBER", 10, "SECONDS",
                              table="t_0"))
    m.set_quota(throttle_table("t_0", "REQUEST_NUMBER", 100, "SECONDS"))
    reqs = spark.range(1000).repartition(8).select(
        F.concat(F.lit("u"), (F.col("id") % 5).cast("string")).alias("user"),
        F.concat(F.lit("t_"), (F.col("id") % 3).cast("string")).alias(
            "table_name"
        ),
        F.lit("default").alias("namespace"),
    )
    out = resolve_operation_quota(reqs, m.settings_df(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # shuffles exist only on the settings side (9-row metadata aggs
    # under their BroadcastExchange); the request lineage is
    # shuffle-free, so its partitioning survives all six joins
    assert out.rdd.getNumPartitions() == 8
    from hbase_1_3_0_spark.plans import inspect as _inspect

    assert not _inspect.has_python_eval(out)


def test_cluster_status_single_metadata_window(spark):
    """cluster_status: the per-server frame is metadata, so the plan may
    shuffle it for the rollup/window, but it must stay JVM-side with no
    joins fanning out the region-load input."""
    from hbase_1_3_0_spark.operators.cluster_status import cluster_status

    rl = spark.range(200).select(
        F.concat(F.lit("rs"), (F.col("id") % 7).cast("string")).alias(
            "server"
        ),
        F.col("id").alias("storefiles"),
        (F.col("id") % 13).alias("read_requests"),
        (F.col("id") % 7).alias("write_requests"),
    )
    out = cluster_status(rl, servers=[f"rs{i}" for i in range(8)])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    from hbase_1_3_0_spark.plans import inspect as _inspect

    assert not _inspect.has_python_eval(out)
