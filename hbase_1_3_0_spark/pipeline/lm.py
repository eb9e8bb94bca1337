"""Corpus language-model scoring: the perplexity-filter quality signal.

CCNet-style curation scores each document against a small LM and drops
the high-perplexity tail (boilerplate, gibberish, non-language). Shipping
KenLM is out of scope for a Spark-native engine; this implements the
same *shape* with an in-corpus add-one-smoothed unigram model:

    bits_per_word(doc) = avg over tokens of -log2((c_w + 1) / (N + V))

where c_w is the corpus count of the token (0 for OOV), N the corpus
token total and V the model vocabulary size. High bits-per-word = the
document is unlike the corpus = the perplexity-filter drop candidate.

Scale shape: token counting is one hash aggregation; the model is the
top-``vocab_size`` rows of it (TakeOrderedAndProject, no global sort) —
a bounded, broadcastable table, which is what makes scoring at 100 TB a
broadcast hash join per token instead of a vocabulary-sized shuffle.
The corpus-total pass is a 1-row aggregate attached by broadcast
crossJoin (same pattern as aggregations.py's grand-total). Everything
is JVM Column expressions.

The tokenize explodes here are deliberately NOT wrapped in
``fan_out_small_scan`` (r14): a paired A/B (fan-out alternating on/off
in one session) measured the extra round-robin exchange as a pure loss
on every lm path (b-lm 0.68s vs 1.25s, b-lm3 2.41s vs 3.32s) — the
per-row tokenize work is cheap and the next operator (hash agg or
per-doc window) shuffles anyway, so the fan-out bought parallelism the
plan already had downstream. See pipeline/parallelism.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Word tokenizer shared with the oracle: lowercased latin/digit runs
#: (apostrophes kept so contractions stay one token).
TOKEN_PATTERN = "[a-z0-9']+"


def word_tokens(text: Column) -> Column:
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_PATTERN), 0)


def _counts_from_tokens(
    toks: DataFrame, vocab_size: int | None
) -> DataFrame:
    counts = toks.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    if vocab_size is not None:
        counts = counts.orderBy(F.col("c").desc(), F.col("word")).limit(
            vocab_size
        )
    return counts


def perplexity_proxy(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Per-document (id, n_words, oov_rate, bits_per_word) under the
    in-corpus add-one unigram LM. ``N`` counts every corpus token
    (including ones outside the capped vocabulary), so capping changes
    only which words score as OOV, not the mass normalization.

    EVERY input document gets a row: zero-token docs (empty /
    non-latin — exactly the perplexity-filter drop candidates) emit
    ``n_words=0`` with NULL oov_rate/bits_per_word instead of vanishing
    at the explode, so a thresholding consumer can't let them bypass
    the filter by absence."""
    toks = df.select(
        F.col(id_col), F.explode(word_tokens(F.col(text_col))).alias("word")
    )
    if checkpoint:
        # one corpus pass total: vocab/totals/scoring all read the
        # materialized token table instead of re-running the explode
        # (see trigram_perplexity — same ReusedExchange limitation).
        # eager=False: materialize at the FIRST ACTION, not at
        # DataFrame construction (plan inspection stays free)
        toks = toks.localCheckpoint(eager=False)
    # derive the model from the SAME tokenized frame — tokenizing the
    # corpus once, not once for scoring and again for counting
    vocab = _counts_from_tokens(toks.select("word"), vocab_size)
    totals = toks.agg(F.count(F.lit(1)).alias("_n")).crossJoin(
        vocab.agg(F.count(F.lit(1)).alias("_v"))
    )
    scored = (
        toks.join(F.broadcast(vocab), "word", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "_bits",
            -F.log2(
                (F.coalesce(F.col("c"), F.lit(0)) + 1)
                / (F.col("_n") + F.col("_v"))
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.round(
            F.avg(F.when(F.col("c").isNull(), 1.0).otherwise(0.0)), 6
        ).alias("oov_rate"),
        F.round(F.avg("_bits"), 6).alias("bits_per_word"),
    )
    return _reattach_empty_docs(df, per_doc, id_col)


def _reattach_empty_docs(
    df: DataFrame, per_doc: DataFrame, id_col: str
) -> DataFrame:
    """Left-join per-doc scores back onto the full id set so zero-token
    documents surface as ``n_words=0`` rows (NULL score columns) rather
    than silently missing. One extra join keyed on the doc id — the
    scores frame is already shuffled on that key, so this is cheap."""
    score_cols = [c for c in per_doc.columns if c != id_col]
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .withColumn("n_words", F.coalesce(F.col("n_words"), F.lit(0)))
        .select(id_col, *score_cols)
    )


def bigram_perplexity(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int | None = None,
    lam: float = 0.75,
    checkpoint: bool = True,
) -> DataFrame:
    """Interpolated-bigram upgrade of :func:`perplexity_proxy` — one step
    closer to the CCNet KenLM signal:

        p(w_i | w_{i-1}) = lam * p_bi(w_i | w_{i-1}) + (1-lam) * p_uni(w_i)

    with add-one-smoothed unigrams and raw maximum-likelihood bigrams
    over the (capped) vocabulary; a document's first token scores pure
    unigram. Bigrams are counted only where BOTH words are in-vocab
    (standard practice), so the bigram table is bounded by the corpus's
    in-vocab pair diversity — at 100 TB the cap is what keeps the
    (prev, word) join key-space sane; the unigram model still
    broadcasts. Plan shape: one tokenize+posexplode pass, one per-doc
    window (lag) shuffle keyed on the doc, two hash aggs, one shuffle
    join on (prev, word), one per-doc agg."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.posexplode(word_tokens(F.col(text_col))).alias("pos", "word"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    seq = toks.withColumn("prev", F.lag("word").over(w))
    if checkpoint:
        # one corpus pass total (see trigram_perplexity); lazy so plan
        # inspection doesn't trigger the job
        seq = seq.localCheckpoint(eager=False)
    vocab = _counts_from_tokens(seq.select("word"), vocab_size)
    totals = seq.agg(F.count(F.lit(1)).alias("_n")).crossJoin(
        vocab.agg(F.count(F.lit(1)).alias("_v"))
    )
    in_vocab = vocab.select("word")
    pairs = (
        seq.where(F.col("prev").isNotNull())
        .join(in_vocab, "word", "left_semi")
        .join(
            in_vocab.withColumnRenamed("word", "prev"), "prev", "left_semi"
        )
        .groupBy("prev", "word")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    scored = (
        seq.join(F.broadcast(vocab), "word", "left")
        .join(
            F.broadcast(
                vocab.select(
                    F.col("word").alias("prev"), F.col("c").alias("cv")
                )
            ),
            "prev",
            "left",
        )
        .join(pairs, ["prev", "word"], "left")
        .crossJoin(F.broadcast(totals))
    )
    p_uni = (F.coalesce(F.col("c"), F.lit(0)) + 1) / (
        F.col("_n") + F.col("_v")
    )
    p_bi = F.when(
        F.col("cv").isNotNull() & F.col("cb").isNotNull(),
        F.col("cb") / F.col("cv"),
    ).otherwise(F.lit(0.0))
    p = F.when(F.col("prev").isNull(), p_uni).otherwise(
        F.lit(lam) * p_bi + F.lit(1.0 - lam) * p_uni
    )
    per_doc = scored.withColumn("_bits", -F.log2(p)).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.round(F.avg("_bits"), 6).alias("bits_per_word"),
    )
    # zero-token docs get n_words=0 rows (see perplexity_proxy)
    return _reattach_empty_docs(df, per_doc, id_col)


def trigram_perplexity(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int | None = None,
    discount: float = 0.75,
    smoothing: str = "kn",
    checkpoint: bool = True,
) -> DataFrame:
    """Trigram LM with interpolated Kneser-Ney smoothing — the shape of
    the CCNet perplexity signal (a KenLM n-gram model with modified KN;
    this is textbook single-discount KN, d=0.75 binary-exact).

    Backoff chain (all counts over in-vocab n-gram TYPES, which is what
    bounds every model table by the capped vocabulary's pair/triple
    diversity at 100 TB):

    - continuation unigram  p1(w) = (N1+(.w) + 1) / (|bigram types| + V + 1)
      (add-one floor so OOV tokens keep finite bits)
    - KN bigram   p2(w|v) = max(N1+(.vw) - d, 0)/N1+(.v.)
                           + d * N1+(v.)/N1+(.v.) * p1(w);  p1 if v unseen
    - KN trigram  p3(w|u,v) = max(c(uvw) - d, 0)/c(uv)
                           + d * N1+(uv.)/c(uv) * p2(w|v);  p2 if (u,v) unseen

    Token at position 0 scores p1, position 1 scores p2, the rest p3.

    ``smoothing='mkn'`` upgrades to MODIFIED Kneser-Ney (Chen & Goodman
    1998 — what KenLM actually ships): per order, THREE discounts
    D1/D2/D3+ chosen by the n-gram's own count and estimated from the
    order's count-of-counts (n_k = #types occurring exactly k times):

        Y  = n1 / (n1 + 2 n2)
        D1 = 1 - 2 Y n2/n1,  D2 = 2 - 3 Y n3/n2,  D3+ = 3 - 4 Y n4/n3

    with the backoff weight gamma(ctx) = (D1 N1(ctx.) + D2 N2(ctx.)
    + D3+ N3+(ctx.)) / c(ctx) so each context's mass still sums to 1.
    The discounts are 1-row aggregates over the type tables, attached
    by broadcast (the same grand-total pattern); everything else shares
    the 'kn' plan. The unigram floor is unchanged.

    Plan shape — ONE corpus pass total: the tokenize+posexplode and the
    per-doc two-lag window materialize ONCE (``localCheckpoint``), and
    every downstream branch — vocabulary, token totals, the n-gram type
    tables, the scoring join — reads the materialized token table
    instead of re-running the explode+window prefix (ReusedExchange
    only kicks in post-shuffle, so without the checkpoint each of the
    ~6 consumer branches re-scans and re-explodes the corpus: the r5
    plan had ~15 parquet scans of the documents table). The type tables
    stay vocab-bounded and broadcast; the trigram/bigram-keyed joins
    shuffle on bounded in-vocab key spaces exactly like
    bigram_perplexity's pairs join. Zero-token docs get ``n_words=0``
    rows. ``checkpoint=False`` opts out (caller owns persistence —
    e.g. has already cached/checkpointed the input)."""
    from pyspark.sql.window import Window

    if smoothing not in ("kn", "mkn"):
        raise ValueError(f"smoothing must be 'kn' or 'mkn', got {smoothing!r}")
    d = float(discount)
    toks = df.select(
        F.col(id_col),
        F.posexplode(word_tokens(F.col(text_col))).alias("pos", "word"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    seq = toks.withColumn("prev", F.lag("word").over(w)).withColumn(
        "prev2", F.lag("word", 2).over(w)
    )
    if checkpoint:
        seq = seq.localCheckpoint(eager=False)
    # vocabulary + totals derive from the SAME materialized token table
    # (seq's rows are toks' rows plus the lag columns)
    vocab = _counts_from_tokens(seq.select("word"), vocab_size)
    in_vocab = vocab.select("word")
    totals = seq.agg(F.count(F.lit(1)).alias("_n")).crossJoin(
        vocab.agg(F.count(F.lit(1)).alias("_v"))
    )

    # n-gram TYPE tables over in-vocab words only
    big_types = (
        seq.where(F.col("prev").isNotNull())
        .join(in_vocab, "word", "left_semi")
        .join(in_vocab.withColumnRenamed("word", "prev"), "prev", "left_semi")
        .select("prev", "word")
        .distinct()
    )
    tri = (
        seq.where(F.col("prev2").isNotNull())
        .join(in_vocab, "word", "left_semi")
        .join(in_vocab.withColumnRenamed("word", "prev"), "prev", "left_semi")
        .join(
            in_vocab.withColumnRenamed("word", "prev2"), "prev2", "left_semi"
        )
        .groupBy("prev2", "prev", "word")
        .agg(F.count(F.lit(1)).alias("c3"))
    )
    # c(uv) + N1+(uv.) — the trigram denominators, keyed (u,v); for mkn
    # also the per-context count-split Nk(uv.) the gammas need
    ctx3 = tri.groupBy("prev2", "prev").agg(
        F.sum("c3").alias("c2"),
        F.count(F.lit(1)).alias("n1pa2"),
        F.sum((F.col("c3") == 1).cast("long")).alias("t_ctx_n1"),
        F.sum((F.col("c3") == 2).cast("long")).alias("t_ctx_n2"),
        F.sum((F.col("c3") >= 3).cast("long")).alias("t_ctx_n3p"),
    )
    # N1+(.vw) — distinct left-contexts of the bigram, keyed (v,w)
    cont2 = tri.groupBy("prev", "word").agg(
        F.countDistinct("prev2").alias("cont2")
    )
    # N1+(.v.) + N1+(v.) — the bigram-level denominators, keyed (v);
    # mkn count-split over the continuation counts
    ctx2 = cont2.groupBy("prev").agg(
        F.sum("cont2").alias("ctx2"),
        F.count(F.lit(1)).alias("n1pa1"),
        F.sum((F.col("cont2") == 1).cast("long")).alias("b_ctx_n1"),
        F.sum((F.col("cont2") == 2).cast("long")).alias("b_ctx_n2"),
        F.sum((F.col("cont2") >= 3).cast("long")).alias("b_ctx_n3p"),
    )
    # N1+(.w) + |bigram types| — continuation unigrams
    cont1 = big_types.groupBy("word").agg(
        F.countDistinct("prev").alias("cont1")
    )
    btypes = big_types.agg(F.count(F.lit(1)).alias("_bt"))

    scored = (
        seq.join(F.broadcast(cont1), "word", "left")
        .join(F.broadcast(ctx2), "prev", "left")
        .join(cont2, ["prev", "word"], "left")
        .join(ctx3, ["prev2", "prev"], "left")
        .join(tri, ["prev2", "prev", "word"], "left")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(btypes))
    )
    if smoothing == "mkn":
        # order-wide count-of-counts -> the three Chen-Goodman discounts
        # per order, as 1-row broadcast aggregates (grand-total pattern)
        tri_cc = tri.agg(
            F.sum((F.col("c3") == 1).cast("long")).alias("t_n1"),
            F.sum((F.col("c3") == 2).cast("long")).alias("t_n2"),
            F.sum((F.col("c3") == 3).cast("long")).alias("t_n3"),
            F.sum((F.col("c3") == 4).cast("long")).alias("t_n4"),
        )
        big_cc = cont2.agg(
            F.sum((F.col("cont2") == 1).cast("long")).alias("b_n1"),
            F.sum((F.col("cont2") == 2).cast("long")).alias("b_n2"),
            F.sum((F.col("cont2") == 3).cast("long")).alias("b_n3"),
            F.sum((F.col("cont2") == 4).cast("long")).alias("b_n4"),
        )
        scored = scored.crossJoin(F.broadcast(tri_cc)).crossJoin(
            F.broadcast(big_cc)
        )

        def discounts(n1, n2, n3, n4):
            """D1/D2/D3+ clamped to [0, order-of-discount] — tiny or
            degenerate count-of-counts would otherwise go negative and
            ADD mass. Division guards mirror the DuckDB oracle."""
            y = F.when(
                (F.col(n1) + 2 * F.col(n2)) > 0,
                F.col(n1) / (F.col(n1) + 2 * F.col(n2)),
            ).otherwise(F.lit(0.0))
            d1 = F.when(
                F.col(n1) > 0, 1 - 2 * y * F.col(n2) / F.col(n1)
            ).otherwise(F.lit(0.5))
            d2 = F.when(
                F.col(n2) > 0, 2 - 3 * y * F.col(n3) / F.col(n2)
            ).otherwise(F.lit(1.0))
            d3 = F.when(
                F.col(n3) > 0, 3 - 4 * y * F.col(n4) / F.col(n3)
            ).otherwise(F.lit(1.5))
            clamp = lambda c, hi: F.greatest(F.least(c, F.lit(hi)), F.lit(0.0))  # noqa: E731
            return clamp(d1, 1.0), clamp(d2, 2.0), clamp(d3, 3.0)

        td1, td2, td3 = discounts("t_n1", "t_n2", "t_n3", "t_n4")
        bd1, bd2, bd3 = discounts("b_n1", "b_n2", "b_n3", "b_n4")

        def d_of(count_col, d1, d2, d3):
            c = F.coalesce(count_col, F.lit(0))
            return (
                F.when(c >= 3, d3)
                .when(c == 2, d2)
                .when(c == 1, d1)
                .otherwise(F.lit(0.0))
            )

        gamma2 = (
            bd1 * F.col("b_ctx_n1")
            + bd2 * F.col("b_ctx_n2")
            + bd3 * F.col("b_ctx_n3p")
        ) / F.col("ctx2")
        gamma3 = (
            td1 * F.col("t_ctx_n1")
            + td2 * F.col("t_ctx_n2")
            + td3 * F.col("t_ctx_n3p")
        ) / F.col("c2")
        disc2 = d_of(F.col("cont2"), bd1, bd2, bd3)
        disc3 = d_of(F.col("c3"), td1, td2, td3)
    else:
        gamma2 = F.lit(d) * F.col("n1pa1") / F.col("ctx2")
        gamma3 = F.lit(d) * F.col("n1pa2") / F.col("c2")
        disc2 = F.lit(d)
        disc3 = F.lit(d)
    p1 = (F.coalesce(F.col("cont1"), F.lit(0)) + 1) / (
        F.col("_bt") + F.col("_v") + 1
    )
    p2 = F.when(
        F.col("ctx2").isNotNull(),
        F.greatest(F.coalesce(F.col("cont2"), F.lit(0)) - disc2, F.lit(0.0))
        / F.col("ctx2")
        + gamma2 * p1,
    ).otherwise(p1)
    p3 = F.when(
        F.col("c2").isNotNull(),
        F.greatest(F.coalesce(F.col("c3"), F.lit(0)) - disc3, F.lit(0.0))
        / F.col("c2")
        + gamma3 * p2,
    ).otherwise(p2)
    p = (
        F.when(F.col("prev").isNull(), p1)
        .when(F.col("prev2").isNull(), p2)
        .otherwise(p3)
    )
    per_doc = scored.withColumn("_bits", -F.log2(p)).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.round(F.avg("_bits"), 6).alias("bits_per_word"),
    )
    return _reattach_empty_docs(df, per_doc, id_col)


def perplexity_buckets(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    stratum_col: str | None = "lang",
    n_buckets: int = 3,
    vocab_size: int | None = None,
    approximate: bool = False,
    checkpoint: bool = True,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek 2020 §4.3): within each
    stratum (per language in CCNet), rank documents by
    :func:`perplexity_proxy` bits-per-word and split into ``n_buckets``
    equal-count buckets — head (most corpus-like), middle, tail (the
    drop/deprioritize candidates). Zero-token documents keep a row with
    NULL bucket (they are the explicit discard set, never silently
    missing).

    Output: (id, stratum, n_words, oov_rate, bits_per_word, bucket,
    bucket_label) — bucket 1-based; labels head/middle/tail when
    ``n_buckets == 3``, else ``b<k>``.

    Two physical strategies:

    - exact (default): ``ntile`` over a per-stratum window ordered by
      (bits_per_word, id) — deterministic and SQL-oracle-checkable, but
      a per-stratum SORT of the full corpus. Test-scale / per-language
      shard-scale machinery.
    - ``approximate=True`` — the 100 TB path: per-stratum
      ``percentile_approx`` cutoffs (ONE mergeable-sketch aggregation,
      KB-size result) broadcast back and applied as comparisons — no
      global or per-stratum sort anywhere, the same
      sketch-instead-of-sort trade as aggregations.approximate median.
      Bucket boundaries can differ from exact ntile by sketch error;
      boundary ties fall to the lower bucket.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    scored = perplexity_proxy(
        df,
        text_col=text_col,
        id_col=id_col,
        vocab_size=vocab_size,
        checkpoint=checkpoint,
    )
    part = [stratum_col] if stratum_col else []
    if part:
        scored = scored.join(df.select(id_col, stratum_col), id_col)
    nonnull = scored.where(F.col("bits_per_word").isNotNull())
    if approximate:
        qs = [i / n_buckets for i in range(1, n_buckets)]
        cuts = nonnull.groupBy(*part).agg(
            F.percentile_approx("bits_per_word", qs, 10000).alias("_cuts")
        )
        joined = (
            nonnull.join(F.broadcast(cuts), part)
            if part
            else nonnull.crossJoin(F.broadcast(cuts))
        )
        bucketed = joined.withColumn(
            "bucket",
            (
                F.size(
                    F.filter(
                        F.col("_cuts"),
                        lambda c: F.col("bits_per_word") > c,
                    )
                )
                + 1
            ).cast("int"),
        ).drop("_cuts")
    else:
        from pyspark.sql import Window

        w = Window.partitionBy(*part).orderBy("bits_per_word", id_col)
        bucketed = nonnull.withColumn("bucket", F.ntile(n_buckets).over(w))
    labels = (
        F.when(F.col("bucket").isNull(), F.lit(None).cast("string"))
        .when(F.lit(n_buckets == 3) & (F.col("bucket") == 1), "head")
        .when(F.lit(n_buckets == 3) & (F.col("bucket") == 2), "middle")
        .when(F.lit(n_buckets == 3) & (F.col("bucket") == 3), "tail")
        .otherwise(F.concat(F.lit("b"), F.col("bucket")))
    )
    out = scored.join(
        bucketed.select(id_col, "bucket"), id_col, "left"
    ).withColumn("bucket_label", labels)
    return out.select(
        id_col,
        *part,
        "n_words",
        "oov_rate",
        "bits_per_word",
        "bucket",
        "bucket_label",
    )
