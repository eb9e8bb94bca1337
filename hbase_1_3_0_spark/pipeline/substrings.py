"""Exact repeated-substring dedup — the Lee et al. 2022 span-level pass
("Deduplicating Training Data Makes Language Models Better"): training
corpora contain long VERBATIM spans repeated across otherwise-distinct
documents (licenses, boilerplate, templated passages); document-level
dedup never sees them, and models memorize them. The reference method
builds a single-node suffix array; the Spark-native equivalent here is
rolling window digests:

1. every k-char window of every doc hashes to an 8-byte-ish digest
   (md5 prefix) — one posexplode pass, digests not text on the wire;
2. a window whose digest occurs >= min_count times corpus-wide is a
   repeated window; the globally FIRST occurrence (min (doc_id, pos))
   of each digest is the retained copy (the all-but-one-copy policy);
3. per doc, its non-winner repeated windows merge into maximal
   intervals (classic SQL gaps-and-islands: running-max of span ends);
   a repeated span of length L >= k yields L-k+1 repeated windows, so
   stride-1 merging recovers the full span exactly;
4. the doc's clean text is the concatenation of the complement
   segments (kept intervals -> substrings -> ordered join).

Scale shape — TWO-PHASE, one shuffle of the window table total:

- **Pass 1** derives the window table (one posexplode, ~1 row per text
  byte — the same cost class as the MinHash shingle explode) and runs
  ONE hash aggregation on the digest: per-digest count + globally-first
  occurrence, both partial-aggregatable, so the map side combines to
  distinct-digests-per-partition before the only corpus-scale shuffle.
  Only digests with corpus DF >= ``min_count`` survive — the HOT set,
  tiny by construction (repeated boilerplate digests only).
- **Pass 2** re-derives the window table (a pipelined scan+explode, CPU
  only — re-deriving is cheaper than materializing ~1 row/byte) and
  joins it to the BROADCAST hot set: the 99%+ non-repeated windows die
  at the broadcast probe inside the scan stage and never reach a
  shuffle. Only the surviving hot windows (again tiny) shuffle into the
  per-doc interval merge.

So the corpus text is exploded twice but SHUFFLED once, and the second
pass is hot-set-gated exactly like HashTable/SyncTable's
hash-first-touch-data-second posture (reference:
hbase-server/.../mapreduce/HashTable.java:64). ``broadcast_hot=False``
degrades to a shuffle join for the (pathological) corpus whose hot set
outgrows the driver. Everything is JVM Column expressions; the text
surgery is an ordered array_join, no Python on the data path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hbase_1_3_0_spark.pipeline.parallelism import fan_out_small_scan

#: Winner-key packing factor: ``doc_id * POS_PACK + pos`` encodes the
#: lexicographic (doc_id, pos) order as one long for HashAggregate-able
#: min — the key the DuckDB oracle uses too. Exact while 1 <= pos <
#: POS_PACK (docs under ~1e6 chars): a window at or past it raises
#: (:func:`repeated_spans`), and a doc_id whose key overflows a long
#: raises under ANSI arithmetic.
POS_PACK = 1_000_000


def window_digests(
    df: DataFrame,
    *,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per (doc, pos, digest) for every k-char window (1-based
    pos, stride 1). Docs shorter than k emit nothing — they cannot
    contain a length-k repeated span."""
    t = F.col(text_col)
    # the length guard matters: sequence(1, 0) DESCENDS in Spark, so an
    # unguarded short doc would emit phantom pos-0/pos-1 windows whose
    # identical digests self-collide into a fake repeated span
    digests = F.when(
        F.length(t) >= k,
        F.transform(
            F.sequence(F.lit(1), F.length(t) - k + 1),
            lambda i: F.md5(F.substring(t, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        fan_out_small_scan(df).select(
            F.col(id_col).alias("_id"),
            F.posexplode(digests).alias("_p0", "digest"),
        )
        .select("_id", (F.col("_p0") + 1).alias("pos"), "digest")
    )


def repeated_spans(
    df: DataFrame,
    *,
    k: int = 50,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_hot: bool = True,
) -> DataFrame:
    """Maximal repeated intervals per doc, EXCLUDING each repeated
    window's globally-first occurrence: (doc_id, start, end) with
    1-based inclusive-exclusive [start, end) character bounds.

    Two-phase (module docstring): pass 1 aggregates the window table to
    the broadcast-able hot digest set (count + first occurrence, one
    map-side-combinable hash agg — the only corpus-scale shuffle); pass
    2 re-derives the windows and filters them against the broadcast hot
    set inside the scan stage, so non-repeated windows never shuffle."""
    win = window_digests(df, k=k, text_col=text_col, id_col=id_col)
    # PASS 1 — winner per digest = min (doc, pos), encoded as the packed
    # long ``_id * POS_PACK + pos`` (the SAME key the DuckDB oracle has
    # always used): min over a primitive long keeps the aggregation a
    # HashAggregate, where min(struct(_id, pos)) forced a SortAggregate
    # (struct buffers are not mutable-buffer types — r14, guide §5).
    # The packing is exact only while pos < POS_PACK (pos is 1-based): a
    # window of a document of ~1e6 chars or more would collide with the
    # next id's keys, so it raises instead. The guard is a branch of the
    # key itself, so Catalyst cannot fold it away. Count gates the hot
    # set; both aggregates combine map-side so the shuffle carries
    # distinct-digests-per-partition, not raw windows.
    first_key = F.when(
        F.col("pos") < F.lit(POS_PACK),
        F.col("_id") * F.lit(POS_PACK) + F.col("pos"),
    ).otherwise(
        F.raise_error(
            F.lit(
                f"repeated_spans: a window position reached POS_PACK "
                f"({POS_PACK}); documents must be shorter than "
                f"{POS_PACK} + k - 1 characters"
            )
        )
    )
    hot = (
        win.groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(first_key).alias("_first_key"),
        )
        .where(F.col("_n") >= min_count)
        .select("digest", "_first_key")
    )
    if broadcast_hot:
        hot = F.broadcast(hot)
    # PASS 2 — re-derive windows (pipelined, no shuffle) and probe the
    # hot set; only repeated windows survive into the interval merge
    cut = (
        win.join(hot, "digest")
        .where(first_key != F.col("_first_key"))
        .select(
            "_id",
            F.col("pos").alias("_s"),
            (F.col("pos") + k).alias("_e"),
        )
    )
    # gaps-and-islands interval merge: a window starting at or before
    # the running max end extends the current island
    w = Window.partitionBy("_id").orderBy("_s")
    prev_max = F.max("_e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = cut.withColumn(
        "_grp",
        F.sum(
            F.when(
                prev_max.isNull() | (F.col("_s") > prev_max), 1
            ).otherwise(0)
        ).over(w),
    )
    return (
        islands.groupBy("_id", "_grp")
        .agg(F.min("_s").alias("start"), F.max("_e").alias("end"))
        .select(F.col("_id").alias(id_col), "start", "end")
    )


def remove_repeated_spans(
    df: DataFrame,
    *,
    k: int = 50,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_hot: bool = True,
) -> DataFrame:
    """The surgery: every doc keeps its text minus its repeated spans
    (first occurrences corpus-wide are retained). Output:
    (id, clean_text, n_cut_chars, orig_len) — every input doc gets a
    row; orig_len is the pre-surgery character length, carried so
    callers can assert length conservation without a second corpus
    scan.

    The rebuild consumes the (tiny) span table ONCE: spans aggregate to
    one sorted array per affected doc, left-join onto the corpus, and
    the complement segments concatenate in a single higher-order-
    function expression — segment i is [prev_end_i, next_start_i) with
    a sentinel head (pos 1) and tail (end of text). No per-segment
    window shuffle, no union, and the repeated_spans subtree (the two
    corpus explodes) appears exactly once in the plan."""
    spans = repeated_spans(
        df, k=k, min_count=min_count, text_col=text_col, id_col=id_col,
        broadcast_hot=broadcast_hot,
    )
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("start"), F.col("end")))
        ).alias("_spans")
    )
    t = F.col(text_col)
    sp = F.col("_spans")
    ns = F.size(sp)
    # kept segment i (0..n inclusive): from (i==0 ? 1 : spans[i-1].end)
    # up to (i==n ? end-of-text : spans[i].start), exclusive
    kept_from = lambda i: F.when(  # noqa: E731
        i == 0, F.lit(1)
    ).otherwise(F.element_at(sp, i)["end"])
    kept_to = lambda i: F.when(  # noqa: E731
        i < ns, F.element_at(sp, i + 1)["start"]
    ).otherwise(F.length(t) + 1)
    segs = F.transform(
        F.sequence(F.lit(0), ns),
        lambda i: F.substring(t, kept_from(i), kept_to(i) - kept_from(i)),
    )
    cut = F.aggregate(
        sp,
        F.lit(0).cast("long"),
        lambda acc, x: acc + (x["end"] - x["start"]).cast("long"),
    )
    return (
        df.select(id_col, text_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.when(sp.isNull(), t)
            .otherwise(F.array_join(segs, ""))
            .alias("clean_text"),
            F.when(sp.isNull(), F.lit(0).cast("long"))
            .otherwise(cut)
            .alias("n_cut_chars"),
            F.length(t).cast("long").alias("orig_len"),
        )
    )
