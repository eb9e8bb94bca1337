"""Deduplication operators for training-data pipelines.

Six strategies, each scale-shaped differently:

- **exact**: hash-groupBy on content (or md5 fingerprint) — one shuffle,
  map-side combined. The 100 TB default.
- **n-gram Jaccard**: exact set-similarity via shingle inverted index +
  pair counting. Quadratic in bucket size — gated by a document-frequency
  cap on shingles (stop-shingle removal), the standard trick to keep the
  inverted index join near-linear.
- **MinHash + LSH**: shingle -> 64 permuted min-hashes -> banded buckets ->
  candidate pairs -> exact-Jaccard verification of candidates only. The
  near-dup path that survives 100 TB: cost ~ O(docs x K) + O(candidates).
- **SimHash**: 64-bit signature via per-bit weighted majority over shingle
  hashes; near-dups = signatures within Hamming distance k, found by
  4x16-bit band exact-match (any pair within distance 3 shares a band).
- **embedding cosine**: see pipeline/similarity.py (near-dup = cosine above
  a threshold).
- **SemDeDup** (semantic): k-means-cluster the embeddings, screen each
  cluster's upper triangle for cosine-near-identical points, keep the
  low-centroid-similarity representative — paraphrase-level dedup the
  surface-form strategies cannot see; the quadratic is confined within
  clusters.

All shingling/hashing is JVM-side (higher-order array exprs, xxhash64);
no Python UDFs.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hbase_1_3_0_spark.pipeline.parallelism import fan_out_small_scan
from hbase_1_3_0_spark.pipeline.text import fingerprint

#: the MinHash prime modulus: ``a·x + b`` (all ``< 2^31``) stays exact in a
#: long and wraps the modulus many times; a modulus the product never
#: reaches leaves each hash near-monotone in ``x``
_MERSENNE_P = (1 << 31) - 1


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the smallest id per exact content group.

    Groups on ``md5(text)`` (a 32-hex key), NOT the raw text column: at
    100 TB a raw-text grouping key ships every document body through the
    shuffle twice. md5 collisions are negligible at any realistic corpus
    cardinality (birthday bound ~2^64 docs), and the result — min(id)
    per distinct content — is identical. The whitespace-insensitive
    variant is :func:`fingerprint_dedup`."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("_h"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def fingerprint_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on the normalized md5 fingerprint (whitespace/punct
    -insensitive)."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def paragraph_dedup(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph-granular exact dedup (the Dolma/CCNet paragraph filter):
    across the whole corpus, each distinct non-blank paragraph (blank-line
    separated) survives only in the document with the smallest id that
    contains it; later occurrences are stripped. Returns (id, text) with
    paragraphs rejoined by blank lines; documents losing every paragraph
    drop out.

    Scale shape: explode paragraphs once, aggregate the winner per md5
    fingerprint (one hash agg keyed on the 32-hex digest, not the
    paragraph body), semi-join winners back (AQE-broadcastable: winners
    carry only (fp, id)), reassemble with one groupBy(doc) collect_list —
    order restored from captured positions, no global sort."""
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n\\s*\n")).alias("pos", "para"),
    ).where(F.length(F.trim(F.col("para"))) > 0)
    paras = paras.withColumn("_fp", F.md5(F.col("para")))
    winners = paras.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    kept = paras.join(winners, ["_fp", id_col], "left_semi")
    ordered = F.array_sort(F.collect_list(F.struct("pos", "para")))
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(ordered, lambda s: s.getField("para")), "\n\n"
        ).alias(text_col)
    )


def char_shingles(text: Column, n: int = 5) -> Column:
    """Distinct character n-grams as an array — pure JVM higher-order expr."""
    # transform(sequence(1, len-n+1), i -> substring(text, i, n))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(text) - n + 1, F.lit(1))),
            lambda i: F.substring(text, i, n),
        )
    )


def _shingle_table(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    return fan_out_small_scan(df).select(
        F.col(id_col).alias("_id"),
        F.explode(char_shingles(F.col(text_col), n)).alias("sh"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (id_a < id_b, jaccard >= threshold).

    Inverted-index self-join: |A∩B| by counting shared shingles, then
    jaccard = inter / (|A| + |B| - inter). ``max_shingle_df`` drops shingles
    appearing in more than that many docs (stop-shingles) — REQUIRED at scale
    to bound the quadratic bucket join; None means exact (small inputs only).

    The shingle table is referenced several times in the plan; the CALLER
    owns any persist() around this call (no internal cache — a cached-but-
    never-unpersisted frame leaks executor storage in long-lived sessions).
    """
    sh = _shingle_table(df, text_col, id_col, n)
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    index = sh
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= max_shingle_df)
            .select("sh")
        )
        index = sh.join(rare, "sh", "left_semi")
    pairs = (
        index.alias("a")
        .join(index.alias("b"), "sh")
        .where(F.col("a._id") < F.col("b._id"))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        pairs.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("_sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("_sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def _hash_params(num_hashes: int, seed: int) -> tuple[list[int], list[int]]:
    rng = random.Random(seed)
    a = [rng.randrange(1, _MERSENNE_P) for _ in range(num_hashes)]
    b = [rng.randrange(0, _MERSENNE_P) for _ in range(num_hashes)]
    return a, b


def _shingle_hash_rows(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """One row per (doc, distinct shingle) with its xxhash64 — the layout
    every signature aggregates over with codegen'd grouped aggs (the
    higher-order array-lambda form is interpreted per element and would
    re-evaluate the shingle array once per hash function)."""
    return fan_out_small_scan(df).select(
        F.col(id_col).alias("_id"),
        F.explode(char_shingles(F.col(text_col), n)).alias("_sh"),
    ).select("_id", F.xxhash64("_sh").alias("_h"))


def minhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """K permuted min-hashes per doc -> (_id, _sig array<long>).

    h_i(s) = (a_i * x(s) + b_i) mod p with x(s) = xxhash64(shingle) folded
    to [0, 2^31); products stay within long range. Executed as K min()
    aggregates in ONE hash aggregation over the exploded shingle rows —
    all whole-stage-codegen, one shuffle, map-side combined. The K
    aggregates and their array are one parsed SQL expression: one py4j
    round trip, where K ``F.min(F.pmod(...))`` Columns were thousands.
    """
    a, b = _hash_params(num_hashes, seed)
    mins = ", ".join(
        f"min(pmod({a[i]} * pmod(_h, {1 << 31}) + {b[i]}, {_MERSENNE_P}))"
        for i in range(num_hashes)
    )
    return (
        _shingle_hash_rows(df, text_col, id_col, n)
        .groupBy("_id")
        .agg(F.expr(f"array({mins})").alias("_sig"))
    )


def signature_bands(
    sig: DataFrame, *, bands: int, num_hashes: int
) -> DataFrame:
    """LSH banding of a ``(_id, _sig)`` signature frame: one row per
    (doc, band) keyed by the xxhash64 of the band's signature slice —
    the join key that makes near-dup candidate generation a bucket
    join instead of all-pairs. Shared by the batch candidate paths and
    the streaming near-dup ingest store."""
    rows = num_hashes // bands
    return sig.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bidx: F.struct(
                    bidx.alias("band"),
                    F.xxhash64(
                        F.slice(F.col("_sig"), bidx * rows + 1, rows)
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("_id", "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    pair_mode: str = "star",
) -> DataFrame:
    """LSH candidate pairs: split the K-signature into ``bands`` bands of
    K/bands rows; docs sharing any band bucket are candidates. Banding is an
    explode + groupBy on (band, band-hash) — the shuffle key is the bucket,
    so skew is bounded by bucket size, not corpus size.

    ``pair_mode`` controls enumeration within a bucket:

    - ``'star'`` (default, the 100 TB path): each doc pairs only with its
      bucket's MINIMUM id. Linear in bucket size, and because every member
      links to the same representative, the connected components of the
      UNFILTERED candidate graph are identical to all-pairs linkage. A
      template-heavy corpus puts thousands of near-identical docs in one
      bucket — all-pairs is quadratic there (5k docs produced 4M pairs on
      the synthetic corpus), star stays at one edge per member. Identical
      signatures are also collapsed BEFORE banding (one representative per
      distinct signature), so a million exact clones band once.

      CAVEAT: the components-equivalence holds only BEFORE any downstream
      pairwise verification. If star edges are then filtered by an exact
      similarity check, a member↔min edge can fail where the never-
      enumerated member↔member pair would have passed, dropping pairs and
      splitting components. That is why :func:`minhash_dedup_pairs` (a
      verified-pairs contract) defaults to ``'all'``.
    - ``'all'``: exhaustive within-bucket pairs — required when every
      qualifying PAIR must be reported (verified-pairs functions).
    """
    sig = minhash_signatures(
        df, text_col=text_col, id_col=id_col, n=n,
        num_hashes=num_hashes, seed=seed,
    )

    def band_rows(s: DataFrame) -> DataFrame:
        return signature_bands(s, bands=bands, num_hashes=num_hashes)

    if pair_mode == "all":
        banded = band_rows(sig)
        return (
            banded.alias("x")
            .join(banded.alias("y"), ["band", "bucket"])
            .where(F.col("x._id") < F.col("y._id"))
            .select(F.col("x._id").alias("id_a"), F.col("y._id").alias("id_b"))
            .distinct()
        )
    if pair_mode != "star":
        raise ValueError(f"pair_mode must be 'star' or 'all', got {pair_mode!r}")

    # collapse identical signatures first: one hash agg; exact clones emit
    # one (rep, member) edge each instead of participating in banding
    grouped = sig.groupBy("_sig").agg(
        F.min("_id").alias("_rep"), F.collect_list("_id").alias("_members")
    )
    clone_edges = grouped.select(
        F.col("_rep").alias("id_a"),
        F.explode("_members").alias("id_b"),
    ).where(F.col("id_a") < F.col("id_b"))
    reps = grouped.select(F.col("_rep").alias("_id"), "_sig")
    banded = band_rows(reps)
    # star: every member links to the bucket minimum — one window-free
    # min-per-bucket agg + one semi-join-shaped inner join back
    bucket_min = banded.groupBy("band", "bucket").agg(
        F.min("_id").alias("_min_id")
    )
    star_edges = (
        banded.join(bucket_min, ["band", "bucket"])
        .where(F.col("_id") != F.col("_min_id"))
        .select(
            F.col("_min_id").alias("id_a"), F.col("_id").alias("id_b")
        )
    )
    # one distinct, not two: clone edges (identical signatures) and star
    # edges (distinct-signature reps) are disjoint by construction, so
    # the union-level distinct alone dedups the multi-band star
    # collisions — the inner star .distinct() was a redundant exchange
    return clone_edges.unionByName(star_edges).distinct()


def minhash_dedup_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    pair_mode: str = "all",
) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard. Verification runs
    only on the candidate set, so cost ~ O(docs x K) + O(candidates).

    Defaults to ``pair_mode='all'`` because this function's contract is
    "every qualifying pair": with star-linked candidates, a member↔min
    edge can fail the Jaccard threshold where the never-enumerated
    member↔member pair would have passed, silently dropping pairs.
    Pass ``pair_mode='star'`` for the linear-in-bucket-size scale path
    when the consumer is clustering and accepts that post-verification
    recall trade (or skip verification and cluster the candidates
    directly — see :func:`minhash_lsh_candidates`)."""
    cand = minhash_lsh_candidates(
        df, text_col=text_col, id_col=id_col, n=n,
        num_hashes=num_hashes, bands=bands, seed=seed, pair_mode=pair_mode,
    )
    sh = _shingle_table(df, text_col, id_col, n)
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    # count shared shingles among candidates only: join the candidate pairs to
    # the shingle index on (id, shingle) — cost scales with candidates
    a_sh = sh.withColumnRenamed("_id", "id_a")
    b_sh = sh.withColumnRenamed("_id", "id_b")
    inter = (
        cand.join(a_sh, "id_a")
        .join(b_sh, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("_sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("_sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bucket_planes: int = 0,
    dim: int = 64,
    seed: int = 42,
    num_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim >= threshold).

    ``bucket_planes=0``: exact all-pairs — the oracle-checkable baseline,
    executed as a BLOCKED matrix product: vectors hash into ``num_blocks``
    blocks, every block *pair* scores as one numpy matmul inside
    ``applyInPandas`` (each row replicates to its ~num_blocks block-pairs,
    so cost is O(n²/P) per task with BLAS constants — ~1000x the per-pair
    JVM lambda — and parallelism = num_blocks(num_blocks+1)/2 tasks).
    Still inherently quadratic: at 100 TB use the bucketed/LSH/IVF paths.

    ``bucket_planes>0``: candidates restricted to pairs sharing a
    random-hyperplane sign bucket first (the 100 TB path — the join key is
    the bucket, so cost ~ Σ bucket² instead of n²; recall depends on the
    threshold vs plane count)."""
    from hbase_1_3_0_spark.pipeline.similarity import (
        _random_unit_vectors,
        cosine,
        hyperplane_signature,
    )

    c = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if bucket_planes > 0:
        planes = _random_unit_vectors(bucket_planes, dim, seed)
        c = c.withColumn("_b", hyperplane_signature(F.col("_v"), planes))
        joined = c.alias("a").join(c.alias("b"), "_b")
        sim = cosine(F.col("a._v"), F.col("b._v"))
        return (
            joined.where(F.col("a._id") < F.col("b._id"))
            .withColumn("_sim", sim)
            .where(F.col("_sim") >= threshold)
            .select(
                F.col("a._id").alias("id_a"),
                F.col("b._id").alias("id_b"),
                F.round("_sim", 6).alias("sim"),
            )
        )
    return _blocked_exact_pairs(c, threshold, num_blocks)


def _blocked_exact_pairs(
    c: DataFrame, threshold: float, num_blocks: int
) -> DataFrame:
    """Exact all-pairs cosine as a block-partitioned matrix product.

    Row in block b joins block-pair group (i, j) as side 'a' for every
    j >= b and side 'b' for every i <= b (the diagonal group (b, b) gets
    the row on both sides; the id_a < id_b guard dedups it). One group =
    one Arrow batch = one numpy matmul.
    """
    import pandas as pd  # noqa: F401  (arrow path)

    nb = num_blocks
    blk = F.pmod(F.xxhash64(F.col("_id")), F.lit(nb))
    entries = F.concat(
        F.transform(
            F.sequence(blk, F.lit(nb - 1)),
            lambda j: F.struct(
                (blk * nb + j).alias("grp"), F.lit("a").alias("side")
            ),
        ),
        F.transform(
            F.sequence(F.lit(0), blk),
            lambda i: F.struct(
                (i * nb + blk).alias("grp"), F.lit("b").alias("side")
            ),
        ),
    )
    tagged = (
        c.select(
            "_id",
            F.col("_v").cast("array<double>").alias("_v"),
            F.explode(entries).alias("_e"),
        )
        .select("_id", "_v", F.col("_e.grp").alias("grp"), F.col("_e.side").alias("side"))
    )

    thr = float(threshold)

    def score(pdf):
        import numpy as np
        import pandas as pd

        a = pdf[pdf["side"] == "a"]
        b = pdf[pdf["side"] == "b"]
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "sim": "float64"}
            )
        ma = np.stack(a["_v"].to_numpy())
        mb = np.stack(b["_v"].to_numpy())
        # same formula as the per-pair form: dot / (|a| * |b|)
        sims = (ma @ mb.T) / np.outer(
            np.sqrt((ma * ma).sum(axis=1)), np.sqrt((mb * mb).sum(axis=1))
        )
        ia, ib = np.nonzero(sims >= thr)
        ids_a = a["_id"].to_numpy()[ia]
        ids_b = b["_id"].to_numpy()[ib]
        i_blk, j_blk = divmod(int(pdf["grp"].iloc[0]), nb)
        if i_blk == j_blk:
            # diagonal group: every unordered pair appears in both
            # orientations — the id guard keeps exactly one
            keep = ids_a < ids_b
        else:
            # off-diagonal: each pair appears once, in block orientation;
            # normalize to id order below
            keep = ids_a != ids_b
        lo = np.minimum(ids_a[keep], ids_b[keep])
        hi = np.maximum(ids_a[keep], ids_b[keep])
        return pd.DataFrame(
            {
                "id_a": lo,
                "id_b": hi,
                "sim": np.round(sims[ia[keep], ib[keep]], 6),
            }
        )

    return tagged.groupBy("grp").applyInPandas(
        score, "id_a long, id_b long, sim double"
    )


def simhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """64-bit SimHash per doc -> (_id, sig long).

    bit_k(sig) = 1 iff Σ_shingles (±1 by bit k of hash) > 0. Executed as 64
    sum() aggregates in ONE hash aggregation over the exploded shingle rows
    (whole-stage codegen; the array-lambda form would interpret 64 x
    #shingles steps per doc and re-shingle the text per bit)."""
    rows = _shingle_hash_rows(df, text_col, id_col, n)
    aggs = [
        F.sum(
            F.when(
                F.shiftright(F.col("_h"), k).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"_b{k}")
        for k in range(64)
    ]
    g = rows.groupBy("_id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for k in range(64):
        sig = sig + F.when(
            F.col(f"_b{k}") > 0,
            F.lit(1).cast("long") * (2**k if k < 63 else -(2**63)),
        ).otherwise(F.lit(0).cast("long"))
    return g.select("_id", sig.alias("sig"))


def simhash_bands(df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id", n: int = 5) -> DataFrame:
    """SimHash signatures + 4x16-bit bands (any pair with Hamming distance
    <= 3 collides on at least one band — pigeonhole)."""
    out = simhash_signatures(df, text_col=text_col, id_col=id_col, n=n)
    for i in range(4):
        out = out.withColumn(
            f"band{i}",
            F.shiftrightunsigned(F.col("sig"), i * 16).bitwiseAND(F.lit(0xFFFF)),
        )
    return out


def simhash_near_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    max_hamming: int = 3,
    pair_mode: str = "all",
) -> DataFrame:
    """Near-dup pairs by SimHash: band-collision candidates filtered by exact
    Hamming distance (bit_count of xor).

    Defaults to ``pair_mode='all'`` (every within-bucket pair enumerated)
    because the Hamming<=k filter runs AFTER pair generation: with star
    linkage a member↔min edge can exceed k where the never-enumerated
    member↔member pair would not, dropping qualifying pairs — so star's
    components-equivalence claim only holds for the unfiltered candidate
    graph. ``pair_mode='star'`` remains the linear-in-bucket-size scale
    path for clustering consumers that accept the post-verification
    recall trade: identical signatures collapse to one representative
    before banding (clones emit one hamming-0 edge each) and each
    signature pairs only with its bucket minimum."""
    sig = simhash_bands(df, text_col=text_col, id_col=id_col, n=n)
    dist = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    if pair_mode == "all":
        cands = None
        for i in range(4):
            a = sig.select(F.col("_id").alias("id_a"), F.col("sig").alias("sig_a"), F.col(f"band{i}").alias("b"))
            b = sig.select(F.col("_id").alias("id_b"), F.col("sig").alias("sig_b"), F.col(f"band{i}").alias("b"))
            p = a.join(b, "b").where(F.col("id_a") < F.col("id_b")).drop("b")
            cands = p if cands is None else cands.unionByName(p)
        return (
            cands.distinct()
            .withColumn("hamming", dist)
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
            .distinct()
        )
    if pair_mode != "star":
        raise ValueError(f"pair_mode must be 'star' or 'all', got {pair_mode!r}")

    grouped = sig.groupBy("sig").agg(
        F.min("_id").alias("_rep"), F.collect_list("_id").alias("_members")
    )
    clone_edges = grouped.select(
        F.col("_rep").alias("id_a"),
        F.explode("_members").alias("id_b"),
        F.lit(0).alias("hamming"),
    ).where(F.col("id_a") < F.col("id_b"))
    reps = grouped.select(F.col("_rep").alias("_id"), "sig")
    star = None
    for i in range(4):
        band = F.shiftrightunsigned(F.col("sig"), i * 16).bitwiseAND(
            F.lit(0xFFFF)
        )
        banded = reps.select("_id", "sig", band.alias("b"))
        bucket_min = banded.groupBy("b").agg(
            F.min_by(F.struct("_id", "sig"), "_id").alias("m")
        )
        p = (
            banded.join(bucket_min, "b")
            .where(F.col("_id") != F.col("m._id"))
            .select(
                F.col("m._id").alias("id_a"),
                F.col("_id").alias("id_b"),
                F.col("m.sig").alias("sig_a"),
                F.col("sig").alias("sig_b"),
            )
        )
        star = p if star is None else star.unionByName(p)
    star_edges = (
        star.distinct()
        .withColumn("hamming", dist)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return clone_edges.unionByName(star_edges).distinct()


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
    check_convergence: bool = True,
) -> DataFrame:
    """Group near-duplicate pairs into clusters: (id, component) where
    ``component`` is the smallest id reachable from ``id``.

    Hash-min label propagation — the standard large-graph connected-
    components pattern: no driver-side graph, each iteration is one
    edge-list join + groupBy (all shuffles keyed on the vertex id, so AQE
    reuses the partitioning), converging in O(diameter) iterations. Real
    dup-graphs (near-clique clusters from pair generators) have tiny
    diameters, so a handful of iterations suffice at any scale.
    ``localCheckpoint`` truncates the iterative plan lineage each round.

    ``check_convergence=False`` runs exactly ``max_iterations`` rounds
    with NO per-round changed-label count — one fewer Spark job per
    round. Use it ONLY when the graph's diameter is known shallow
    (near-dup clusters are near-cliques: diameter ≲ 4) and set
    ``max_iterations >= diameter``: plain hash-min propagation moves
    the minimum label ONE hop per round, so the requirement is linear
    in the diameter, not logarithmic (log2 bounds apply only to
    pointer-doubling variants like large-star/small-star, which this
    is not). When in doubt keep ``check_convergence=True`` — it stops
    exactly at fixpoint.
    """
    edges = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("id").alias("b"), F.col("component").alias("_nc")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("_nc").alias("_min_n"))
            .select(F.col("a").alias("id"), "_min_n")
        )
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("_min_n", "component")
                ).alias("component"),
            )
            .localCheckpoint()
        )
        if check_convergence:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .where(F.col("n.component") != F.col("o.component"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        else:
            labels = new_labels
    return labels


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """End-to-end near-dup removal: cluster the pair graph, keep the
    smallest-id document of each cluster (plus every unpaired document).

    The loser set is NOT force-broadcast: on a heavily-duplicated corpus
    (e.g. 40% dups over 10B docs) losers number in the billions and a
    broadcast hint would OOM the driver. AQE picks broadcast at runtime
    whenever the loser set really is small — the same posture the fused
    SCVF join uses — and degrades to a shuffled anti-join otherwise."""
    labels = connected_components(pairs, src=src, dst=dst)
    losers = labels.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def incremental_dedup(
    new_docs: DataFrame,
    seen_fingerprints: DataFrame | None,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Dedup an INCOMING batch against an existing corpus — the
    streaming-ingest shape: a crawl lands in batches, and each batch
    must drop (a) exact dups of anything already accepted and (b) dups
    within itself, without ever rescanning the accepted corpus.

    ``seen_fingerprints``: single-column ``fp`` DataFrame of md5 digests
    of the accepted corpus (None = empty). Returns ``(survivors,
    updated_fingerprints)`` — survivors keep the smallest id per
    in-batch content group, then anti-join the seen store on the 32-hex
    digest; the updated store is seen + the survivors' digests, ready
    for the next batch.

    Scale shape: the accepted corpus is represented ONLY by digests
    (32 bytes/doc — a 10B-doc store is ~320 GB, a fine shuffle-join
    side; broadcastable for smaller stores via AQE). The batch is
    shuffled on the digest once; the corpus text is never touched."""
    fp = F.md5(F.col(text_col))
    batch = new_docs.select(F.col(id_col), fp.alias("fp"))
    winners = batch.groupBy("fp").agg(F.min(id_col).alias(id_col))
    if seen_fingerprints is not None:
        winners = winners.join(seen_fingerprints, "fp", "left_anti")
    survivors = new_docs.join(
        winners.select(id_col), id_col, "left_semi"
    )
    new_fps = winners.select("fp")
    updated = (
        new_fps
        if seen_fingerprints is None
        else seen_fingerprints.unionByName(new_fps)
    )
    return survivors, updated


def semdedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_clusters: int = 16,
    dim: int = 64,
    seed: int = 7,
    centroids: list[list[float]] | None = None,
    train: bool = False,
    kmeans_iters: int = 4,
) -> DataFrame:
    """SemDeDup (Abbas 2023, arXiv:2303.09540): SEMANTIC deduplication —
    remove documents whose embeddings are near-identical to a kept
    document in the same k-means cluster. Catches paraphrases/
    re-renderings that exact and MinHash dedup (surface-form) miss.

    The paper's screening rule, exactly: within each cluster, order
    points by cosine similarity TO THE CLUSTER CENTROID ascending (the
    paper keeps the LOW-similarity extreme — the most diverse
    representative of each duplicate group; ties here break by id), and
    drop a point iff it has cosine >= ``threshold`` with ANY
    earlier-ranked point in its cluster — one pairwise pass over the
    upper triangle per cluster, no sequential greedy dependency, so the
    loser set is a single self-join + distinct.

    ``centroids``/``train``: by default clusters come from seeded
    random unit hyperplane centroids (deterministic, no training pass —
    the oracle-checkable configuration, mirrored by the pure-Python
    model in tools/pymodels.py); pass ``train=True`` for Lloyd-trained
    spherical k-means (:func:`similarity.kmeans_centroids` — better
    cluster purity, float-model determinism caveats), or supply
    ``centroids`` from a previous training run.

    Output: one row per input vector — (id, cluster, cent_sim, kept).
    Anti-join ``kept = false`` ids against the documents table to
    apply the dedup.

    Scale shape (the paper's own): the quadratic is confined WITHIN
    clusters — cost ~ Σ cluster_size², so ``num_clusters`` scales with
    the corpus (the paper uses ~100k clusters for billions of points;
    cluster size, not corpus size, bounds each task). Assignment is a
    zero-shuffle codegen'd argmax over literal centroids; ranking is
    one per-cluster window; the pair pass is ONE self-join keyed on the
    cluster id. The ranked table has two join consumers and is
    localCheckpoint'd (multi-consumer window prefix would re-run the
    assignment per branch)."""
    from hbase_1_3_0_spark.pipeline.similarity import (
        _lit_matrix,
        _norm,
        _random_unit_vectors,
        cosine,
        ivf_assign,
        kmeans_centroids,
    )

    if centroids is None:
        centroids = (
            kmeans_centroids(
                df, k=num_clusters, dim=dim, vec_col=vec_col,
                iters=kmeans_iters, seed=seed,
            )
            if train
            else _random_unit_vectors(num_clusters, dim, seed)
        )
    from pyspark.sql import Window

    assigned = ivf_assign(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        num_lists=num_clusters,
        dim=dim,
        vec_col="_v",
        centroids=centroids,
    ).withColumnRenamed("ivf_list", "cluster")
    # centroids are unit vectors, so cent_sim = dot / |v|
    cent = F.get(_lit_matrix(centroids), F.col("cluster"))
    from hbase_1_3_0_spark.pipeline.similarity import _dot

    ranked = (
        assigned.withColumn("cent_sim", _dot(F.col("_v"), cent) / _norm(F.col("_v")))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("cluster").orderBy("cent_sim", "_id")
            ),
        )
        .localCheckpoint(eager=False)
    )
    losers = (
        ranked.alias("a")
        .join(ranked.alias("b"), "cluster")
        .where(F.col("a.rnk") < F.col("b.rnk"))
        .where(cosine(F.col("a._v"), F.col("b._v")) >= threshold)
        .select(F.col("b._id").alias("_loser"))
        .distinct()
    )
    return (
        ranked.join(
            losers, ranked["_id"] == losers["_loser"], "left"
        )
        .select(
            F.col("_id").alias(id_col),
            "cluster",
            F.round("cent_sim", 6).alias("cent_sim"),
            F.col("_loser").isNull().alias("kept"),
        )
    )
