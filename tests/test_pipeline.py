"""LLM-data-pipeline operators: dedup, similarity, text analysis, multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hbase_1_3_0_spark.pipeline import dedup, multimodal, similarity, text
from tests.conftest import load


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load(spark, sf_dir, "embeddings").cache()


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "same"), (5, "same"), (3, "other")], "doc_id: long, text: string"
    )
    got = sorted(r.doc_id for r in dedup.exact_dedup(df).collect())
    assert got == [1, 3]


def test_fingerprint_dedup_normalizes(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World!"), (9, "hello   world"), (3, "different")],
        "doc_id: long, text: string",
    )
    got = {r.doc_id: r.dup_count for r in dedup.fingerprint_dedup(df).collect()}
    assert got == {1: 2, 3: 1}


def test_ngram_jaccard_exact_pairs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + "!"),  # near-identical
            (3, "completely unrelated content with other words entirely"),
        ],
        "doc_id: long, text: string",
    )
    pairs = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    assert pairs[0].jaccard > 0.8


def test_minhash_lsh_finds_near_dups(docs, spark):
    # duplicate a few docs with tiny perturbations; LSH must surface them
    victims = docs.limit(5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" x")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(victims)
    pairs = dedup.minhash_dedup_pairs(corpus, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    expected = {(i, i + 1_000_000) for i in [r.doc_id for r in docs.limit(5).collect()]}
    assert expected <= got


def test_simhash_near_pairs(spark, docs):
    victims = docs.limit(3).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), F.col("text")
    )
    corpus = docs.select("doc_id", "text").unionByName(victims)
    pairs = dedup.simhash_near_pairs(corpus, max_hamming=3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    expected = {(i, i + 1_000_000) for i in [r.doc_id for r in docs.limit(3).collect()]}
    assert expected <= got


def test_cosine_topk_self_neighbors(emb, spark):
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.cosine_topk(emb, queries, k=5)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {r.query_id for r in queries.collect()}
    for q, rs in by_q.items():
        assert len(rs) == 5
        sims = [r.sim for r in sorted(rs, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)
        assert all(r.vec_id != q for r in rs)


def test_lsh_topk_recall_against_exact(emb):
    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.cosine_topk(emb, queries, k=3)
    approx = similarity.lsh_topk(emb, queries, k=3, num_planes=6, probe_hamming=2)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    # synthetic embeddings are near-isotropic (worst case for LSH); with 6
    # planes probing hamming<=2 (~34% of buckets) expect partial recall
    assert len(e & a) >= len(e) * 0.2


def test_ivf_topk_runs_and_ranks(emb):
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.ivf_topk(emb, queries, k=3, num_lists=8, nprobe=3)
    rows = out.collect()
    assert len(rows) > 0
    assert all(1 <= r.rank <= 3 for r in rows)


def test_pinned_codebooks_are_sliced_first_k_vectors(emb):
    books = similarity.pinned_codebooks(emb, m=8, k=16, dim=64)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)
    first = [
        [float(x) for x in r.embedding]
        for r in emb.orderBy("vec_id").limit(16).collect()
    ]
    for j in range(8):
        for i in range(16):
            assert books[j][i] == first[i][j * 8:(j + 1) * 8]


def test_pq_encode_round_to_matches_python_argmax(emb):
    """round_to=6 codes equal a pure-Python 6dp-rounded L2 argmax with
    larger-code tie-breaks — the contract the pinned oracles rebuild."""
    books = similarity.pinned_codebooks(emb, m=8, k=16, dim=64)
    codes = {
        r.vec_id: list(r.pq_code)
        for r in similarity.pq_encode(
            emb.limit(50), books, round_to=6
        ).collect()
    }
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.limit(50).collect()
    }
    for vid, v in vecs.items():
        for j, book in enumerate(books):
            sv = v[j * 8:(j + 1) * 8]
            best = max(
                range(16),
                key=lambda i: (
                    round(
                        sum(a * b for a, b in zip(sv, book[i]))
                        - sum(x * x for x in book[i]) / 2.0,
                        6,
                    ),
                    i,
                ),
            )
            assert codes[vid][j] == best, (vid, j)


def test_ivf_assign_round_to_is_oracle_reproducible(emb):
    cents = [
        [float(x) for x in r.embedding]
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    got = {
        r.vec_id: r.ivf_list
        for r in similarity.ivf_assign(
            emb.limit(40), centroids=cents, round_to=6
        ).collect()
    }
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.limit(40).collect()
    }
    for vid, v in vecs.items():
        best = max(
            range(8),
            key=lambda i: (
                round(sum(a * b for a, b in zip(v, cents[i])), 6), i
            ),
        )
        assert got[vid] == best


def test_text_stats_fields(docs):
    out = text.text_stats(docs.limit(20)).collect()
    for r in out:
        assert r.n_tokens > 0
        assert r.n_chars_computed == r.n_chars  # driver's n_chars column
        assert 0.0 <= r.punct_ratio <= 1.0
        assert 0.0 <= r.quality <= 1.0
        assert len(r.fingerprint) == 32


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog went to the house of friends"),
            (2, "der Hund und die Katze sind nicht in das Haus"),
            (3, "le chat est dans la maison et les jardins"),
            (4, "zzz qqq xxx"),
        ],
        "doc_id: long, text: string",
    )
    got = {r.doc_id: r.lang for r in df.select(
        "doc_id", text.lang_id(F.col("text")).alias("lang")
    ).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_multimodal_fake_feature_extraction(spark):
    rows = [(1, b"\x01\x02\x03" * 100), (2, b"\xff" * 10), (3, None)]
    df = spark.createDataFrame(rows, "doc_id: long, payload: binary")
    df = multimodal.attach_media(df, "payload", media_type="image", fmt="png")
    out = multimodal.extract_features(df, fake=True).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].n_bytes == 300 and by_id[2].n_bytes == 10
    assert by_id[3].n_bytes == 0
    assert len(by_id[1].feature) == 8
    assert by_id[1].media_type == "image"
    # determinism
    out2 = multimodal.extract_features(df, fake=True).collect()
    assert {r.doc_id: r.feature for r in out2} == {r.doc_id: r.feature for r in out}


def test_multimodal_without_decoder_raises(spark):
    df = spark.createDataFrame([(1, b"x")], "doc_id: long, payload: binary")
    with pytest.raises(NotImplementedError):
        multimodal.extract_features(df)


def _real_png(width: int, height: int) -> bytes:
    """A small VALID PNG built with the stdlib (struct + zlib)."""
    import struct
    import zlib

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x10\x20\x30" * width for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _real_wav(sample_rate: int, samples: list[int]) -> bytes:
    """A VALID 16-bit mono WAV built with the stdlib wave module."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(b"".join(struct.pack("<h", s) for s in samples))
    return buf.getvalue()


def test_probe_media_reads_real_headers(spark):
    """probe_media's JVM expressions must read the true dimensions of
    genuinely-valid files produced by the stdlib (not fixtures shaped
    around the implementation)."""
    png = _real_png(31, 17)
    wav = _real_wav(8000, [0, 1000, -1000, 500] * 100)
    # minimal GIF87a: header + LE logical-screen descriptor
    gif = b"GIF87a" + (320).to_bytes(2, "little") + (200).to_bytes(
        2, "little"
    ) + b"\x00\x00\x00"
    rows = [(1, png), (2, wav), (3, gif), (4, b"not media"), (5, None)]
    df = spark.createDataFrame(rows, "doc_id: long, payload: binary")
    got = {r.doc_id: r for r in multimodal.probe_media(df).collect()}
    assert got[1].container == "png"
    assert (got[1].width, got[1].height) == (31, 17)
    assert got[2].container == "wav"
    assert got[2].sample_rate == 8000 and got[2].n_channels == 1
    # 400 samples * 2 bytes / (8000*2 B/s) = 50 ms
    assert got[2].duration_ms == 50
    assert got[3].container == "gif"
    assert (got[3].width, got[3].height) == (320, 200)
    assert got[4].container == "unknown" and got[4].width is None
    assert got[5].container == "unknown"
    assert got[1].n_bytes == len(png)
    # truncation INSIDE a field must read NULL, never a fabricated
    # number parsed from partial bytes
    trunc = spark.createDataFrame(
        [(1, png[:18]), (2, wav[:26]), (3, gif[:8])],
        "doc_id: long, payload: binary",
    )
    t = {r.doc_id: r for r in multimodal.probe_media(trunc).collect()}
    assert t[1].container == "png" and t[1].width is None
    assert t[2].container == "wav"
    assert t[2].n_channels == 1 and t[2].sample_rate is None
    assert t[2].duration_ms is None
    assert t[3].container == "gif" and t[3].width == 320
    assert t[3].height is None


def _real_jpeg_header(width: int, height: int, progressive: bool = False) -> bytes:
    """Spec-valid JPEG prefix (ITU T.81): SOI, APP0/JFIF, DQT, then the
    SOF frame header carrying the dimensions — the marker walk a probe
    must survive (SOF sits at a variable offset behind the tables)."""
    import struct

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    app0 = seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    dqt = seg(0xDB, b"\x00" + bytes(64))
    sof = seg(
        0xC2 if progressive else 0xC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01",
    )
    return b"\xff\xd8" + app0 + dqt + sof


def test_jpeg_probe_marker_walk(spark):
    from hbase_1_3_0_spark.pipeline import multimodal as mm

    rows = [
        (1, _real_jpeg_header(1024, 768)),
        (2, _real_jpeg_header(33, 7, progressive=True)),
        (3, b"\xff\xd8\xff\xd9"),           # SOI+EOI, no frame
        (4, b"not a jpeg"),
        (5, _real_jpeg_header(640, 480)[:12]),  # truncated before SOF
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, payload: binary")
    got = {r.doc_id: r for r in mm.jpeg_probe(df).collect()}
    assert got[1].is_jpeg and (got[1].width, got[1].height) == (1024, 768)
    assert got[1].n_components == 3 and got[1].progressive is False
    assert got[2].progressive is True and got[2].width == 33
    assert got[3].is_jpeg and got[3].width is None
    assert not got[4].is_jpeg and got[4].width is None
    assert got[5].is_jpeg and got[5].width is None
    assert not got[6].is_jpeg


def test_wav_features_real_decode(spark):
    """wav_features actually decodes PCM: a constant half-scale signal
    has rms == peak == 0.5 (to float precision); garbage quarantines as
    a NULL-stat row."""
    import io
    import wave as wave_mod

    half = int(0.5 * 32768)
    wav = _real_wav(16000, [half] * 64)
    # 8-bit WAV is UNSIGNED: silence is 0x80, not 0x00
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(b"\x80" * 32)
    wav8 = buf.getvalue()
    rows = [(1, wav), (2, b"junk"), (3, wav8)]
    df = spark.createDataFrame(rows, "doc_id: long, payload: binary")
    got = {r.doc_id: r for r in multimodal.wav_features(df).collect()}
    assert got[1].n_samples == 64 and got[1].sample_rate == 16000
    assert abs(got[1].rms - 0.5) < 1e-3 and abs(got[1].peak - 0.5) < 1e-3
    assert got[2].rms is None and got[2].n_samples is None
    # 8-bit silence must score as silence (int8 misread would give 1.0)
    assert got[3].rms == 0.0 and got[3].peak == 0.0


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(1, b"v")], "doc_id: long, payload: binary")
    df = multimodal.attach_media(df, "payload", media_type="video", fmt="mp4")
    df = df.withColumn(
        "media_meta",
        F.col("media_meta").withField("duration_ms", F.lit(3500).cast("long")),
    )
    out = multimodal.frame_sample_plan(df, every_ms=1000).collect()
    assert [r.frame_ts_ms for r in out] == [0, 1000, 2000, 3000]


def test_embedding_near_dup_bucketed_subset_of_exact(spark, sf_dir):
    """LSH-bucketed near-dup pairs must be a subset of the exact pairs
    (bucketing only prunes candidates, never adds false positives)."""
    from hbase_1_3_0_spark.pipeline import dedup

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(embs, threshold=0.25).collect()
    }
    bucketed = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(
            embs, threshold=0.25, bucket_planes=4
        ).collect()
    }
    assert bucketed <= exact
    assert exact  # data yields at least one pair at this threshold


# ------------------------------------------------------------ quality filter


def test_quality_filter_rules(spark):
    good = (
        "The quick brown fox jumps over the lazy dog and it is a fine day "
        "for running in the field with all of the other animals."
    )
    too_short = "tiny doc"
    no_stopwords = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    bullets = "- one\n- two\n- three\n- four"
    df = spark.createDataFrame(
        [(1, good), (2, too_short), (3, no_stopwords), (4, bullets)],
        "doc_id: long, text: string",
    )
    got = {r.doc_id: r for r in text.quality_filter(df).collect()}
    assert got[1].keep
    assert not got[2].rule_len and not got[2].keep
    assert not got[3].rule_stopwords and not got[3].keep
    assert not got[4].rule_bullets and not got[4].keep


def test_pii_redact_masks_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith@corp.example.com or call 415-555-0123"),
            (2, "server at 10.0.0.1 only"),
            (3, "clean text with no pii at all"),
        ],
        "doc_id: long, text: string",
    )
    got = {r.doc_id: r for r in text.pii_redact(df).collect()}
    assert got[1].n_emails == 1 and got[1].n_phones == 1
    assert "<EMAIL>" in got[1].redacted and "<PHONE>" in got[1].redacted
    assert "bob.smith" not in got[1].redacted
    assert got[2].n_ips == 1 and "<IP>" in got[2].redacted
    assert got[3].n_emails == got[3].n_phones == got[3].n_ips == 0
    assert got[3].redacted == "clean text with no pii at all"


# ---------------------------------------------------------- decontamination


def test_ngram_contamination_planted_overlap(spark):
    from hbase_1_3_0_spark.pipeline import decontaminate

    train_text = (
        "the model was trained on a large corpus of public web documents "
        "collected over several years"
    )
    corpus = spark.createDataFrame(
        [(1, train_text), (2, "unrelated training text about other topics")],
        "doc_id: long, text: string",
    )
    probes = spark.createDataFrame(
        [
            (10, train_text),  # verbatim leak -> fully contaminated
            (11, "completely novel evaluation sentence nothing shared here"),
            (12, "ab"),  # < n tokens -> zero grams
        ],
        "doc_id: long, text: string",
    )
    got = {
        r.doc_id: r
        for r in decontaminate.ngram_contamination(
            corpus, probes, n=5
        ).collect()
    }
    assert got[10].contamination == 1.0 and got[10].contaminated
    assert got[11].n_hit == 0 and not got[11].contaminated
    assert got[12].n_grams == 0 and not got[12].contaminated


def test_ngram_contamination_hashed_matches_raw(spark, docs):
    from hbase_1_3_0_spark.pipeline import decontaminate

    corpus = docs.where(F.col("doc_id") % 10 < 8)
    probes = docs.where(F.col("doc_id") % 10 >= 8).limit(40)
    raw = decontaminate.ngram_contamination(
        corpus, probes, n=5, hash_grams=False
    )
    hashed = decontaminate.ngram_contamination(
        corpus, probes, n=5, hash_grams=True
    )
    key = lambda r: (r.doc_id, r.n_grams, r.n_hit, r.contamination)
    assert sorted(map(key, raw.collect())) == sorted(map(key, hashed.collect()))


def test_minhash_star_mode_matches_all_pairs_components(spark):
    """Star linkage must produce the same connected components as
    exhaustive within-bucket pairs (what dedup consumes), with at most
    one edge per (bucket, member)."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base + ("!" * (i % 2))) for i in range(1, 7)]  # one clone family
    rows += [(10, "completely unrelated content with other words entirely")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")

    all_pairs = dedup.minhash_lsh_candidates(df, pair_mode="all")
    star_pairs = dedup.minhash_lsh_candidates(df, pair_mode="star")

    def comps(pairs):
        labels = dedup.connected_components(pairs)
        return {
            frozenset(
                r.id for r in labels.collect() if r.component == c
            )
            for c in {r.component for r in labels.collect()}
        }

    assert comps(all_pairs) == comps(star_pairs)
    # star edge count is linear: <= members-1 per component per band
    assert star_pairs.count() <= all_pairs.count()


def test_simhash_star_contains_clone_edges(spark):
    df = spark.createDataFrame(
        [(1, "aaaa bbbb cccc dddd eeee"), (2, "aaaa bbbb cccc dddd eeee"),
         (3, "totally different words here now")],
        "doc_id: long, text: string",
    )
    pairs = {(r.id_a, r.id_b, r.hamming)
             for r in dedup.simhash_near_pairs(df).collect()}
    assert (1, 2, 0) in pairs
    assert not any({a, b} == {1, 3} for a, b, _ in pairs)


def test_corpus_stats_dup_rate(spark):
    df = spark.createDataFrame(
        [("a", 1, "same text"), ("a", 2, "same text"), ("a", 3, "other"),
         ("b", 4, "unique here")],
        "source: string, doc_id: long, text: string",
    )
    rows = {r.source: r for r in text.corpus_stats(df).collect()}
    assert rows["a"].n_docs == 3 and rows["a"].n_unique == 2
    assert abs(rows["a"].dup_rate - (1 - 2 / 3)) < 1e-6
    assert rows["b"].dup_rate == 0.0


def test_remove_boilerplate_strips_repeated_lines(spark):
    df = spark.createDataFrame(
        [(1, "keep one\nCOOKIE BANNER\nkeep two"),
         (2, "COOKIE BANNER\nunique line"),
         (3, "COOKIE BANNER"),
         (4, "all mine")],
        "doc_id: long, text: string",
    )
    out = {r.doc_id: r.text
           for r in text.remove_boilerplate(df, min_docs=3).collect()}
    assert out[1] == "keep one\nkeep two"   # order preserved
    assert out[2] == "unique line"
    assert 3 not in out                      # fully-boilerplate doc drops
    assert out[4] == "all mine"

    boiler = {r.line for r in text.boilerplate_lines(df, min_docs=3).collect()}
    assert boiler == {"COOKIE BANNER"}


def test_kmeans_centroids_improve_ivf_lists(spark, emb):
    """Trained centroids must (a) be deterministic, (b) produce balanced,
    recall-improving lists vs random hyperplane centroids on the fixture
    embeddings (which have genuine label clusters)."""
    a = similarity.kmeans_centroids(emb, k=8, dim=64, iters=3)
    b = similarity.kmeans_centroids(emb, k=8, dim=64, iters=3)
    assert a == b and len(a) == 8 and len(a[0]) == 64

    trained = similarity.ivf_assign(emb, num_lists=8, dim=64, centroids=a)
    sizes = [r.n for r in trained.groupBy("ivf_list").agg(
        F.count(F.lit(1)).alias("n")).collect()]
    # every vector assigned; no single list swallowed the corpus
    assert sum(sizes) == emb.count()
    assert max(sizes) < emb.count()

    # same-label vectors should co-locate better than untrained random
    # centroids (fixture labels are only weakly geometric, so compare
    # against the random baseline rather than an absolute bar)
    def purity(assigned):
        r = (
            assigned.groupBy("ivf_list", "label")
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("ivf_list")
            .agg(F.max("n").alias("top"), F.sum("n").alias("tot"))
            .agg(F.sum("top").alias("t"), F.sum("tot").alias("s"))
            .collect()[0]
        )
        return r.t / r.s

    untrained = similarity.ivf_assign(emb, num_lists=8, dim=64)
    assert purity(trained) > purity(untrained)


def test_vocab_topk_deterministic_ties(spark):
    df = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry")],
        "doc_id: long, text: string",
    )
    rows = text.vocab_topk(df, k=2).collect()
    assert [(r.word, r.cnt, r.rank) for r in rows] == [
        ("apple", 2, 1), ("banana", 2, 2),  # tie broken word-asc
    ]


def test_paragraph_dedup_first_doc_wins(spark):
    df = spark.createDataFrame(
        [(1, "unique one\n\nSHARED PARA"),
         (2, "SHARED PARA\n\nmine two"),
         (3, "SHARED PARA")],
        "doc_id: long, text: string",
    )
    out = {r.doc_id: r.text for r in dedup.paragraph_dedup(df).collect()}
    assert out[1] == "unique one\n\nSHARED PARA"   # first doc keeps it
    assert out[2] == "mine two"                    # stripped elsewhere
    assert 3 not in out                            # nothing left -> drops


# ------------------------------------------------------------ web / URL ops


def test_canonicalize_url_rules(spark):
    from hbase_1_3_0_spark.pipeline import web

    cases = [
        # lowercase scheme+host; path case preserved
        ("HTTPS://WWW.Example.COM/A/b", "https://www.example.com/A/b"),
        # trailing slash stripped
        ("https://a.com/x/", "https://a.com/x"),
        # tracking params dropped, survivors sorted
        ("https://a.com/x?utm_source=f&b=2&a=1", "https://a.com/x?a=1&b=2"),
        # all-tracking query vanishes entirely
        ("https://a.com/x?utm_id=9&gclid=z", "https://a.com/x"),
        # fragment dropped
        ("https://a.com/x#frag", "https://a.com/x"),
        # 'ref' matches the KEY exactly: refid/refresh are content params
        ("https://a.com/x?refid=7&ref=tw", "https://a.com/x?refid=7"),
        ("https://a.com/x?refresh=1", "https://a.com/x?refresh=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url: string")
    got = [
        r.c for r in df.select(web.canonicalize_url(F.col("url")).alias("c")).collect()
    ]
    assert got == [want for _, want in cases]


def test_registered_domain_public_suffix(spark):
    from hbase_1_3_0_spark.pipeline import web

    cases = [
        ("www.example.com", "example.com"),
        ("a.b.example.co.uk", "example.co.uk"),
        ("example.co.uk", "example.co.uk"),
        ("example.com", "example.com"),
        ("localhost", "localhost"),
        # 'co.ukx' is not a 2-letter ccTLD: take 2 labels
        ("x.co.ukx", "co.ukx"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "host: string")
    got = [
        r.d
        for r in df.select(
            web.registered_domain(F.col("host")).alias("d")
        ).collect()
    ]
    assert got == [want for _, want in cases]


def test_domain_filter_subdomain_boundary(spark):
    from hbase_1_3_0_spark.pipeline import web

    df = spark.createDataFrame(
        [
            (1, "https://site3.com/x"),
            (2, "https://www.site3.com/x"),
            (3, "https://site13.com/x"),     # NOT a subdomain of site3.com
            (4, "https://evil.site3.com/x"),
            (5, "https://other.com/x"),
        ],
        "doc_id: long, url: string",
    )
    kept = sorted(
        r.doc_id
        for r in web.domain_filter(df, ("site3.com",), mode="block").collect()
    )
    assert kept == [3, 5]
    allowed = sorted(
        r.doc_id
        for r in web.domain_filter(df, ("site3.com",), mode="allow").collect()
    )
    assert allowed == [1, 2, 4]


def test_url_dedup_canonical_identity(spark):
    from hbase_1_3_0_spark.pipeline import web

    df = spark.createDataFrame(
        [
            (1, "https://A.com/x/?utm_source=f"),
            (2, "https://a.com/x"),            # same canonical as 1
            (3, "https://a.com/x?id=1"),
        ],
        "doc_id: long, url: string",
    )
    got = {r.doc_id: r.dup_count for r in web.url_dedup(df).collect()}
    assert got == {1: 2, 3: 1}


def test_canonicalize_url_port_identity(spark):
    """Non-default explicit ports are distinct origins (kept); the
    scheme-default port normalizes away."""
    from hbase_1_3_0_spark.pipeline import web

    cases = [
        ("http://h.com:8080/x", "http://h.com:8080/x"),
        ("http://h.com:80/x", "http://h.com/x"),      # default collapses
        ("https://h.com:443/x", "https://h.com/x"),   # default collapses
        ("https://h.com:80/x", "https://h.com:80/x"), # 80 on https is real
        ("http://h.com/x", "http://h.com/x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url: string")
    got = [
        r.c
        for r in df.select(
            web.canonicalize_url(F.col("url")).alias("c")
        ).collect()
    ]
    assert got == [want for _, want in cases]
    # port-distinct origins do NOT collapse in url_dedup
    ddf = spark.createDataFrame(
        [(1, "http://h.com:8080/x"), (2, "http://h.com/x")],
        "doc_id: long, url: string",
    )
    got = {r.doc_id: r.dup_count for r in web.url_dedup(ddf).collect()}
    assert got == {1: 1, 2: 1}


def test_malformed_urls_never_abort(spark):
    """ANSI mode: plain parse_url would throw INVALID_URL on the first
    malformed URL; every web op must instead carry it as NULL / apply
    its documented policy."""
    from hbase_1_3_0_spark.pipeline import web

    df = spark.createDataFrame(
        [
            (1, "https://good.com/x"),
            (2, "not a url"),
            (3, "http://ok.org/y?id=1"),
            (4, "%%%"),
            (5, None),
        ],
        "doc_id: long, url: string",
    )
    parsed = {r.doc_id: r for r in web.parse_urls(df).collect()}
    assert parsed[1].canonical_url == "https://good.com/x"
    assert parsed[2].canonical_url is None and parsed[2].host is None
    assert parsed[4].domain is None

    clean, quarantined = web.quarantine_urls(df)
    assert sorted(r.doc_id for r in clean.collect()) == [1, 3]
    assert sorted(r.doc_id for r in quarantined.collect()) == [2, 4, 5]

    # url_dedup: malformed rows survive individually, never merge via NULL
    got = {r.doc_id: r.dup_count for r in web.url_dedup(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}

    # domain_stats: malformed rows bucket under NULL domain
    stats = {r.domain: r.n_docs for r in web.domain_stats(df).collect()}
    assert stats[None] == 3 and stats["good.com"] == 1

    # domain_filter: malformed = not listed (block keeps, allow drops)
    blocked = sorted(
        r.doc_id
        for r in web.domain_filter(df, ("good.com",), mode="block").collect()
    )
    assert blocked == [2, 3, 4, 5]
    allowed = sorted(
        r.doc_id
        for r in web.domain_filter(df, ("good.com",), mode="allow").collect()
    )
    assert allowed == [1]


# ------------------------------------------------------------ LM perplexity


def test_perplexity_separates_in_corpus_from_gibberish(spark):
    from hbase_1_3_0_spark.pipeline import lm

    common = "the cat sat on the mat and the dog ran off"
    rows = [(i, common) for i in range(10)]
    rows.append((100, "zxqv wqzzk vvxpq jjqx glorp"))  # OOV gibberish
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.doc_id: r for r in lm.perplexity_proxy(df).collect()}
    assert out[100].oov_rate == 0.0  # full-vocab model: every word counted
    assert out[100].bits_per_word > out[0].bits_per_word
    capped = {
        r.doc_id: r
        for r in lm.perplexity_proxy(df, vocab_size=5).collect()
    }
    assert capped[100].oov_rate == 1.0  # gibberish words fall out of top-5
    assert capped[100].bits_per_word > capped[0].bits_per_word


def test_perplexity_zero_token_docs_get_rows(spark):
    """Empty/non-latin docs — the filter's drop candidates — must NOT
    vanish at the explode: they get n_words=0 rows so a thresholding
    consumer sees them (ADVICE r4)."""
    from hbase_1_3_0_spark.pipeline import lm

    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, ""), (3, "你好 世界"), (4, None)],
        "doc_id: long, text: string",
    )
    uni = {r.doc_id: r for r in lm.perplexity_proxy(df).collect()}
    assert set(uni) == {1, 2, 3, 4}
    assert uni[2].n_words == 0 and uni[2].bits_per_word is None
    assert uni[3].n_words == 0 and uni[4].n_words == 0
    assert uni[1].n_words == 3
    bi = {r.doc_id: r for r in lm.bigram_perplexity(df).collect()}
    assert set(bi) == {1, 2, 3, 4}
    assert bi[2].n_words == 0 and bi[2].bits_per_word is None


def test_perplexity_buckets_ccnet_split(spark):
    """CCNet head/middle/tail: per-stratum equal-count buckets ordered
    by bits-per-word (head = most corpus-like), zero-token docs get a
    NULL bucket (the explicit discard set), and the approximate path
    (sketch cutoffs, no per-stratum sort) agrees with exact ntile away
    from bucket boundaries."""
    from hbase_1_3_0_spark.pipeline import lm

    common = "the cat sat on the mat and the dog sat too"
    rows = [(i, common + f" extra{i % 2}", "en") for i in range(9)]
    rows += [(100 + i, f"zzqx{i} vbnm{i} qqww{i} xkcd{i}", "en")
             for i in range(9)]  # gibberish -> tail-ish
    rows += [(200 + i, common, "de") for i in range(6)]
    rows += [(300, "", "en"), (301, None, "de")]  # zero-token
    df = spark.createDataFrame(rows, "doc_id: long, text: string, lang: string")
    out = {r.doc_id: r for r in lm.perplexity_buckets(df).collect()}
    assert set(out) == {r[0] for r in rows}
    # zero-token docs: explicit NULL bucket, never missing
    assert out[300].bucket is None and out[300].bucket_label is None
    assert out[301].bucket is None
    # per-stratum equal counts: en has 18 scored docs -> 6/6/6
    en = [r for r in out.values() if r.lang == "en" and r.bucket]
    from collections import Counter
    assert Counter(r.bucket for r in en) == {1: 6, 2: 6, 3: 6}
    de = [r for r in out.values() if r.lang == "de" and r.bucket]
    assert Counter(r.bucket for r in de) == {1: 2, 2: 2, 3: 2}
    # ordering: every head doc scores <= every tail doc within a stratum
    en_head = max(r.bits_per_word for r in en if r.bucket == 1)
    en_tail = min(r.bits_per_word for r in en if r.bucket == 3)
    assert en_head <= en_tail
    # the common-text docs are more corpus-like than the gibberish:
    # 9 common + 9 gibberish into 6/6/6 -> head all common, tail all
    # gibberish, middle the 3+3 boundary
    assert all(out[i].bucket <= 2 for i in range(9))
    assert all(out[100 + i].bucket >= 2 for i in range(9))
    assert {
        d for d, r in out.items() if r.lang == "en" and r.bucket == 3
    } <= {100 + i for i in range(9)}
    labels = {r.bucket: r.bucket_label for r in en}
    assert labels == {1: "head", 2: "middle", 3: "tail"}
    # approximate twin: cutoffs separate the two clusters by a wide
    # margin, so no gibberish reaches head and no common doc the tail
    approx = {
        r.doc_id: r
        for r in lm.perplexity_buckets(df, approximate=True).collect()
    }
    assert all(approx[100 + i].bucket >= 2 for i in range(9))
    assert all(approx[i].bucket <= 2 for i in range(9))
    assert approx[300].bucket is None


def test_tokenizer_stats_fertility(spark):
    df = spark.createDataFrame(
        [(1, "hello world 123!"), (2, ""), (3, "héllo")],
        "doc_id: long, text: string",
    )
    got = {r.doc_id: r for r in text.tokenizer_stats(df).collect()}
    # "hello","world","123","!" -> 4 pieces; 16 ASCII bytes / 4
    assert got[1].n_pretokens == 4
    assert got[1].bytes_per_token == 4.0
    assert got[1].ascii_ratio == 1.0 and got[1].utf8_expansion == 1.0
    assert got[2].n_pretokens == 0 and got[2].bytes_per_token == 0.0
    # é is 2 UTF-8 bytes: 5 chars -> 6 bytes; 1 non-ASCII of 5 chars
    assert got[3].utf8_expansion == 1.2
    assert got[3].ascii_ratio == 0.8


def test_bigram_perplexity_rewards_seen_sequences(spark):
    from hbase_1_3_0_spark.pipeline import lm

    # corpus dominated by one fixed phrase: its bigrams are near-certain
    rows = [(i, "the cat sat on the mat") for i in range(20)]
    rows.append((100, "mat the on sat cat the"))  # same words, novel order
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.doc_id: r for r in lm.bigram_perplexity(df, lam=0.75).collect()}
    # identical unigram content => any gap is pure bigram signal
    assert out[100].bits_per_word > out[0].bits_per_word
    assert out[0].n_words == 6


def test_trigram_kn_rewards_seen_orders(spark):
    from hbase_1_3_0_spark.pipeline import lm

    rows = [(i, "the cat sat on the mat") for i in range(20)]
    rows.append((100, "mat the on sat cat the"))  # same words, novel order
    rows.append((200, ""))                        # zero-token doc
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.doc_id: r for r in lm.trigram_perplexity(df).collect()}
    assert out[100].bits_per_word > out[0].bits_per_word
    assert out[0].n_words == 6
    assert out[200].n_words == 0 and out[200].bits_per_word is None
    # KN probabilities are real probabilities: bits strictly positive
    assert out[0].bits_per_word > 0
    # trigram context beats bigram on the stereotyped corpus: the fixed
    # phrase's interior trigrams are near-deterministic
    bi = {r.doc_id: r for r in lm.bigram_perplexity(df).collect()}
    assert out[0].bits_per_word <= bi[0].bits_per_word + 1.0
    # modified KN: same ordering signal, count-dependent discounts
    mkn = {
        r.doc_id: r
        for r in lm.trigram_perplexity(df, smoothing="mkn").collect()
    }
    assert mkn[100].bits_per_word > mkn[0].bits_per_word
    assert mkn[0].bits_per_word != out[0].bits_per_word  # discounts differ
    assert mkn[200].n_words == 0


def test_incremental_dedup_batches_chain(spark):
    """Batch 2 must drop exact dups of batch 1's survivors AND its own
    internal dups; the digest store threads through."""
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id: long, text: string"
    )
    s1, store = dedup.incremental_dedup(b1, None)
    assert sorted(r.doc_id for r in s1.collect()) == [1, 2]
    b2 = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "gamma"), (13, "beta")],
        "doc_id: long, text: string",
    )
    s2, store2 = dedup.incremental_dedup(b2, store)
    assert sorted(r.doc_id for r in s2.collect()) == [11]
    assert store2.count() == 3  # alpha, beta, gamma
    # a third batch of nothing-new survives nothing
    b3 = spark.createDataFrame([(20, "gamma")], "doc_id: long, text: string")
    s3, _ = dedup.incremental_dedup(b3, store2)
    assert s3.count() == 0


# ------------------------------------------------------- product quantization


def test_pq_roundtrip_beats_random_codes(emb, spark):
    from hbase_1_3_0_spark.pipeline import similarity as sim

    books = sim.pq_train(emb, m=8, k=16, dim=64, iters=3)
    assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8
    codes = sim.pq_encode(emb, books)
    row = codes.limit(1).collect()[0]
    assert len(row.pq_code) == 8
    assert all(0 <= c < 16 for c in row.pq_code)
    # reconstruction correlates with the original far better than chance
    joined = emb.join(codes, "vec_id").select(
        sim.cosine(
            F.col("embedding"), sim.pq_reconstruct(F.col("pq_code"), books)
        ).alias("s")
    )
    mean_sim = joined.agg(F.avg("s")).collect()[0][0]
    assert mean_sim > 0.5
    # determinism
    codes2 = sim.pq_encode(emb, books)
    assert codes.orderBy("vec_id").collect() == codes2.orderBy("vec_id").collect()


def test_pq_topk_recall_against_exact(emb):
    from hbase_1_3_0_spark.pipeline import similarity as sim

    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    # m=16 (4-dim subspaces): finer codes for the recall check — the
    # synthetic near-isotropic embeddings are PQ's worst case
    books = sim.pq_train(emb, m=16, k=16, dim=64, iters=3)
    codes = sim.pq_encode(emb, books)
    exact = sim.cosine_topk(emb, queries, k=5)
    approx = sim.pq_topk(codes, queries, books, k=5)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    assert len(e & a) >= len(e) * 0.2


def test_ivfpq_topk_recall_and_shape(emb):
    from hbase_1_3_0_spark.pipeline import similarity as sim

    queries = emb.limit(4).select(F.col("vec_id").alias("query_id"), "embedding")
    out = sim.ivfpq_topk(
        emb, queries, k=3, num_lists=8, nprobe=4, m=16, codebook_k=16
    )
    rows = out.collect()
    assert len(rows) > 0
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        assert len(rs) <= 3
        assert all(r.vec_id != q for r in rs)
        sims = [r.sim for r in sorted(rs, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)
    # some overlap with exact search
    exact = sim.cosine_topk(emb, queries, k=3)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in rows}
    assert len(e & a) >= 1


def test_ivfpq_plan_has_no_corpus_self_join(emb):
    """ivf_list rides through pq_encode as a passthrough column, so the
    ONLY join in the plan is the broadcast of the (tiny) routed query
    set — never a corpus-by-corpus shuffle join on vec_id to recover
    the list assignment (VERDICT r4 wrong #1)."""
    from hbase_1_3_0_spark.pipeline import similarity as sim

    queries = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    cents = sim._random_unit_vectors(8, 64, 7)
    books = [sim._random_unit_vectors(16, 4, 7 + j) for j in range(16)]
    out = sim.ivfpq_topk(
        emb, queries, k=3, num_lists=8, nprobe=2, m=16, codebook_k=16,
        centroids=cents, codebooks=books,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1


def test_residual_ivfpq_cuts_reconstruction_error(emb, spark):
    """FAISS-style residual encoding: quantizing v - centroid[list]
    must reconstruct the corpus with LOWER mean L2 error than plain PQ
    at the identical code budget (the coarse quantizer explains part of
    the vector, so the codes cover a smaller ball) — and the search
    still returns well-formed ranked output."""
    from hbase_1_3_0_spark.pipeline import similarity as sim

    cents = sim.kmeans_centroids(emb, k=16, dim=64, iters=2)
    assigned = sim.ivf_assign(emb, num_lists=16, dim=64, centroids=cents)
    anchors = sim.ivf_list_means(assigned, num_lists=16, dim=64)
    cent_of = F.element_at(
        sim._lit_matrix(anchors), F.col("ivf_list").cast("int") + 1
    )
    resid = assigned.withColumn(
        "rv",
        F.zip_with(
            F.col("embedding"), cent_of, lambda a, b: a.cast("double") - b
        ),
    )

    def mean_err(df, vec_col, books, add_back):
        codes = sim.pq_encode(
            df, books, vec_col=vec_col, extra_cols=("ivf_list",)
        )
        joined = df.select("vec_id", "embedding", "ivf_list").join(
            codes.select("vec_id", "pq_code"), "vec_id"
        )
        recon = sim.pq_reconstruct(F.col("pq_code"), books)
        if add_back:
            recon = F.zip_with(cent_of, recon, lambda a, b: a + b)
        err = F.aggregate(
            F.zip_with(
                F.col("embedding"), recon,
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return joined.agg(F.avg(err)).collect()[0][0]

    plain_books = sim.pq_train(emb, m=8, k=16, dim=64, iters=3)
    resid_books = sim.pq_train(resid, m=8, k=16, dim=64, vec_col="rv", iters=3)
    e_plain = mean_err(assigned, "embedding", plain_books, add_back=False)
    e_resid = mean_err(resid, "rv", resid_books, add_back=True)
    assert e_resid < e_plain

    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    out = sim.ivfpq_topk(
        emb, queries, k=3, num_lists=16, nprobe=4,
        centroids=cents, codebooks=resid_books, residual=True,
        anchors=anchors,
    )
    rows = out.collect()
    assert rows and all(r.rank <= 3 and r.vec_id != r.query_id for r in rows)

    # ADVICE r5: residual codebooks WITHOUT their training anchors must
    # refuse rather than silently recompute mismatched anchors
    import pytest as _pytest

    with _pytest.raises(ValueError, match="anchors"):
        sim.ivfpq_topk(
            emb, queries, k=3, num_lists=16, nprobe=4,
            centroids=cents, codebooks=resid_books, residual=True,
        )


def test_repeated_substring_dedup(spark):
    """Lee-et-al-style span dedup: a license header shared by three docs
    survives ONLY in its globally-first occurrence; a full-duplicate doc
    empties entirely; short and unique docs are untouched; char
    accounting is exact."""
    from hbase_1_3_0_spark.pipeline import substrings as ss

    lic = (
        "This work is licensed under the Creative Commons "
        "Attribution 4.0 International license terms."
    )
    rows = [
        (1, lic + " Doc one unique body text goes right here."),
        (2, lic + " Doc two totally different following content."),
        (3, lic + " Doc one unique body text goes right here."),  # dup of 1
        (4, "short"),
        (5, "Nothing shared with any other document in this corpus."),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.doc_id: r for r in ss.remove_repeated_spans(df, k=30).collect()}
    assert set(out) == {1, 2, 3, 4, 5}  # every doc gets a row
    assert out[1].clean_text == rows[0][1] and out[1].n_cut_chars == 0
    assert out[3].clean_text == "" and out[3].n_cut_chars == len(rows[2][1])
    assert out[4].clean_text == "short" and out[5].n_cut_chars == 0
    # doc 2 lost the shared prefix (incl. the shared ' Doc ' overlap)
    assert 0 < len(out[2].clean_text) < len(rows[1][1])
    assert lic not in out[2].clean_text
    for i, (_, text) in enumerate(rows, start=1):
        assert len(text) - len(out[i].clean_text) == out[i].n_cut_chars

    spans = {
        (r.doc_id, r.start, r.end)
        for r in ss.repeated_spans(df, k=30).collect()
    }
    assert {d for d, _, _ in spans} == {2, 3}  # winners keep doc 1 whole


def test_repeated_substring_packing_bound_raises(spark, monkeypatch):
    """A window at position >= POS_PACK would pack into the next doc's
    winner keys (``doc_id * POS_PACK + pos``) and silently pick a wrong
    first occurrence; it must raise instead. POS_PACK is shrunk so the
    bound is reachable with short documents."""
    import pytest as _pytest

    from hbase_1_3_0_spark.pipeline import substrings as ss

    monkeypatch.setattr(ss, "POS_PACK", 100)
    shared = "the same long boilerplate passage appears in both documents"
    df = spark.createDataFrame(
        [(0, "x" * 150 + shared), (1, shared + "y" * 150)],
        "doc_id: long, text: string",
    )
    out = ss.remove_repeated_spans(df, k=20)
    assert "raise_error" in out._jdf.queryExecution().executedPlan().toString()
    with _pytest.raises(Exception, match="POS_PACK"):
        out.collect()


def test_opq_rotation_balances_variance_for_pq(spark):
    """On a corpus whose variance is concentrated in a few raw dims
    (PQ's worst case: one contiguous subspace hoards the signal while
    the rest quantize near-constants), the PCA round-robin rotation
    must cut PQ reconstruction error at the identical code budget.
    Rotation is orthogonal so L2 error is comparable across spaces."""
    import numpy as np

    from hbase_1_3_0_spark.pipeline import similarity as sim

    rng = np.random.default_rng(11)
    dim, n = 32, 400
    sigma = np.array([8.0] * 4 + [0.05] * (dim - 4))
    x = rng.normal(size=(n, dim)) * sigma
    df = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(n)],
        "vec_id: long, embedding: array<double>",
    )
    rot = sim.opq_rotation(df, dim=dim, m=4, sample_n=n)
    # orthogonality: R @ R^T = I
    r = np.array(rot)
    assert np.allclose(r @ r.T, np.eye(dim), atol=1e-8)
    rotated = sim.apply_rotation(df, rot)

    def mean_err(frame, col):
        books = sim.pq_train(frame, m=4, k=16, dim=dim, vec_col=col, iters=3)
        codes = sim.pq_encode(frame, books, vec_col=col)
        joined = frame.select("vec_id", F.col(col).alias("_v")).join(
            codes, "vec_id"
        )
        recon = sim.pq_reconstruct(F.col("pq_code"), books)
        err = F.aggregate(
            F.zip_with(F.col("_v"), recon, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return joined.agg(F.avg(err)).collect()[0][0]

    e_plain = mean_err(df, "embedding")
    e_opq = mean_err(rotated, "rotated")
    assert e_opq < e_plain * 0.9  # a decisive cut, not noise


def test_ivfpq_store_partition_pruned_search(emb, spark, tmp_path):
    """ivfpq_build_store lays the codes out partitionBy(ivf_list); a
    store-backed search scans ONLY the probed partitions (parquet
    partition pruning) and returns exactly the in-memory index's
    results."""
    from hbase_1_3_0_spark.pipeline import similarity as sim

    cents = sim._random_unit_vectors(8, 64, 7)
    books = [sim._random_unit_vectors(16, 8, 7 + j) for j in range(8)]
    store = str(tmp_path / "ivfpq_store")
    sim.ivfpq_build_store(emb, store, centroids=cents, codebooks=books)
    # one directory per non-empty list, one file per list
    parts = sorted(p.name for p in (tmp_path / "ivfpq_store").glob("ivf_list=*"))
    assert parts and all(p.startswith("ivf_list=") for p in parts)

    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    from_store = sim.ivfpq_topk_from_store(
        spark, store, queries, centroids=cents, codebooks=books,
        k=4, nprobe=2,
    )
    plan = from_store._jdf.queryExecution().executedPlan().toString()
    # the probed-list predicate must prune at the PARTITION level, and
    # the store path never shuffles the corpus
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*ivf_list[^\]]*IN", plan), plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan

    in_mem = sim.ivfpq_topk(
        emb, queries, k=4, num_lists=8, nprobe=2,
        centroids=cents, codebooks=books,
    )
    assert from_store.orderBy("query_id", "rank").collect() == in_mem.orderBy(
        "query_id", "rank"
    ).collect()

    # residual store round-trips through the same anchors
    assigned = sim.ivf_assign(emb, num_lists=8, dim=64, centroids=cents)
    anchors = sim.ivf_list_means(assigned, num_lists=8, dim=64)
    rstore = str(tmp_path / "ivfpq_store_resid")
    sim.ivfpq_build_store(
        emb, rstore, centroids=cents, codebooks=books, anchors=anchors
    )
    r_from_store = sim.ivfpq_topk_from_store(
        spark, rstore, queries, centroids=cents, codebooks=books,
        k=4, nprobe=2, anchors=anchors,
    )
    r_in_mem = sim.ivfpq_topk(
        emb, queries, k=4, num_lists=8, nprobe=2,
        centroids=cents, codebooks=books, residual=True, anchors=anchors,
    )
    assert r_from_store.orderBy("query_id", "rank").collect() == (
        r_in_mem.orderBy("query_id", "rank").collect()
    )


def test_pq_and_centroid_model_persistence(emb, spark, tmp_path):
    """Models round-trip through their parquet tables exactly, and a
    search against loaded models matches the in-memory-model search —
    train once, reuse across jobs."""
    from hbase_1_3_0_spark.pipeline import similarity as sim

    books = sim.pq_train(emb, m=8, k=16, dim=64, iters=1)
    cents = sim.kmeans_centroids(emb, k=8, dim=64, iters=1)
    sim.pq_save(spark, books, str(tmp_path / "pq"))
    sim.centroids_save(spark, cents, str(tmp_path / "ivf"))
    assert sim.pq_load(spark, str(tmp_path / "pq")) == books
    assert sim.centroids_load(spark, str(tmp_path / "ivf")) == cents

    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    mem = sim.ivfpq_topk(
        emb, queries, k=3, num_lists=8, centroids=cents, codebooks=books
    )
    loaded = sim.ivfpq_topk(
        emb, queries, k=3, num_lists=8,
        centroids=sim.centroids_load(spark, str(tmp_path / "ivf")),
        codebooks=sim.pq_load(spark, str(tmp_path / "pq")),
    )
    assert mem.orderBy("query_id", "rank").collect() == loaded.orderBy(
        "query_id", "rank"
    ).collect()


def test_probe_media_malformed_magic_and_fill_bytes(spark):
    """ADVICE r5: (a) GIF classification needs the FULL 6-byte version
    magic — 'GIF8xy' garbage must read unknown, not gif-with-fabricated
    dims; (b) a PNG whose first chunk is not IHDR must not fabricate
    width/height from the fixed offsets; (c) jpeg_probe must skip 0xFF
    fill bytes between marker segments (ITU T.81 B.1.1.2)."""
    from hbase_1_3_0_spark.pipeline import multimodal as mm

    bad_gif = b"GIF8xy" + (320).to_bytes(2, "little") + (200).to_bytes(
        2, "little"
    ) + b"\x00\x00\x00"
    # valid PNG signature, first chunk type 'TIME' instead of IHDR
    bad_png = (
        b"\x89PNG\r\n\x1a\n"
        + (7).to_bytes(4, "big") + b"TIME"
        + (31).to_bytes(4, "big") + (17).to_bytes(4, "big") + b"\x08"
    )
    df = spark.createDataFrame(
        [(1, bad_gif), (2, bad_png)], "doc_id: long, payload: binary"
    )
    got = {r.doc_id: r for r in mm.probe_media(df).collect()}
    assert got[1].container == "unknown" and got[1].width is None
    assert got[2].container == "png"
    assert got[2].width is None and got[2].height is None

    # JPEG with runs of 0xFF fill bytes padding before each marker
    jj = _real_jpeg_header(99, 44)
    segs = jj[2:]  # after SOI
    padded = b"\xff\xd8" + b"\xff\xff\xff" + segs.replace(
        b"\xff\xdb", b"\xff\xff\xff\xdb", 1
    )
    got2 = mm.jpeg_probe(
        spark.createDataFrame([(1, padded)], "doc_id: long, payload: binary")
    ).collect()[0]
    assert got2.is_jpeg and (got2.width, got2.height) == (99, 44)


def test_full_opq_beats_opq_lite(spark):
    """Full iterative OPQ (alternating Procrustes rotation / codebook
    updates) must cut PQ reconstruction error below the one-shot
    eigenvalue-round-robin rotation at the IDENTICAL code budget, on a
    corpus with correlated (not axis-aligned) structure — the case the
    PCA round-robin can't fully balance. Both rotations are orthogonal,
    so L2 errors are comparable; the result must be deterministic."""
    import numpy as np

    from hbase_1_3_0_spark.pipeline import similarity as sim

    rng = np.random.default_rng(23)
    dim, n, m = 32, 400, 4
    # correlated loadings: signal lives on random oblique directions
    basis = rng.normal(size=(6, dim))
    x = rng.normal(size=(n, 6)) @ basis * 2.0 + rng.normal(size=(n, dim)) * 0.1
    df = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(n)],
        "vec_id: long, embedding: array<double>",
    )

    def mean_err(frame, col, books):
        codes = sim.pq_encode(frame, books, vec_col=col)
        joined = frame.select("vec_id", F.col(col).alias("_v")).join(
            codes, "vec_id"
        )
        recon = sim.pq_reconstruct(F.col("pq_code"), books)
        err = F.aggregate(
            F.zip_with(F.col("_v"), recon, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return joined.agg(F.avg(err)).collect()[0][0]

    lite = sim.opq_rotation(df, dim=dim, m=m, sample_n=n)
    lite_rotated = sim.apply_rotation(df, lite)
    lite_books = sim.pq_train(
        lite_rotated, m=m, k=16, dim=dim, vec_col="rotated", iters=3
    )
    e_lite = mean_err(lite_rotated, "rotated", lite_books)

    rot, books = sim.opq_train(df, dim=dim, m=m, k=16, iters=4, sample_n=n)
    r = np.array(rot)
    assert np.allclose(r @ r.T, np.eye(dim), atol=1e-8)  # orthogonal
    full_rotated = sim.apply_rotation(df, rot)
    e_full = mean_err(full_rotated, "rotated", books)
    assert e_full < e_lite

    # deterministic: same inputs, same model
    rot2, books2 = sim.opq_train(df, dim=dim, m=m, k=16, iters=4, sample_n=n)
    assert rot2 == rot and books2 == books


def test_scrub_and_unicode_normalize(spark):
    """scrub_text: line endings -> \\n, controls/zero-width removed,
    horizontal runs collapsed — pure JVM. normalize_text: NFC composes
    combining sequences, NFKC additionally folds compatibility forms;
    NULL text stays NULL."""
    from hbase_1_3_0_spark.pipeline import text as tx

    rows = [
        (1, "a\r\nb\rc"),
        (2, "x\x00y​z"),
        (3, "a  \t b"),
        (4, "Café"),
        (5, "ﬁne"),  # 'fi' ligature
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    scrubbed = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", tx.scrub_text(F.col("text")).alias("s")
        ).collect()
    }
    assert scrubbed[1] == "a\nb\nc"
    assert scrubbed[2] == "xyz"
    assert scrubbed[3] == "a b"

    nfc = {r.doc_id: r.norm_text for r in tx.normalize_text(df).collect()}
    assert nfc[4] == "Café"
    assert nfc[5] == "ﬁne"  # NFC keeps compatibility ligatures
    assert nfc[6] is None
    nfkc = {
        r.doc_id: r.norm_text
        for r in tx.normalize_text(df, form="NFKC").collect()
    }
    assert nfkc[5] == "fine"  # NFKC folds them

    import pytest as _pytest

    with _pytest.raises(ValueError, match="form"):
        tx.normalize_text(df, form="NFX")


def test_token_budget_sample(spark):
    """Greedy deterministic per-stratum token-budget fill: docs rank by
    salted md5, kept while tokens-before < budget (boundary doc kept);
    zero-budget strata drop entirely; reproducible across calls."""
    from hbase_1_3_0_spark.pipeline import sampling

    rows = [
        (i, "s1", "tok " * (10 + i)) for i in range(10)
    ] + [(100 + i, "s2", "w " * 5) for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string, text: string")
    out = sampling.token_budget_sample(df, {"s1": 30, "s2": 1})
    got = sorted(r.doc_id for r in out.collect())
    # s2: budget 1 -> exactly the first-ranked doc
    assert len([d for d in got if d >= 100]) == 1
    # s1: kept docs' tokens-before < 30 -> total tokens >= 30, and
    # removing the last-ranked kept doc drops below the budget
    kept_s1 = [d for d in got if d < 100]
    toks = {i: 10 + i for i in range(10)}
    assert sum(toks[d] for d in kept_s1) >= 30
    # default budget 0 -> unlisted strata vanish
    out2 = sampling.token_budget_sample(df, {"s1": 5})
    assert all(r.source == "s1" for r in out2.collect())
    # deterministic
    got2 = sorted(r.doc_id for r in sampling.token_budget_sample(
        df, {"s1": 30, "s2": 1}
    ).collect())
    assert got2 == got


def test_anisotropic_pq_cuts_parallel_error(spark):
    """ScaNN-style anisotropic PQ must trade orthogonal for PARALLEL
    error: at the identical code budget, mean squared parallel residual
    (the component that perturbs inner-product ranking) drops decisively
    below vanilla PQ's, while total L2 error stays bounded (within 2x).
    Spark-side anisotropic encode must agree with the training rule, and
    the trainer must be deterministic."""
    import numpy as np

    from hbase_1_3_0_spark.pipeline import similarity as sim

    rng = np.random.default_rng(31)
    dim, n, m, eta = 32, 500, 4, 8.0
    x = rng.normal(size=(n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)  # unit (MIPS/cosine)
    df = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(n)],
        "vec_id: long, embedding: array<double>",
    )

    def errors(books, eta_enc):
        codes = sim.pq_encode(df, books, eta=eta_enc)
        recon = sim.pq_reconstruct(F.col("pq_code"), books)
        joined = df.join(codes, "vec_id").select(
            "vec_id", F.col("embedding").alias("_v"), recon.alias("_r")
        )
        rows = joined.collect()
        par = tot = 0.0
        for r in rows:
            v = np.array(r._v)
            res = v - np.array(r._r)
            p = float(res @ v)  # v is unit: parallel magnitude
            par += p * p
            tot += float(res @ res)
        return par / len(rows), tot / len(rows)

    plain_books = sim.pq_train(df, m=m, k=16, dim=dim, iters=4)
    e_par_plain, e_tot_plain = errors(plain_books, None)
    aniso_books = sim.pq_train_anisotropic(
        df, dim=dim, m=m, k=16, eta=eta, iters=4, sample_n=n
    )
    e_par_aniso, e_tot_aniso = errors(aniso_books, eta)
    assert e_par_aniso < e_par_plain * 0.8  # decisive parallel cut
    assert e_tot_aniso < e_tot_plain * 2.0  # bounded total trade

    # deterministic
    again = sim.pq_train_anisotropic(
        df, dim=dim, m=m, k=16, eta=eta, iters=4, sample_n=n
    )
    assert again == aniso_books

    # eta < 1 refused; eta on encode requires matching training
    import pytest as _pytest

    with _pytest.raises(ValueError, match="eta"):
        sim.pq_train_anisotropic(df, dim=dim, m=m, k=16, eta=0.5)


def _winnow_model(s: str, k: int = 8, w: int = 4):
    """Brute-force winnowing reference: same normalization, same md5-
    prefix hash, rightmost-min per window. Returns {(pos, fp)} 1-based."""
    import hashlib
    import re

    t = re.sub(r"[^a-z0-9]", "", s.lower())
    m = len(t) - k + 1
    if m < 1:
        return set()
    hs = [
        hashlib.md5(t[i:i + k].encode()).hexdigest()[:8] for i in range(m)
    ]
    wlen = min(w, m)
    out = set()
    for j in range(max(m - w + 1, 1)):
        sub = hs[j:j + wlen]
        mn = min(sub)
        pos = j + max(i for i, h in enumerate(sub) if h == mn)
        out.add((pos + 1, mn))
    return out


def test_winnow_fingerprints_match_reference_model(spark):
    """Spark winnowing equals the brute-force Python model on texts that
    exercise ties, punctuation stripping, and short-doc edges; the MOSS
    density/coverage guarantee holds (every window selects something)."""
    texts = [
        (1, "The quick brown fox jumps over the lazy dog, twice! "
            "The quick brown fox jumps over the lazy dog, again."),
        (2, "aaaaaaaaaaaaaaaaaaaaaaaa"),      # all-equal hashes: tie rule
        (3, "abcdefgh"),                      # exactly one k-gram
        (4, "abcdefghi"),                     # m=2 < w: one short window
        (5, "short"),                         # < k: no fingerprints
        (6, ""),                              # empty
        (7, "Punctuation, spacing -- and CASE should not matter; "
            "punctuationspacingandcaseshouldnotmatter"),
    ]
    df = spark.createDataFrame(texts, "doc_id: long, text: string")
    got = {
        (r.doc_id, r.pos, r.fp)
        for r in text.winnow_fingerprints(df).collect()
    }
    want = {
        (d, p, f) for d, s in texts for (p, f) in _winnow_model(s)
    }
    assert got == want
    assert not any(d in (5, 6) for d, _, _ in got)
    # doc 2: every k-gram identical -> every window picks its rightmost
    # element; selected positions are exactly w-strided from the end
    sel2 = sorted(p for d, p, _ in got if d == 2)
    m2 = 24 - 8 + 1
    assert sel2 == list(range(4, m2 + 1))


def test_winnow_overlap_detects_insertion(spark):
    """A doc and its copy-with-insertion share winnowed fingerprints
    (whole-doc fingerprint misses them); unrelated docs don't pair."""
    base = (
        "winnowing selects the rightmost minimum hash of each window "
        "so local matches survive global edits to the document text"
    )
    edited = base.replace(
        "so local matches", "and therefore local matches still"
    )
    other = (
        "completely disjoint vocabulary about regional servers and "
        "memstore flush policies nothing in common with the original"
    )
    df = spark.createDataFrame(
        [(1, base), (2, edited), (3, other)], "doc_id: long, text: string"
    )
    pairs = {
        (r.a, r.b): r.shared
        for r in text.winnow_overlap(df, min_shared=2, max_df=10).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert not any(3 in p for p in pairs)
    # whole-doc fingerprints are all distinct — the overlap op sees what
    # exact dedup cannot
    assert df.select(text.fingerprint(F.col("text"))).distinct().count() == 3


def test_semdedup_drops_semantic_twin_keeps_diverse(spark):
    """SemDeDup screen: a near-identical embedding pair loses exactly
    one member (the HIGHER centroid-similarity one — the paper keeps
    the low-sim extreme); an unrelated vector in the same space
    survives. Trained-centroid and supplied-centroid paths agree with
    the default on this fixture."""
    from hbase_1_3_0_spark.pipeline import dedup as dd

    v = [1.0, 0.0, 0.0, 0.0]
    v_twin = [0.999, 0.01, 0.0, 0.0]  # cos ~ 0.99995
    v_other = [0.0, 1.0, 0.0, 0.0]
    v_far = [0.0, 0.0, 1.0, 0.0]
    df = spark.createDataFrame(
        [(1, v), (2, v_twin), (3, v_other), (4, v_far)],
        "vec_id: long, embedding: array<double>",
    )
    out = {
        r.vec_id: r
        for r in dd.semdedup(
            df, threshold=0.95, num_clusters=2, dim=4, seed=7
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    twins = [out[1], out[2]]
    assert sorted(t.kept for t in twins) == [False, True]
    assert out[3].kept and out[4].kept
    # same cluster => keep-low-centroid-sim rule decided the winner
    if out[1].cluster == out[2].cluster:
        kept = next(t for t in twins if t.kept)
        lost = next(t for t in twins if not t.kept)
        assert kept.cent_sim <= lost.cent_sim
    # supplied centroids (e.g. from a previous training run) reproduce
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    out2 = {
        r.vec_id: r.kept
        for r in dd.semdedup(
            df, threshold=0.95, num_clusters=2, dim=4, centroids=cents
        ).collect()
    }
    assert sorted(out2[i] for i in (1, 2)) == [False, True]
    assert out2[3] and out2[4]
    # trained path smoke: spherical k-means centroids, same verdict shape
    out3 = {
        r.vec_id: r.kept
        for r in dd.semdedup(
            df, threshold=0.95, num_clusters=2, dim=4, train=True,
            kmeans_iters=2,
        ).collect()
    }
    assert sorted(out3[i] for i in (1, 2)) == [False, True]


def test_winnow_overlap_robust_identical_pairs(spark):
    """robust=True must not change winnow_overlap's output: both tie
    rules select SOME occurrence of each window's minimum hash, so the
    distinct fp VALUE set per doc is identical and value-level pairing
    is unchanged. On repetitive text the robust fp table is strictly
    smaller — the knob is perf-only."""
    rep = "abab" * 30  # low-entropy: equal gram hashes abound
    base = (
        "winnowing selects the rightmost minimum hash of each window "
        "so local matches survive global edits " + rep
    )
    edited = base.replace("rightmost minimum", "previous minimal") + rep
    other = "entirely different vocabulary with no shared passages here"
    df = spark.createDataFrame(
        [(1, base), (2, edited), (3, other)], "doc_id: long, text: string"
    )
    std = {
        (r.a, r.b, r.shared)
        for r in text.winnow_overlap(df, min_shared=1, max_df=10).collect()
    }
    rob = {
        (r.a, r.b, r.shared)
        for r in text.winnow_overlap(
            df, min_shared=1, max_df=10, robust=True
        ).collect()
    }
    assert std == rob and (1, 2) in {(a, b) for a, b, _ in std}
    # the (pos, fp) table itself IS smaller under the robust rule
    n_std = text.winnow_fingerprints(df).count()
    n_rob = text.winnow_fingerprints(df, robust=True).count()
    assert n_rob < n_std
    # ... but the distinct VALUE sets coincide doc-by-doc
    vals = lambda d: {
        (r[0], r.fp) for r in d.select("doc_id", "fp").distinct().collect()
    }
    assert vals(text.winnow_fingerprints(df)) == vals(
        text.winnow_fingerprints(df, robust=True)
    )


def test_winnow_overlap_hot_fp_cap(spark):
    """A fingerprint present in every doc is dropped by max_df before
    pairing — the bound that keeps boilerplate from pairing the corpus
    quadratically."""
    boiler = "all rights reserved copyright notice standard footer text"
    docs = [
        (i, f"unique body {i} with its own words number {i * 7} " * 3
            + boiler)
        for i in range(6)
    ]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    # with the cap below the corpus size, boilerplate-only pairs vanish
    pairs = text.winnow_overlap(df, min_shared=1, max_df=3).collect()
    # the shared footer appears in all 6 docs -> its fps are capped out;
    # remaining pairs can only come from the (distinct) bodies
    capped = {(r.a, r.b) for r in pairs}
    uncapped = {
        (r.a, r.b)
        for r in text.winnow_overlap(df, min_shared=1, max_df=100).collect()
    }
    assert len(capped) < len(uncapped)
    assert len(uncapped) == 15  # footer pairs everything with everything


def test_bpe_train_matches_reference(spark):
    """Spark BPE training equals the classic sequential trainer on a
    corpus with known merge structure, including the left-to-right
    non-overlap rule and the (count, left, right) tie-break."""
    from hbase_1_3_0_spark.pipeline import bpe

    texts = [
        (1, "low low low low low lower lower newest newest newest "
            "newest newest newest widest widest widest"),
        (2, "aaaa aaaa aaaa bbbb"),  # exercises (a,a) self-pair merges
    ]
    df = spark.createDataFrame(texts, "doc_id: long, text: string")
    got = [
        (r.rank, r.left, r.right, r.pair_count)
        for r in bpe.bpe_train(df, num_merges=10, min_count=2)
        .orderBy("rank").collect()
    ]
    # reference trainer (same rules, pure python)
    import re

    counts: dict = {}
    for _, t in texts:
        for w in re.findall(r"[a-z0-9]+", t.lower()):
            counts[w] = counts.get(w, 0) + 1
    words = [(list(w) + ["</w>"], c) for w, c in counts.items()]
    want = []
    for rank in range(10):
        pc: dict = {}
        for syms, c in words:
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + c
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < 2:
            break
        want.append((rank, a, b, c))
        def apply(syms):
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            return out
        words = [(apply(syms), c0) for syms, c0 in words]
    assert got == want
    assert len(got) > 3  # the corpus supports several merges


def test_bpe_segment_reconstructs_words(spark):
    """Segmentation under learned merges partitions every word exactly:
    concatenated tokens (minus the EOW marker) equal the word."""
    from hbase_1_3_0_spark.pipeline import bpe

    df = spark.createDataFrame(
        [(1, "internationalization international nation nationalize "
             "internal international nation nation")],
        "doc_id: long, text: string",
    )
    merges = [
        (r.left, r.right)
        for r in bpe.bpe_train(df, num_merges=8, min_count=2)
        .orderBy("rank").collect()
    ]
    wc = bpe.word_counts(df)
    seg = bpe.bpe_segment(wc, merges, checkpoint_every=3)
    for r in seg.collect():
        joined = "".join(r.tokens).replace(bpe.EOW, "")
        assert joined == r.word, (r.word, r.tokens)
    # at least one multi-char token was learned
    assert any(
        len(t.replace(bpe.EOW, "")) > 1 for r in seg.collect() for t in r.tokens
    )


def test_bpe_train_min_count_early_stop(spark):
    """Training stops when no pair reaches min_count instead of
    emitting noise merges."""
    from hbase_1_3_0_spark.pipeline import bpe

    df = spark.createDataFrame(
        [(1, "ab cd ef")], "doc_id: long, text: string"
    )
    out = bpe.bpe_train(df, num_merges=10, min_count=2).collect()
    assert out == []  # every pair occurs once


def test_bpe_train_releases_superseded_checkpoints(spark):
    """Per-merge local checkpoints of the word table must be freed as
    they are superseded: after training, block-manager storage holds no
    more persistent RDDs than before (DataFrame.unpersist is a no-op
    for local checkpoints, so this needs the explicit release path)."""
    from hbase_1_3_0_spark.pipeline import bpe
    from hbase_1_3_0_spark.plans.checkpoints import _persistent_ids

    sc = spark.sparkContext
    before = _persistent_ids(sc)
    df = spark.createDataFrame(
        [(1, "low lower lowest low low newer newest new")],
        "doc_id: long, text: string",
    )
    merges = bpe.bpe_train(df, num_merges=8, min_count=2).collect()
    assert len(merges) > 0
    leaked = _persistent_ids(sc) - before
    assert leaked == set(), f"leaked checkpoint RDDs: {leaked}"


def test_langid_ngram_classifies_real_languages(spark):
    """Rank-profile language ID trained on genuine snippets classifies
    held-out text of each language correctly (the marker-word heuristic
    lang_id needs dictionary hits; the n-gram profile does not)."""
    from hbase_1_3_0_spark.pipeline import langid

    train = [
        ("en", "the quick brown fox jumps over the lazy dog and the "
               "birds sing in the morning while children walk to school"),
        ("en", "this is a story about the weather and the many things "
               "that happen when the rain falls on the quiet town"),
        ("de", "der schnelle braune fuchs springt ueber den faulen hund "
               "und die voegel singen morgens waehrend die kinder zur "
               "schule gehen"),
        ("de", "dies ist eine geschichte ueber das wetter und die "
               "vielen dinge die geschehen wenn der regen faellt"),
        ("fr", "le renard brun rapide saute par dessus le chien "
               "paresseux et les oiseaux chantent le matin quand les "
               "enfants vont a l ecole"),
        ("fr", "ceci est une histoire sur le temps et les nombreuses "
               "choses qui arrivent quand la pluie tombe sur la ville"),
        ("es", "el rapido zorro marron salta sobre el perro perezoso y "
               "los pajaros cantan por la manana cuando los ninos van "
               "a la escuela"),
        ("es", "esta es una historia sobre el clima y las muchas cosas "
               "que suceden cuando la lluvia cae sobre la ciudad"),
    ]
    held_out = [
        (1, "en", "the children played in the garden while the dog "
                  "watched the birds from the window of the house"),
        (2, "de", "die kinder spielten im garten waehrend der hund die "
                  "voegel vom fenster des hauses beobachtete"),
        (3, "fr", "les enfants jouaient dans le jardin pendant que le "
                  "chien regardait les oiseaux depuis la fenetre"),
        (4, "es", "los ninos jugaban en el jardin mientras el perro "
                  "miraba los pajaros desde la ventana de la casa"),
    ]
    prof = langid.train_profiles(
        spark.createDataFrame(train, "lang: string, text: string")
    )
    got = {
        r.doc_id: r.predicted
        for r in langid.classify(
            spark.createDataFrame(
                [(i, t) for i, _, t in held_out],
                "doc_id: long, text: string",
            ),
            prof,
        ).collect()
    }
    assert got == {i: lang for i, lang, _ in held_out}


def test_langid_ngram_deterministic_and_short_doc_safe(spark):
    """Tie-breaks are total: identical corpora give identical profiles
    across runs; docs shorter than the gram length get no prediction
    rather than an error."""
    from hbase_1_3_0_spark.pipeline import langid

    df = spark.createDataFrame(
        [("aa", "one common phrase repeated here"),
         ("bb", "one common phrase repeated here")],
        "lang: string, text: string",
    )
    p1 = sorted(map(tuple, langid.train_profiles(df).collect()))
    p2 = sorted(map(tuple, langid.train_profiles(df).collect()))
    assert p1 == p2
    # identical corpora -> identical gram ranks for both labels
    by_lang = {}
    for lang, gram, rank in p1:
        by_lang.setdefault(lang, set()).add((gram, rank))
    assert by_lang["aa"] == by_lang["bb"]
    out = sorted(
        (r.doc_id, r.predicted, r.dist)
        for r in langid.classify(
            spark.createDataFrame([(1, "ab"), (2, "")],
                                  "doc_id: long, text: string"),
            langid.train_profiles(df),
        ).collect()
    )
    # gram-less docs are NOT dropped: each gets an 'und' verdict
    assert out == [(1, "und", None), (2, "und", None)]


def test_embedding_contamination_flags_planted_leak(spark):
    """A corpus vector equal (or near-equal) to an eval vector is
    flagged with that eval id; orthogonal vectors are not; a vector
    never matches itself by id."""
    from hbase_1_3_0_spark.pipeline import decontaminate

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),   # = eval 100 -> contaminated
        (2, [0.9, 0.1, 0.0, 0.0]),   # near eval 100 -> contaminated
        (3, [0.0, 0.0, 1.0, 0.0]),   # orthogonal to both evals
        (100, [1.0, 0.0, 0.0, 0.0]),  # the eval rows live in the
        (101, [0.0, 1.0, 0.0, 0.0]),  # corpus too (self-excluded)
    ]
    df = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    )
    out = {
        r.vec_id: (r.eval_id, r.sim)
        for r in decontaminate.embedding_contamination(
            df, df.where(F.col("vec_id") >= 100), threshold=0.9,
            exclude_self=True,
        ).collect()
    }
    assert out[1] == (100, 1.0)
    assert out[2][0] == 100 and out[2][1] >= 0.9
    assert 3 not in out
    # eval vec 100 does not match itself; nothing else reaches 0.9 of it
    # except corpus vec 1 (exact) -> flagged with eval_id 1? No: probes
    # are only >=100, so 100's best probe would be itself (excluded) and
    # 101 (orthogonal) -> absent
    assert 100 not in out and 101 not in out


def test_embedding_contamination_default_keeps_id_collisions(spark):
    """With an INDEPENDENT eval set (the default, exclude_self=False),
    a corpus id that happens to equal a probe id must still be flagged
    — the collision is a coincidence, not a self-pair."""
    from hbase_1_3_0_spark.pipeline import decontaminate

    corpus = spark.createDataFrame(
        [(7, [1.0, 0.0])], "vec_id: long, embedding: array<double>"
    )
    probes = spark.createDataFrame(
        [(7, [1.0, 0.0])], "vec_id: long, embedding: array<double>"
    )
    out = decontaminate.embedding_contamination(
        corpus, probes, threshold=0.9
    ).collect()
    assert len(out) == 1 and out[0].eval_id == 7 and out[0].sim == 1.0


def test_pack_bins_ffd_valid_and_matches_model(spark):
    """FFD packing: every bin respects capacity, oversize docs get
    dedicated bins, assignment equals the sequential reference packer,
    and packing beats concat-free naive one-doc-per-bin density."""
    from hbase_1_3_0_spark.pipeline import sampling

    rows = [(i, "tok " * n) for i, n in enumerate(
        [60, 50, 40, 30, 20, 10, 10, 5, 70, 3, 33, 31, 64, 65, 1, 2]
    )]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = sampling.pack_bins_ffd(
        df, capacity=64, num_groups=2
    ).collect()
    got = {(r.doc_id): (r.n_tokens, r.grp, r.bin, r.oversize) for r in out}
    # reference: same grouping, sort, FFD
    toks = {i: t.count("tok") for i, t in rows}
    want = {}
    for grp in (0, 1):
        docs = sorted(
            [(i, toks[i]) for i in toks if i % 2 == grp],
            key=lambda d: (-d[1], d[0]),
        )
        bins = []
        for i, t in docs:
            if t > 64:
                bins.append(-1)
                want[i] = (t, grp, len(bins) - 1, True)
                continue
            for b, rem in enumerate(bins):
                if rem >= t:
                    bins[b] = rem - t
                    want[i] = (t, grp, b, False)
                    break
            else:
                bins.append(64 - t)
                want[i] = (t, grp, len(bins) - 1, False)
    assert got == want
    # capacity respected for non-oversize bins
    fill: dict = {}
    for i, (t, grp, b, ov) in got.items():
        if not ov:
            fill[(grp, b)] = fill.get((grp, b), 0) + t
    assert all(v <= 64 for v in fill.values())
    # fewer bins than docs (packing actually packs)
    n_bins = len({(g, b) for _, (t, g, b, _) in got.items()})
    assert n_bins < len(rows)


def test_pack_bins_ffd_string_ids(spark):
    """String doc ids route the grouping through xxhash64 instead of
    raising an AnalysisException; packing is still valid and every doc
    keeps its id."""
    from hbase_1_3_0_spark.pipeline import sampling

    rows = [(f"doc-{i}", "tok " * n) for i, n in enumerate(
        [60, 50, 40, 30, 20, 10, 70, 5]
    )]
    df = spark.createDataFrame(rows, "doc_id: string, text: string")
    out = sampling.pack_bins_ffd(df, capacity=64, num_groups=3).collect()
    assert sorted(r.doc_id for r in out) == sorted(i for i, _ in rows)
    fill: dict = {}
    for r in out:
        if not r.oversize:
            fill[(r.grp, r.bin)] = fill.get((r.grp, r.bin), 0) + r.n_tokens
    assert all(v <= 64 for v in fill.values())
    assert all(r.oversize == (r.n_tokens > 64) for r in out)
    # deterministic across reruns (seeded-hash grouping)
    again = sampling.pack_bins_ffd(df, capacity=64, num_groups=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_gopher_quality_battery_edges(spark):
    """The Gopher rule battery on handcrafted edges: a clean passing
    doc, bullet-heavy, ellipsis-heavy, symbol-heavy, alpha-poor, and
    empty docs each fail exactly the intended rule."""
    clean = (
        "The quick brown fox jumps over the lazy dog and then walks "
        "back to the den because it wants to rest with its friends "
        "that have been waiting all morning for food and play and "
        "sunshine in the tall grass near the river bend today again "
        "while the birds keep singing softly above the calm water"
    )
    rows = [
        (1, clean),
        (2, "- one\n- two\n- three\n- four\nplain"),      # bullets
        (3, "first...\nsecond...\nthird...\nclean line"),  # ellipses
        (4, "# " * 60 + "the of and"),                     # symbols
        (5, " ".join(str(n) for n in range(60)) + " the of"),  # alpha-poor
        (6, ""),                                           # empty
    ]
    from hbase_1_3_0_spark.pipeline import text as textops

    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.doc_id: r for r in textops.gopher_quality(df).collect()}
    assert out[1].pass_gopher
    assert out[1].stop_hits >= 2 and out[1].alpha_word_frac == 1.0
    assert out[2].bullet_line_frac == 0.8 and not out[2].pass_gopher
    assert out[3].ellipsis_line_frac == 0.75 and not out[3].pass_gopher
    assert out[4].symbol_word_ratio > 0.1 and not out[4].pass_gopher
    assert out[5].alpha_word_frac < 0.8 and not out[5].pass_gopher
    assert out[6].n_words == 0 and not out[6].pass_gopher
    assert out[6].mean_word_len is None


def test_c4_clean_rules(spark):
    """C4 rules on handcrafted docs: terminal-punctuation line keep,
    3-word minimum, javascript drop, 5-sentence page rule, curly-brace
    and lorem-ipsum page drops."""
    from hbase_1_3_0_spark.pipeline import text as textops

    good = "\n".join(
        f"This is a complete healthy sentence number {i}." for i in range(6)
    )
    rows = [
        (1, good),
        (2, good + "\nPlease enable JavaScript to continue."),  # line drop
        (3, good + "\nshort line\nno terminal punctuation here"),
        (4, good.replace("number 0.", "number 0. {")),  # brace: page drop
        (5, good + "\nLorem Ipsum dolor sit amet."),    # page drop
        (6, "One sentence only."),                      # < 5 sentences
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.doc_id: r for r in textops.c4_clean(df).collect()}
    assert out[1].kept and out[1].n_lines_kept == 6
    # the javascript line is dropped but the page survives
    assert out[2].kept and out[2].n_lines_kept == 6
    assert "JavaScript" not in out[2].clean_text
    # unpunctuated/short lines dropped, page survives
    assert out[3].kept and out[3].n_lines_kept == 6
    assert not out[4].kept        # curly brace kills the page
    assert not out[5].kept        # lorem ipsum kills the page
    assert not out[6].kept and out[6].n_sentences == 1


def test_gopher_repetition_hand_computed(spark):
    """Duplicate-n-gram stats against hand-computed values: overlapping
    top-gram occurrences count chars multiply (the count x len
    convention), dup coverage counts each token position once, clean
    docs report zero everywhere."""
    from hbase_1_3_0_spark.pipeline import text as textops

    rows = [
        (1, "aa bb aa bb aa bb cc"),
        (2, "x1 x2 x3 x4 x5 q x1 x2 x3 x4 x5"),
        (3, "all unique words here today truly"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.doc_id: r for r in textops.gopher_repetition(df).collect()}
    # doc 1: 14 token chars; "aa bb" x3 -> 12/14; "aa bb aa" ties broken
    # lexicographically -> 12/14; "aa bb aa bb" x2 overlapping -> 16/14
    assert out[1].top_2gram_frac == 0.857143
    assert out[1].top_3gram_frac == 0.857143
    assert out[1].top_4gram_frac == 1.142857  # overlap exceeds 1 by design
    assert out[1].dup_5gram_frac == 0.0
    # doc 2: the 5-gram repeats at positions 0 and 6 -> 10 of 11 tokens
    # covered -> 20/21 chars
    assert out[2].dup_5gram_frac == 0.952381
    assert out[2].dup_6gram_frac == 0.0
    # doc 3: nothing repeats
    assert all(
        getattr(out[3], f) == 0.0
        for f in out[3].asDict() if f != "doc_id"
    )


def test_winnow_dedup_composition(spark):
    """Composed winnow dedup: a doc, its edited copy, and an unrelated
    doc -> the smaller id of the near-dup pair survives plus the
    unrelated doc; transitive chains collapse to one winner."""
    from hbase_1_3_0_spark.pipeline import dedup, text as textops
    from pyspark.sql import functions as FF

    base = (
        "winnowing based deduplication links documents through shared "
        "local fingerprints even after small edits are applied to them"
    )
    docs = [
        (1, base),
        (2, base.replace("small edits", "minor modifications")),
        (3, base.replace("small edits are applied", "several further "
                         "small edits are applied")),
        (9, "entirely different content about shuffle partitioning and "
            "adaptive query execution with no shared passages at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    pairs = textops.winnow_overlap(df, min_shared=2, max_df=10).select(
        FF.col("a").alias("id_a"), FF.col("b").alias("id_b")
    )
    labels = dedup.connected_components(pairs)
    comp = labels.select(FF.col("id").alias("doc_id"), "component")
    winners = comp.groupBy("component").agg(
        FF.min("doc_id").alias("_winner")
    )
    dead = (
        comp.join(winners, "component")
        .where(FF.col("doc_id") != FF.col("_winner"))
        .select("doc_id")
    )
    got = sorted(
        r.doc_id
        for r in df.join(dead, "doc_id", "left_anti")
        .select("doc_id").collect()
    )
    assert got == [1, 9]


def test_trainers_refuse_non_finite_vectors_before_iterating(spark, monkeypatch):
    """A NaN or infinite input element raises NonFiniteVectorError on
    entry to every trainer, before its first iteration runs: the model
    SQL could not carry the NaN or infinite means such input trains."""
    from hbase_1_3_0_spark.pipeline import similarity as sim

    def iterated(*_a, **_kw):
        raise AssertionError("a training iteration ran")

    monkeypatch.setattr(sim, "ivf_assign", iterated)
    monkeypatch.setattr(sim, "_pq_sub_assign", iterated)
    monkeypatch.setattr(sim, "_collect_sample", iterated)
    dim = 4
    for bad in (float("nan"), float("inf"), float("-inf")):
        df = spark.createDataFrame(
            [(i, i % 2, [1.0, 0.5, -0.5, float(i)]) for i in range(6)]
            + [(6, 0, [0.25, bad, 0.0, 1.0])],
            "vec_id long, ivf_list int, embedding array<double>",
        )
        trainers = [
            lambda: sim.kmeans_centroids(df, k=2, dim=dim, iters=2),
            lambda: sim.pq_train(df, m=2, k=2, dim=dim, iters=2),
            lambda: sim.pq_train_anisotropic(df, dim=dim, m=2, k=2, iters=2),
            lambda: sim.ivf_list_means(df, num_lists=2, dim=dim),
        ]
        for train in trainers:
            with pytest.raises(sim.NonFiniteVectorError, match="embedding"):
                train()


def _random_word_corpus(seed: int, n_docs: int) -> list[tuple[int, str]]:
    """Random-word documents over a 2,000-word vocabulary, 40–120 words
    each, plus exact copies of some (one in eleven documents)."""
    import random

    rnd = random.Random(seed)
    vocab = [
        "".join(rnd.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rnd.randrange(3, 9)))
        for _ in range(2000)
    ]
    n_orig = n_docs * 10 // 11
    docs = [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(40, 120))))
        for i in range(n_orig)
    ]
    docs += [(n_orig + j, docs[rnd.randrange(n_orig)][1]) for j in range(n_docs - n_orig)]
    return docs


def test_minhash_estimates_unrelated_documents_apart(spark, tmp_path):
    """Unrelated random-word documents share almost no 5-gram shingles, so
    no pair of distinct texts may estimate a Jaccard of 0.8; the near-dup
    stream (threshold 0.8) then keeps exactly one copy of every distinct
    text. A near-monotone hash (the affine product never wrapping its
    modulus) makes documents that share one low shingle agree on most
    minima and kills distinct texts."""
    from itertools import combinations

    from hbase_1_3_0_spark.streaming import wal

    docs = _random_word_corpus(201, 120)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sigs = {
        r["_id"]: r["_sig"] for r in dedup.minhash_signatures(df).collect()
    }
    text = dict(docs)
    close = [
        (a, b)
        for a, b in combinations(sorted(sigs), 2)
        if text[a] != text[b]
        and sum(x == y for x, y in zip(sigs[a], sigs[b])) / 64 >= 0.8
    ]
    assert close == []

    src = tmp_path / "src"
    src.mkdir()
    third = -(-len(docs) // 3)
    for b in range(3):
        spark.createDataFrame(
            docs[b * third:(b + 1) * third], "doc_id long, text string"
        ).coalesce(1).write.parquet(str(tmp_path / f"b{b}"))
        (part,) = (tmp_path / f"b{b}").glob("part-*.parquet")
        part.rename(src / f"b{b}.parquet")
    q = wal.neardup_ingest_stream(
        spark, str(src),
        out_dir=str(tmp_path / "out"), store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema="doc_id long, text string",
        threshold=0.8, max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    kept = [r.text for r in spark.read.parquet(str(tmp_path / "out")).collect()]
    assert sorted(kept) == sorted(set(text.values()))


def test_minhash_signature_build_stays_within_py4j_budget(spark):
    """Building the 64-hash signature plan sends a budgeted number of py4j
    commands: the 64 min() aggregates and their array are one parsed SQL
    expression, not 64 composed ``F.min(F.pmod(...))`` Columns (about
    4,450 commands). The budget is the count reached plus about 25 %."""
    from tests._small_key import py4j_calls

    df = spark.createDataFrame(_random_word_corpus(7, 12), "doc_id long, text string")
    dedup.minhash_signatures(df)
    with py4j_calls(spark) as calls:
        sig = dedup.minhash_signatures(df)
    assert calls() <= 245  # reached: 195
    assert sig.schema.simpleString() == "struct<_id:bigint,_sig:array<bigint>>"
