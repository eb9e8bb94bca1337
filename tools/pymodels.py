"""Pure-Python reference models for the seeded-hash dedup operators.

DuckDB cannot mirror Spark's ``xxhash64``, so ``minhash_pairs`` /
``simhash_pairs`` were stuck at rows-only driver checks. These models
recompute the SAME math independently — an XXH64 implementation from the
public xxHash specification (https://github.com/Cyan4973/xxHash, spec in
doc/xxhash_spec.md), the same seeded affine permutations, banding, and
verification — so ``tools/check_oracles.py`` can record a real
rows/schema/hash verdict for them locally. Nothing here imports the
Spark implementation: any shared bug would have to be re-invented.

Numpy vectorizes the per-doc signature folds; everything fits uint64
(a, c < 2^31 so a*c + b < 2^63)."""

from __future__ import annotations

import random

import numpy as np

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, val: int) -> int:
    acc = (acc + val * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def _merge_round(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 per the public spec; returns Spark's SIGNED 64-bit value
    (Spark's xxhash64 default seed is 42)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (
            _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            h = _merge_round(h, v)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def _char_shingles(text: str, n: int = 5) -> list[str]:
    """Distinct char n-grams, pipeline/dedup.char_shingles semantics:
    positions 1..max(len-n+1, 1), substring may run short at the end of
    short texts; empty text yields the empty shingle."""
    limit = max(len(text) - n + 1, 1)
    seen: dict[str, None] = {}
    for i in range(limit):
        seen.setdefault(text[i : i + n], None)
    return list(seen)


def _load_docs(sf_dir: str, max_id: int = 250) -> list[tuple[int, str]]:
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' "
        f"WHERE doc_id < {max_id} ORDER BY doc_id"
    ).fetchall()
    con.close()
    return [(int(i), t if t is not None else "") for i, t in rows]


def minhash_pairs_model(
    sf_dir: str,
    *,
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
) -> tuple[list[str], list[tuple]]:
    """Expected output of q_minhash_pairs (pair_mode='all'): LSH band
    candidates verified by exact shingle Jaccard."""
    mersenne = (1 << 31) - 1
    rng = random.Random(seed)
    a = np.array(
        [rng.randrange(1, mersenne) for _ in range(num_hashes)],
        dtype=np.uint64,
    )
    b = np.array(
        [rng.randrange(0, mersenne) for _ in range(num_hashes)],
        dtype=np.uint64,
    )
    docs = _load_docs(sf_dir)
    hash_cache: dict[str, int] = {}
    shingle_sets: dict[int, set[str]] = {}
    sigs: dict[int, tuple[int, ...]] = {}
    for doc_id, text in docs:
        sh = _char_shingles(text, n)
        shingle_sets[doc_id] = set(sh)
        cs = np.empty(len(sh), dtype=np.uint64)
        for j, s in enumerate(sh):
            h = hash_cache.get(s)
            if h is None:
                h = xxh64(s.encode("utf-8")) % (1 << 31)  # pmod fold
                hash_cache[s] = h
            cs[j] = h
        vals = (a[None, :] * cs[:, None] + b[None, :]) % np.uint64(mersenne)
        sigs[doc_id] = tuple(int(x) for x in vals.min(axis=0))
    rows_per_band = num_hashes // bands
    buckets: dict[tuple, list[int]] = {}
    for doc_id, sig in sigs.items():
        for bi in range(bands):
            key = (bi, sig[bi * rows_per_band : (bi + 1) * rows_per_band])
            buckets.setdefault(key, []).append(doc_id)
    cands = set()
    for members in buckets.values():
        members.sort()
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                cands.add((members[x], members[y]))
    out = []
    for id_a, id_b in sorted(cands):
        sa, sb = shingle_sets[id_a], shingle_sets[id_b]
        inter = len(sa & sb)
        j = inter / (len(sa) + len(sb) - inter)
        if j >= threshold:
            # _round6 (HALF_UP), never Python round() (banker's): a
            # power-of-two denominator can land exactly on a half-tie
            out.append((id_a, id_b, _round6(j)))
    return ["id_a", "id_b", "jaccard"], out


def simhash_pairs_model(
    sf_dir: str, *, n: int = 5, max_hamming: int = 3
) -> tuple[list[str], list[tuple]]:
    """Expected output of q_simhash_pairs (pair_mode='all'): 4x16-bit
    band candidates filtered by exact Hamming distance."""
    docs = _load_docs(sf_dir)
    hash_cache: dict[str, int] = {}
    sigs: dict[int, int] = {}
    for doc_id, text in docs:
        counts = [0] * 64
        for s in _char_shingles(text, n):
            h = hash_cache.get(s)
            if h is None:
                h = xxh64(s.encode("utf-8")) & _M64  # unsigned view
                hash_cache[s] = h
            for k in range(64):
                counts[k] += 1 if (h >> k) & 1 else -1
        sig = 0
        for k in range(64):
            if counts[k] > 0:
                sig |= 1 << k
        sigs[doc_id] = sig  # unsigned view; Hamming is sign-agnostic
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, sig in sigs.items():
        for i in range(4):
            buckets.setdefault(
                (i, (sig >> (i * 16)) & 0xFFFF), []
            ).append(doc_id)
    cands = set()
    for members in buckets.values():
        members.sort()
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                cands.add((members[x], members[y]))
    out = []
    for id_a, id_b in sorted(cands):
        hd = bin(sigs[id_a] ^ sigs[id_b]).count("1")
        if hd <= max_hamming:
            out.append((id_a, id_b, hd))
    return ["id_a", "id_b", "hamming"], out


# ---------------------------------------------------------------------------
# ANN models (seeded planes / centroids)
# ---------------------------------------------------------------------------
#
# Float discipline: similarity.py computes dot/norm as a SEQUENTIAL
# left-to-right F.aggregate fold, so these models use explicit Python
# loops (same IEEE-754 op order), never numpy reductions (pairwise
# summation would differ in the last bits and flip signs of near-zero
# dots / tie-break orderings).


def _dot_seq(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _norm_seq(a) -> float:
    import math

    acc = 0.0
    for x in a:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def _round6(x: float) -> float:
    """Spark F.round = HALF_UP on the double's exact decimal value."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def _random_unit_vectors(num: int, dim: int, seed: int) -> list[list[float]]:
    """Same seeded generator contract as similarity._random_unit_vectors
    (driver-side Python there too, so the sequences are identical)."""
    import math
    import random as _random

    rng = _random.Random(seed)
    vecs = []
    for _ in range(num):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        vecs.append([x / n for x in v])
    return vecs


def _load_embeddings(sf_dir: str) -> list[tuple[int, list[float]]]:
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()
    con.close()
    return [(int(i), list(v)) for i, v in rows]


def _rank_topk(scored: dict[int, list[tuple[int, float]]], k: int):
    """(query -> [(vec_id, sim)]) -> rows ranked by (sim desc, vec_id)."""
    out = []
    for qid in sorted(scored):
        ranked = sorted(scored[qid], key=lambda t: (-t[1], t[0]))[:k]
        for rank, (vid, sim) in enumerate(ranked, start=1):
            out.append((qid, vid, sim, rank))
    return out


def lsh_topk_model(
    sf_dir: str,
    *,
    k: int = 10,
    dim: int = 64,
    num_planes: int = 12,
    probe_hamming: int = 1,
    seed: int = 42,
) -> tuple[list[str], list[tuple]]:
    """Expected output of q_lsh_topk: hyperplane sign-bucket candidates
    within Hamming distance 1, exact cosine on candidates."""
    planes = _random_unit_vectors(num_planes, dim, seed)
    vecs = _load_embeddings(sf_dir)
    sigs = {}
    for vid, v in vecs:
        sig = 0
        for i, p in enumerate(planes):
            if _dot_seq(v, p) >= 0:
                sig += 1 << i
        sigs[vid] = sig
    queries = [(vid, v) for vid, v in vecs if vid < 5]
    scored: dict[int, list[tuple[int, float]]] = {q: [] for q, _ in queries}
    for qid, qv in queries:
        qn = _norm_seq(qv)
        for vid, cv in vecs:
            if vid == qid:
                continue
            if bin(sigs[vid] ^ sigs[qid]).count("1") > probe_hamming:
                continue
            sim = _round6(_dot_seq(qv, cv) / (qn * _norm_seq(cv)))
            scored[qid].append((vid, sim))
    return ["query_id", "vec_id", "sim", "rank"], _rank_topk(scored, k)


def ivf_topk_model(
    sf_dir: str,
    *,
    k: int = 10,
    num_lists: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    seed: int = 7,
) -> tuple[list[str], list[tuple]]:
    """Expected output of q_ivf_topk: seeded random centroids, argmax-dot
    assignment (ties -> larger index), nprobe nearest lists per query,
    exact cosine on in-list candidates."""
    cents = _random_unit_vectors(num_lists, dim, seed)
    vecs = _load_embeddings(sf_dir)
    assign = {}
    for vid, v in vecs:
        best = max(
            range(num_lists), key=lambda i: (_dot_seq(v, cents[i]), i)
        )
        assign[vid] = best
    queries = [(vid, v) for vid, v in vecs if vid < 5]
    scored: dict[int, list[tuple[int, float]]] = {q: [] for q, _ in queries}
    for qid, qv in queries:
        affin = sorted(
            ((_dot_seq(qv, c), i) for i, c in enumerate(cents)),
            reverse=True,
        )[:nprobe]
        probed = {i for _, i in affin}
        qn = _norm_seq(qv)
        for vid, cv in vecs:
            if vid == qid or assign[vid] not in probed:
                continue
            sim = _round6(_dot_seq(qv, cv) / (qn * _norm_seq(cv)))
            scored[qid].append((vid, sim))
    return ["query_id", "vec_id", "sim", "rank"], _rank_topk(scored, k)


def random_row_model(
    sf_dir: str, *, chance: float = 0.25, seed: int = 42
) -> tuple[list[str], list[tuple]]:
    """Expected output of q_random_row: RandomRowFilter keeps a row iff
    pmod(xxhash64(row, seed), 1e6)/1e6 < chance. Spark's two-arg
    xxhash64 chains per field: h1 = xxh64(row_bytes, 42) then the
    4-byte int literal seed hashes with h1 as ITS seed."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
        f"FROM '{sf_dir}/customer.parquet' ORDER BY c_custkey"
    ).fetchall()
    con.close()
    out = []
    seed_le4 = seed.to_bytes(4, "little")
    for r in rows:
        key = f"{int(r[0]):019d}".encode()
        h = xxh64(seed_le4, seed=xxh64(key) & _M64) & _M64
        h = h - (1 << 64) if h >= (1 << 63) else h
        if (h % 1_000_000) / 1e6 < chance:
            out.append(tuple(r))
    return (
        ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        out,
    )




def neardup_ingest_model(
    sf_dir: str,
    *,
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.9,
    seed: int = 42,
) -> tuple[list[str], list[tuple]]:
    """Expected output of q_neardup_ingest: the streaming MinHash
    near-dup sink over three id-ranged batches of (docs with id < 250
    plus a suffix-perturbed copy of every 9th doc at id 2*doc_id+250).

    Replicates the sink's decision rule independently: a doc dies iff a
    banded LSH candidate with signature-match fraction >= threshold
    exists among earlier batches' SURVIVORS, or at a smaller id within
    its own batch (whether or not that neighbor survived — the greedy
    rule). Signature math is the same seeded affine-permutation fold as
    minhash_pairs_model."""
    import duckdb

    mersenne = (1 << 31) - 1
    rng = random.Random(seed)
    a = np.array(
        [rng.randrange(1, mersenne) for _ in range(num_hashes)],
        dtype=np.uint64,
    )
    b = np.array(
        [rng.randrange(0, mersenne) for _ in range(num_hashes)],
        dtype=np.uint64,
    )
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text, source FROM '{sf_dir}/documents.parquet' "
        "WHERE doc_id < 250 ORDER BY doc_id"
    ).fetchall()
    con.close()
    corpus = [(int(i), t if t is not None else "", s) for i, t, s in rows]
    corpus += [
        (2 * i + 250, t + " qq zz", "dup")
        for i, t, _ in list(corpus)
        if i % 9 == 0
    ]
    hash_cache: dict[str, int] = {}
    sigs: dict[int, tuple[int, ...]] = {}
    src_of: dict[int, str] = {}
    for doc_id, text, source in corpus:
        src_of[doc_id] = source
        sh = _char_shingles(text, n)
        if not sh:
            # no shingles -> the Spark sink emits no signature row for
            # this doc: it can never band, never be killed, and never
            # kills — model it as signature-less (always survives)
            sigs[doc_id] = None
            continue
        cs = np.empty(len(sh), dtype=np.uint64)
        for j, s in enumerate(sh):
            h = hash_cache.get(s)
            if h is None:
                h = xxh64(s.encode("utf-8")) % (1 << 31)
                hash_cache[s] = h
            cs[j] = h
        vals = (a[None, :] * cs[:, None] + b[None, :]) % np.uint64(mersenne)
        sigs[doc_id] = tuple(int(x) for x in vals.min(axis=0))
    rpb = num_hashes // bands

    def band_keys(sig):
        return [
            (bi, sig[bi * rpb : (bi + 1) * rpb]) for bi in range(bands)
        ]

    def est(x, y):
        return sum(1 for p, q in zip(x, y) if p == q) / num_hashes

    ids = sorted(sigs)
    top = ids[-1]
    cuts = [0, top // 3 + 1, 2 * top // 3 + 1, top + 1]
    accepted_buckets: dict[tuple, list[int]] = {}
    out = []
    for bnum in range(3):
        batch = [i for i in ids if cuts[bnum] <= i < cuts[bnum + 1]]
        batch_buckets: dict[tuple, list[int]] = {}
        for i in batch:
            if sigs[i] is None:
                continue
            for key in band_keys(sigs[i]):
                batch_buckets.setdefault(key, []).append(i)
        survivors = []
        for i in batch:
            if sigs[i] is None:
                survivors.append(i)
                continue
            nbrs: set[int] = set()
            for key in band_keys(sigs[i]):
                nbrs.update(accepted_buckets.get(key, ()))
                nbrs.update(j for j in batch_buckets.get(key, ()) if j < i)
            if not any(
                est(sigs[i], sigs[j]) >= threshold for j in nbrs
            ):
                survivors.append(i)
        for i in survivors:
            out.append((i, src_of[i]))
            if sigs[i] is None:
                continue
            for key in band_keys(sigs[i]):
                accepted_buckets.setdefault(key, []).append(i)
    return ["doc_id", "source"], out


#: Registry consumed by tools/check_oracles.py: queries DuckDB cannot
#: mirror but a pure-Python model can.


def _ref_bpe_wordcounts(sf_dir: str, max_id: int = 200):
    import re

    counts: dict[str, int] = {}
    for _id, text in _load_docs(sf_dir, max_id=max_id):
        for w in re.findall(r"[a-z0-9]+", text.lower()):
            counts[w] = counts.get(w, 0) + 1
    return counts


def _ref_bpe_apply(syms: list, a: str, b: str) -> list:
    out: list = []
    for s in syms:
        if out and out[-1] == a and s == b:
            out[-1] = a + b
        else:
            out.append(s)
    return out


def _ref_bpe_train(counts: dict, num_merges: int, min_count: int):
    """Reference BPE (Sennrich et al.): overlapping pair counts over the
    word-frequency table, argmax with (count DESC, left ASC, right ASC)
    tie-break, left-to-right non-overlapping merge application."""
    words = [(list(w) + ["</w>"], c) for w, c in counts.items()]
    merges = []
    for rank in range(num_merges):
        pc: dict = {}
        for syms, c in words:
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + c
        if not pc:
            break
        (a, b), c = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if c < min_count:
            break
        merges.append((rank, a, b, c))
        words = [(_ref_bpe_apply(syms, a, b), cnt) for syms, cnt in words]
    return merges, words


def bpe_train_model(
    sf_dir: str, *, num_merges: int = 20, min_count: int = 2
) -> tuple[list[str], list[tuple]]:
    """Expected output of q_bpe_train: the 20-merge BPE table learned
    from documents with doc_id < 200."""
    counts = _ref_bpe_wordcounts(sf_dir)
    merges, _ = _ref_bpe_train(counts, num_merges, min_count)
    return ["rank", "left", "right", "pair_count"], [
        (r, a, b, c) for r, a, b, c in merges
    ]


def bpe_vocab_model(
    sf_dir: str, *, num_merges: int = 20, min_count: int = 2
) -> tuple[list[str], list[tuple]]:
    """Expected output of q_bpe_vocab: the subword vocabulary after
    segmenting the word table under the learned merges — (token,
    n_words, total) with n_words = distinct words containing the token
    and total = corpus-weighted occurrence count (a token appearing
    twice in one word counts twice per word instance)."""
    counts = _ref_bpe_wordcounts(sf_dir)
    _, words = _ref_bpe_train(counts, num_merges, min_count)
    n_words: dict = {}
    total: dict = {}
    for syms, c in words:
        for t in syms:
            total[t] = total.get(t, 0) + c
        for t in set(syms):
            n_words[t] = n_words.get(t, 0) + 1
    return ["token", "n_words", "total"], [
        (t, n_words[t], total[t]) for t in sorted(total)
    ]




def pack_bins_model(
    sf_dir: str, *, capacity: int = 64, num_groups: int = 8
) -> tuple[list[str], list[tuple]]:
    """Expected output of q_pack_bins: per-group first-fit-decreasing
    bin assignment of the documents table (tokens = the [A-Za-z0-9]+
    word count, groups = doc_id % num_groups, sort (tokens DESC, id
    ASC), docs over capacity get a dedicated oversize bin)."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z0-9]+')) "
        f"FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    con.close()
    out = []
    by_grp: dict = {}
    for doc_id, n in rows:
        by_grp.setdefault(int(doc_id) % num_groups, []).append(
            (int(doc_id), int(n))
        )
    for grp, docs in by_grp.items():
        docs.sort(key=lambda d: (-d[1], d[0]))
        bins: list = []
        for doc_id, t in docs:
            if t > capacity:
                bins.append(-1)
                out.append((doc_id, t, grp, len(bins) - 1, True))
                continue
            for b, rem in enumerate(bins):
                if rem >= t:
                    bins[b] = rem - t
                    out.append((doc_id, t, grp, b, False))
                    break
            else:
                bins.append(capacity - t)
                out.append((doc_id, t, grp, len(bins) - 1, False))
    return ["doc_id", "n_tokens", "grp", "bin", "oversize"], out




def winnow_dedup_model(
    sf_dir: str,
    *,
    k: int = 8,
    w: int = 4,
    min_shared: int = 5,
    max_df: int = 50,
) -> tuple[list[str], list[tuple]]:
    """Expected output of q_winnow_dedup: survivors after winnowed-
    fingerprint overlap pairing (MOSS rightmost-min selection), hot-fp
    df cap, connected components over the pair graph, min-id winner per
    component. Pure Python: hashlib md5 + union-find."""
    import hashlib
    import re

    docs = _load_docs(sf_dir, max_id=150)
    fps: dict[int, set[str]] = {}
    for doc_id, s_ in docs:
        t = re.sub(r"[^a-z0-9]", "", s_.lower())
        m = len(t) - k + 1
        sel: set[str] = set()
        if m >= 1:
            hs = [
                hashlib.md5(t[i : i + k].encode()).hexdigest()[:8]
                for i in range(m)
            ]
            wlen = min(w, m)
            for j in range(max(m - w + 1, 1)):
                sel.add(min(hs[j : j + wlen]))
        fps[doc_id] = sel
    df_count: dict[str, int] = {}
    for sel in fps.values():
        for f in sel:
            df_count[f] = df_count.get(f, 0) + 1
    hot_ok = {f for f, c in df_count.items() if c <= max_df}
    by_fp: dict[str, list[int]] = {}
    for doc_id, sel in fps.items():
        for f in sel & hot_ok:
            by_fp.setdefault(f, []).append(doc_id)
    shared: dict[tuple[int, int], int] = {}
    for members in by_fp.values():
        members.sort()
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                key = (members[x], members[y])
                shared[key] = shared.get(key, 0) + 1
    parent: dict[int, int] = {}

    def find(a: int) -> int:
        parent.setdefault(a, a)
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for (a, b), c in shared.items():
        if c >= min_shared:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    dead = set()
    comp: dict[int, list[int]] = {}
    for d in parent:
        comp.setdefault(find(d), []).append(d)
    for root, members in comp.items():
        for m_ in members:
            if m_ != min(members):
                dead.add(m_)
    return ["doc_id"], [
        (doc_id,) for doc_id, _ in docs if doc_id not in dead
    ]


def semdedup_model(
    sf_dir: str,
    *,
    threshold: float = 0.9,
    num_clusters: int = 16,
    dim: int = 64,
    seed: int = 7,
) -> tuple[list[str], list[tuple]]:
    """Expected output of q_semdedup: seeded random unit centroids,
    argmax-dot cluster assignment (ties -> larger index), per-cluster
    ranking by (centroid cosine asc, id), drop iff cosine >= threshold
    with any earlier-ranked point in the cluster (the SemDeDup upper-
    triangle screen). Float ops mirror the Spark fold order exactly."""
    cents = _random_unit_vectors(num_clusters, dim, seed)
    vecs = _load_embeddings(sf_dir)
    clusters: dict[int, list[tuple[float, int, list[float]]]] = {}
    for vid, v in vecs:
        c = max(
            range(num_clusters), key=lambda i: (_dot_seq(v, cents[i]), i)
        )
        cs = _dot_seq(v, cents[c]) / _norm_seq(v)
        clusters.setdefault(c, []).append((cs, vid, v))
    out = []
    for c, pts in clusters.items():
        pts.sort(key=lambda t: (t[0], t[1]))
        for j, (cs, vid, v) in enumerate(pts):
            dup = False
            for _, _vid2, v2 in pts[:j]:
                sim = _dot_seq(v, v2) / (_norm_seq(v) * _norm_seq(v2))
                if sim >= threshold:
                    dup = True
                    break
            out.append((vid, c, _round6(cs), not dup))
    return ["vec_id", "cluster", "cent_sim", "kept"], out


def winnow_robust_model(
    sf_dir: str, *, k: int = 8, w: int = 4, max_id: int = 50
) -> tuple[list[str], list[tuple]]:
    """Expected output of q_winnow_robust: ROBUST winnowing (Schleimer
    et al. §4) — on a tie for the window minimum keep the previous
    window's selection when it is one of the minima, else rightmost
    minimum; record only on selection change. Pure Python mirror of
    pipeline/text.py winnow_fingerprints(robust=True)."""
    import hashlib
    import re

    docs = _load_docs(sf_dir, max_id=max_id)
    rows: list[tuple] = []
    for doc_id, s_ in docs:
        t = re.sub(r"[^a-z0-9]", "", s_.lower())
        m = len(t) - k + 1
        if m < 1:
            continue
        hs = [
            hashlib.md5(t[i : i + k].encode()).hexdigest()[:8]
            for i in range(m)
        ]
        wlen = min(w, m)
        sel: list[tuple[int, str]] = []
        prev = 0
        for j in range(1, max(m - w + 1, 1) + 1):
            win = hs[j - 1 : j - 1 + wlen]
            v = min(win)
            if j <= prev <= j + wlen - 1 and hs[prev - 1] == v:
                continue
            off = max(i for i, x in enumerate(win) if x == v)
            p = j + off
            sel.append((p, v))
            prev = p
        for p, v in dict.fromkeys(sel):
            rows.append((doc_id, p, v))
    return ["doc_id", "pos", "fp"], rows


def quality_classifier_model(
    sf_dir: str,
    *,
    buckets: int = 1024,
    iterations: int = 5,
    lr: float = 2.0,
    l2: float = 1e-4,
) -> tuple[list[str], list[tuple]]:
    """Expected output of q_quality_classifier: full-batch logistic GD
    over hashed unigram+bigram features, positive = lang='en' docs,
    then score EVERY doc. Pure-Python mirror of
    pipeline/classifier.py (bias = bucket -1; mean-normalized bags;
    intercept unregularized). Scores round to 6dp on both sides."""
    import hashlib
    import math
    import re

    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text, lang FROM '{sf_dir}/documents.parquet' "
        "ORDER BY doc_id"
    ).fetchall()
    con.close()

    def feats(text: str) -> dict[int, float]:
        t = re.findall(r"[a-z0-9']+", (text or "").lower())
        grams = t + [f"{a} {b}" for a, b in zip(t, t[1:])]
        if not grams:
            return {}
        c: dict[int, float] = {}
        for g in grams:
            b = int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % buckets
            c[b] = c.get(b, 0.0) + 1.0
        n = sum(c.values())
        out = {b: v / n for b, v in c.items()}
        out[-1] = 1.0  # bias feature
        return out

    train = []  # (features, y)
    score_docs = []  # (doc_id, features)
    for doc_id, text, lang in rows:
        f = feats(text)
        score_docs.append((int(doc_id), f))
        if f:
            train.append((f, 1.0 if lang == "en" else 0.0))

    w: dict[int, float] = {}
    n_docs = len(train)
    for _ in range(iterations):
        grad: dict[int, float] = {}
        for f, y in train:
            m = sum(x * w.get(b, 0.0) for b, x in f.items())
            p = 1.0 / (1.0 + math.exp(-m))
            for b, x in f.items():
                grad[b] = grad.get(b, 0.0) + (p - y) * x
        for b in set(grad) | set(w):
            g = grad.get(b, 0.0) / n_docs
            reg = 0.0 if b == -1 else l2 * w.get(b, 0.0)
            w[b] = w.get(b, 0.0) - lr * (g + reg)

    bias = w.get(-1, 0.0)
    out = []
    for doc_id, f in score_docs:
        m = sum(x * w.get(b, 0.0) for b, x in f.items()) if f else bias
        out.append((doc_id, 1.0 / (1.0 + math.exp(-m))))
    return ["doc_id", "score"], out


PY_MODELS = {
    "quality_classifier": quality_classifier_model,
    "semdedup": semdedup_model,
    "winnow_dedup": winnow_dedup_model,
    "winnow_robust": winnow_robust_model,
    "pack_bins": pack_bins_model,
    "bpe_train": bpe_train_model,
    "bpe_vocab": bpe_vocab_model,
    "minhash_pairs": minhash_pairs_model,
    "simhash_pairs": simhash_pairs_model,
    "lsh_topk": lsh_topk_model,
    "ivf_topk": ivf_topk_model,
    "random_row": random_row_model,
    "neardup_ingest": neardup_ingest_model,
}
