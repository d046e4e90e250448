"""Pure-Python reference oracles for the queries DuckDB SQL cannot express
(VERDICT r04 next-round #4): seeded xxhash64 (MinHash/SimHash/IVF init),
random-hyperplane LSH, and iterative float k-means.

Everything here recomputes the SAME deterministic arithmetic the Spark
queries run — same seeds, same IEEE-double operations in the same
left-to-right order — independently of Spark, so `scripts/driver_check.py`
can hash-compare these goldens exactly like the SQL oracles. The one
approximate check is HLL (Spark's HyperLogLog++ is not re-implemented;
the golden asserts the estimate against the EXACT distinct count within
the documented rsd).

The xxhash64 implementation mirrors Spark's XXH64 (the standard public
xxHash64 algorithm: https://github.com/Cyan4973/xxHash — Spark's
catalyst XXH64.java is a faithful port), including Spark's column-fold
convention: hash(col1, col2, ...) starts at seed 42 and feeds each
column's hash as the next column's seed; IntegerType literals hash via
the 4-byte path, longs via the 8-byte path, strings via UTF-8 bytes,
arrays element-wise.
"""

from __future__ import annotations

import math
import random
import re
from decimal import ROUND_HALF_UP, Decimal

# --------------------------------------------------------------------------
# Spark-compatible xxhash64
# --------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def _xxh64_long(value: int, seed: int) -> int:
    """XXH64 of one 8-byte integer (Spark XXH64.hashLong)."""
    value &= _M
    h = (seed + _P5 + 8) & _M
    h ^= (_rotl((value * _P2) & _M, 31) * _P1) & _M
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    return _fmix(h)


def _xxh64_int(value: int, seed: int) -> int:
    """XXH64 of one 4-byte integer (Spark XXH64.hashInt)."""
    value &= 0xFFFFFFFF
    h = (seed + _P5 + 4) & _M
    h ^= (value * _P1) & _M
    h = (_rotl(h, 23) * _P2 + _P3) & _M
    return _fmix(h)


def _xxh64_bytes(data: bytes, seed: int) -> int:
    """Standard XXH64 over a byte string (Spark XXH64.hashUnsafeBytes).
    Little-endian 8/4-byte word reads, 32-byte stripe accumulators."""
    length = len(data)
    off = 0
    if length >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        limit = length - 32
        while off <= limit:
            for i, v in enumerate((v1, v2, v3, v4)):
                k = int.from_bytes(data[off + 8 * i:off + 8 * i + 8], "little")
                v = (v + k * _P2) & _M
                v = (_rotl(v, 31) * _P1) & _M
                if i == 0:
                    v1 = v
                elif i == 1:
                    v2 = v
                elif i == 2:
                    v3 = v
                else:
                    v4 = v
            off += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M, 31) * _P1) & _M
            h = (h * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + length) & _M
    while off + 8 <= length:
        k = int.from_bytes(data[off:off + 8], "little")
        h ^= (_rotl((k * _P2) & _M, 31) * _P1) & _M
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        off += 8
    if off + 4 <= length:
        k = int.from_bytes(data[off:off + 4], "little")
        h ^= (k * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        off += 4
    while off < length:
        h ^= (data[off] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        off += 1
    return _fmix(h)


def _signed(v: int) -> int:
    v &= _M
    return v - (1 << 64) if v >= (1 << 63) else v


def xxhash64(*values, seed: int = 42) -> int:
    """Spark ``F.xxhash64(...)``: fold each value's hash into the next
    value's seed, starting at 42. Value typing follows Spark's literal
    rules: a plain Python int is a LONG column value, ``("i32", v)``
    marks an IntegerType literal (``F.lit(py_int)``), ``str`` hashes
    UTF-8 bytes, ``list`` hashes element-wise (array<long>). Returns the
    SIGNED 64-bit value Spark yields."""
    h = seed
    for v in values:
        if isinstance(v, tuple) and v[0] == "i32":
            h = _xxh64_int(v[1], h)
        elif isinstance(v, str):
            h = _xxh64_bytes(v.encode("utf-8"), h)
        elif isinstance(v, list):
            for x in v:
                h = _xxh64_long(x, h)
        else:
            h = _xxh64_long(v, h)
    return _signed(h)


# --------------------------------------------------------------------------
# mirrored text / vector primitives
# --------------------------------------------------------------------------

def tokenize(text: str) -> list[str]:
    """Mirror of text.tokenize: lowercase, split on [^a-z0-9]+, drop ''.
    None → [] (Spark-side: tokenize(NULL) is a NULL array, and every
    consumer — explode, size>0 filters — treats that as no-tokens)."""
    if text is None:
        return []
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def shingles(text: str, n: int = 3) -> list[str]:
    """Mirror of dedup.shingles: distinct word n-grams (first-occurrence
    order); whole doc as one shingle when shorter than n; [] when empty."""
    toks = tokenize(text)
    k = len(toks)
    if k == 0:
        return []
    if k < n:
        return [" ".join(toks)]
    out, seen = [], set()
    for i in range(k - n + 1):
        g = " ".join(toks[i:i + n])
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


def minhash_signature(shs: list[str], num_hashes: int) -> list[int]:
    """Mirror of dedup.minhash_signatures for one non-empty shingle list:
    slot s is the min over shingles of xxhash64(xxhash64(shingle), s)."""
    h0 = [xxhash64(s) for s in shs]
    return [min(xxhash64(h, ("i32", s)) for h in h0)
            for s in range(num_hashes)]


def minhash_band_keys(sig: list[int], bands: int) -> list[tuple[int, int]]:
    """Mirror of dedup.minhash_band_hashes: one (band, hash) bucket key
    per band; the trailing len(sig) % bands slots are unused."""
    r = len(sig) // bands
    return [(b, xxhash64(sig[b * r:(b + 1) * r], ("i32", b)))
            for b in range(bands)]


def signature_estimate(sig_a: list[int], sig_b: list[int]) -> float:
    """Mirror of dedup.signature_jaccard: the agreeing-slot fraction."""
    return sum(a == b for a, b in zip(sig_a, sig_b)) / len(sig_a)


def dot(a, b) -> float:
    """Left-to-right double accumulation — same order as similarity._dot's
    F.aggregate, so results are bit-identical to Spark's."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def norm(a) -> float:
    acc = 0.0
    for x in a:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def cosine(a, b):
    """Mirror of similarity.cosine: None (NULL) when either norm is 0 —
    Spark-side try_divide parity, a zero vector has no direction."""
    d = norm(a) * norm(b)
    return dot(a, b) / d if d != 0 else None


def round_half_up(x: float, digits: int = 6) -> float:
    """Spark's F.round on doubles: BigDecimal.valueOf (the SHORTEST
    round-trip decimal repr, i.e. Double.toString — which Python's repr()
    also produces), then setScale HALF_UP."""
    if x is None or math.isnan(x) or math.isinf(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits),
                                           ROUND_HALF_UP))


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42):
    """Byte-for-byte mirror of similarity.random_hyperplanes (both run
    CPython's random.Random Gaussian)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket(vec, planes) -> int:
    b = 0
    for i, plane in enumerate(planes):
        if dot(vec, plane) > 0:
            b |= 1 << i
    return b


# --------------------------------------------------------------------------
# data loading
# --------------------------------------------------------------------------

def _load(sf_dir: str, table: str, cols: str, tail: str = ""):
    import duckdb
    return duckdb.sql(
        f"SELECT {cols} FROM '{sf_dir}/{table}.parquet' {tail}").fetchall()


def _embeddings(sf_dir: str):
    """[(vec_id, [float32-exact doubles] | None, label)] in vec_id order.
    NULL embeddings stay None: similarity goldens skip them (mirror of
    similarity._drop_null_vecs) but semantic_dedup still counts the rows
    as kept."""
    rows = _load(sf_dir, "embeddings", "vec_id, embedding, label",
                 "ORDER BY vec_id")
    return [(int(i), None if v is None else [float(x) for x in v], int(lb))
            for i, v, lb in rows]


def _documents(sf_dir: str):
    rows = _load(sf_dir, "documents", "doc_id, text", "ORDER BY doc_id")
    return [(int(i), t) for i, t in rows]


# --------------------------------------------------------------------------
# goldens: each returns (rows, cols) to hash-compare against the Spark run
# --------------------------------------------------------------------------

def golden_minhash_lsh_pairs_scalar(sf_dir: str):
    """Mirror of q_minhash_lsh_pairs: num_hashes=32, bands=16, shingle_n=3,
    threshold=0.3."""
    num_hashes, bands, threshold = 32, 16, 0.3
    docs = [(i, shingles(t)) for i, t in _documents(sf_dir)]
    docs = [(i, s) for i, s in docs if s]
    sigs = {i: minhash_signature(shs, num_hashes) for i, shs in docs}
    buckets = {}
    for i, sig in sigs.items():
        for _b, h in minhash_band_keys(sig, bands):
            buckets.setdefault(h, []).append(i)
    cands = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                cands.add((ids[ai], ids[bi]))
    sets = {i: set(s) for i, s in docs}
    out = []
    for a, b in sorted(cands):
        inter = len(sets[a] & sets[b])
        uni = len(sets[a]) + len(sets[b]) - inter
        j = inter / uni if uni > 0 else 0.0
        if j >= threshold:
            out.append((a, b, round_half_up(j, 6)))
    return out, ["id_a", "id_b", "jaccard"]


def golden_neardup_against_scalar(sf_dir: str):
    """Mirror of q_neardup_against: store = even doc_ids' MinHash
    signatures (num_hashes=32, bands=16, shingle_n=3), batch = odd
    doc_ids; a batch doc is dropped when its slot-agreement estimate vs
    ANY (band, hash)-bucketed store candidate reaches 0.5. Token-less
    batch docs carry no signature and pass."""
    num_hashes, bands, threshold = 32, 16, 0.5
    all_docs = _documents(sf_dir)
    docs = [(i, shingles(t)) for i, t in all_docs]
    sigs = {i: minhash_signature(s, num_hashes) for i, s in docs if s}
    buckets = {}
    for i, sig in sigs.items():
        if i % 2 == 0:
            for key in minhash_band_keys(sig, bands):
                buckets.setdefault(key, []).append(i)
    dropped = set()
    for i, sig in sigs.items():
        if i % 2 == 1:
            cands = set()
            for key in minhash_band_keys(sig, bands):
                cands.update(buckets.get(key, ()))
            if any(signature_estimate(sig, sigs[sid]) >= threshold
                   for sid in cands):
                dropped.add(i)
    kept = sorted(i for i, _t in all_docs if i % 2 == 1 and i not in dropped)
    return [(i,) for i in kept], ["doc_id"]


def golden_simhash_pairs_scalar(sf_dir: str):
    """Mirror of q_simhash_pairs: max_hamming=3 (4 chunks × 16-bit)."""
    max_hamming = 3
    chunks = max_hamming + 1
    width = 64 // chunks
    sims = {}
    for i, t in _documents(sf_dir):
        toks = tokenize(t)
        if not toks:
            continue
        bit_sums = [0] * 63
        for tok in toks:
            h = xxhash64(tok)
            for b in range(63):
                bit_sums[b] += 1 if (h & (1 << b)) != 0 else -1
        sim = 0
        for b in range(63):
            if bit_sums[b] > 0:
                sim |= 1 << b
        sims[i] = sim
    chunk_map = {}
    for i, sim in sims.items():
        for c in range(chunks):
            key = (c, (sim >> (c * width)) & ((1 << width) - 1))
            chunk_map.setdefault(key, []).append(i)
    cands = set()
    for ids in chunk_map.values():
        ids = sorted(ids)
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                cands.add((ids[ai], ids[bi]))
    out = []
    for a, b in sorted(cands):
        ham = bin(sims[a] ^ sims[b]).count("1")
        if ham <= max_hamming:
            out.append((a, b, ham))
    return out, ["id_a", "id_b", "hamming"]


def _topk(scored: dict, k: int):
    """Per-query top-k by (cosine desc, neighbor asc) — row_number cut.
    None cosines (zero-norm vectors) sort LAST, mirroring Spark/DuckDB
    DESC NULLS LAST — they enter the top-k only when fewer than k real
    scores exist."""
    out = []
    for q in sorted(scored):
        ranked = sorted(scored[q].items(),
                        key=lambda kv: (kv[1] is None,
                                        -(kv[1] or 0.0), kv[0]))
        for n_id, c in ranked[:k]:
            out.append((q, n_id,
                        round_half_up(c, 6) if c is not None else None))
    return out


def golden_cosine_topk_lsh_scalar(sf_dir: str):
    """Mirror of q_cosine_topk_lsh: queries vec_id<5, k=5, dim=64,
    n_planes=8, n_tables=4, seed=42."""
    emb = _embeddings(sf_dir)
    emb = [r for r in emb if r[1] is not None]  # mirror _drop_null_vecs
    tables = [random_hyperplanes(64, 8, 42 + t * 1000) for t in range(4)]
    buckets = {}
    for i, v, _ in emb:
        for t, planes in enumerate(tables):
            buckets.setdefault((t, lsh_bucket(v, planes)), []).append(i)
    vecs = {i: v for i, v, _ in emb}
    queries = [i for i, _, _ in emb if i < 5]
    scored = {}
    for key, ids in buckets.items():
        qs = [i for i in ids if i in set(queries)]
        for q in qs:
            for n_id in ids:
                if n_id != q:
                    scored.setdefault(q, {})[n_id] = cosine(vecs[q],
                                                            vecs[n_id])
    return _topk(scored, 5), ["query_id", "neighbor_id", "cosine"]


def ivf_centroids(emb, n_cells: int, seed: int = 42):
    """Mirror of similarity.ivf_centroids: order by xxhash64(id, lit(seed))
    ascending (signed), take n_cells vectors."""
    ranked = sorted(emb, key=lambda r: xxhash64(r[0], ("i32", seed)))
    return [list(r[1]) for r in ranked[:n_cells]]


def golden_cosine_topk_ivf_scalar(sf_dir: str):
    """Mirror of q_cosine_topk_ivf: k=5, n_cells=16, n_probe=4, seed=42."""
    emb = _embeddings(sf_dir)
    emb = [r for r in emb if r[1] is not None]  # mirror _drop_null_vecs
    cents = ivf_centroids(emb, 16)

    def nearest(v, n_probe):
        # array_sort on struct(score, cell) asc, reversed → desc by
        # (score, cell); ties prefer the HIGHER cell id, like Spark
        scored = sorted(((dot(v, c), i) for i, c in enumerate(cents)),
                        reverse=True)
        return [cell for _, cell in scored[:n_probe]]

    cells = {}
    for i, v, _ in emb:
        cells.setdefault(nearest(v, 1)[0], []).append(i)
    vecs = {i: v for i, v, _ in emb}
    scored = {}
    for q, v, _ in emb:
        if q >= 5:
            continue
        for cell in nearest(v, 4):
            for n_id in cells.get(cell, []):
                if n_id != q:
                    scored.setdefault(q, {})[n_id] = cosine(vecs[q],
                                                            vecs[n_id])
    return _topk(scored, 5), ["query_id", "neighbor_id", "cosine"]


def golden_embedding_neardup_scalar(sf_dir: str):
    """Mirror of q_embedding_neardup: threshold=0.3, n_planes=10,
    n_tables=4, seed=42, dim=64."""
    emb = _embeddings(sf_dir)
    emb = [r for r in emb if r[1] is not None]  # mirror _drop_null_vecs
    tables = [random_hyperplanes(64, 10, 42 + t * 1000) for t in range(4)]
    buckets = {}
    for i, v, _ in emb:
        for t, planes in enumerate(tables):
            buckets.setdefault((t, lsh_bucket(v, planes)), []).append(i)
    vecs = {i: v for i, v, _ in emb}
    pairs = {}
    for ids in buckets.values():
        ids = sorted(ids)
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                a, b = ids[ai], ids[bi]
                if (a, b) not in pairs:
                    c = cosine(vecs[a], vecs[b])
                    if c is not None and c >= 0.3:
                        pairs[(a, b)] = c
    rows = [(a, b, round_half_up(c, 6)) for (a, b), c in sorted(pairs.items())]
    return rows, ["id_a", "id_b", "cosine"]


def kmeans_scalar(emb, k: int = 8, max_iter: int = 10, seed: int = 42,
           tol: float = 1e-4):
    """Mirror of similarity.kmeans: seeded-hash init, argmin squared-L2
    assignment (ties → lowest cell), per-(cell,dim) mean update, L∞ < tol
    convergence. The means use exact sequential summation; Spark's
    per-partition sums, added in partition order, can differ by an ulp
    (documented in kmeans's docstring) — assignments are compared, which
    are stable far beyond that."""
    cents = ivf_centroids(emb, k, seed)
    if not cents:
        # empty corpus — mirror of similarity.kmeans: no assignments,
        # no centroids
        return {}, []

    def assign(v):
        best_d, best_c = None, None
        for i, c in enumerate(cents):
            acc = 0.0
            for a, b in zip(v, c):
                d = float(a) - b
                acc += d * d
            if best_d is None or acc < best_d:
                best_d, best_c = acc, i
        return best_c

    for _ in range(max_iter):
        sums = [[0.0] * len(cents[0]) for _ in range(k)]
        counts = [0] * k
        for _, v, _lb in emb:
            cell = assign(v)
            counts[cell] += 1
            s = sums[cell]
            for d, x in enumerate(v):
                s[d] += float(x)
        new_cents = [list(c) for c in cents]
        for cell in range(k):
            if counts[cell]:
                for d in range(len(cents[0])):
                    new_cents[cell][d] = sums[cell][d] / counts[cell]
        shift = max(abs(a - b) for ra, rb in zip(cents, new_cents)
                    for a, b in zip(ra, rb))
        cents = new_cents
        if shift < tol:
            break
    return {i: assign(v) for i, v, _ in emb}, cents


def golden_kmeans_scalar(sf_dir: str):
    """Mirror of q_kmeans: per-cell counts, k=8, max_iter=10, seed=42."""
    emb = _embeddings(sf_dir)
    emb = [r for r in emb if r[1] is not None]  # mirror _drop_null_vecs
    assigned, _ = kmeans_scalar(emb)
    counts = {}
    for cell in assigned.values():
        counts[cell] = counts.get(cell, 0) + 1
    return sorted(counts.items()), ["cell", "n_vecs"]


def golden_semantic_dedup_scalar(sf_dir: str):
    """Mirror of q_semantic_dedup: kept-per-label counts, threshold=0.99,
    k=8 (greedy smaller-id drop within k-means cells)."""
    emb = _embeddings(sf_dir)
    emb_nn = [r for r in emb if r[1] is not None]  # mirror _drop_null_vecs
    # kmeans/pairing run over non-null vectors only; NULL-vector rows have
    # no assignment, are never losers, and still count as kept below
    assigned, _ = kmeans_scalar(emb_nn)
    normed = {}
    for i, v, _ in emb_nn:
        nrm = norm(v)
        normed[i] = ([float(x) / nrm for x in v] if nrm > 0
                     else [0.0] * len(v))
    cells = {}
    for i, cell in assigned.items():
        cells.setdefault(cell, []).append(i)
    losers = set()
    for ids in cells.values():
        ids = sorted(ids)
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                if dot(normed[ids[bi]], normed[ids[ai]]) >= 0.99:
                    losers.add(ids[bi])
    counts = {}
    for i, _v, label in emb:
        if i not in losers:
            counts[label] = counts.get(label, 0) + 1
    return sorted(counts.items()), ["label", "n_kept"]


# --------------------------------------------------------------------------
# vectorized goldens (r06, VERDICT r05 next-round #2)
#
# The scalar goldens above are the SPECIFICATION — deliberately transparent,
# and quadratic/per-element Python, which priced them out of the sf1 gate.
# The functions below are numpy re-implementations that stay BIT-IDENTICAL:
#   * xxh64's long/int paths are pure uint64 arithmetic (wrapping multiply,
#     rotl, xor) — vectorized directly; string hashing stays scalar but is
#     memoized per distinct token/shingle (linear, not the bottleneck).
#   * every float reduction uses np.add.accumulate (cumsum), which is
#     DEFINED as the sequential left-to-right fold r[i] = r[i-1] + a[i] —
#     the same IEEE-double addition order as the scalar mirrors and
#     Spark's F.aggregate, so sums agree to the last bit (pairwise/SIMD
#     summation like np.dot/np.sum would NOT).
#   * elementwise products/divisions are single IEEE ops — order-free.
# tests/test_py_reference.py pins vector == scalar on the gate corpus and
# on adversarial float magnitudes where pairwise summation diverges.
# --------------------------------------------------------------------------

import numpy as np

_NP1, _NP2, _NP3 = np.uint64(_P1), np.uint64(_P2), np.uint64(_P3)
_NP4, _NP5 = np.uint64(_P4), np.uint64(_P5)


def _rotl_v(x, r: int):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix_v(h):
    h = h ^ (h >> np.uint64(33))
    h = h * _NP2
    h = h ^ (h >> np.uint64(29))
    h = h * _NP3
    return h ^ (h >> np.uint64(32))


def xxh64_long_v(values, seed):
    """Vector mirror of _xxh64_long: values uint64 array; seed a python int
    or a uint64 array (Spark's column-fold chains hashes as seeds)."""
    v = np.asarray(values, dtype=np.uint64)
    s = (seed if isinstance(seed, np.ndarray)
         else np.uint64(seed & _M))
    h = s + (_NP5 + np.uint64(8))
    h = h ^ (_rotl_v(v * _NP2, 31) * _NP1)
    h = _rotl_v(h, 27) * _NP1 + _NP4
    return _fmix_v(h)


def xxh64_int_v(value: int, seeds):
    """Vector mirror of _xxh64_int: one 4-byte value hashed under an ARRAY
    of seeds (the per-row running fold)."""
    # fold v*P1 in exact Python ints: numpy warns on SCALAR uint64 overflow
    # (array ops wrap silently) and the wrap here is intentional
    vp1 = np.uint64(((value & 0xFFFFFFFF) * _P1) & _M)
    h = np.asarray(seeds, dtype=np.uint64) + (_NP5 + np.uint64(4))
    h = h ^ vp1
    h = _rotl_v(h, 23) * _NP2 + _NP3
    return _fmix_v(h)


def dot_lr(A, B):
    """Left-to-right dot along the last axis: np.add.accumulate is the
    sequential prefix fold, so [..., -1] is exactly the scalar dot()."""
    return np.add.accumulate(A * B, axis=-1)[..., -1]


def _norms_lr(E):
    return np.sqrt(np.add.accumulate(E * E, axis=-1)[..., -1])


def _hash_strings(strings, memo):
    """xxhash64 (seed 42) per string, memoized — duplicate-dense corpora
    hash each distinct token once."""
    out = []
    for s in strings:
        h = memo.get(s)
        if h is None:
            h = memo[s] = _xxh64_bytes(s.encode("utf-8"), 42)
        out.append(h)
    return out


def golden_minhash_lsh_pairs(sf_dir: str):
    """Vectorized mirror of q_minhash_lsh_pairs (spec:
    golden_minhash_lsh_pairs_scalar): num_hashes=32, bands=16, shingle_n=3,
    threshold=0.3."""
    num_hashes, bands, threshold = 32, 16, 0.3
    r = num_hashes // bands
    docs = [(i, shingles(t)) for i, t in _documents(sf_dir)]
    docs = [(i, s) for i, s in docs if s]
    if not docs:
        return [], ["id_a", "id_b", "jaccard"]
    memo, flat, starts = {}, [], []
    for _i, shs in docs:
        starts.append(len(flat))
        flat.extend(_hash_strings(shs, memo))
    h0 = np.array(flat, dtype=np.uint64)
    starts = np.array(starts, dtype=np.intp)
    # xxhash64(h, ("i32", s)) = _xxh64_int(s, _xxh64_long(h, 42)): the long
    # stage is seed-independent of s — hoist it out of the 32-seed loop
    h1 = xxh64_long_v(h0, 42)
    sigs = np.empty((len(docs), num_hashes), dtype=np.int64)
    for s in range(num_hashes):
        sigs[:, s] = np.minimum.reduceat(
            xxh64_int_v(s, h1).view(np.int64), starts)
    usig = sigs.view(np.uint64)
    buckets = {}
    for b in range(bands):
        h = np.full(len(docs), 42, dtype=np.uint64)
        for j in range(b * r, (b + 1) * r):
            h = xxh64_long_v(usig[:, j], h)
        keys = xxh64_int_v(b, h).view(np.int64)
        for d in range(len(docs)):
            buckets.setdefault(int(keys[d]), []).append(docs[d][0])
    cands = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                cands.add((ids[ai], ids[bi]))
    sets = {i: set(s) for i, s in docs}
    out = []
    for a, b in sorted(cands):
        inter = len(sets[a] & sets[b])
        uni = len(sets[a]) + len(sets[b]) - inter
        j = inter / uni if uni > 0 else 0.0
        if j >= threshold:
            out.append((a, b, round_half_up(j, 6)))
    return out, ["id_a", "id_b", "jaccard"]


def golden_neardup_against(sf_dir: str):
    """Vectorized mirror of q_neardup_against (spec:
    golden_neardup_against_scalar): store = even doc_ids' signatures,
    batch = odd; drop on estimator >= 0.5 vs any banded candidate."""
    num_hashes, bands, threshold = 32, 16, 0.5
    r = num_hashes // bands
    all_docs = _documents(sf_dir)
    batch_all = [i for i, _t in all_docs if i % 2 == 1]
    docs = [(i, shingles(t)) for i, t in all_docs]
    docs = [(i, s) for i, s in docs if s]
    if not docs:
        return [(i,) for i in sorted(batch_all)], ["doc_id"]
    memo, flat, starts = {}, [], []
    for _i, shs in docs:
        starts.append(len(flat))
        flat.extend(_hash_strings(shs, memo))
    h0 = np.array(flat, dtype=np.uint64)
    starts = np.array(starts, dtype=np.intp)
    h1 = xxh64_long_v(h0, 42)
    sigs = np.empty((len(docs), num_hashes), dtype=np.int64)
    for s in range(num_hashes):
        sigs[:, s] = np.minimum.reduceat(
            xxh64_int_v(s, h1).view(np.int64), starts)
    usig = sigs.view(np.uint64)
    ids = np.array([i for i, _s in docs], dtype=np.int64)
    keys = np.empty((len(docs), bands), dtype=np.int64)
    for b in range(bands):
        h = np.full(len(docs), 42, dtype=np.uint64)
        for j in range(b * r, (b + 1) * r):
            h = xxh64_long_v(usig[:, j], h)
        keys[:, b] = xxh64_int_v(b, h).view(np.int64)
    even = ids % 2 == 0
    buckets = {}
    for d in np.nonzero(even)[0]:
        for b in range(bands):
            buckets.setdefault((b, int(keys[d, b])), []).append(d)
    dropped = set()
    for d in np.nonzero(~even)[0]:
        cand = set()
        for b in range(bands):
            cand.update(buckets.get((b, int(keys[d, b])), ()))
        for sd in cand:
            if int((sigs[d] == sigs[sd]).sum()) / num_hashes >= threshold:
                dropped.add(int(ids[d]))
                break
    kept = sorted(i for i in batch_all if i not in dropped)
    return [(i,) for i in kept], ["doc_id"]


def golden_simhash_pairs(sf_dir: str):
    """Vectorized mirror of q_simhash_pairs (spec:
    golden_simhash_pairs_scalar): max_hamming=3 (4 chunks x 16-bit)."""
    max_hamming = 3
    chunks = max_hamming + 1
    width = 64 // chunks
    memo, flat, starts, ids = {}, [], [], []
    for i, t in _documents(sf_dir):
        toks = tokenize(t)
        if not toks:
            continue
        ids.append(i)
        starts.append(len(flat))
        flat.extend(_hash_strings(toks, memo))
    if not ids:
        return [], ["id_a", "id_b", "hamming"]
    h = np.array(flat, dtype=np.uint64)
    starts_a = np.array(starts, dtype=np.intp)
    lens = np.diff(np.append(starts_a, len(flat)))
    sims_a = np.zeros(len(ids), dtype=np.uint64)
    one = np.uint64(1)
    for b in range(63):
        ones = np.add.reduceat((h >> np.uint64(b)) & one, starts_a)
        # bit_sums = ones - (lens - ones) > 0  ⟺  2*ones > lens
        sims_a |= (one << np.uint64(b)) * (2 * ones > lens).astype(np.uint64)
    sims = {ids[d]: int(sims_a[d]) for d in range(len(ids))}
    chunk_map = {}
    for i, sim in sims.items():
        for c in range(chunks):
            key = (c, (sim >> (c * width)) & ((1 << width) - 1))
            chunk_map.setdefault(key, []).append(i)
    cands = set()
    for ids_ in chunk_map.values():
        ids_ = sorted(ids_)
        for ai in range(len(ids_)):
            for bi in range(ai + 1, len(ids_)):
                cands.add((ids_[ai], ids_[bi]))
    out = []
    for a, b in sorted(cands):
        ham = bin(sims[a] ^ sims[b]).count("1")
        if ham <= max_hamming:
            out.append((a, b, ham))
    return out, ["id_a", "id_b", "hamming"]


def _embeddings_np(sf_dir: str):
    """(full rows, non-null rows, ids array, E matrix) — ids ascending, so
    row order == vec_id order everywhere below."""
    emb = _embeddings(sf_dir)
    nn = [r for r in emb if r[1] is not None]
    ids = np.array([i for i, _, _ in nn], dtype=np.int64)
    E = np.array([v for _, v, _ in nn], dtype=np.float64) \
        if nn else np.zeros((0, 0))
    return emb, nn, ids, E


def _lsh_buckets_v(E, planes, chunk: int = 8192):
    """Bucket id per row for one table of hyperplanes (sign-LSH),
    left-to-right plane dots like the scalar lsh_bucket."""
    P = np.asarray(planes, dtype=np.float64)
    out = np.empty(len(E), dtype=np.int64)
    weights = (np.int64(1) << np.arange(len(P), dtype=np.int64))
    for s in range(0, len(E), chunk):
        d = dot_lr(E[s:s + chunk, None, :], P[None, :, :])
        out[s:s + chunk] = ((d > 0).astype(np.int64) * weights).sum(axis=1)
    return out


def golden_cosine_topk_lsh(sf_dir: str):
    """Vectorized mirror of q_cosine_topk_lsh (spec:
    golden_cosine_topk_lsh_scalar)."""
    _emb, nn, ids, E = _embeddings_np(sf_dir)
    cols = ["query_id", "neighbor_id", "cosine"]
    if not nn:
        return [], cols
    tables = [random_hyperplanes(64, 8, 42 + t * 1000) for t in range(4)]
    norms = _norms_lr(E)
    buckets = {}
    for t, planes in enumerate(tables):
        bk = _lsh_buckets_v(E, planes)
        for row in range(len(E)):
            buckets.setdefault((t, int(bk[row])), []).append(row)
    scored = {}
    for rows_ in buckets.values():
        qrows = [r for r in rows_ if ids[r] < 5]
        if not qrows:
            continue
        arr = np.array(rows_, dtype=np.intp)
        for q in qrows:
            dts = dot_lr(E[arr], E[q])
            dn = norms[q] * norms[arr]
            qs = scored.setdefault(int(ids[q]), {})
            for j, nrow in enumerate(arr):
                if nrow == q:
                    continue
                qs[int(ids[nrow])] = (float(dts[j] / dn[j])
                                      if dn[j] != 0 else None)
    return _topk(scored, 5), cols


def golden_cosine_topk_ivf(sf_dir: str):
    """Vectorized mirror of q_cosine_topk_ivf (spec:
    golden_cosine_topk_ivf_scalar): k=5, n_cells=16, n_probe=4."""
    _emb, nn, ids, E = _embeddings_np(sf_dir)
    cols = ["query_id", "neighbor_id", "cosine"]
    if not nn:
        return [], cols
    cents = np.asarray(ivf_centroids(nn, 16), dtype=np.float64)
    norms = _norms_lr(E)
    # centroid dots for every row (the expensive part), then the scalar
    # spec's exact tie rule — desc by (score, cell), higher cell wins ties
    cd = dot_lr(E[:, None, :], cents[None, :, :])

    def nearest(row, n_probe):
        ranked = sorted(((float(cd[row, c]), c) for c in range(len(cents))),
                        reverse=True)
        return [c for _, c in ranked[:n_probe]]

    cells = {}
    for row in range(len(E)):
        cells.setdefault(nearest(row, 1)[0], []).append(row)
    scored = {}
    for row in range(len(E)):
        q = int(ids[row])
        if q >= 5:
            continue
        qs = scored.setdefault(q, {})
        for cell in nearest(row, 4):
            members = cells.get(cell, [])
            if not members:
                continue
            arr = np.array(members, dtype=np.intp)
            dts = dot_lr(E[arr], E[row])
            dn = norms[row] * norms[arr]
            for j, nrow in enumerate(arr):
                if nrow == row:
                    continue
                qs[int(ids[nrow])] = (float(dts[j] / dn[j])
                                      if dn[j] != 0 else None)
    return _topk(scored, 5), cols


def golden_embedding_neardup(sf_dir: str):
    """Vectorized mirror of q_embedding_neardup (spec:
    golden_embedding_neardup_scalar): threshold=0.3, n_planes=10,
    n_tables=4."""
    _emb, nn, ids, E = _embeddings_np(sf_dir)
    cols = ["id_a", "id_b", "cosine"]
    if not nn:
        return [], cols
    tables = [random_hyperplanes(64, 10, 42 + t * 1000) for t in range(4)]
    norms = _norms_lr(E)
    buckets = {}
    for t, planes in enumerate(tables):
        bk = _lsh_buckets_v(E, planes)
        for row in range(len(E)):
            buckets.setdefault((t, int(bk[row])), []).append(row)
    cand = set()
    for rows_ in buckets.values():
        if len(rows_) < 2:
            continue
        rows_ = sorted(rows_)          # ids ascending with row ⇒ id_a < id_b
        for ai in range(len(rows_)):
            a = rows_[ai]
            for b in rows_[ai + 1:]:
                cand.add((a, b))
    if not cand:
        return [], cols
    pairs = np.array(sorted(cand), dtype=np.intp)
    out = []
    for s in range(0, len(pairs), 65536):
        a, b = pairs[s:s + 65536, 0], pairs[s:s + 65536, 1]
        dts = dot_lr(E[a], E[b])
        dn = norms[a] * norms[b]
        ok = (dn != 0) & (np.where(dn != 0, dts / np.where(dn != 0, dn, 1.0),
                                   0.0) >= 0.3)
        for j in np.nonzero(ok)[0]:
            out.append((int(ids[a[j]]), int(ids[b[j]]),
                        round_half_up(float(dts[j] / dn[j]), 6)))
    return out, cols


def _assign_v(E, C, chunk: int = 4096):
    """argmin squared-L2 (left-to-right over dims; first minimum = lowest
    cell, same strict-< tie rule as the scalar assign)."""
    out = np.empty(len(E), dtype=np.int64)
    for s in range(0, len(E), chunk):
        d = E[s:s + chunk, None, :] - C[None, :, :]
        out[s:s + chunk] = np.argmin(
            np.add.accumulate(d * d, axis=-1)[..., -1], axis=1)
    return out


def kmeans(emb, k: int = 8, max_iter: int = 10, seed: int = 42,
           tol: float = 1e-4):
    """Vectorized mirror of kmeans_scalar (the spec): same init, same
    assignment ties, same per-(cell,dim) mean arithmetic — np.add.at
    applies additions in row order, the scalar loop's exact fold order."""
    cents = ivf_centroids(emb, k, seed)
    if not cents:
        return {}, []
    E = np.array([v for _, v, _ in emb], dtype=np.float64)
    C = np.array(cents, dtype=np.float64)
    for _ in range(max_iter):
        cells = _assign_v(E, C)
        sums = np.zeros_like(C)
        np.add.at(sums, cells, E)
        # minlength=len(C), NOT k: with fewer vectors than k the init
        # yields len(C) < k centroids and a k-long mask would not index C
        # (single-row axis find; the scalar spec's range(k) loop tolerates
        # the same shape because counts beyond len(C) stay 0)
        counts = np.bincount(cells, minlength=len(C))
        new_C = C.copy()
        nz = counts > 0
        new_C[nz] = sums[nz] / counts[nz, None]
        shift = float(np.max(np.abs(C - new_C)))
        C = new_C
        if shift < tol:
            break
    final = _assign_v(E, C)
    return ({emb[r][0]: int(final[r]) for r in range(len(emb))},
            [list(map(float, c)) for c in C])


def golden_kmeans(sf_dir: str):
    """Vectorized mirror of q_kmeans (spec: golden_kmeans_scalar)."""
    _emb, nn, _ids, _E = _embeddings_np(sf_dir)
    assigned, _ = kmeans(nn)
    counts = {}
    for cell in assigned.values():
        counts[cell] = counts.get(cell, 0) + 1
    return sorted(counts.items()), ["cell", "n_vecs"]


def golden_semantic_dedup(sf_dir: str, k: int = 8):
    """Vectorized mirror of q_semantic_dedup (spec:
    golden_semantic_dedup_scalar): threshold=0.99, k=8."""
    emb, nn, ids, E = _embeddings_np(sf_dir)
    assigned, _ = kmeans(nn, k=k)
    if nn:
        norms = _norms_lr(E)
        normed = np.zeros_like(E)
        pos = norms > 0
        normed[pos] = E[pos] / norms[pos, None]
    losers = set()
    cells = {}
    for row in range(len(ids)):
        cells.setdefault(assigned[int(ids[row])], []).append(row)
    for rows_ in cells.values():
        rows_ = sorted(rows_)          # id order within the cell
        m = len(rows_)
        if m < 2:
            continue
        M = normed[rows_]
        dim = M.shape[1]
        # b is a loser iff ANY a before it in the cell has dot >= 0.99
        # (the scalar spec checks every a<b, removed or not); block the
        # b-axis so the (nb, na, dim) cumsum intermediate stays ~256 MB
        blk = max(1, (1 << 25) // max(1, m * dim))
        for s in range(1, m, blk):
            bidx = np.arange(s, min(s + blk, m))
            A = M[:bidx[-1]]
            dts = dot_lr(M[bidx][:, None, :], A[None, :, :])
            amask = np.arange(len(A))[None, :] < bidx[:, None]
            hit = ((dts >= 0.99) & amask).any(axis=1)
            for j in np.nonzero(hit)[0]:
                losers.add(int(ids[rows_[bidx[j]]]))
    counts = {}
    for i, _v, label in emb:
        if i not in losers:
            counts[label] = counts.get(label, 0) + 1
    return sorted(counts.items()), ["label", "n_kept"]


def golden_semantic_dedup_auto(sf_dir: str):
    """Mirror of q_semantic_dedup_auto: the k=None derivation —
    k = ceil(n_nonnull_vectors / 150) — then the same pipeline as
    golden_semantic_dedup."""
    n = sum(1 for r in _embeddings(sf_dir) if r[1] is not None)
    return golden_semantic_dedup(sf_dir, k=max(1, -(-n // 150)))


def golden_semantic_decontam(sf_dir: str):
    """Mirror of q_semantic_decontam (similarity.semantic_decontaminate):
    benchmark = vec_id % 37 == 0 (zero-norm/NULL bench vectors dropped),
    corpus rows dropped iff ANY normalized-dot ≥ 0.8; NULL/zero corpus
    vectors always kept. Same normalize-then-left-to-right-dot fold as
    the Spark expressions (np.add.accumulate)."""
    emb, nn, ids, E = _embeddings_np(sf_dir)
    dropped = set()
    if nn:
        norms = _norms_lr(E)
        normed = np.zeros_like(E)
        pos = norms > 0
        normed[pos] = E[pos] / norms[pos, None]
        B = normed[(ids % 37 == 0) & pos]
        if len(B):
            dim = E.shape[1]
            blk = max(1, (1 << 24) // max(1, len(B) * dim))
            for s in range(0, len(ids), blk):
                dts = dot_lr(normed[s:s + blk][:, None, :], B[None, :, :])
                for j in np.nonzero((dts >= 0.8).any(axis=1))[0]:
                    dropped.add(int(ids[s + j]))
    counts = {}
    for i, _v, label in emb:
        if i not in dropped:
            counts[label] = counts.get(label, 0) + 1
    return sorted(counts.items()), ["label", "n_kept"]


def golden_components(nodes, edges):
    """Independent connected-components oracle: union-find with
    path-halving + union-by-size over an undirected edge list, then each
    root's label rewritten to the MIN node id of its component — the same
    representative rule as ``dedup.connected_components``. O(E·α(E)), so
    it verifies the Spark labelings at corpus sizes where the DuckDB
    recursive-CTE transitive closure (the sf0.01 oracle) explodes. Nodes absent from ``edges``
    label as themselves. Returns {node: component_min_id}."""
    parent, size = {}, {}
    endpoints = set()

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:       # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        endpoints.add(a)
        endpoints.add(b)
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if size.get(ra, 1) < size.get(rb, 1):
            ra, rb = rb, ra
        parent[rb] = ra
        size[ra] = size.get(ra, 1) + size.get(rb, 1)
    # min-label over EVERY component member (edge endpoints included even
    # when the caller's node list is a subset), labels returned for the
    # requested nodes only
    members = set(nodes) | endpoints
    comp_min = {}
    for n in members:
        r = find(n)
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    return {n: comp_min[find(n)] for n in nodes}


def pr_auc_scalar(pairs):
    """Pure-Python mirror of evaluation.pr_auc's EXACT arithmetic:
    step-interpolated average precision over descending distinct-score
    tie classes, each class contributing one double division
    float(np·TP)/float(CNT) tie-rounded to DECIMAL(27,9) (HALF_UP over
    the SHORTEST decimal representation — python ``repr`` matches Java
    ``BigDecimal.valueOf``'s Double.toString, which is what Spark's
    double→decimal cast rounds), summed exactly, one final double
    division by n⁺. Returns (n_pos, n_neg, pr_auc|None); NULL scores or
    labels are dropped (unjudged), NaN scores form one tie class that
    sorts GREATEST (Spark groupBy/sort semantics)."""
    from decimal import ROUND_HALF_UP, Decimal
    judged = [(s, int(y)) for s, y in pairs
              if s is not None and y is not None]
    npos = sum(y for _, y in judged)
    nneg = len(judged) - npos
    if npos == 0:
        return npos, nneg, None
    n_by, np_by, has_nan = {}, {}, [0, 0]
    for s, y in judged:
        if isinstance(s, float) and math.isnan(s):
            has_nan[0] += 1
            has_nan[1] += y
        else:
            n_by[s] = n_by.get(s, 0) + 1
            np_by[s] = np_by.get(s, 0) + y
    order = sorted(n_by, reverse=True)
    classes = ([(has_nan[0], has_nan[1])] if has_nan[0] else []) \
        + [(n_by[s], np_by[s]) for s in order]
    q = Decimal(1).scaleb(-9)
    total, tp, cnt = Decimal(0), 0, 0
    for n, np_ in classes:
        tp += np_
        cnt += n
        if np_ > 0:
            term = float(np_ * tp) / float(cnt)
            total += Decimal(repr(term)).quantize(q,
                                                  rounding=ROUND_HALF_UP)
    return npos, nneg, float(total) / float(npos)


def compare_rows(rows, cols, golden_rows, golden_cols):
    """Same order-insensitive, column-name-sorted comparison as
    scripts/driver_check.norm; returns None on match, else an error."""
    def norm(rws, cls):
        idx = sorted(range(len(cls)), key=lambda i: cls[i])

        def nv(v):
            if v is None:
                return "NULL"
            if isinstance(v, float):
                return "NaN" if math.isnan(v) else f"{v:.17g}"
            if isinstance(v, bool):
                return str(int(v))
            return str(v)

        return sorted(tuple(nv(r[i]) for i in idx) for r in rws)

    if sorted(cols) != sorted(golden_cols):
        return f"schema {sorted(cols)} vs golden {sorted(golden_cols)}"
    a, b = norm(rows, cols), norm(golden_rows, golden_cols)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
        return (f"{len(rows)} vs {len(golden_rows)} rows; "
                f"first diffs: {diff}")
    return None


# -- image perceptual hashing (r10, VERDICT r09 #7) --------------------------

def _pnm_gray_int(content: bytes):
    """Pure-Python binary PNM (P5/P6) parse → (integer luminance rows —
    channel SUMS, the comparison-equivalent of the mean — width, height).
    Independent reimplementation of the PNM spec; the operator side is
    multimodal._pnm_raw + numpy."""
    assert content[:2] in (b"P5", b"P6"), content[:2]
    toks, i = [], 2
    while len(toks) < 3:
        while i < len(content) and content[i:i + 1].isspace():
            i += 1
        if content[i:i + 1] == b"#":
            while i < len(content) and content[i:i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(content) and not content[j:j + 1].isspace():
            j += 1
        toks.append(int(content[i:j]))
        i = j
    i += 1
    w, h, maxval = toks
    ch = 1 if content[:2] == b"P5" else 3
    wide = maxval >= 256

    def sample(k):
        if wide:
            o = i + 2 * k
            return (content[o] << 8) | content[o + 1]
        return content[i + k]

    lum = [[sum(sample((y * w + x) * ch + c) for c in range(ch))
            for x in range(w)] for y in range(h)]
    return lum, w, h


def golden_image_dhash(content: bytes, hash_size: int = 8) -> int:
    """UNSIGNED dHash mirror of multimodal._dhash_int (which returns the
    same 64 bits as a signed bigint): bit y·hs+x set iff the
    nearest-neighbor luminance grid has g[y, x] > g[y, x+1]."""
    lum, w, h = _pnm_gray_int(content)
    ys = [(y * h) // hash_size for y in range(hash_size)]
    xs = [(x * w) // (hash_size + 1) for x in range(hash_size + 1)]
    v = 0
    for yi in range(hash_size):
        row = lum[ys[yi]]
        for xi in range(hash_size):
            if row[xs[xi]] > row[xs[xi + 1]]:
                v |= 1 << (yi * hash_size + xi)
    return v


def golden_image_ahash(content: bytes, hash_size: int = 8) -> int:
    """UNSIGNED aHash mirror of multimodal._ahash_int: bit set iff
    g[y, x]·hs² > Σ grid (integer cross-multiplication)."""
    lum, w, h = _pnm_gray_int(content)
    ys = [(y * h) // hash_size for y in range(hash_size)]
    xs = [(x * w) // hash_size for x in range(hash_size)]
    grid = [[lum[y][x] for x in xs] for y in ys]
    total = sum(sum(r) for r in grid)
    n = hash_size * hash_size
    v = 0
    for yi in range(hash_size):
        for xi in range(hash_size):
            if grid[yi][xi] * n > total:
                v |= 1 << (yi * hash_size + xi)
    return v


def image_media(sf_dir: str):
    """The q_image_neardup fabrication, mirrored byte-for-byte: per doc a
    16×16 P5 image whose body is md5-derived from the doc's FAMILY
    (doc_id % 100) with pixel (0,0) replaced by (doc_id % 4)·64 — family
    members are near-identical (dhash hamming ≤ 1), cross-family images
    are effectively random."""
    import hashlib as _hl
    out = []
    for i, _txt in _documents(sf_dir):
        fam = str(i % 100)
        body = b"".join(_hl.md5(f"{fam}-{j}".encode()).digest()
                        for j in range(16))
        out.append((i, b"P5\n16 16\n255\n"
                    + bytes([(i % 4) * 64]) + body[1:]))
    return out


def golden_image_neardup(sf_dir: str):
    """Mirror of q_image_neardup: dHash over the fabricated media, then
    the (max_hamming+1)-chunk pigeonhole banding (golden_simhash_pairs'
    candidate scheme) at max_hamming=2."""
    max_hamming = 2
    chunks = max_hamming + 1
    width = 64 // chunks
    hashes = {i: golden_image_dhash(c) for i, c in image_media(sf_dir)}
    chunk_map = {}
    for i, hv in hashes.items():
        for c in range(chunks):
            key = (c, (hv >> (c * width)) & ((1 << width) - 1))
            chunk_map.setdefault(key, []).append(i)
    cands = set()
    for ids_ in chunk_map.values():
        ids_ = sorted(ids_)
        for ai in range(len(ids_)):
            for bi in range(ai + 1, len(ids_)):
                cands.add((ids_[ai], ids_[bi]))
    out = []
    for a, b in sorted(cands):
        ham = bin(hashes[a] ^ hashes[b]).count("1")
        if ham <= max_hamming:
            out.append((a, b, ham))
    return out, ["id_a", "id_b", "hamming"]


def golden_audio_ehash(content: bytes, hash_size: int = 8) -> int:
    """UNSIGNED energy-difference audio hash mirror of
    multimodal._aehash_int (which returns the same 64 bits as a signed
    bigint): stdlib-wave integer PCM (u8 centered at 128, 32-bit
    samples >> 16, channels folded by integer SUM), numpy-array_split
    window boundaries replicated exactly, per-window energy Σ sample²
    in exact ints, bit i set iff E[i] > E[i+1]."""
    import io as _io
    import wave as _wave
    with _wave.open(_io.BytesIO(bytes(content))) as wf:
        nch, sw, _rate, nframes = wf.getparams()[:4]
        raw = wf.readframes(nframes)
    if sw == 1:
        x = [b - 128 for b in raw]
    elif sw == 2:
        x = [int.from_bytes(raw[i:i + 2], "little", signed=True)
             for i in range(0, len(raw), 2)]
    elif sw == 4:
        x = [int.from_bytes(raw[i:i + 4], "little", signed=True) >> 16
             for i in range(0, len(raw), 4)]
    else:
        raise NotImplementedError(f"unsupported WAV sample width {sw}")
    if nch > 1:
        n = (len(x) // nch) * nch
        x = [sum(x[i:i + nch]) for i in range(0, n, nch)]
    k = hash_size * hash_size + 1
    # numpy array_split boundaries: the first (len % k) windows get
    # ceil(len/k) samples, the rest floor(len/k)
    n, e, pos = len(x), [], 0
    for w in range(k):
        size = n // k + (1 if w < n % k else 0)
        e.append(sum(v * v for v in x[pos:pos + size]))
        pos += size
    v = 0
    for i in range(k - 1):
        if e[i] > e[i + 1]:
            v |= 1 << i
    return v


def audio_media(sf_dir: str):
    """The q_audio_neardup fabrication, mirrored byte-for-byte: per doc a
    256-sample u8 mono PCM WAV whose body is md5-derived from the doc's
    FAMILY (doc_id % 100) with sample 0 replaced by (doc_id % 4)·64 —
    family members are near-identical (aehash hamming ≤ 1, only the
    first window's energy moves), cross-family clips are effectively
    random."""
    import hashlib as _hl
    import struct as _st
    hdr = (b"RIFF" + _st.pack("<I", 36 + 256) + b"WAVEfmt "
           + _st.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
           + b"data" + _st.pack("<I", 256))
    out = []
    for i, _txt in _documents(sf_dir):
        fam = str(i % 100)
        body = b"".join(_hl.md5(f"{fam}-{j}".encode()).digest()
                        for j in range(16))
        out.append((i, hdr + bytes([(i % 4) * 64]) + body[1:]))
    return out


def golden_audio_neardup(sf_dir: str):
    """Mirror of q_audio_neardup: energy hash over the fabricated WAVs,
    then the pigeonhole banding (golden_image_neardup's candidate
    scheme) at max_hamming=2."""
    max_hamming = 2
    chunks = max_hamming + 1
    width = 64 // chunks
    hashes = {i: golden_audio_ehash(c) for i, c in audio_media(sf_dir)}
    chunk_map = {}
    for i, hv in hashes.items():
        for c in range(chunks):
            key = (c, (hv >> (c * width)) & ((1 << width) - 1))
            chunk_map.setdefault(key, []).append(i)
    cands = set()
    for ids_ in chunk_map.values():
        ids_ = sorted(ids_)
        for ai in range(len(ids_)):
            for bi in range(ai + 1, len(ids_)):
                cands.add((ids_[ai], ids_[bi]))
    out = []
    for a, b in sorted(cands):
        ham = bin(hashes[a] ^ hashes[b]).count("1")
        if ham <= max_hamming:
            out.append((a, b, ham))
    return out, ["id_a", "id_b", "hamming"]


def golden_checker(golden_fn):
    """Lift a golden (sf_dir → (rows, cols)) into the checker signature
    (sf_dir, rows, cols → error | None)."""
    def check(sf_dir, rows, cols):
        grows, gcols = golden_fn(sf_dir)
        return compare_rows(rows, cols, grows, gcols)
    return check


def check_hll_distinct(sf_dir: str, rows, cols):
    """q_hll_distinct checker: Spark's HLL++ estimate must fall within
    5× the requested rsd (0.01) of the EXACT per-group distinct count —
    reimplementing HLL++ bit-for-bit is out of scope; the accuracy bound
    IS the operator's contract."""
    import duckdb
    exact = dict(duckdb.sql(
        f"SELECT l_returnflag, count(DISTINCT l_partkey) "
        f"FROM '{sf_dir}/lineitem.parquet' GROUP BY l_returnflag").fetchall())
    idx = {c: i for i, c in enumerate(cols)}
    if set(idx) != {"l_returnflag", "approx_parts"}:
        return f"unexpected columns {cols}"
    seen = set()
    for r in rows:
        flag, approx = r[idx["l_returnflag"]], r[idx["approx_parts"]]
        if flag not in exact:
            return f"unexpected group {flag!r}"
        seen.add(flag)
        true = exact[flag]
        if abs(approx - true) > max(5 * 0.01 * true, 1):
            return (f"group {flag!r}: estimate {approx} outside 5*rsd of "
                    f"exact {true}")
    missing = set(exact) - seen
    return f"missing groups {missing}" if missing else None
