"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k — exact, one broadcast of the query set,
no shuffle of the corpus (the scan streams; per-row dot products are
JVM-side higher-order functions). Scale path: LSH bucketing (random
hyperplanes) so each query only meets its bucket's candidates, turning
all-pairs O(N·Q) into O(candidates).

At 100 TB / 1e10 vectors: brute force is the per-bucket verifier, LSH (or an
IVF coarse quantizer — same plan shape: assign → co-partition → local top-k)
is the pruner. Both live here with the same output contract.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from scalding_spark.session import _arrow_frame


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, left-to-right (deterministic)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))


def _normalized(vec_col: str) -> Column:
    """L2-normalized ``vec_col``; a zero vector normalizes to zeros."""
    v, nrm = F.col(vec_col), _norm(F.col(vec_col))
    return F.when(nrm > 0, F.transform(v, lambda x: x.cast("double") / nrm)) \
        .otherwise(F.transform(v, lambda x: F.lit(0.0)))


def cosine(a: Column, b: Column) -> Column:
    """NULL when either operand has zero norm (a zero vector has no
    direction): try_divide, not `/` — under ANSI mode a plain division
    raises DIVIDE_BY_ZERO, so ONE zero vector anywhere in a 100 TB corpus
    would kill the whole job. NULL also matches DuckDB's x/0.0, and both
    engines sort NULLS LAST under DESC, so zero-norm rows fall out of
    top-k cuts identically on both sides."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _greedy_smaller_id_hits(barr, thr: float) -> list:
    """Ids whose vector is vetted by a SMALLER-id vector in ``barr``
    (list of (id, vector)) at exact-fold dot ≥ ``thr`` — the greedy-by-id
    drop rule shared by semantic_dedup's within-cell pass and
    stream_ingest_semantic's within-batch pass.

    Blocked numpy matmul (1024-row blocks bound the dot matrix at
    ~160 MB for even a 20k-vector group) with the two-phase exactness
    contract: dots clear of ``thr`` by ±1e-9 decide directly (float64
    matmul error ≲1e-13 on unit vectors), pairs inside the band are
    re-decided by the exact sequential fold ``_dot`` computes
    (per-element double multiply, left-to-right double adds) — so the
    returned ids are bit-identical to the Column-expression form. Id
    comparison is python ``<``: identical to Spark's ordering for
    integral and string ids (UTF-8 byte order == code-point order).
    Assumes fixed-dim vectors (the kmeans/SemDeDup contract).

    NULL ids violate the non-null-id contract and raise a descriptive
    error up front (ADVICE r08 #4): the replaced Column rule
    ``r.id < l.id`` silently never paired NULL ids, but here a None
    would surface as an opaque ``sorted()`` TypeError / numpy dtype
    mishap deep in the kernel — contract violations should fail loudly
    at the boundary instead."""
    import numpy as np
    n = len(barr)
    if any(b[0] is None for b in barr):
        raise ValueError(
            "_greedy_smaller_id_hits: NULL id in the group — the "
            "SemDeDup/stream-semantic contract requires non-null ids "
            "(the greedy drop rule orders by id value); filter NULL-id "
            "rows upstream")
    order = sorted(range(n), key=lambda k: barr[k][0])
    mat = np.asarray([barr[k][1] for k in order], dtype=np.float64)
    ids = np.asarray([barr[k][0] for k in order])
    eps = 1e-9
    hit = np.zeros(n, dtype=bool)
    B = 1024
    for j0 in range(0, n, B):
        j1 = min(j0 + B, n)
        dots = mat[j0:j1] @ mat.T  # (block of smaller-id side) × all
        # strict id-VALUE comparison, not sorted position: duplicate ids
        # must never pair (the Column rule is r.id < l.id)
        upper = ids[j0:j1, None] < ids[None, :]
        hit |= ((dots >= thr + eps) & upper).any(axis=0)
        for r, c in np.argwhere((dots >= thr - eps) & (dots < thr + eps)
                                & upper):
            if not hit[c]:
                sv, bv = mat[j0 + r], mat[c]
                acc = 0.0
                for k in range(len(bv)):
                    acc += float(sv[k]) * float(bv[k])
                if acc >= thr:
                    hit[c] = True
    return [barr[order[i]][0] for i in range(n) if hit[i]]


def _drop_null_vecs(df: DataFrame, vec_col: str) -> DataFrame:
    """Rows with a NULL vector (a missing embedding) are EXCLUDED from
    similarity search — they have no position in the space, can never
    clear a threshold or fill a top-k slot, and DuckDB's
    list_inner_product hard-errors on them (fuzz-axis finding). Same
    contract as tokenless docs in minhash_signatures. Dedup-style
    consumers (semantic_dedup) still KEEP such rows in their output:
    a missing vector duplicates nothing."""
    return df.where(F.col(vec_col).isNotNull())


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Each query's ``k`` best rows of ``scored`` (query_id, neighbor_id,
    cosine): cosine DESC, ties to the smaller neighbor_id."""
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (scored.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k).drop("__rn"))


def _no_pairs(df: DataFrame, id_col: str, a: str, b: str) -> DataFrame:
    """The empty (a, b, cosine) result, ids typed like ``df[id_col]``:
    an empty or all-NULL-vector corpus yields no pairs, not an error."""
    return (df.select(F.col(id_col).alias(a), F.col(id_col).alias(b),
                      F.lit(None).cast("double").alias("cosine"))
            .where(F.lit(False)))


def cosine_topk_bruteforce(corpus: DataFrame, queries: DataFrame, k: int = 10,
                           id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Plan: broadcast the (small) query set → crossJoin streams the corpus once
    with zero shuffle → window top-k per query (the only exchange, keyed by
    query id). Self-matches excluded. Returns (query_id, neighbor_id, cosine).
    NULL vectors on either side are excluded (:func:`_drop_null_vecs`).
    """
    corpus = _drop_null_vecs(corpus, vec_col)
    queries = _drop_null_vecs(queries, vec_col)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (c.crossJoin(F.broadcast(q))
              .where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine")))
    return _top_k(scored, k)


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH (driver-side, tiny)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit b = sign(vec · plane_b). Expression-only —
    the planes are literal arrays folded into the plan (broadcast by value)."""
    bucket = F.lit(0).cast("bigint")
    for b, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        bit = F.when(_dot(vec, p) > 0,
                     F.lit(1 << b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        bucket = bucket.bitwiseOR(bit)
    return bucket


def cosine_topk_lsh(corpus: DataFrame, queries: DataFrame, k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    dim: int | None = None, n_planes: int = 8,
                    n_tables: int = 4, seed: int = 42) -> DataFrame:
    """Approximate top-k cosine: multi-table sign-LSH candidate generation +
    exact re-rank within buckets.

    Plan: each side computes ``n_tables`` bucket ids (pure expressions) →
    explode → equi-join on (table, bucket) — corpus rows only meet queries
    landing in the same bucket → exact cosine on candidates → window top-k.
    The join key is 12 bytes; the corpus shuffles once on bucket ids (or not
    at all when the query side is broadcast, the common case)."""
    corpus = _drop_null_vecs(corpus, vec_col)
    queries = _drop_null_vecs(queries, vec_col)
    if dim is None:
        first = corpus.select(F.size(vec_col)).first()
        if first is None:
            # empty / all-NULL-vector corpus: no hyperplanes can be sized —
            # an empty result, not a crash
            return _no_pairs(queries, id_col, "query_id", "neighbor_id")
        dim = first[0]
    tables = [random_hyperplanes(dim, n_planes, seed + t * 1000) for t in range(n_tables)]

    def with_buckets(df: DataFrame, idc: str, vecc: str, id_out: str, vec_out: str) -> DataFrame:
        buckets = F.array(*[
            F.struct(F.lit(t).alias("t"), lsh_bucket(F.col(vecc), tables[t]).alias("b"))
            for t in range(len(tables))])
        return df.select(F.col(idc).alias(id_out), F.col(vecc).alias(vec_out),
                         F.explode(buckets).alias("bk"))

    cb = with_buckets(corpus, id_col, vec_col, "neighbor_id", "c_vec")
    qb = with_buckets(queries, id_col, vec_col, "query_id", "q_vec")
    # Score FIRST (map-side, vectors never leave the scan task), then dedup
    # multi-table duplicates with a groupBy on the id pair — cosine is
    # deterministic per pair so max() == any(). The dedup exchange carries
    # (query_id, neighbor_id, double): at 1e10×768-d a distinct over rows
    # still holding q_vec/c_vec would ship the full embeddings and BE the
    # job; this shuffles 24 bytes a row. Re-scoring a pair that collides in
    # k>1 tables costs k-1 extra dot products, cheap next to any exchange.
    scored = (cb.join(F.broadcast(qb), on=[cb.bk == qb.bk])
              .where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine"))
              .groupBy("query_id", "neighbor_id")
              .agg(F.max("cosine").alias("cosine")))
    return _top_k(scored, k)


def ivf_centroids(corpus: DataFrame, n_cells: int = 16,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  seed: int = 42) -> list[list[float]]:
    """Deterministic IVF coarse quantizer: pick ``n_cells`` corpus vectors by
    seeded hash as centroids (a k-means init without the iterations — cell
    QUALITY only affects recall/speed, never correctness, since the verify
    step is exact). Driver-side list, tiny (n_cells × dim floats)."""
    corpus = _drop_null_vecs(corpus, vec_col)
    rows = (corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
            .withColumn("__h", F.xxhash64(F.col("id"), F.lit(seed)))
            .orderBy("__h").limit(n_cells).collect())
    return [[float(x) for x in r.v] for r in rows]


def _nearest_cell(vec: Column, centroids: list[list[float]], n_probe: int = 1) -> Column:
    """Array of the ``n_probe`` nearest centroid ids by dot product —
    centroids are plan literals, so assignment is pure expression."""
    scored = F.array(*[
        F.struct(_dot(vec, F.array(*[F.lit(x) for x in c])).alias("score"),
                 F.lit(i).alias("cell"))
        for i, c in enumerate(centroids)])
    top = F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
    return F.transform(top, lambda s: s["cell"])


def cosine_topk_ivf(corpus: DataFrame, queries: DataFrame, k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    n_cells: int = 16, n_probe: int = 4,
                    seed: int = 42, train_iters: int = 0) -> DataFrame:
    """IVF approximate top-k: assign corpus vectors to their nearest coarse
    cell (1 cell each); queries probe their ``n_probe`` nearest cells; exact
    cosine re-rank inside the probed cells.

    Same plan shape as the LSH variant — assign (map-only expression) →
    equi-join on cell id → window top-k — so the 100 TB path is identical:
    the corpus shuffles once on an int key (or not at all when queries are
    broadcast). Recall scales with n_probe/n_cells; correctness of returned
    scores is exact.

    ``train_iters > 0`` refines the seeded-sample quantizer with that many
    Lloyd's iterations (:func:`kmeans`) — balanced cells raise recall at
    the same n_probe and cap the worst cell's re-rank fan-in. Production
    trains once offline and reuses centroids; 0 keeps the zero-training
    hash-sample init."""
    corpus = _drop_null_vecs(corpus, vec_col)
    queries = _drop_null_vecs(queries, vec_col)
    if train_iters > 0:
        _, centroids = kmeans(corpus, k=n_cells, max_iter=train_iters,
                              id_col=id_col, vec_col=vec_col, seed=seed)
    else:
        centroids = ivf_centroids(corpus, n_cells, id_col, vec_col, seed)
    if not centroids:
        # empty corpus: no cells exist to probe — an empty result, not an
        # analysis error (F.array() of zero centroid structs types as VOID
        # and the cell extraction would fail at plan build)
        return _no_pairs(queries, id_col, "query_id", "neighbor_id")
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"),
        F.element_at(_nearest_cell(F.col(vec_col), centroids, 1), 1).alias("cell"))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
        F.explode(_nearest_cell(F.col(vec_col), centroids, n_probe)).alias("cell"))
    scored = (c.join(F.broadcast(q), on="cell")
              .where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine")))
    return _top_k(scored, k)


def embedding_near_dup_exact(df: DataFrame, threshold: float = 0.95,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Exact all-pairs near-dup baseline — the truth set the LSH variant's
    recall is measured against. O(n²) by construction: use it on modest
    corpora (recall evaluation, small dims); embedding_near_dup_pairs is the
    100 TB path. Returns (id_a, id_b, cosine), id_a < id_b."""
    df = _drop_null_vecs(df, vec_col)
    l = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    r = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = l.join(r, F.col("id_a") < F.col("id_b"))
    return (pairs.select("id_a", "id_b",
                         cosine(F.col("va"), F.col("vb")).alias("cosine"))
            .where(F.col("cosine") >= threshold))


def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.95,
                             id_col: str = "vec_id", vec_col: str = "embedding",
                             n_planes: int = 10, n_tables: int = 4,
                             seed: int = 42, dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup tier 5): LSH-bucketed
    self-join + exact cosine ≥ threshold. Same plan shape as cosine_topk_lsh
    with both sides the corpus. Returns (id_a, id_b, cosine), id_a < id_b."""
    df = _drop_null_vecs(df, vec_col)
    if dim is None:
        first = df.select(F.size(vec_col)).first()
        if first is None:
            # empty / all-NULL-vector corpus (see cosine_topk_lsh)
            return _no_pairs(df, id_col, "id_a", "id_b")
        dim = first[0]
    tables = [random_hyperplanes(dim, n_planes, seed + t * 1000) for t in range(n_tables)]
    buckets = F.array(*[
        F.struct(F.lit(t).alias("t"), lsh_bucket(F.col(vec_col), tables[t]).alias("b"))
        for t in range(len(tables))])
    e = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
                  F.explode(buckets).alias("bk"))
    l, r = e.alias("l"), e.alias("r")
    # Score + threshold BEFORE the dedup so the only exchange after the
    # bucket join carries (id_a, id_b, cosine) — never the vectors (see
    # cosine_topk_lsh). The filter also shrinks the dedup input to the rare
    # above-threshold pairs.
    return (l.join(r, (F.col("l.bk") == F.col("r.bk")) & (F.col("l.id") < F.col("r.id")))
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
                    cosine(F.col("l.vec"), F.col("r.vec")).alias("cosine"))
            .where(F.col("cosine") >= threshold)
            .groupBy("id_a", "id_b")
            .agg(F.max("cosine").alias("cosine")))


def _nearest_centroid_l2(vec: Column, centroids: list[list[float]]) -> Column:
    """Argmin-by-squared-L2 centroid id as a pure expression — the k
    centroid distances unroll into generated code, so assignment fuses into
    the scan (map-only, no UDF, no shuffle)."""
    scored = F.array(*[
        F.struct(
            F.aggregate(
                F.zip_with(vec, F.array(*[F.lit(float(x)) for x in c]),
                           lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
                F.lit(0.0), lambda acc, x: acc + x).alias("d2"),
            F.lit(i).alias("cell"))
        for i, c in enumerate(centroids)])
    return F.array_min(scored)["cell"]


def _fresh_name(base: str, df: DataFrame, *more_taken: str) -> str:
    """``base`` if it is free on ``df`` (and not among ``more_taken``),
    else the first free ``base_<i>`` — internal working columns must
    never collide with a user frame that already happens to carry the
    name (duplicate/ambiguous column errors, or a silently wrong filter
    reading the user's column; ADVICE r07 #4)."""
    taken = set(df.columns) | set(more_taken)
    if base not in taken:
        return base
    i = 0
    while f"{base}_{i}" in taken:
        i += 1
    return f"{base}_{i}"


def _nearest_cells(X, C):
    """Argmin-by-squared-L2 cell of each row of ``X`` (n × dim float64)
    against centroids ``C`` (k × dim float64, k ≥ 1): the one assign
    kernel, run by both :func:`_assign_cells_bcast` and the Lloyd round
    pass :func:`_cell_sums`, so a round and the final assignment decide
    every row identically. Same argmin as :func:`_nearest_centroid_l2`
    (ties → lowest cell index, bit-for-bit — pinned by
    test_kmeans_bcast_assignment_matches_literal), done as blocked numpy
    matmuls (dense all-pairs distance is the Arrow+BLAS shape,
    SCALING.md; 2048-row blocks bound the distance block).

    EXACTNESS: the expansion-form distances decide only when clear of
    the minimum by a band scaled to the ROW'S MAGNITUDE —
    ``1e-6 · max(1, ‖x‖² + max_c ‖c‖²)`` — because expansion-form
    cancellation error grows with the operand magnitudes
    (≈ dim·1e-16·(‖x‖²+‖c‖²): an ABSOLUTE 1e-6 band silently under-covers
    unnormalized vectors with norms ≳1e3 at high dim, and kmeans is
    public API over arbitrary vectors, not just unit embeddings —
    ADVICE r08 #1). Rows whose candidate set within the band exceeds
    one — or contains non-finite distances — are re-decided per centroid
    by the exact sequential fold the Column expression computes
    (per-element double subtract/square, left-to-right adds, Spark's
    NaN-is-greatest min and first-match equality), so the assigned cell
    is bit-identical to the literal form (a wider band only routes MORE
    rows through the exact fold — it can never flip a decision)."""
    import numpy as np
    c2 = (C * C).sum(axis=1)
    cl = C.tolist()
    eps = 1e-6

    def exact_cell(a):
        ds = []
        for c in cl:
            acc = 0.0
            for i in range(len(c)):
                d = float(a[i]) - c[i]
                acc += d * d
            ds.append(acc)
        best = min(ds, key=lambda d: (math.isnan(d), d))
        return next(i for i, d in enumerate(ds) if d == best
                    or (math.isnan(d) and math.isnan(best)))

    cells = np.empty(len(X), dtype=np.int64)
    B = 2048
    for b0 in range(0, len(X), B):
        Xb = X[b0:b0 + B]
        x2 = (Xb * Xb).sum(axis=1)
        D = x2[:, None] + c2[None, :] - 2.0 * (Xb @ C.T)
        # per-row band: relative to the distance magnitudes in play
        # (‖x‖²+max‖c‖²), floored at the old absolute 1e-6 so
        # unit-embedding behavior is unchanged (ADVICE r08 #1)
        with np.errstate(invalid="ignore"):
            band = eps * np.maximum(1.0, x2 + c2.max())
            m = np.nanmin(D, axis=1)
            cand = D <= (m + 2 * band)[:, None]
        clear = (cand.sum(axis=1) == 1) & np.isfinite(D).all(axis=1)
        cells[b0:b0 + B] = cand.argmax(axis=1)
        for j in np.flatnonzero(~clear):
            cells[b0 + j] = exact_cell(Xb[j])
    return cells


def _assign_cells_bcast(src: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Nearest-centroid cell of every row: :func:`_nearest_cells` in ONE
    Arrow-batched ``mapInPandas`` pass, the centroids travelling as DATA
    in the task closure (k·dim·8 bytes per task). No generated code, so
    k·dim has no codegen ceiling, and MapInPandas adds no exchange
    (plan-pinned). Expects ``src`` with columns (id, v); returns
    (id, v, cell). NULL vectors (contract: dropped upstream by
    ``_drop_null_vecs``) pass through with cell NULL.
    """
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    if not cents:
        # no centroids → no nearest cell (the literal form's array_min
        # over an empty array is NULL); empty-corpus kmeans hits this
        return src.withColumn("cell", F.lit(None).cast("int"))
    C = np.asarray(cents, dtype=np.float64)

    def assign(batches):
        import pandas as pd
        for pdf in batches:
            ok = pdf["v"].notna().to_numpy()
            cells = np.zeros(len(pdf), dtype=np.int32)
            if ok.any():
                cells[ok] = _nearest_cells(np.asarray(
                    pdf["v"][ok].tolist(), dtype=np.float64), C)
            yield pdf.assign(cell=pd.arrays.IntegerArray(cells, ~ok))

    return src.mapInPandas(assign, StructType(
        list(src.schema.fields) + [StructField("cell", IntegerType())]))


def _cell_sums(src: DataFrame, cents: list[list[float]]) -> DataFrame:
    """One Lloyd round, map-side: each partition assigns its rows of
    ``src`` (non-null ``v``) with :func:`_nearest_cells`, then sums vectors
    and counts rows per cell in row order — at most k rows (cell, n, s)
    per partition, no exchange (Scalding's map-side SummingCache)."""
    import numpy as np
    C = np.asarray(cents, dtype=np.float64)

    def sums(batches):
        import pandas as pd
        S, N = np.zeros_like(C), np.zeros(len(C), dtype=np.int64)
        for pdf in batches:
            if len(pdf):
                X = np.asarray(pdf["v"].tolist(), dtype=np.float64)
                cells = _nearest_cells(X, C)
                np.add.at(S, cells, X)  # unbuffered: row order per cell
                N += np.bincount(cells, minlength=len(C))
        nz = np.flatnonzero(N)
        if len(nz):  # an empty list column has no Arrow list type
            yield pd.DataFrame({"cell": nz.astype(np.int32), "n": N[nz],
                                "s": list(S[nz])})

    return src.select("v").mapInPandas(
        sums, "cell int, n long, s array<double>")


def kmeans(corpus: DataFrame, k: int = 8, max_iter: int = 10,
           id_col: str = "vec_id", vec_col: str = "embedding",
           seed: int = 42, tol: float = 1e-4,
           stats: dict | None = None) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's k-means over an embedding column, Spark-first.

    One round is one map-only pass, :func:`_cell_sums`: every task
    assigns its rows with the one assign kernel (:func:`_nearest_cells`,
    centroids as task-closure data) and sums vectors and counts per cell
    in numpy. The driver collects at most k rows per partition — never
    vectors, never a shuffle — adds them and divides. The final
    assignment (:func:`_assign_cells_bcast`) runs the same kernel.

    Convergence: max centroid shift (L∞ over all coordinates) < ``tol``.
    Empty cells keep their previous centroid. Init picks corpus vectors
    by seeded-hash order (:func:`ivf_centroids`). Each partition sums its
    rows in row order and the driver adds the partition sums in
    partition-index order, so the centroids depend on the partitioning
    by an ulp (one partition reproduces ``py_reference.kmeans``'s
    sequential sums bit-for-bit); assignments do not — compare centroids
    with a tolerance, not ``==``.

    Returns (assignments DataFrame (id, cell), final centroids).
    ``stats``: ``iterations`` (rounds run), ``update_rows`` (rows collected).
    """
    import numpy as np
    cents = ivf_centroids(corpus, k, id_col=id_col, vec_col=vec_col, seed=seed)
    # null-vector rows have no position in the space: no assignment row
    # (semantic_dedup's anti-join therefore always KEEPS them)
    src = _drop_null_vecs(corpus, vec_col) \
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # iterative-read amortization: every round scans the corpus once
    # (and once more for the final assignment) — persist so 10
    # iterations cost one read, not ten; unpersisted before returning
    # (the returned assignment plan re-reads the source lineage lazily).
    # The iteration table's partition count is sized to the DATA, not the
    # cluster default: every round schedules one task per partition, so a
    # tiny corpus in 32 partitions pays 32× the scheduling overhead per
    # round for nothing (measured 1.2 s/round on 2k vectors, overhead-
    # bound).
    from pyspark import StorageLevel
    cached = src.persist(StorageLevel.MEMORY_AND_DISK)
    n_rows = cached.count()  # materializes the cache (no extra lineage pass)
    parts = cached.rdd.getNumPartitions()
    # Task sizing by WORK, not rows: each round's per-row assignment cost
    # is k·dim (argmin over all centroids), so the unit is row×centroid
    # products, ~100k per task. The r05 row-count formula (50k rows/task)
    # missed the k factor: at sf1 auto-k (20k rows × k=134, a single 10 MB
    # input partition) it funneled 17 B fused ops through ONE task while
    # 31 cores idled — measured 259 s → 30 s for q_semantic_dedup_auto.
    # Repartition UP only when a partition holds >100k products (>~0.5 s
    # of compute — the shuffle of those same small rows is cheaper than
    # the idle imbalance); at real scale the input's own partition count
    # exceeds the formula and this stays a narrow coalesce or a no-op.
    k_eff = max(len(cents), 1)
    target = max(1, min(src.sparkSession.sparkContext.defaultParallelism,
                        (n_rows * k_eff + 99_999) // 100_000))
    if target < parts:
        # narrow coalesce OVER the cached relation: rounds read the same
        # cached blocks through fewer tasks — no recompute, no shuffle
        src = cached.coalesce(target)
    elif target > parts:
        # shuffle once, into a cache of its own — not once per round
        src = cached.repartition(target).persist(StorageLevel.MEMORY_AND_DISK)
    else:
        src = cached
    iters = updates = 0
    try:
        for _ in range(max_iter):
            iters += 1
            S, N = np.zeros(np.shape(cents)), np.zeros(len(cents), dtype=int)
            rows = _cell_sums(src, cents).collect()  # partition order
            updates += len(rows)
            for r in rows:
                S[r.cell] += r.s
                N[r.cell] += r.n
            # empty cells keep their position
            new_cents = [(S[i] / N[i]).tolist() if N[i] else c
                         for i, c in enumerate(cents)]
            shift = max((abs(a - b)
                         for row_a, row_b in zip(cents, new_cents)
                         for a, b in zip(row_a, row_b)), default=0.0)
            cents = new_cents
            if shift < tol:
                break
    finally:
        # no storage leak — even when an iteration throws: the returned
        # plan recomputes src lazily (one ordinary map-only corpus read
        # when the caller materializes it)
        src.unpersist()
        cached.unpersist()
    if stats is not None:
        stats["iterations"] = iters
        stats["update_rows"] = updates
    out = _assign_cells_bcast(src, cents).select("id", "cell")
    return out, cents


def semantic_dedup(df: DataFrame, threshold: float = 0.95,
                   k: int | None = None,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   max_iter: int = 10, seed: int = 42,
                   target_cell_size: int = 1500,
                   centroids: list[list[float]] | None = None,
                   stats: dict | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings, then within each
    cluster drop every vector whose cosine similarity to a SMALLER-id
    vector in the same cluster is ≥ ``threshold``. Returns the kept rows
    of ``df`` (all original columns).

    Drop rule: greedy-by-id — a vector is dropped if ANY smaller-id
    within-cluster neighbor clears the threshold (whether or not that
    neighbor itself survives). Deterministic, one pass; on similarity
    CHAINS (a~b, b~c, a≁c) it over-drops relative to keeping one doc per
    connected component — the same conservative contract as the MinHash
    loser-dropping tier. Use dedup.dedup_clusters over the pair list when
    component-exact semantics matter.

    Scale: clustering bounds the quadratic — the within-cell pair pass
    runs per cell as ONE ``applyInPandas`` group (Σ n_c²·dim blocked-BLAS
    work behind a single exchange on cell), so ``k`` is the knob that
    caps cell sizes; only loser ids cross the post-pass exchange, never
    vectors. MEMORY BOUND (r08 plan change, ADVICE r08 #2): each cell
    materializes in one task as a pandas group — n_c·dim·8 bytes of
    vectors plus the kernel's ~1024·n_c·8-byte dot block — unlike the
    streamed cell self-join it replaced, which bounded memory per PAIR.
    With auto-k (the default) cells average ``target_cell_size`` and a
    1500×64 cell is <1 MB; with a USER-PINNED small k over skewed data a
    hot cell must fit in a single task's heap — raise k, switch to
    auto-k, or pass pre-trained ``centroids`` if a cell outgrows
    executor memory (the same worst-case-cell caveat as below, now with
    a concrete per-task bound). Assignment inherits kmeans's map-only
    broadcast-centroid contract. Near-cell-boundary pairs that land in
    different cells are missed by design (SemDeDup's documented recall
    trade).

    ``k=None`` (the default) derives k = ceil(n / target_cell_size) from
    one column-pruned count of the non-null vectors, so the within-cell
    quadratic stays ~target_cell_size² per cell AS THE CORPUS GROWS —
    without the lever, a pinned k makes total work n²/k (the measured 19×
    at 10× data in SCALING.md); with it, the PAIR stage is
    n·target_cell_size. The counterweight is assignment: Lloyd's argmin
    costs n·k·dim per iteration = n²·dim/target, so target_cell_size
    balances the two stages — pairs dominate below
    n ≈ target²/max_iter (≈225k vectors at the 1500 default), assignment
    above; past that, RAISE target (cost is ~linear in 1/target on one
    side and linear in target on the other, total minimized at
    t ≈ sqrt(max_iter·n)), or train the quantizer on a sample offline
    (the production pattern — SemDeDup's published runs use a faiss
    quantizer, not in-loop Lloyd). Average cell size is bounded by
    construction; worst-case cells track the data's cluster structure
    (SemDeDup's own contract). Pass an explicit ``k`` to reproduce the
    paper's fixed-k setup (the bench and parity queries pin it).

    ``centroids``: a pre-trained quantizer (e.g. :func:`kmeans` run once
    offline, or on a sample). Skips Lloyd's entirely — assignment against
    FIXED centroids is one map-only broadcast pass over the corpus, which
    removes the n²·dim/target in-loop training term and is the published
    SemDeDup deployment shape. Overrides ``k``/``target_cell_size``.

    ``stats``: forwarded to :func:`kmeans` (reports ``iterations``);
    also records the ``k`` used (``stats['k']``).
    """
    src = _drop_null_vecs(df, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if centroids is not None:
        cents = [list(map(float, c)) for c in centroids]
        if stats is not None:
            stats["k"] = len(centroids)
            stats["iterations"] = 0
    else:
        if k is None:
            n = df.where(F.col(vec_col).isNotNull()).count()
            k = max(1, -(-n // int(target_cell_size)))
        if stats is not None:
            stats["k"] = k
        # cents only: kmeans's returned assignment frame is a LAZY plan
        # we never execute — re-assigning below against the final
        # centroids yields bit-identical cells (the band + exact-fold
        # kernel is partition-layout-free, pinned by
        # test_kmeans_bcast_assignment_matches_literal) while letting
        # the pair stage ride ONE corpus pass (see below).
        _, cents = kmeans(df, k=k, max_iter=max_iter, id_col=id_col,
                          vec_col=vec_col, seed=seed, stats=stats)
    # ONE map-only pass carries (id, v, cell) straight into the pair
    # stage (r11): assignment already holds the vectors, so re-scanning
    # the corpus for them and id-joining the two frames back together —
    # the pre-r11 shape — paid a second corpus scan plus a vector-
    # carrying join exchange for data the pass had in hand (executed
    # sf0.1 plan: 3 corpus scans → 2 and the id-join gone; the
    # remaining two are this pass and the left_anti base over df).
    assigned = _assign_cells_bcast(src, cents)
    # pre-normalize ONCE per row (cosine inside the pair join would
    # recompute BOTH norms per PAIR — 3x the quadratic-stage flops); a
    # zero vector normalizes to zeros, so its dot with anything is 0 and
    # it is never dropped (same contract as cosine's undefined-is-false)
    e = assigned.select("id", _normalized("v").alias("vec"), "cell")
    # within-cell pass (r08 — replaced the cell self-join + per-pair HOF
    # _dot, which ground at ~40M multiply-adds/s and made the pair stage
    # the sf1 cost center at pinned k: Σ n_c²·dim fused-lambda ops): ONE
    # exchange on cell ships (id, vecn) to applyInPandas, where the
    # Σ n_c²·dim work runs as blocked numpy matmuls at BLAS speed with
    # the same kept-set BIT-FOR-BIT (_greedy_smaller_id_hits' ±1e-9
    # boundary band re-decides via the exact _dot fold — the py_reference
    # goldens pin this). vs the old plan this also HALVES the exchanged
    # bytes (one vector table crosses, not two join sides) and drops the
    # eager localCheckpoint (e now has exactly one consumer, so the
    # 3x-assignment-recompute hazard it guarded is gone). Loser ids are
    # unique by construction (cells partition rows) — no distinct needed;
    # only ids cross the post-pass exchange, never vectors.
    from pyspark.sql.types import StructField, StructType
    thr = float(threshold)
    out_schema = StructType([StructField(id_col, e.schema["id"].dataType)])

    def _cell_losers(pdf):
        import pandas as pd
        barr = list(zip(pdf["id"].tolist(), pdf["vec"].tolist()))
        return pd.DataFrame({id_col: _greedy_smaller_id_hits(barr, thr)})

    # NULL cells never reach the kernel (ADVICE r08 #4): unreachable
    # under the documented contracts (assignment only emits NULL for
    # NULL vectors, which _drop_null_vecs removed; an EMPTY centroids=[]
    # makes every cell NULL), but groupBy('cell') would hand them one
    # unbounded all-pairs group where the old equi-join excluded them —
    # an unassigned row duplicates nothing, same as a NULL-vector row.
    losers = (e.where(F.col("cell").isNotNull())
              .groupBy("cell").applyInPandas(_cell_losers, out_schema))
    return df.join(losers, id_col, "left_anti")


def semantic_decontaminate(corpus: DataFrame, benchmark: DataFrame,
                           threshold: float = 0.9,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           bench_vec_col: str | None = None,
                           stats: dict | None = None,
                           max_benchmark: int = 200_000) -> DataFrame:
    """Semantic benchmark decontamination: drop corpus rows whose embedding
    has cosine ≥ ``threshold`` to ANY benchmark embedding — the embedding
    analog of dedup.decontaminate's n-gram overlap (paraphrased eval
    leakage that shares no 8-gram still lands nearby in embedding space).

    Plan, 100 TB-first: eval suites are small (thousands to ~1e5 vectors),
    so the benchmark side is pre-NORMALIZED and collected into ONE
    broadcast row — the same broadcast-data shape as kmeans assignment.
    The corpus then evaluates ``F.exists(bench_vecs, dot ≥ t)`` map-only
    in the scan stage: no corpus shuffle, no explode, no join exchange at
    all; the output is a filter over the original frame. (For benchmark
    sides too big to broadcast, cluster them first and decontaminate per
    centroid-bucket — the semantic_dedup(centroids=...) shape.)

    Contracts shared with the rest of the similarity family: NULL corpus
    vectors are KEPT (no position in space → cannot be vetted → caller's
    policy, same as semantic_dedup); zero vectors normalize to zeros, dot
    0, kept for any threshold > 0; NULL/zero benchmark vectors are
    dropped from the broadcast (they match nothing).

    ``stats['n_benchmark']`` reports the broadcast row count.

    ``max_benchmark``: CIRCUIT BREAKER (the fuzzy_join max_candidates
    contract). The benchmark's vectors are collected to the driver and
    broadcast; a caller passing a million-row "benchmark" should get a
    descriptive error, not a driver OOM. The count costs one action over
    the (small) benchmark frame before the collect; raise the cap
    deliberately if your driver/executors have the memory, or cluster
    the benchmark and decontaminate per centroid-bucket instead.
    """
    bcol = bench_vec_col or vec_col
    bench_nonnull = _drop_null_vecs(benchmark, bcol)
    n_bench = bench_nonnull.count()
    if n_bench > max_benchmark:
        raise ValueError(
            f"semantic_decontaminate benchmark has {n_bench} vectors, over "
            f"max_benchmark={max_benchmark} — the benchmark side is "
            f"collected and broadcast, so this would risk driver/executor "
            f"OOM; raise max_benchmark deliberately, or cluster the "
            f"benchmark (semantic_dedup(centroids=...)) and decontaminate "
            f"per centroid-bucket")
    rows = bench_nonnull.select(F.col(bcol).alias("v")).collect()
    bnorm = []
    for r in rows:
        v = [float(x) for x in r.v]
        acc = 0.0
        for x in v:
            acc += x * x
        nrm = math.sqrt(acc)
        if nrm > 0:
            bnorm.append([x / nrm for x in v])
    if stats is not None:
        stats["n_benchmark"] = len(bnorm)
    if not bnorm:
        return corpus
    spark = corpus.sparkSession
    bv = _fresh_name("__bvecs", corpus)
    vn = _fresh_name("__vecn", corpus, bv)
    bdf = _arrow_frame(spark, [[bnorm]], f"{bv}: array<array<double>>")
    # materialize the normalized vector as a COLUMN before the exists:
    # Catalyst does not common-subexpression across lambda boundaries, so
    # an inline normalization re-runs the norm + divide + array alloc once per
    # BENCHMARK element per row — measured 187 s → ~2 s at sf1
    # (20k×64 corpus, 541-vector benchmark). Bit-identical results.
    hit = F.exists(F.col(bv),
                   lambda b: _dot(F.col(vn), b)
                   >= F.lit(float(threshold)))
    return (corpus.withColumn(vn, _normalized(vec_col))
            .crossJoin(F.broadcast(bdf))
            .where(~F.coalesce(hit, F.lit(False)))
            .drop(bv, vn))
