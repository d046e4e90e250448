"""stream_ingest_semantic body — split out of __init__ for readability,
the _neardup.py convention."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F


def stream_ingest_semantic(stream_df: DataFrame, corpus_path: str,
                           store_path: str, checkpoint: str,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id",
                           threshold: float = 0.95,
                           max_batch: int = 20_000,
                           store_buckets: int | None = None,
                           compact_every_n_epochs: int | None = None,
                           probe_hamming: int = 1,
                           seed: int = 42,
                           store_dtype: str = "float64",
                           available_now: bool = True):
    """Streaming incremental SEMANTIC-dup ingestion — the embedding tier
    of the store-probe family (exact: :func:`stream_ingest_dedup`,
    MinHash: :func:`stream_ingest_neardup`): each micro-batch is
    cosine-checked against every document ever kept, using only a
    persistent store of NORMALIZED vectors (dim × 8 B/doc — the corpus
    payload never re-enters the stream).

    Per batch (foreachBatch):

    1. the batch's non-NULL, nonzero-norm vectors are normalized and
       collected into ONE broadcast row (micro-batches are small by
       construction; ``max_batch`` is the circuit breaker — same
       driver-OOM contract as semantic_decontaminate's max_benchmark);
    2. within-batch semantic dedup: a row is dropped when ANY smaller-id
       batch vector has cosine ≥ ``threshold`` — EXACT greedy-by-id
       (≡ ``similarity.semantic_dedup(k=1)``, no cell-boundary recall
       loss at micro-batch sizes), computed driver-side as one blocked
       numpy matmul over the collected vectors (r08 — replaced the
       broadcast-row ``F.exists`` HOF, whose per-element lambda cost
       made this tier throughput-flat; bit-identical results via the
       ±1e-9 boundary-band exact-fold contract, see
       :func:`similarity._greedy_smaller_id_hits`);
    3. vs the store: ONE Arrow-batched map-only pass over the store
       (``mapInPandas``: numpy matmul per store block — the dense
       all-pairs dot is the shape where Arrow+BLAS beats codegen'd HOFs
       10-100×, SCALING.md r08) computes which batch vectors some stored
       vector vets; the store is never shuffled and never collected —
       only matched batch IDS cross the exchange, ≡
       ``similarity.semantic_decontaminate(batch, stored)`` semantics;
    4. novel docs land in ``corpus_path``, their normalized vectors in
       ``store_path``; crash/replay semantics: see
       :func:`scalding_spark.streaming._epoch_ingest`.

    Contracts shared with the similarity family: NULL-vector docs are
    KEPT and never stored (no position in space → cannot be vetted, and
    can never vet others); zero vectors are kept for any threshold > 0
    and not stored (they match nothing).

    ``compact_every_n_epochs=N``: end-of-epoch store+corpus compaction
    every N epochs (see stream_ingest_dedup — same hook, same replay
    safety; the bucketed store's ``__bucket`` layout is preserved, so
    multi-probe pruning survives compaction).

    100 TB note — the ``store_buckets`` lever (r08, the upgrade the r07
    docstring promised): with ``store_buckets=None`` (default) the store
    probe is one map-only scan doing |store| × |batch| × dim multiplies
    — EXACT, fine until the store outgrows one scan per micro-batch.
    With ``store_buckets=b`` the store is written partitioned by a
    ``__bucket`` sign-LSH id (``b`` seeded Gaussian hyperplanes →
    2**b buckets, :func:`similarity.random_hyperplanes` — the same
    quantizer as cosine_topk_lsh) and each micro-batch pre-filters the
    store scan to the union of its vectors' buckets expanded to Hamming
    distance ≤ ``probe_hamming`` (multi-probe). The filter is a
    PARTITION filter — the scan skips pruned directories entirely — so
    per-batch cost drops to |store ∩ probed buckets| × |batch| × dim.
    The bucketed probe is APPROXIMATE: a true duplicate pair whose sign
    patterns differ in more than ``probe_hamming`` bits is missed (kept
    docs are a superset of the exact tier's; nothing novel is ever
    dropped). ``probe_hamming=store_buckets`` probes every bucket and
    restores exactness (the parity test's configuration). A store
    written under one layout cannot be reopened under the other — the
    mismatch raises rather than silently degrading.

    100 TB note — ``store_dtype`` (r10, VERDICT r09 #6): the store
    persists normalized vectors at dim × 8 B/doc by default
    (``"float64"``). Opt-in ``"float32"`` HALVES the store's bytes and
    therefore every later probe's scan I/O — at 100 TB the store scan
    is the semantic tier's recurring cost, the write is one-time.
    Tolerance contract (explicit, the VERDICT's condition): the probe
    decision becomes the cosine against the float32-ROUNDED stored
    vector — fully deterministic and replay-stable (the rounding
    happens once, at write), but relative to the float64 tier a pair
    whose true cosine lies within ~√dim · 2⁻²⁴ of the threshold
    (≈ 2e-6 at dim 1024) may decide differently; pairs outside that
    band decide identically, so the batch≡stream parity suite (margins
    ≫ 1e-5 by construction, like any real threshold choice) holds
    bit-for-bit under either dtype. The default stays float64 — narrow
    deliberately, not by default. A store written under one dtype
    cannot be reopened under the other (raises, like the bucket
    layout check — mixed-precision parquet fragments would corrupt the
    scan schema).
    """
    from scalding_spark.functions.similarity import (
        _drop_null_vecs, _greedy_smaller_id_hits, _normalized, lsh_bucket,
        random_hyperplanes)
    from scalding_spark.session import _arrow_frame
    from scalding_spark.streaming import _epoch_ingest
    thr = float(threshold)
    if store_buckets is not None and not 1 <= store_buckets <= 16:
        raise ValueError(
            f"store_buckets={store_buckets}: want 1..16 hyperplanes "
            f"(2..65536 store partitions)")
    if store_dtype not in ("float64", "float32"):
        raise ValueError(
            f"store_dtype={store_dtype!r}: want 'float64' (exact tier) "
            f"or 'float32' (half the store scan I/O; ~2e-6 cosine "
            f"tolerance band around the threshold)")
    # hyperplanes depend only on (seed, dim) — derived from the first
    # batch that carries vectors, deterministic across restarts
    planes: list = []

    def _planes_for(dim: int) -> list[list[float]]:
        if not planes:
            planes.append(random_hyperplanes(dim, store_buckets, seed))
        elif len(planes[0][0]) != dim:
            raise ValueError(
                f"embedding dim changed mid-stream: store buckets were "
                f"built for dim {len(planes[0][0])}, batch has {dim}")
        return planes[0]

    def vet(batch: DataFrame, read_store):
        batch = batch.dropDuplicates([id_col])
        # (r08: the probes run driver-side/numpy now — NO internal
        # columns are added to the user's frame, so the ADVICE r07 #4
        # collision class is gone by construction, not by renaming)
        valid = _drop_null_vecs(batch, vec_col)
        n = valid.count()
        if n > max_batch:
            raise ValueError(
                f"stream_ingest_semantic micro-batch has {n} vectors, over "
                f"max_batch={max_batch} — the batch side is collected and "
                f"broadcast for the within-batch and store probes; shrink "
                f"the trigger (maxFilesPerTrigger / smaller batch dirs) or "
                f"raise the cap deliberately")
        rows = valid.select(F.col(id_col).alias("i"),
                            F.col(vec_col).alias("v")).collect()
        barr = []
        for r in rows:
            v = [float(x) for x in r.v]
            nrm = math.sqrt(sum(x * x for x in v))
            if nrm > 0:
                barr.append((r.i, [x / nrm for x in v]))
        if barr and store_buckets is not None:
            _planes_for(len(barr[0][1]))  # size planes before any use
        if barr:
            # within-batch: greedy-by-id (drop i when ANY smaller-id batch
            # vector clears the threshold — ≡ semantic_dedup(k=1)),
            # computed DRIVER-SIDE: the normalized batch is already in
            # hand (it was collected for the store probe), so the n²·dim
            # all-pairs dot is one numpy matmul instead of the r07
            # crossJoin(broadcast row) + per-element HOF — same ±1e-9
            # boundary-band exact-fold contract as the store probe, and
            # the python normalization above IS Spark's _normalized
            # op-for-op (per-element double square, sequential left-fold
            # add, IEEE sqrt/divide), so kept ids are bit-identical to
            # the Column-expression form the parity tests compare against.
            dropped = _greedy_smaller_id_hits(barr, thr)
            if dropped:
                from pyspark.sql.types import StructField, StructType
                ddf = _arrow_frame(batch.sparkSession, [dropped], StructType(
                    [StructField(id_col, valid.schema[id_col].dataType)]))
                batch = batch.join(F.broadcast(ddf), id_col, "left_anti")
            # vs the store: map-only scan emitting matched batch ids only
            store = read_store()
            if store is not None:
                stored_elem = store.schema["vecn"].dataType.elementType \
                    .simpleString()
                want_elem = "double" if store_dtype == "float64" else "float"
                if stored_elem != want_elem:
                    raise ValueError(
                        f"store dtype mismatch at {store_path}: store "
                        f"holds array<{stored_elem}> vectors but "
                        f"store_dtype={store_dtype!r} — reopen with the "
                        f"dtype the store was written under (appending "
                        f"mixed-precision fragments would corrupt the "
                        f"scan schema)")
                has_buckets = "__bucket" in store.columns
                if (store_buckets is not None) != has_buckets:
                    raise ValueError(
                        f"store layout mismatch at {store_path}: store "
                        f"{'IS' if has_buckets else 'is NOT'} "
                        f"bucket-partitioned but store_buckets="
                        f"{store_buckets} — reopen with the layout the "
                        f"store was written under (silently "
                        f"{'ignoring' if has_buckets else 'fabricating'} "
                        f"buckets would corrupt dedup)")
                if store_buckets is not None:
                    # multi-probe partition pruning: only the batch's
                    # buckets (± probe_hamming bit flips) are scanned
                    pb = _probe_buckets(
                        [v for _, v in barr],
                        _planes_for(len(barr[0][1])), probe_hamming)
                    store = store.where(F.col("__bucket").isin(pb))
                dup_ids = _vectorized_store_probe(
                    store, barr, thr, id_col,
                    valid.schema[id_col].dataType)
                batch = batch.join(dup_ids, id_col, "left_anti")
        return batch, store_rows

    def store_rows(novel: DataFrame) -> DataFrame:
        vecn = _normalized(vec_col)
        if store_dtype == "float32":
            # narrow at WRITE time: the rounding happens exactly once,
            # so every later probe sees the same float32 values
            # regardless of replay/compaction (the tolerance contract
            # in the docstring)
            vecn = vecn.cast("array<float>")
        wdf = (_drop_null_vecs(novel, vec_col)
               .select(F.col(id_col).alias("id"), vecn.alias("vecn"))
               .where(F.exists(F.col("vecn"), lambda x: x != 0)))
        if store_buckets is None:
            return wdf
        # bucket on the NORMALIZED vector — same sign pattern as the
        # raw vector (positive scaling), same id the probe computes
        bexpr = (lsh_bucket(F.col("vecn"), planes[0]) if planes
                 else F.lit(0).cast("bigint"))  # empty write only
        return wdf.withColumn("__bucket", bexpr)

    return _epoch_ingest(stream_df, corpus_path, store_path, checkpoint,
                         vet, compact_every_n_epochs, available_now,
                         store_parts=() if store_buckets is None
                         else ("__bucket",))


def _vectorized_store_probe(store, barr, thr: float, id_col: str,
                            id_type):
    """Matched-batch-ids store probe as ONE Arrow-batched map-only pass:
    per store block, a numpy matmul (store_block × batchᵀ) marks every
    batch vector some stored vector vets at cosine ≥ ``thr``.

    This replaces the r07 HOF form (crossJoin(broadcast(batch row)) +
    F.exists of a zip_with/aggregate dot) which measured ~40M
    multiply-adds/s at sf1 — per-element lambda allocation made the
    semantic tier the only throughput-FLAT ingest tier (SCALING.md r08:
    22.3 s/micro-batch, |store|×|batch|×dim-bound). The dense all-pairs
    dot is exactly the shape where Arrow+BLAS beats codegen'd HOFs by
    10-100×; the plan keeps every scale property the HOF form had — the
    store is scanned map-only (partition pruning still reaches the scan
    below the mapInPandas), never shuffled, never collected; only
    matched batch IDS cross the exchange.

    EXACTNESS is preserved bit-for-bit vs the HOF form (the batch≡stream
    parity tests compare kept-id sets against the Column-expression
    batch operators): matmul results clear of ``thr`` by ±1e-9 decide
    directly — float64 dot error for unit vectors at any practical dim
    is ≤ ~1e-13 — and the rare pairs inside the ±1e-9 boundary band are
    re-decided by the exact sequential fold Spark's aggregate() computes
    (same per-element multiply, same left-to-right double adds).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    bids = [i for i, _ in barr]
    bmat = np.asarray([v for _, v in barr], dtype=np.float64)
    eps = 1e-9
    schema = StructType([StructField(id_col, id_type)])

    def probe(batches):
        hit = np.zeros(len(bids), dtype=bool)
        for pdf in batches:
            if pdf.empty:
                continue
            vecs = pdf["vecn"].tolist()
            smat = np.asarray(vecs, dtype=np.float64)
            dots = smat @ bmat.T
            hit |= (dots >= thr + eps).any(axis=0)
            for r, c in np.argwhere((dots >= thr - eps)
                                    & (dots < thr + eps)):
                if not hit[c]:
                    acc = 0.0
                    sv, bv = vecs[r], bmat[c]
                    for k in range(len(bv)):
                        acc += float(sv[k]) * float(bv[k])
                    if acc >= thr:
                        hit[c] = True
        matched = [bids[j] for j in np.flatnonzero(hit)]
        yield pd.DataFrame({id_col: matched})

    return store.select("vecn").mapInPandas(probe, schema).distinct()


def _probe_buckets(vecs, planes: list[list[float]],
                   probe_hamming: int) -> list[int]:
    """Sign-LSH bucket ids of ``vecs`` expanded to every bucket within
    Hamming distance ``probe_hamming`` (multi-probe LSH), sorted. The
    sign computation is vectorized (one |batch| × nbits × dim matmul on
    the driver — the vectors were already collected for the broadcast
    probe); bit semantics mirror :func:`similarity.lsh_bucket` exactly
    (bit b set iff vec · plane_b > 0)."""
    import numpy as np
    from itertools import combinations
    nbits = len(planes)
    mat = np.asarray(vecs, dtype=float)
    bits = (mat @ np.asarray(planes, dtype=float).T) > 0
    base = {int(sum(1 << b for b in range(nbits) if row[b]))
            for row in bits}
    masks = [0]
    for r in range(1, min(probe_hamming, nbits) + 1):
        masks += [sum(1 << i for i in c)
                  for c in combinations(range(nbits), r)]
    return sorted({b ^ m for b in base for m in masks})
