"""stream_ingest_phash body — split out of __init__ for readability,
the _neardup.py / _semantic.py convention."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def stream_ingest_phash(stream_df: DataFrame, corpus_path: str,
                        store_path: str, checkpoint: str,
                        content_col: str = "content",
                        id_col: str = "media_id",
                        max_hamming: int = 2, hash_size: int = 8,
                        method: str = "dhash",
                        compact_every_n_epochs: int | None = None,
                        available_now: bool = True):
    """Streaming incremental MEDIA near-dup ingestion (images by
    default; ``method="aehash"`` ingests WAV audio blobs through the
    same machinery) — the perceptual-
    hash tier completing the store-probe family (exact:
    :func:`stream_ingest_dedup`, MinHash: :func:`stream_ingest_neardup`,
    embeddings: :func:`stream_ingest_semantic`; batch shape:
    multimodal.image_neardup_pairs): each micro-batch of binary images
    is near-dup-checked against every image ever kept, using only a
    persistent 8 B/image hash store — the image BYTES never re-enter
    the stream.

    Per batch (foreachBatch):

    1. ONE map-only perceptual-hash pass (multimodal.image_dhash /
       image_ahash — Arrow-batched, integer-exact) over the batch;
    2. within-batch near-dup: the pigeonhole band self-join
       (dedup.hamming_chunk_cols — same chunking as
       hamming_band_pairs, so the ≤ max_hamming recall guarantee is
       inherited), an image dropped when ANY smaller-id batch image
       sits within ``max_hamming`` bits (the tier family's
       smaller-id-survives rule — exact byte-dups hash identically and
       are caught at hamming 0);
    3. vs the store: the batch's chunk table (≤ (max_hamming+1)·|batch|
       rows of ≤24 B) BROADCASTS against a map-only scan of the
       (id, phash) store — the store is never shuffled and never
       collected; the hamming verify FUSES into the probe join
       (bit_count on the scanned hash), so the store pays one scan per
       micro-batch, not two like the MinHash tier's estimator verify;
    4. novel images land in ``corpus_path``, their hashes in
       ``store_path``; crash/replay semantics and the
       ``compact_every_n_epochs`` hook: see
       :func:`scalding_spark.streaming._epoch_ingest`.

    Contracts: NULL-content rows are KEPT and never stored (no pixels →
    cannot be vetted, can never vet; the NULL-vector rule); undecodable
    bytes raise loudly (the multimodal module rule — a corrupt blob is
    an upstream bug, not a row to silently pass). The probe is
    pigeonhole-EXACT for the perceptual hash: every stored image within
    ``max_hamming`` bits is found (banding loses nothing; what is
    approximate is the perceptual hash itself, as in the batch
    operator).

    100 TB note: per-batch store cost is one map-only scan of 8 B/image
    rows (a 1e10-image store is ~80 GB of hash data — scan-pruned
    further by compact_store's file sizing). When that outgrows a
    micro-batch budget, partition the store by one chunk's key (the
    semantic tier's ``__bucket`` recipe) so the broadcast probe prunes
    directories; the chunking already matches.
    """
    from scalding_spark.functions.dedup import hamming_chunk_cols
    from scalding_spark.functions.multimodal import (audio_ehash,
                                                     image_ahash,
                                                     image_dhash)
    from scalding_spark.streaming import _epoch_ingest
    # the tier is modality-agnostic past the hash pass: "aehash" ingests
    # AUDIO blobs (multimodal.audio_ehash — r11) through the identical
    # store-probe/banding machinery
    kernels = {"dhash": image_dhash, "ahash": image_ahash,
               "aehash": audio_ehash}
    if method not in kernels:
        raise ValueError(f"method={method!r}: want one of {sorted(kernels)}")
    # validate the hamming budget at BUILDER time (a bad budget must not
    # surface as a per-epoch failure inside foreachBatch)
    hamming_chunk_cols("__ph", max_hamming)

    def vet(batch: DataFrame, read_store):
        batch = batch.dropDuplicates([id_col])
        # ONE hash pass; localCheckpoint: the hashes feed the self-join
        # (twice), the store probe, and the store write — and release
        # with the batch (the _neardup.py persist rationale).
        # keep=[id_col]: only (id, hash) returns from the Python pass —
        # the media bytes cross the Arrow boundary once, never back
        hs = (kernels[method](batch.select(F.col(id_col), content_col),
                              content_col=content_col, out_col="__ph",
                              hash_size=hash_size, keep=[id_col])
              .where(F.col("__ph").isNotNull())
              .withColumnRenamed(id_col, "id")
              .localCheckpoint())
        ck = hamming_chunk_cols("__ph", max_hamming)
        # Within-batch dedup in DISTINCT-HASH space (the r11
        # hamming_band_pairs recipe): identical-hash members above the
        # min id lose at hamming 0 BY DEFINITION (0 ≤ max_hamming), so
        # they leave via a group-min lookup, never the band join — a
        # crawl batch with n blank thumbnails costs one band row
        # instead of C(n,2)·chunks self-join hits, and the store-probe
        # BROADCAST below carries one row per distinct hash, not per
        # image. Cross-hash losses reduce to the representatives:
        # every non-rep member of a group shares its rep's hash, so
        # "any smaller-id image within budget" holds for a rep iff it
        # holds against some other group whose min id is smaller —
        # exactly the rep-level band join (smaller-id-survives
        # preserved; pinned by the batch≡stream parity suite).
        reps = hs.groupBy("__ph").agg(F.min("id").alias("id"))
        member_losers = (hs.join(reps.withColumnRenamed("id", "__rid"),
                                 "__ph")
                         .where(F.col("id") != F.col("__rid"))
                         .select("id"))
        bchunks = reps.select(F.col("id").alias("bid"),
                              F.col("__ph").alias("bph"),
                              F.explode(ck).alias("ck"))
        # rep-level band self-join + fused hamming verify; larger rep
        # loses to ANY qualifying smaller rep
        l, r = bchunks.alias("l"), bchunks.alias("r")
        rep_losers = (l.join(r, (F.col("l.ck") == F.col("r.ck"))
                             & (F.col("l.bid") < F.col("r.bid")))
                      .where(F.bit_count(F.col("l.bph").bitwiseXOR(
                          F.col("r.bph"))) <= max_hamming)
                      .select(F.col("r.bid").alias("id")).distinct())
        losers = member_losers.unionByName(rep_losers).distinct()
        batch = batch.join(losers.withColumnRenamed("id", id_col),
                           id_col, "left_anti")
        hs = hs.join(losers, "id", "left_anti")
        bchunks = bchunks.join(losers.withColumnRenamed("id", "bid"),
                               "bid", "left_anti")
        store = read_store()
        if store is not None:
            store_chunks = store.select(
                F.col("phash"),
                F.explode(hamming_chunk_cols("phash", max_hamming))
                .alias("ck"))
            dups = (store_chunks.join(F.broadcast(bchunks), "ck")
                    .where(F.bit_count(F.col("phash").bitwiseXOR(
                        F.col("bph"))) <= max_hamming)
                    .select(F.col("bid").alias(id_col)).distinct())
            batch = batch.join(dups, id_col, "left_anti")
        return batch, lambda novel: (
            hs.join(novel.select(F.col(id_col).alias("id")), "id")
            .select("id", F.col("__ph").alias("phash")))

    return _epoch_ingest(stream_df, corpus_path, store_path, checkpoint,
                         vet, compact_every_n_epochs, available_now)
