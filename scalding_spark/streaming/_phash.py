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
    2. within-batch near-dup: an image is dropped when ANY smaller-id
       batch image sits within ``max_hamming`` bits (the tier family's
       smaller-id-survives rule). Identical-hash members above their
       group's min id lose by a group-min lookup; the group mins then
       run :func:`dedup._hamming_probe` against themselves;
    3. vs the store: :func:`dedup._hamming_probe` of the group mins
       against the (id, phash) store — one map-only scan with the
       hamming verify fused into the join, the store never shuffled or
       collected;
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
    from scalding_spark.functions.dedup import (_hamming_probe,
                                                hamming_chunk_cols)
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
        # ONE hash pass; localCheckpoint: the hashes feed the group-min
        # lookup, both probes and the store write — and release with the
        # batch (the _neardup.py persist rationale).
        # keep=[id_col]: only (id, hash) returns from the Python pass —
        # the media bytes cross the Arrow boundary once, never back
        hs = (kernels[method](batch.select(F.col(id_col), content_col),
                              content_col=content_col, out_col="__ph",
                              hash_size=hash_size, keep=[id_col])
              .where(F.col("__ph").isNotNull())
              .select(F.col(id_col).alias("id"), F.col("__ph").alias("phash"))
              .localCheckpoint())
        # Identical-hash members above the min id lose at hamming 0 BY
        # DEFINITION, so they leave via a group-min lookup, never the
        # probe — a crawl batch of n blank thumbnails costs one probe
        # row, not C(n,2)·chunks hits. Every non-min member shares its
        # min's hash, so cross-hash losses reduce to the group mins.
        reps = hs.groupBy("phash").agg(F.min("id").alias("id"))
        member_losers = (hs.join(reps.withColumnRenamed("id", "__rid"),
                                 "phash")
                         .where(F.col("id") != F.col("__rid"))
                         .select(F.col("id").alias(id_col)))
        # Both probes take every group min (the _neardup.py rationale:
        # a loser that also hits the store leaves either way).
        rep_losers = (_hamming_probe(reps, reps, max_hamming)
                      .where(F.col("sid") < F.col("bid"))
                      .select(F.col("bid").alias(id_col)))
        losers = member_losers.unionByName(rep_losers).distinct()
        batch = batch.join(losers, id_col, "left_anti")
        store = read_store()
        if store is not None:
            dups = (_hamming_probe(reps, store, max_hamming)
                    .select(F.col("bid").alias(id_col)).distinct())
            batch = batch.join(dups, id_col, "left_anti")
        return batch, lambda novel: hs.join(
            novel.select(F.col(id_col).alias("id")), "id")

    return _epoch_ingest(stream_df, corpus_path, store_path, checkpoint,
                         vet, compact_every_n_epochs, available_now)
