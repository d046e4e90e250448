"""stream_ingest_neardup body — split out of __init__ for readability."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def stream_ingest_neardup(stream_df: DataFrame, corpus_path: str,
                          store_path: str, checkpoint: str, text_col: str,
                          id_col: str, num_hashes: int = 64, bands: int = 16,
                          shingle_n: int = 3, threshold: float = 0.7,
                          available_now: bool = True,
                          compact_every_n_epochs: int | None = None):
    """Streaming incremental NEAR-dup ingestion — the MinHash upgrade of
    :func:`stream_ingest_dedup`: each micro-batch is near-dup-checked
    against every document ever kept, using only a persistent signature
    store (``num_hashes`` × 8 B/doc — the corpus TEXT never re-enters the
    stream).

    Per batch (foreachBatch):

    1. within-batch exact dedup, then ONE MinHash signature computation
       for the whole batch (the dominant per-doc CPU cost — shared by
       every later step);
    2. within-batch near-dup: band self-join over those signatures,
       verified by :func:`dedup.signature_jaccard` (smaller ``id_col``
       survives) — the same estimator contract as the store check, so
       batch boundaries don't change which pairs count as duplicates;
    3. vs the store: band-hash probe — the batch's band table BROADCASTS
       against a map-only scan of the (id, sig) store, so the store is
       never shuffled — candidates verified by the same estimator
       (stderr ≈ 1/√num_hashes);
    4. novel docs land in ``corpus_path``, their signatures in
       ``store_path``; crash/replay semantics: see
       :func:`scalding_spark.streaming._epoch_ingest`.

    Exact duplicates of stored docs estimate at 1.0 and are caught by the
    same probe; token-less docs carry no signature and always pass.

    ``compact_every_n_epochs=N``: end-of-epoch store+corpus compaction
    every N epochs (see stream_ingest_dedup — same hook, same replay
    safety).

    100 TB note: the per-batch store cost is two map-only scans (band
    probe + candidate verify). When the store outgrows one scan per
    micro-batch, write it partitioned by a band-hash bucket so the probe
    prunes partitions; the verify scan prunes by the candidate semi-join.
    """
    from scalding_spark.functions.dedup import (exact_dedup,
                                                minhash_band_hashes,
                                                minhash_signatures,
                                                signature_jaccard)
    from scalding_spark.streaming import _epoch_ingest
    bh = minhash_band_hashes(num_hashes, bands)
    thr = F.lit(float(threshold))

    def vet(batch: DataFrame, read_store):
        batch = exact_dedup(batch, text_col, id_col)
        # ONE signature pass per batch; localCheckpoint: sigs feed the
        # self-join (twice), the store probe, and the store write — and
        # release with the batch, unlike persist() which would accumulate
        # a cache entry per micro-batch for the stream's lifetime
        sigs = (minhash_signatures(batch, text_col, id_col, num_hashes,
                                   shingle_n)
                .localCheckpoint())
        bbands = sigs.select(F.col("id").alias("bid"),
                             F.posexplode(bh).alias("band", "h"))
        bsigs = sigs.select(F.col("id").alias("bid"),
                            F.col("sig").alias("bsig"))
        # within-batch: band self-join, estimator verify, larger id loses
        l, r = bbands.alias("l"), bbands.alias("r")
        losers = (l.join(r, (F.col("l.band") == F.col("r.band"))
                         & (F.col("l.h") == F.col("r.h"))
                         & (F.col("l.bid") < F.col("r.bid")))
                  .select(F.col("l.bid").alias("wid"),
                          F.col("r.bid").alias("bid")).distinct()
                  .join(bsigs.select(F.col("bid").alias("wid"),
                                     F.col("bsig").alias("wsig")), "wid")
                  .join(bsigs, "bid")
                  .where(signature_jaccard(F.col("wsig"), F.col("bsig"),
                                           num_hashes) >= thr)
                  .select("bid").distinct())
        batch = batch.join(losers.withColumnRenamed("bid", id_col),
                           id_col, "left_anti")
        sigs = sigs.join(losers.withColumnRenamed("bid", "id"),
                         "id", "left_anti")
        bbands = bbands.join(losers, "bid", "left_anti")
        bsigs = bsigs.join(losers, "bid", "left_anti")
        store = read_store()
        if store is not None:
            store_bands = store.select(
                F.col("id").alias("sid"), F.posexplode(bh).alias("band", "h"))
            cands = (store_bands
                     .join(F.broadcast(bbands), ["band", "h"])
                     .select("bid", "sid").distinct())
            dups = (store.join(F.broadcast(cands),
                               store["id"] == F.col("sid"))
                    .join(F.broadcast(bsigs), "bid")
                    .where(signature_jaccard(F.col("bsig"), store["sig"],
                                             num_hashes) >= thr)
                    .select(F.col("bid").alias(id_col)).distinct())
            batch = batch.join(dups, id_col, "left_anti")
        return batch, lambda novel: sigs.join(
            novel.select(F.col(id_col).alias("id")), "id")

    return _epoch_ingest(stream_df, corpus_path, store_path, checkpoint,
                         vet, compact_every_n_epochs, available_now)
