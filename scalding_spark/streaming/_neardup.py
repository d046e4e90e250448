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
    2. within-batch near-dup: :func:`dedup._signature_probe` of the
       batch against itself — a doc loses when any smaller-``id_col``
       doc qualifies — the same kernel as step 3, so batch boundaries
       don't change which pairs count as duplicates;
    3. vs the store: :func:`dedup._signature_probe` of the batch
       against the (id, sig) store — the batch analog is
       :func:`dedup.neardup_against`, so both verify identically;
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
    from scalding_spark.functions.dedup import (_signature_probe,
                                                exact_dedup,
                                                minhash_band_hashes,
                                                minhash_signatures)
    from scalding_spark.streaming import _epoch_ingest
    # bands > num_hashes raises here, at BUILDER time, not per epoch
    minhash_band_hashes(num_hashes, bands)

    def vet(batch: DataFrame, read_store):
        batch = exact_dedup(batch, text_col, id_col)
        # ONE signature pass per batch; localCheckpoint: sigs feed both
        # probes and the store write — and release with the batch,
        # unlike persist() which would accumulate a cache entry per
        # micro-batch for the stream's lifetime
        sigs = (minhash_signatures(batch, text_col, id_col, num_hashes,
                                   shingle_n)
                .localCheckpoint())
        # Both probes take the whole batch: a within-batch loser that
        # also hits the store leaves either way, so neither plan nests
        # the other, and novel ids never include a loser, so the store
        # rows come from sigs directly.
        losers = (_signature_probe(sigs, sigs, num_hashes, bands, threshold)
                  .where(F.col("sid") < F.col("bid"))
                  .select(F.col("bid").alias(id_col)).distinct())
        batch = batch.join(losers, id_col, "left_anti")
        store = read_store()
        if store is not None:
            dups = (_signature_probe(sigs, store, num_hashes, bands,
                                     threshold)
                    .select(F.col("bid").alias(id_col)).distinct())
            batch = batch.join(dups, id_col, "left_anti")
        return batch, lambda novel: sigs.join(
            novel.select(F.col(id_col).alias("id")), "id")

    return _epoch_ingest(stream_df, corpus_path, store_path, checkpoint,
                         vet, compact_every_n_epochs, available_now)
