"""Throughput bench for the streaming ingest tiers (VERDICT r07 #6).

Measures docs/s per tier — exact (md5 fingerprint store), neardup
(MinHash signature store), semantic (normalized-vector store, flat AND
bucketed layouts), phash (perceptual-hash store over the media
q_image_neardup fabricates from the documents) — against a PRE-SEEDED
store at the given sf's corpus size, so the number reported is the
steady-state per-batch cost (store-probe + write), not the empty-store
warm-up.

Protocol per tier:

1. seed: one availableNow run ingests the first ``1 - probe_frac`` of the
   sf corpus (documents for text tiers, embeddings for semantic, media
   for phash) — this builds the store at sf size;
2. measure: the remaining docs are staged as ``batches`` parquet files
   and ingested with maxFilesPerTrigger=1 (one file per micro-batch)
   under the SAME checkpoint; wall time over the drain / probe docs =
   docs/s with the store at sf scale.

Prints one JSON line per (tier, layout) with store size, probe size,
batch count, seconds, docs/s and ``calibration_sec`` (perfbench's
host-speed probe, read just before the timed run) — paste into
SCALING.md's streaming table. Usage:

    python scripts/streaming_bench.py [sf_dir] [tier ...]
    # defaults: /root/testdata/sf0.1, all tiers
    # sf1: python scripts/gen_sf.py && \
    #      python scripts/streaming_bench.py .scaling/sf1
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from pyspark.sql import functions as F

from perfbench.run import calibrate
from scalding_spark import streaming
from scalding_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
ONLY = set(sys.argv[2:])
PROBE_FRAC = 0.2
BATCHES = 5


def _table(spark, name: str, *cols: str):
    return spark.read.parquet(os.path.join(SF_DIR, name + ".parquet")) \
        .select(*cols)


def _docs(spark):
    return _table(spark, "documents", "doc_id", "text")


def _vectors(spark):
    return _table(spark, "embeddings", "vec_id", "embedding")


def _media(spark):
    from __spark_entry__ import _fabricated_media
    return _fabricated_media(_table(spark, "documents", "doc_id"))


# tier -> (id column, source frame)
TIERS = {"exact": ("doc_id", _docs), "neardup": ("doc_id", _docs),
         "semantic": ("vec_id", _vectors),
         "semantic_bucketed": ("vec_id", _vectors),
         "phash": ("media_id", _media)}


def start_tier(tier: str, stream_df, work: str, batch_cap: int):
    common = dict(corpus_path=os.path.join(work, "corpus"),
                  store_path=os.path.join(work, "store"),
                  checkpoint=os.path.join(work, "ckpt"),
                  available_now=True)
    if tier == "exact":
        return streaming.stream_ingest_dedup(
            stream_df, text_col="text", id_col="doc_id", **common)
    if tier == "neardup":
        return streaming.stream_ingest_neardup(
            stream_df, text_col="text", id_col="doc_id", **common)
    if tier == "semantic":
        return streaming.stream_ingest_semantic(
            stream_df, vec_col="embedding", id_col="vec_id",
            max_batch=batch_cap, **common)
    if tier == "semantic_bucketed":
        return streaming.stream_ingest_semantic(
            stream_df, vec_col="embedding", id_col="vec_id",
            max_batch=batch_cap, store_buckets=4, probe_hamming=1,
            **common)
    if tier == "phash":
        return streaming.stream_ingest_phash(
            stream_df, content_col="content", id_col="media_id", **common)
    raise ValueError(tier)


def bench_tier(spark, tier: str) -> dict:
    id_col, source = TIERS[tier]
    src = source(spark)
    total = src.count()
    n_probe = int(total * PROBE_FRAC)
    n_seed = total - n_probe
    # deterministic split by id rank — seed ids < probe ids
    ordered = src.orderBy(id_col)
    seed = ordered.limit(n_seed)
    probe = ordered.subtract(seed)
    # the seed run drains in ONE availableNow batch of n_seed vectors —
    # the circuit breaker must clear it (deliberate raise, per docstring)
    batch_cap = max(20_000, total)

    work = tempfile.mkdtemp(prefix=f"stream_bench_{tier}_")
    try:
        src_dir = os.path.join(work, "src")
        # seed file first, probe batches staged before the measured run
        seed.coalesce(1).write.parquet(src_dir)
        schema = spark.read.parquet(src_dir).schema
        stream = streaming.stream_from_parquet_dir(spark, src_dir, schema)
        q = start_tier(tier, stream, work, batch_cap)
        q.awaitTermination()  # availableNow: returns when drained
        store_docs = spark.read.parquet(
            os.path.join(work, "store")).count()

        per_batch = n_probe // BATCHES
        from pyspark.sql import Window
        ranked = probe.withColumn(
            "__rn",
            F.row_number().over(Window.orderBy(id_col)) - 1)
        for i in range(BATCHES):
            lo = i * per_batch
            hi = n_probe if i == BATCHES - 1 else lo + per_batch
            (ranked.where((F.col("__rn") >= lo) & (F.col("__rn") < hi))
             .drop("__rn").coalesce(1)
             .write.mode("append").parquet(src_dir))
        probe_docs = n_probe

        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src_dir))
        # one host-speed reading right before the timed run, so a drifted
        # pair of records can be told apart from a plan change
        calibration = calibrate(spark)
        t0 = time.perf_counter()
        q = start_tier(tier, stream, work, batch_cap)
        q.awaitTermination()
        sec = time.perf_counter() - t0
        return {"tier": tier, "sf_dir": SF_DIR, "store_docs": store_docs,
                "probe_docs": probe_docs, "batches": BATCHES,
                "sec": round(sec, 2),
                "docs_per_sec": round(probe_docs / sec, 1),
                "calibration_sec": round(calibration, 3)}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    spark = get_spark(app_name="streaming_bench")
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    for tier in TIERS:
        if ONLY and tier not in ONLY:
            continue
        r = bench_tier(spark, tier)
        print(json.dumps(r), flush=True)
        results.append(r)
    return results


if __name__ == "__main__":
    main()
