"""Structured Streaming extensions.

The reference is strictly batch (SURVEY.md §2.10) — its incremental story is
time-partitioned sources + job chaining. These helpers are the engine's
*extension* surface: the same logical aggregations, run incrementally with
watermarks. Where semantics are identical in batch and streaming the helper
accepts either kind of DataFrame, so correctness tests run in batch and the
streaming path is exercised with availableNow triggers.

Scale notes: every stateful op here bounds its state — watermarks expire
window/session state, streaming dedup keys expire with the watermark, and
``stateful_map`` owns explicit per-key state with timeouts. Unbounded state
is the streaming analogue of an unpartitioned shuffle: it works at sf0.01
and dies at 100 TB/day.
"""

from __future__ import annotations

import hashlib
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def windowed_agg(df: DataFrame, ts_col: str, window: str, *aggs,
                 keys: list[str] | None = None, slide: str | None = None,
                 watermark: str | None = None) -> DataFrame:
    """Tumbling/sliding time-window aggregation. On a stream, pass
    ``watermark`` to bound state (late rows beyond it are dropped)."""
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return df.groupBy(win.alias("win"), *(keys or [])).agg(*aggs)


def sessionize(df: DataFrame, ts_col: str, user_col: str, gap_minutes: int = 30) -> DataFrame:
    """Sessionization: batch formulation via lag + cumulative session ids
    (the SURVEY guide's pattern); on streams use session_window_agg."""
    from pyspark.sql import Window
    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap = F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long")).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    sess_id = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return df.withColumn("session_id", sess_id)


def session_window_agg(df: DataFrame, ts_col: str, user_col: str, *aggs,
                       gap: str = "30 minutes",
                       watermark: str | None = None) -> DataFrame:
    """Streaming-native sessionization: ``F.session_window`` merges events
    within ``gap`` into one session per key; state closes (and emits) once
    the watermark passes the gap. Works on batch DataFrames too — the same
    gap-merge semantics as ``sessionize`` aggregated per session."""
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (df.groupBy(F.session_window(ts_col, gap).alias("session"), user_col)
            .agg(*aggs))


def streaming_dedup(df: DataFrame, keys: list[str], ts_col: str | None = None,
                    watermark: str | None = None) -> DataFrame:
    """Exactly-once key dedup on a stream. With a watermark the seen-keys
    state expires (dropDuplicatesWithinWatermark); without one it grows
    forever — refuse that on a stream rather than OOM at scale."""
    if df.isStreaming:
        if not (ts_col and watermark):
            raise ValueError("streaming dedup requires ts_col + watermark to bound state")
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def stream_interval_join(left: DataFrame, right: DataFrame, on: list[str],
                         left_ts: str, right_ts: str,
                         min_delay: str = "0 seconds",
                         max_delay: str = "1 hour",
                         left_watermark: str = "1 hour",
                         right_watermark: str = "1 hour",
                         how: str = "inner") -> DataFrame:
    """Watermarked stream-stream interval join: pair each left event with
    right events that happened between ``max_delay`` and ``min_delay``
    BEFORE it (``right_ts + min_delay <= left_ts <= right_ts + max_delay``),
    per key — the streaming shape of :func:`scalding_spark.joins.range_join`
    (clicks within an hour after an error, attribution windows, …).

    State stays bounded because Spark derives each side's retention from
    the watermarks plus the interval bounds; without the time-range
    condition a stream-stream join would have to keep every row forever,
    so this helper refuses key-only conditions by construction.

    On batch inputs the same condition runs as a plain inequality join —
    correct, but prefer ``joins.range_join`` there (it buckets the time
    axis into an equi-join instead of a nested-loop plan).

    Right-side columns whose names collide (key columns aside) are
    suffixed ``_right``.
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"stream-stream interval join supports inner/"
                         f"leftOuter, got {how!r}")
    if left.isStreaming:
        left = left.withWatermark(left_ts, left_watermark)
    if right.isStreaming:
        right = right.withWatermark(right_ts, right_watermark)
    taken = set(left.columns)
    ren = {c: (c + "_right" if c in taken and c not in on else c)
           for c in right.columns}
    r = right.select(*[F.col(c).alias(ren[c]) for c in right.columns])
    r_ts = ren[right_ts]
    cond = None
    for k in on:
        clause = left[k] == r[ren[k]]
        cond = clause if cond is None else cond & clause
    lo = F.col(r_ts) + F.expr(f"INTERVAL {min_delay}")
    hi = F.col(r_ts) + F.expr(f"INTERVAL {max_delay}")
    cond = cond & (left[left_ts] >= lo) & (left[left_ts] <= hi)
    joined = left.join(r, cond, how)
    # drop the right-side copy of each key column (qualified, so only
    # right's copy goes)
    return joined.drop(*[r[k] for k in on])


def stateful_map(df: DataFrame, keys: list[str], fn, state_schema: str,
                 out_schema: str, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful per-key operator (the reference's closest analogue is
    a ``using``-style stateful reducer) via ``applyInPandasWithState``:
    ``fn(key, pdf_iter, state) -> iter[pdf]`` with explicit GroupState.

    Use for cross-batch accumulators (counters, rolling models, CDC merge)
    that windowed aggs can't express. State lives per key in the state
    store; pass a timeout conf to expire idle keys."""
    return (df.groupBy(*keys)
            .applyInPandasWithState(fn, outputStructType=out_schema,
                                    stateStructType=state_schema,
                                    outputMode="append",
                                    timeoutConf=timeout))


from scalding_spark.streaming._compact import compact_store  # noqa: E402,F401
from scalding_spark.streaming._neardup import stream_ingest_neardup  # noqa: E402,F401
from scalding_spark.streaming._semantic import stream_ingest_semantic  # noqa: E402,F401
from scalding_spark.streaming._phash import stream_ingest_phash  # noqa: E402,F401


def stream_from_parquet_dir(spark: SparkSession, path: str, schema) -> DataFrame:
    """File-stream source: treats a parquet dir as an append-only stream —
    the engine's incremental upgrade of TimePathedSource polling."""
    return spark.readStream.schema(schema).parquet(path)


def run_available_now(stream_df: DataFrame, query_name: str | None = None,
                      timeout_s: int = 120,
                      output_mode: str | None = None) -> DataFrame:
    """Process everything currently available, then stop (availableNow
    trigger) and return the result as a DataFrame from the memory sink.
    The batch-equivalence test harness: same plan, incremental execution.

    ``output_mode`` overrides the aggregate-detection heuristic (which
    inspects the JVM logical plan and is unavailable under Spark Connect —
    pass 'complete'/'append' explicitly there)."""
    name = query_name or f"q_{uuid.uuid4().hex[:8]}"
    mode = output_mode or ("complete" if _is_aggregating(stream_df) else "append")
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(mode)
         .trigger(availableNow=True).start())
    q.awaitTermination(timeout_s)
    return stream_df.sparkSession.table(name)


def write_stream_parquet(stream_df: DataFrame, path: str, checkpoint: str,
                         available_now: bool = False):
    """Exactly-once parquet sink with checkpointed progress."""
    w = (stream_df.writeStream.format("parquet")
         .option("path", path).option("checkpointLocation", checkpoint))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def _read_store(spark, store_path: str):
    """Read a persistent store, returning None ONLY when it doesn't exist
    yet (the first batch). Any other failure — permissions, corrupt files,
    storage hiccups — re-raises: swallowing it would silently skip
    cross-batch dedup and append duplicates with no error."""
    from pyspark.errors import AnalysisException
    try:
        return spark.read.parquet(store_path)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise


def _reject_reserved_batch_col(stream_df: DataFrame) -> None:
    """All four ingest tiers partition the corpus and store by a
    ``__batch`` (checkpoint-id, epoch) column they add themselves; an
    input frame already carrying one would be silently overwritten in
    the corpus output (ADVICE r07 #4's collision class). Fail at builder
    time, before the query starts."""
    if "__batch" in stream_df.columns:
        raise ValueError(
            "input stream has a '__batch' column — that name is reserved "
            "for the ingest tiers' epoch-partition column (the on-disk "
            "idempotent-replay contract); rename it before ingesting")


def _validate_compact_every(n: int | None) -> None:
    if n is not None and n < 1:
        raise ValueError(f"compact_every_n_epochs={n}: want >= 1 (or None "
                         f"to disable in-stream compaction)")


def _maybe_compact(spark, epoch_id: int, every: int | None,
                   *paths: str) -> None:
    """End-of-epoch compaction hook shared by the four ingest tiers:
    every ``every`` epochs, consolidate closed ``__batch`` partitions of
    each path (:func:`compact_store`). Runs INSIDE foreachBatch — the
    only writer — after the epoch's own writes, so the just-written
    epoch is the newest and compaction never touches it; a replayed
    epoch re-runs an idempotent compaction (already-merged history is
    simply no longer eligible).

    A busy lease (a crashed run's still-young ``_COMPACT_LOCK``, or a
    foreground compaction someone launched) SKIPS the cycle with a
    warning instead of failing the epoch: compaction is optional
    housekeeping, and killing the ingest query over it would wedge a
    restarted stream for up to the lease TTL — the next cadence (or the
    TTL expiry) retries naturally."""
    if not every or (int(epoch_id) + 1) % every:
        return
    from scalding_spark.streaming._compact import (CompactionAborted,
                                                   CompactionBusy,
                                                   compact_store)
    for p in paths:
        try:
            compact_store(spark, p)
        except (CompactionBusy, CompactionAborted) as e:
            # Busy lease OR a mid-call live-writer/lease abort (e.g. two
            # queries mistakenly sharing a store path): both leave the
            # dataset consistent — the abort deletes its temp and keeps
            # sources — so neither may fail the ingest EPOCH: raising out
            # of foreachBatch would lose the .partial run-tag ledger of
            # already-committed batches (ADVICE r10 #4). Warn and retry
            # at the next cadence.
            import warnings
            warnings.warn(f"in-stream compaction skipped for {p}: {e}",
                          stacklevel=2)


def _epoch_ingest(stream_df: DataFrame, corpus_path: str, store_path: str,
                  checkpoint: str, vet, compact_every_n_epochs: int | None,
                  available_now: bool, store_parts: tuple[str, ...] = ()):
    """The crash/replay commit protocol of every ``stream_ingest_*`` tier;
    the tier supplies only its vetting. Returns the started
    StreamingQuery.

    Per epoch (foreachBatch, so each side-effecting write happens exactly
    once per epoch under the checkpoint):

    1. ``vet(batch, read_store) -> (kept, store_rows)``: the tier drops
       within-batch and stored duplicates. ``read_store()`` returns the
       store minus this epoch's own partition, or None before the first
       write. It is a thunk so a tier reads (and checks) the store only
       when it has something to probe with;
    2. ``novel = kept.localCheckpoint()``: one computation, two sinks —
       otherwise the store write re-runs the whole vetting lineage;
    3. ``novel`` lands in ``corpus_path`` and ``store_rows(novel)`` in
       ``store_path`` (also partitioned by ``store_parts``), both in a
       ``__batch=<md5(checkpoint)[:12]>-<epoch>`` partition under
       per-write dynamic-partition OVERWRITE (not the session conf —
       foreachBatch shares the caller's session and must not mutate it);
    4. :func:`_maybe_compact` every ``compact_every_n_epochs`` epochs.

    The store append is read back by the NEXT epoch's vetting, so dedup is
    cumulative across the stream's lifetime without any in-memory state.
    The partition namespace is stable across restarts of THIS checkpoint,
    so an epoch replayed after a mid-write crash rewrites its own
    partition instead of appending duplicates, while a FRESH checkpoint
    pointed at the same outputs writes a disjoint namespace and cannot
    clobber earlier runs. The replay hole: a crash mid store-write can
    leave this epoch's partition partially committed; vetting against it
    would flag the epoch's own docs as duplicates and the dynamic
    overwrite would then drop them from corpus AND store forever, so
    ``read_store`` excludes it (a partition-pruned filter — the scan
    skips the directory entirely).
    """
    _reject_reserved_batch_col(stream_df)
    _validate_compact_every(compact_every_n_epochs)
    run_tag = hashlib.md5(checkpoint.encode()).hexdigest()[:12]

    def ingest(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        tag = f"{run_tag}-{int(epoch_id)}"

        def read_store():
            store = _read_store(spark, store_path)
            return None if store is None else store.where(
                F.col("__batch") != tag)

        def write(rows: DataFrame, path: str, parts=()) -> None:
            (rows.withColumn("__batch", F.lit(tag))
             .write.mode("overwrite").partitionBy("__batch", *parts)
             .option("partitionOverwriteMode", "dynamic")
             .parquet(path))

        kept, store_rows = vet(batch, read_store)
        novel = kept.localCheckpoint()
        write(novel, corpus_path)
        write(store_rows(novel), store_path, store_parts)
        _maybe_compact(spark, epoch_id, compact_every_n_epochs,
                       store_path, corpus_path)

    w = (stream_df.writeStream.foreachBatch(ingest)
         .option("checkpointLocation", checkpoint))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_ingest_dedup(stream_df: DataFrame, corpus_path: str,
                        store_path: str, checkpoint: str, text_col: str,
                        id_col: str, available_now: bool = True,
                        compact_every_n_epochs: int | None = None):
    """Streaming incremental corpus ingestion: every micro-batch is
    deduped against the persistent fingerprint store, novel docs append to
    the corpus, and their fingerprints advance the store — the streaming
    shape of examples/incremental_corpus_job.py.

    Per batch (foreachBatch):

    1. within-batch exact dedup (a batch can repeat itself; min ``id_col``
       wins);
    2. :func:`dedup.dedup_against_fingerprints` vs the store — its bloom
       prefilter routes definitely-new docs around the anti-join
       exchange (the normal-case majority at a healthy crawl);
    3. novel docs append to ``corpus_path``; their fingerprints append to
       ``store_path``.

    The store's state size is 32 bytes/doc on disk, not in the state
    store. Crash/replay semantics: see :func:`_epoch_ingest`.

    ``compact_every_n_epochs=N``: every N epochs the tier runs
    :func:`compact_store` on the store AND corpus at the END of the
    epoch's ingest — safe in-stream because foreachBatch is the only
    writer and the just-written epoch is the newest, which compaction
    never touches; a replayed epoch simply re-runs an (idempotent)
    compaction. Long-running ingests otherwise accumulate one small
    parquet file set per epoch (the 100 TB small-files trap). External
    corpus readers concurrent with a compaction can transiently observe
    duplicate rows (the documented compact_store crash-window
    semantics); schedule reads around compaction epochs if that matters.
    """
    from scalding_spark.functions.dedup import (dedup_against_fingerprints,
                                                exact_dedup)
    from scalding_spark.functions.text import normalize_for_fingerprint

    def vet(batch: DataFrame, read_store):
        batch = exact_dedup(batch, text_col, id_col)
        seen = read_store()
        if seen is not None:
            batch = dedup_against_fingerprints(batch, seen, text_col,
                                               use_bloom=True)
        return batch, lambda novel: novel.select(
            F.md5(normalize_for_fingerprint(F.col(text_col))).alias("fp"))

    return _epoch_ingest(stream_df, corpus_path, store_path, checkpoint,
                         vet, compact_every_n_epochs, available_now)


def _is_aggregating(df: DataFrame) -> bool:
    try:
        plan = df._jdf.queryExecution().logical().toString()
    except Exception:
        # Spark Connect: no py4j handle — default to complete (aggregating
        # streams are the common case for this harness); callers can pass
        # output_mode explicitly.
        return True
    return "Aggregate" in plan
