"""SparkSession factory with engine defaults.

Replaces the reference's Mode/Config plumbing (Mode.scala:42, Job.scala:132-156):
where Scalding injects spill thresholds and Kryo serializers into the Hadoop
config, we set the Catalyst/AQE knobs that govern the same physical behaviors
(partial aggregation, broadcast threshold, skew-join splitting).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "scalding_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    Defaults are tuned so the SAME logical plans behave at local test scale
    and at cluster scale: AQE coalesces the shuffle-partition count at
    runtime, skew joins split hot partitions, and broadcast joins kick in
    for dimension tables (the reference's joinWithTiny, JoinAlgorithms.scala:221).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Shuffle partitions ~= cores locally; AQE coalesces at runtime so a
        # higher static value is safe on a real cluster.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Deterministic oracle comparisons: DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every pandas_udf / applyInPandas / toPandas path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Read TIMESTAMP(NANOS) parquet columns as raw nanos longs (Spark has
        # no ns timestamp type); sources convert with timestamp_micros(div 1000).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


MATERIALIZE_CONF = "spark.scalding_spark.materialize"

# How materialize(iterative=True) truncates lineage under persist mode:
#   auto (default) — reliable checkpoint iff a checkpoint dir is set AND
#     spark.cleaner.referenceTracking.cleanCheckpoints was enabled at
#     startup (Spark deletes per-round checkpoint files only with the
#     cleaner on; without it a long PageRank/CC run grows the dir without
#     bound), else localCheckpoint;
#   local — always localCheckpoint (executor loss restarts the loop);
#   reliable — always the checkpoint dir (caller owns cleanup).
ITERATIVE_CUT_CONF = "spark.scalding_spark.materialize.iterative"

# Session-scoped ledger of frames persisted by materialize()'s `persist`
# mode and by library-internal persists (register_persisted). Operators cut
# lineage on INTERNAL subtrees the caller never sees, so the caller cannot
# unpersist them — without this registry a long-running job accumulates
# cache entries forever, and Spark's cache manager keeps substituting the
# stale InMemoryRelations into unrelated later plans.
#
# The ledger stores the JVM-side Dataset handles (df._jdf), NOT the Python
# DataFrames: a Python DataFrame strongly references its SparkSession, so
# holding it as a WeakKeyDictionary VALUE would pin its own KEY and make
# every entry immortal (value→key cycle). With only the py4j handles held,
# a dropped Python session's entry is collectable — though the JVM cache
# itself is freed only by calling release_materialized(); GC never
# unpersists for you.
import weakref

_MATERIALIZED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def register_persisted(df) -> None:
    """Record an internally-persisted frame in the session ledger so
    :func:`release_materialized` can free it. Library operators persist
    subtrees their RETURNED plan still depends on (shingle indexes,
    MinHash signatures, trap splits) — the caller never sees those
    handles, so without the ledger a long-running driver accumulates
    cache entries forever (the r04 leak class)."""
    _MATERIALIZED.setdefault(df.sparkSession, []).append(df._jdf)


def unregister_persisted(df) -> None:
    """Unpersist a frame recorded by :func:`register_persisted` now and
    drop it from the ledger — the raise path of an operator that persisted
    before it validated, so a caller that catches the error holds no
    cache entry."""
    df.unpersist()
    frames = _MATERIALIZED.get(df.sparkSession, [])
    frames[:] = [j for j in frames if j is not df._jdf]


def release_materialized(session=None) -> None:
    """Unpersist every frame cached by ``materialize()``'s persist mode
    or registered via :func:`register_persisted` — one session's, or all
    sessions' (default). Call between flows in a long-running driver, or
    in test teardown after running an operator under
    ``MATERIALIZE_CONF=persist``; the mirror of
    :func:`scalding_spark.pipe.clear_counters`. This is THE release path:
    JVM cache entries are never freed by Python garbage collection."""
    scopes = ([_MATERIALIZED.pop(session, [])] if session is not None
              else [_MATERIALIZED.pop(s, []) for s in list(_MATERIALIZED)])
    for frames in scopes:
        for jdf in frames:
            try:
                jdf.unpersist(False)
            except Exception:
                pass  # session already stopped


def materialize(df, eager: bool = False, iterative: bool = False):
    """Cut lineage / force ONE computation of a shared subtree.

    Every iterative or multi-consumer operator in this engine funnels its
    lineage cuts through here; the physical strategy is selected by the
    session conf ``spark.scalding_spark.materialize``:

    - ``local`` (default): ``df.localCheckpoint(eager)`` — fastest (no
      distributed-FS write), but the blocks live on EXECUTOR-LOCAL storage
      with lineage severed: losing an executor (spot kill, dynamic-allocation
      decommission) makes downstream actions unrecoverable and fails the
      job. Right for interactive work, tests, and short jobs on static
      executors.
    - ``persist``: ``persist(MEMORY_AND_DISK)`` — lineage retained, so lost
      blocks recompute on executor loss; every persisted frame is recorded
      in a session-scoped ledger released by :func:`release_materialized`
      (eager forces a count()).
    - ``reliable``: ``df.checkpoint(eager)`` — writes to the directory set
      via ``sc.setCheckpointDir`` (HDFS/S3); survives any executor loss.
      The production choice for long-running 100 TB jobs with spot
      instances or dynamic allocation.

    ``iterative=True`` marks a lineage cut inside an iterative loop
    (PageRank, connected components): those REQUIRE plan truncation — the
    logical plan doubles per round without it (exponential analysis cost,
    driver OOM past ~20 rounds) — and would persist a new frame every round.
    persist() cannot truncate a plan, so under persist mode an iterative cut
    falls back to a truncating strategy governed by ``ITERATIVE_CUT_CONF``:
    ``auto`` (default) uses the reliable checkpoint only when a checkpoint
    dir is configured AND ``spark.cleaner.referenceTracking.
    cleanCheckpoints`` was enabled at startup (Spark only deletes per-round
    checkpoint files with the cleaner on — without it a long iterative run
    grows the dir unboundedly), else localCheckpoint (documented caveat:
    executor loss is then unrecoverable for that loop); ``local`` /
    ``reliable`` force either strategy.
    """
    mode = df.sparkSession.conf.get(MATERIALIZE_CONF, "local")
    if mode == "persist":
        if iterative:
            # Route to the reliable checkpoint dir only when the per-round
            # files will actually be cleaned up — otherwise a long
            # PageRank/CC run grows the checkpoint dir without bound (one
            # write per round, deleted by nothing). See ITERATIVE_CUT_CONF.
            sc = df.sparkSession.sparkContext
            cut = df.sparkSession.conf.get(ITERATIVE_CUT_CONF, "auto")
            if cut not in ("auto", "local", "reliable"):
                raise ValueError(
                    f"{ITERATIVE_CUT_CONF} must be auto/local/reliable, "
                    f"got {cut!r}")
            has_dir = sc._jsc.sc().getCheckpointDir().isDefined()
            if cut == "reliable" and not has_dir:
                raise ValueError(
                    f"{ITERATIVE_CUT_CONF}=reliable requires a checkpoint "
                    "directory: call spark.sparkContext.setCheckpointDir")
            clean = str(sc.getConf().get(
                "spark.cleaner.referenceTracking.cleanCheckpoints",
                "false")).lower() == "true"
            if has_dir and (cut == "reliable" or (cut == "auto" and clean)):
                return df.checkpoint(eager=eager)
            return df.localCheckpoint(eager=eager)
        from pyspark import StorageLevel
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        _MATERIALIZED.setdefault(df.sparkSession, []).append(out._jdf)
        if eager:
            out.count()
        return out
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if not sc._jsc.sc().getCheckpointDir().isDefined():
            # fail with the ACTUAL problem, not a raw Py4J stack 14 queries
            # deep: reliable mode is checkpoint-based and needs a durable dir
            raise ValueError(
                f"{MATERIALIZE_CONF}=reliable requires a checkpoint "
                "directory: call spark.sparkContext.setCheckpointDir(...) "
                "(or set spark.checkpoint.dir) to an HDFS/S3 path first")
        return df.checkpoint(eager=eager)
    if mode != "local":
        raise ValueError(
            f"{MATERIALIZE_CONF} must be local/persist/reliable, got {mode!r}")
    return df.localCheckpoint(eager=eager)


def _arrow_frame(spark: SparkSession, columns, schema):
    """A driver-built DataFrame shipped to the JVM as Arrow: ``columns``
    holds one sequence (list or numpy array) per field of ``schema`` (a
    StructType or DDL string).

    The one path for frames the engine builds from driver-side values
    (CC labels, bloom words, broadcast centroids, dropped-id lists). A
    ``pa.Table`` plans a JVM ``LocalRelation``: scanning or broadcasting it
    starts no Python worker. A list through ``createDataFrame`` plans a
    ``LogicalRDD`` over a Python RDD instead, scanned by one Python-worker
    task per core (about 0.5 s wall for a 1-row frame on 4 cores). Needs no
    arrow conf: the table goes to the JVM whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string
    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Read the driver's parquet tables; returns dict name -> DataFrame.

    Parquet scans are columnar with predicate pushdown — the engine's
    canonical storage (replacing the reference's Tsv/SequenceFile taps,
    FileSource.scala:244-258).
    """
    names = names or (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}
