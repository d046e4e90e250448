"""Round-6 regression pins for the r05 ADVICE findings.

1. cosine_topk_lsh / embedding_near_dup_pairs on an empty or
   all-NULL-vector corpus return the empty typed frame instead of crashing
   on first()[0] (mirrors cosine_topk_ivf's empty-centroids path).
2. connected_components / pagerank unpersist their internal caches on the
   exception path too (try/finally, the kmeans treatment from r05).
3. _parse_pnm rejects maxval outside [1, 65535] (maxval=0 silently yielded
   inf/nan features via numpy divide-by-zero) and non-positive dimensions.
4. materialize(iterative=True) under persist mode routes to the reliable
   checkpoint dir ONLY when spark.cleaner.referenceTracking.cleanCheckpoints
   is on — otherwise each loop round would write a checkpoint file nothing
   ever deletes; localCheckpoint is the default.
5. the rollup/cube empty-input grand-total gate probes the AGGREGATED
   output (out empty ⟺ input empty) so both union branches share one
   canonical aggregate subtree — no second evaluation of the raw input.
"""

import os

import pytest
from pyspark.sql import functions as F

from scalding_spark.session import (ITERATIVE_CUT_CONF, MATERIALIZE_CONF,
                                    materialize)


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


# --- 1. empty/all-NULL-vector corpora in the LSH similarity family ----------

def _empty_emb(spark, all_null: bool = False):
    if all_null:
        return spark.createDataFrame(
            [(1, None), (2, None)], "vec_id long, embedding array<double>")
    return spark.createDataFrame([], "vec_id long, embedding array<double>")


@pytest.mark.parametrize("all_null", [False, True])
def test_cosine_topk_lsh_empty_corpus(spark, all_null):
    from scalding_spark.functions.similarity import cosine_topk_lsh
    corpus = _empty_emb(spark, all_null)
    queries = spark.createDataFrame(
        [(100, [1.0, 2.0])], "vec_id long, embedding array<double>")
    out = cosine_topk_lsh(corpus, queries, k=3)
    assert out.columns == ["query_id", "neighbor_id", "cosine"]
    assert out.count() == 0


@pytest.mark.parametrize("all_null", [False, True])
def test_embedding_near_dup_pairs_empty_corpus(spark, all_null):
    from scalding_spark.functions.similarity import embedding_near_dup_pairs
    out = embedding_near_dup_pairs(_empty_emb(spark, all_null))
    assert out.columns == ["id_a", "id_b", "cosine"]
    assert out.count() == 0


def test_cosine_topk_lsh_explicit_dim_empty_corpus_still_works(spark):
    from scalding_spark.functions.similarity import cosine_topk_lsh
    corpus = _empty_emb(spark)
    queries = spark.createDataFrame(
        [(100, [1.0, 2.0])], "vec_id long, embedding array<double>")
    assert cosine_topk_lsh(corpus, queries, k=3, dim=2).count() == 0


# --- 2. iterative ops unpersist on the exception path ------------------------

def test_connected_components_unpersists_when_iteration_throws(spark):
    from scalding_spark.functions.dedup import connected_components
    spark.catalog.clearCache()
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    connected_components(edges)
    assert _cache_manager_empty(spark)
    bad = edges.withColumn(
        "dst", F.raise_error(F.lit("boom")).cast("long"))
    with pytest.raises(Exception):
        connected_components(bad)
    assert _cache_manager_empty(spark), (
        "connected_components leaked a cache entry on the exception path")


def test_pagerank_unpersists_when_iteration_throws(spark):
    from scalding_spark.matrix import pagerank
    spark.catalog.clearCache()
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    pagerank(edges, iterations=2)
    assert _cache_manager_empty(spark)
    # n_nodes skips the count() action, so the first action that touches
    # the poisoned edge list happens INSIDE the iteration loop
    bad = edges.withColumn("dst", F.raise_error(F.lit("boom")).cast("long"))
    with pytest.raises(Exception):
        pagerank(bad, iterations=2, n_nodes=2)
    assert _cache_manager_empty(spark), (
        "pagerank leaked nodes/trans caches on the exception path")


def test_ngram_pairs_releases_index_when_ids_not_unique(spark):
    """ngram_jaccard_pairs persists and registers its tokenized index
    before the unique-id check (validating first would tokenize twice);
    a caught ValueError must leave neither a cache nor a ledger entry."""
    from scalding_spark.functions.dedup import ngram_jaccard_pairs
    from scalding_spark.session import _MATERIALIZED
    spark.catalog.clearCache()
    ledger = len(_MATERIALIZED.get(spark, []))
    bad = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff"), (1, "vv ww xx yy zz qq"),
         (2, "gg hh ii jj kk ll")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="unique doc ids"):
        ngram_jaccard_pairs(bad, "text", "doc_id")
    assert _cache_manager_empty(spark)
    assert len(_MATERIALIZED.get(spark, [])) == ledger


# --- 3. PNM header validation ------------------------------------------------

def _pnm(maxval: int, w: int = 2, h: int = 1) -> bytes:
    return (f"P5 {w} {h} {maxval}\n".encode()
            + bytes(w * h * (1 if 0 <= maxval < 256 else 2)))


def test_parse_pnm_rejects_zero_maxval():
    from scalding_spark.functions.multimodal import _parse_pnm
    with pytest.raises(ValueError, match="maxval"):
        _parse_pnm(_pnm(0))


def test_parse_pnm_rejects_oversized_maxval():
    from scalding_spark.functions.multimodal import _parse_pnm
    with pytest.raises(ValueError, match="maxval"):
        _parse_pnm(_pnm(70000))


def test_parse_pnm_rejects_nonpositive_dims():
    from scalding_spark.functions.multimodal import _parse_pnm
    with pytest.raises(ValueError, match="dimensions"):
        _parse_pnm(b"P5 0 1 255\n")


def test_parse_pnm_accepts_boundary_maxvals():
    from scalding_spark.functions.multimodal import _parse_pnm
    px, w, h = _parse_pnm(_pnm(1))
    assert (w, h) == (2, 1)
    px, w, h = _parse_pnm(b"P5 1 1 65535\n\x00\x01")
    assert (w, h) == (1, 1)


# --- 4. iterative cuts under persist mode vs the checkpoint dir --------------

def _ckpt_files(root: str) -> int:
    return sum(len(files) for _, _, files in os.walk(root))


def test_iterative_persist_mode_avoids_unbounded_checkpoint_dir(
        spark, tmp_path):
    """Without cleanCheckpoints at startup, per-round reliable checkpoints
    are never deleted — the auto cut must route to localCheckpoint even
    when a checkpoint dir is configured."""
    ckpt = str(tmp_path / "ckpt_nogrow")
    spark.sparkContext.setCheckpointDir(ckpt)
    spark.conf.set(MATERIALIZE_CONF, "persist")
    try:
        out = materialize(spark.range(10), eager=True, iterative=True)
        assert sorted(r.id for r in out.collect()) == list(range(10))
        assert _ckpt_files(ckpt) == 0, (
            "iterative persist-mode cut wrote reliable checkpoint files "
            "that nothing deletes (cleanCheckpoints is off)")
    finally:
        spark.conf.unset(MATERIALIZE_CONF)


def test_iterative_persist_mode_reliable_opt_in(spark, tmp_path):
    """spark.scalding_spark.materialize.iterative=reliable forces the
    checkpoint-dir cut (caller owns cleanup) — runtime-settable, unlike
    the core cleaner conf Spark locks after startup."""
    ckpt = str(tmp_path / "ckpt_opt_in")
    spark.sparkContext.setCheckpointDir(ckpt)
    spark.conf.set(MATERIALIZE_CONF, "persist")
    spark.conf.set(ITERATIVE_CUT_CONF, "reliable")
    try:
        out = materialize(spark.range(10), eager=True, iterative=True)
        assert sorted(r.id for r in out.collect()) == list(range(10))
        assert _ckpt_files(ckpt) > 0, "expected a reliable checkpoint write"
    finally:
        spark.conf.unset(MATERIALIZE_CONF)
        spark.conf.unset(ITERATIVE_CUT_CONF)


def test_iterative_cut_conf_rejects_bad_values(spark):
    spark.conf.set(MATERIALIZE_CONF, "persist")
    spark.conf.set(ITERATIVE_CUT_CONF, "bogus")
    try:
        with pytest.raises(ValueError, match="auto/local/reliable"):
            materialize(spark.range(3), eager=False, iterative=True)
    finally:
        spark.conf.unset(MATERIALIZE_CONF)
        spark.conf.unset(ITERATIVE_CUT_CONF)


# --- 5. grand-total gate: one bounded probe, no third scan -------------------

def test_rollup_grand_total_gate_costs_one_bounded_probe(spark):
    """The accepted repair contract (see _with_empty_grand_total's
    measured dead end: probing the aggregated frame shares NOTHING —
    Catalyst's existence pruning rewrites it back into a limit-1 input
    scan): the union adds exactly ONE limit-bounded probe of the input
    and the limit(0) values branch constant-folds away, so the optimized
    plan scans the input at most twice (main aggregate + probe), never a
    third time."""
    from scalding_spark.pipe import Pipe
    df = spark.range(100).select(
        (F.col("id") % 3).alias("g"), F.col("id").alias("v"))
    out = (Pipe(df).rollup_by("g").sum("v").done()).df
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("Range (0, 100") <= 2
    rows = {tuple(r) for r in out.collect()}
    assert (None, 4950) in rows and len(rows) == 4
    empty = (Pipe(df.where(F.lit(False))).rollup_by("g").sum("v").done()).df
    erows = [tuple(r) for r in empty.collect()]
    assert erows == [(None, None)]


# --- 6. SemDeDup auto-k lever (VERDICT r05 next-round #4) --------------------

def test_semantic_dedup_derives_k_from_corpus_size(spark):
    """k=None scales cells with the corpus: average cell size stays
    <= target_cell_size as n grows, so the within-cell quadratic is
    n*target work, not n²/k_fixed."""
    from scalding_spark.functions.similarity import semantic_dedup
    import math

    def run(n, target):
        df = spark.createDataFrame(
            [(i, [float(i % 97), float((i * 7) % 89), 1.0])
             for i in range(n)],
            "vec_id long, embedding array<double>")
        stats = {}
        kept = semantic_dedup(df, threshold=1.1, target_cell_size=target,
                              stats=stats)
        assert kept.count() == n          # threshold>1: nothing dropped
        return stats["k"]

    k_small = run(300, target=100)
    k_big = run(3000, target=100)
    assert k_small == math.ceil(300 / 100) == 3
    assert k_big == math.ceil(3000 / 100) == 30
    # the lever: 10x corpus → 10x cells → average cell size unchanged
    assert 300 / k_small == 3000 / k_big == 100


def test_semantic_dedup_null_vectors_excluded_from_k_derivation(spark):
    from scalding_spark.functions.similarity import semantic_dedup
    rows = [(i, [1.0 * i, 2.0]) for i in range(50)] + [(99, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    stats = {}
    semantic_dedup(df, threshold=1.1, target_cell_size=25,
                   stats=stats).count()
    assert stats["k"] == 2                # ceil(50/25), the NULL row ignored


def test_semantic_dedup_explicit_k_unchanged(spark):
    from scalding_spark.functions.similarity import semantic_dedup
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(30)],
        "vec_id long, embedding array<double>")
    stats = {}
    semantic_dedup(df, threshold=1.1, k=8, stats=stats).count()
    assert stats["k"] == 8


def test_semantic_dedup_precomputed_centroids_match_in_loop_training(spark):
    """centroids= (the offline-quantizer production shape) must reproduce
    the in-loop result when handed the centroids kmeans itself produced,
    and must not run any Lloyd iterations."""
    from scalding_spark.functions.similarity import kmeans, semantic_dedup
    df = spark.createDataFrame(
        [(i, [float(i % 13), float((i * 3) % 7), 1.0]) for i in range(120)],
        "vec_id long, embedding array<double>")
    _, cents = kmeans(df, k=4, max_iter=10, seed=42)
    stats = {}
    kept_fixed = semantic_dedup(df, threshold=0.999, centroids=cents,
                                stats=stats)
    kept_loop = semantic_dedup(df, threshold=0.999, k=4, max_iter=10,
                               seed=42)
    assert stats["iterations"] == 0 and stats["k"] == 4
    assert (sorted(r.vec_id for r in kept_fixed.collect())
            == sorted(r.vec_id for r in kept_loop.collect()))
