"""Lloyd round pins for similarity.kmeans: exact round counts, and the
one assign kernel (_nearest_cells) deciding the round pass (_cell_sums)
and the final assignment (_assign_cells_bcast) alike, exact fold
included."""

import os
from collections import Counter

import numpy as np
import pytest

import py_reference as pr
from scalding_spark.functions import similarity


def test_kmeans_round_count_pinned_on_q_kmeans_shape(spark, sf_dir):
    """The q_kmeans call (k=8, max_iter=10, seed=42) over the sf0.01
    embeddings converges in exactly 8 rounds: a change to the update
    arithmetic or the convergence test shows here with a number."""
    path = os.path.join(os.path.dirname(sf_dir), "sf0.01", "embeddings.parquet")
    if not os.path.exists(path):
        pytest.skip(f"no sf0.01 corpus next to {sf_dir}")
    emb = spark.read.parquet(path)
    stats: dict = {}
    similarity.kmeans(emb, k=8, max_iter=10, seed=42, stats=stats)
    assert stats["iterations"] == 8
    # the update traffic: at most k rows per task per round
    assert stats["update_rows"] <= 8 * 8 * spark.sparkContext.defaultParallelism


# Fixed centroids: four on a unit grid, two next to a norm-1e4 row.
BIG = [10000.1, 10000.2]
CENTS = [[0.0, 0.0], [2.0, 0.0], [0.0, 2.0], [2.0, 2.0],
         [BIG[0] + 0.5, BIG[1]], [BIG[0], BIG[1] + 0.5]]
# Grid rows sit at exactly equal distances from two or four centroids
# (ties → lowest cell). The near-tie row is 4e-7 closer to cell 1 than to
# cell 0, inside the fast path's band, so only the exact fold assigns it
# to 1. BIG is exactly 0.25 from cells 4 and 5 under the sequential fold
# (→ cell 4), while its expansion-form distance to cell 5 rounds lower.
ROWS = ([[float(x), float(y)] for x in range(3) for y in range(3)]
        + [[1.0 + 1e-7, 0.0], BIG, [BIG[0] + 0.5, BIG[1]],
           [BIG[0], BIG[1] + 0.5], [BIG[0] + 1.0, BIG[1] + 1.0]])


def _frame(spark, id_col="id", vec_col="v"):
    return spark.createDataFrame(list(enumerate(ROWS)),
                                 f"{id_col} long, {vec_col} array<double>")


def test_round_pass_and_final_assign_share_the_exact_fold(spark):
    """Per-cell counts and sums of the round pass, the final assignment's
    cells and the exact sequential-fold reference all agree on a corpus
    of exact ties, a near-tie and a norm-1e4 tie: a caller that skipped
    the exact fold would put the near-tie row or BIG in another cell."""
    src = _frame(spark)
    want = pr._assign_v(np.array(ROWS), np.array(CENTS))
    assert want[9] == 1 and want[10] == 4  # near-tie and BIG, exact fold
    got = {r.id: r.cell for r in
           similarity._assign_cells_bcast(src, CENTS).collect()}
    assert got == dict(enumerate(want.tolist()))
    # one task: its row-order sums must equal the sequential reference
    sums = similarity._cell_sums(src.coalesce(1), CENTS).collect()
    ref_s = np.zeros_like(np.array(CENTS))
    np.add.at(ref_s, want, np.array(ROWS))
    assert {r.cell: r.n for r in sums} == Counter(got.values())
    assert {r.cell: r.s for r in sums} == {
        c: ref_s[c].tolist() for c in set(want.tolist())}


def test_kmeans_on_tie_corpus_matches_py_reference(spark):
    """End to end on the same corpus: one task (a corpus this small sizes
    the iteration table to one partition), so assignments AND centroids
    equal py_reference.kmeans bit-for-bit."""
    stats: dict = {}
    assigned, cents = similarity.kmeans(
        _frame(spark, "vec_id", "embedding"), k=4, max_iter=10, seed=42,
        stats=stats)
    ref_assign, ref_cents = pr.kmeans(
        [(i, v, 0) for i, v in enumerate(ROWS)], k=4)
    assert {r.id: r.cell for r in assigned.collect()} == ref_assign
    assert cents == ref_cents
    assert stats["update_rows"] <= 4 * stats["iterations"]


def test_rounds_shuffle_nothing_when_task_sizing_repartitions_up(spark):
    """A one-partition corpus with more than 100k row×centroid products
    is repartitioned up by the task sizing — once per call, into a cache
    the rounds read: extra rounds add no shuffle bytes, and no cache
    outlives the call."""
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts"))
    from scaling import _shuffle_totals
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("task sizing cannot repartition up on one core")
    df = spark.createDataFrame(
        [(i, [float(i % 97), float(i % 89)]) for i in range(13_000)],
        "vec_id long, embedding array<double>").coalesce(1)

    def shuffled(max_iter):
        w0, _ = _shuffle_totals(spark)
        stats: dict = {}
        similarity.kmeans(df, k=8, max_iter=max_iter, stats=stats)
        return _shuffle_totals(spark)[0] - w0, stats["iterations"]

    (w1, _), (w3, rounds) = shuffled(1), shuffled(3)
    assert rounds == 3 and w1 > 0
    assert w3 == w1, f"rounds 2-3 shuffled {w3 - w1} bytes"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
