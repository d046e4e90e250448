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
    outlives the call.

    Bytes are summed over the stages of the call's own jobs (a job
    group): a session-wide before/after total also moves when the status
    store evicts old stages, which it does past spark.ui.retainedStages
    (1000) — routinely, late in a long test session."""
    sc = spark.sparkContext
    if sc.defaultParallelism < 2:
        pytest.skip("task sizing cannot repartition up on one core")
    df = spark.createDataFrame(
        [(i, [float(i % 97), float(i % 89)]) for i in range(13_000)],
        "vec_id long, embedding array<double>").coalesce(1)

    def shuffled(max_iter):
        group = f"kmeans-shuffle-{max_iter}"
        sc.setJobGroup(group, "round shuffle pin")
        try:
            stats: dict = {}
            similarity.kmeans(df, k=8, max_iter=max_iter, stats=stats)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        ids = {s for j in sc.statusTracker().getJobIdsForGroup(group)
               for s in sc.statusTracker().getJobInfo(j).stageIds}
        gw = sc._gateway
        stages = sc._jsc.sc().statusStore().stageList(
            gw.jvm.java.util.ArrayList(), False, False,
            gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList())
        w = sum(stages.apply(i).shuffleWriteBytes()
                for i in range(stages.size())
                if stages.apply(i).stageId() in ids)
        return w, stats["iterations"]

    (w1, _), (w3, rounds) = shuffled(1), shuffled(3)
    assert rounds == 3 and w1 > 0
    assert w3 == w1, f"rounds 2-3 shuffled {w3 - w1} bytes"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("gap", [float("nan"), None])
def test_kmeans_means_skip_nan_and_null_elements(spark, gap):
    """A NaN or NULL vector element is left out of its coordinate's mean:
    the round pass used to emit a NaN cell sum, which Arrow turned into
    NULL, and the driver's add then failed. Assignments, centroids and
    semantic_dedup's kept set on this corpus are pinned."""
    schema = "vec_id long, embedding array<double>"
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [gap, 1.0]), (3, [0.0, 1.0])], schema)
    assigned, cents = similarity.kmeans(df, k=2, max_iter=3)
    assert sorted(tuple(r) for r in assigned.collect()) == \
        [(1, 1), (2, 0), (3, 0)]
    assert cents == [[0.0, 1.0], [1.0, 0.0]]
    assert sorted(r.vec_id for r in similarity.semantic_dedup(
        df, threshold=0.9, k=2).collect()) == [1, 2, 3]
    # one cell: coordinate 0 averages two values, coordinate 1 three
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [gap, 4.0]), (3, [3.0, 6.0])], schema)
    _, cents = similarity.kmeans(df, k=1, max_iter=1)
    assert cents == [[2.0, 4.0]]
