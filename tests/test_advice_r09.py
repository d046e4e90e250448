"""Round-9 regression pins for the r08 ADVICE findings.

1. The assign kernel's (_nearest_cells) exact-fold band scales with the row's
   magnitude (``1e-6 · max(1, ‖x‖² + max‖c‖²)``): expansion-form
   cancellation error grows with operand magnitudes, so an ABSOLUTE
   1e-6 band silently under-covered unnormalized vectors with norms
   ≳1e3 at high dim — and kmeans is public API over arbitrary vectors.
2. semantic_dedup's docstring documents the r08 plan truthfully: the
   within-cell pass is one applyInPandas group per cell (a per-cell
   single-task memory bound), not the streamed "self-join per cell" it
   replaced.
3. threshold_sweep (and confusion_at) return one row PER THRESHOLD on
   zero judged rows — all-zero counts, NULL rates — matching roc_auc's
   always-one-row empty branch instead of silently returning 0 rows.
4. _greedy_smaller_id_hits fails LOUDLY on NULL ids (clear ValueError,
   not a sorted() TypeError deep in numpy), and semantic_dedup never
   hands NULL-cell rows to the kernel (the old equi-join excluded them;
   groupBy('cell') would have given them one unbounded all-pairs group).
"""

import inspect
import math
import random

import pytest
from pyspark.sql import functions as F


# --- 1. magnitude-scaled exactness band ---------------------------------------

def test_assign_band_scales_with_row_magnitude():
    """Source pin: the candidate band must be per-row, scaled by
    ‖x‖² + max‖c‖² (floored at the old absolute 1e-6)."""
    from scalding_spark.functions.similarity import _nearest_cells
    src = inspect.getsource(_nearest_cells)
    assert "c2.max()" in src and "np.maximum(1.0" in src, (
        "the exact-fold band must scale with the row/centroid "
        "magnitudes — an absolute band under-covers large unnormalized "
        "vectors (ADVICE r08 #1)")


def test_assign_large_magnitude_vectors_match_exact_argmin(spark):
    """Behavior pin: high-dim, norm~1e3 vectors with near-tied centroids
    — exactly the regime where expansion-form error can exceed an
    absolute 1e-6 band — must assign bit-identically to the exact
    sequential fold (the documented contract)."""
    from scalding_spark.functions.similarity import _assign_cells_bcast
    rng = random.Random(7)
    dim, n = 512, 120
    base = [rng.uniform(90.0, 110.0) for _ in range(dim)]
    # two centroids straddling the data at nearly equal distances, plus
    # one far away: most rows land inside any reasonable band
    c0 = list(base)
    c1 = [x + 1e-7 for x in base]
    c2 = [x + 50.0 for x in base]
    cents = [c0, c1, c2]
    rows = []
    for i in range(n):
        rows.append((i, [x + rng.gauss(0.0, 0.5) for x in base]))
    df = spark.createDataFrame(rows, "id long, v array<double>")
    got = {r.id: r.cell
           for r in _assign_cells_bcast(df, cents).collect()}

    def exact_d(a, c):
        acc = 0.0
        for i in range(len(c)):
            d = float(a[i]) - c[i]
            acc += d * d
        return acc

    for i, v in rows:
        ds = [exact_d(v, c) for c in cents]
        best = min(ds)
        want = ds.index(best)
        assert got[i] == want, (
            f"row {i}: fast path {got[i]} != exact argmin {want} "
            f"(ds={ds}) — band under-covers at this magnitude")


# --- 2. truthful semantic_dedup docstring --------------------------------------

def test_semantic_dedup_docstring_documents_the_r08_plan():
    from scalding_spark.functions.similarity import semantic_dedup
    doc = semantic_dedup.__doc__
    assert "the self-join runs per cell" not in doc, (
        "stale r07 plan description — the within-cell pass is one "
        "applyInPandas group per cell since r08")
    assert "applyInPandas" in doc and "MEMORY BOUND" in doc, (
        "the per-cell single-task memory bound must be documented "
        "(ADVICE r08 #2)")


# --- 3. threshold_sweep one-row-per-threshold on empty -------------------------

def _sweep_rows(spark, rows, thresholds):
    from scalding_spark.functions import evaluation
    df = spark.createDataFrame(rows, "score double, label int")
    return (evaluation.threshold_sweep(df, "score", "label", thresholds)
            .orderBy("threshold").collect())


def test_threshold_sweep_empty_input_one_row_per_threshold(spark):
    out = _sweep_rows(spark, [], [0.2, 0.8])
    assert [r.threshold for r in out] == [0.2, 0.8]
    for r in out:
        assert (r.tp, r.fp, r.tn, r.fn) == (0, 0, 0, 0)
        assert r.precision is None and r.recall is None
        assert r.f1 is None and r.accuracy is None


def test_threshold_sweep_all_null_scores_one_row_per_threshold(spark):
    out = _sweep_rows(spark, [(None, 1), (None, 0)], [0.5])
    assert len(out) == 1 and out[0].threshold == 0.5
    assert (out[0].tp, out[0].fp, out[0].tn, out[0].fn) == (0, 0, 0, 0)


def test_threshold_sweep_nonempty_has_no_phantom_rows(spark):
    out = _sweep_rows(spark, [(0.9, 1), (0.1, 0)], [0.5])
    assert len(out) == 1
    assert (out[0].tp, out[0].fp, out[0].tn, out[0].fn) == (1, 0, 1, 0)
    assert out[0].accuracy == 1.0


def test_confusion_at_empty_is_one_row(spark):
    from scalding_spark.functions import evaluation
    df = spark.createDataFrame([], "score double, label int")
    out = evaluation.confusion_at(df, "score", "label", 0.5).collect()
    assert len(out) == 1 and out[0].threshold == 0.5
    assert (out[0].tp, out[0].fp, out[0].tn, out[0].fn) == (0, 0, 0, 0)


# --- 4. loud contract violations in the greedy kernel --------------------------

def test_greedy_kernel_rejects_null_ids():
    from scalding_spark.functions.similarity import _greedy_smaller_id_hits
    with pytest.raises(ValueError, match="NULL id"):
        _greedy_smaller_id_hits([(None, [1.0]), (2, [1.0])], 0.9)


def test_greedy_kernel_still_fine_on_valid_ids():
    from scalding_spark.functions.similarity import _greedy_smaller_id_hits
    barr = [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])]
    assert _greedy_smaller_id_hits(barr, 0.9) == [2]


def test_semantic_dedup_empty_centroids_keeps_everything(spark):
    """centroids=[] makes every assignment NULL; those rows must be
    EXCLUDED from the pair pass (the old equi-join semantics) — not
    grouped into one unbounded NULL-cell all-pairs task."""
    from scalding_spark.functions.similarity import semantic_dedup
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    out = semantic_dedup(df, threshold=0.9, centroids=[])
    assert sorted(r.vec_id for r in out.collect()) == [1, 2, 3]
