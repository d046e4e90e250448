"""Scaling-exponent regression pins (VERDICT r05 next-round #3).

SCALING.md's measured exponents become asserted invariants: a future plan
regression that re-quadratifies a candidate generator (a dropped
doc-frequency cap, a lost segment filter, a broken map-side combine) fails
a test here instead of surfacing rounds later as a bench cliff.

These re-derive the 15k→50k tail of the SCALING.md curves on the same
synthetic corpora (cached under .scaling/, regenerated on first run), so
the suite costs minutes of Spark time. They are SKIPPED by default and
run with::

    SPARK_GRAFT_SCALING=1 python -m pytest tests/test_scaling.py -q

(the per-round ritual; results recorded in SCALING.md).

Bounds are the measured r05 exponents plus slack: winnow candidates grew
at 1.26 (bound 1.4), fuzzy at 1.08 at constant key density (bound 1.2),
bloom suspects at 1.03 (bound 1.15), and kmeans' per-round update traffic
is partition-count-bound (≤ k rows per task, no shuffle; independent of n).
"""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

pytestmark = [
    pytest.mark.scaling,
    pytest.mark.skipif(os.environ.get("SPARK_GRAFT_SCALING") != "1",
                       reason="scaling suite: set SPARK_GRAFT_SCALING=1"),
]

N_SMALL, N_BIG = 15000, 50000


def _exponent(c_small: float, c_big: float) -> float:
    return math.log(max(c_big, 1.0) / max(c_small, 1.0)) \
        / math.log(N_BIG / N_SMALL)


@pytest.fixture(scope="module")
def corpora(spark):
    import scaling
    return {n: scaling.gen_documents(spark, n) for n in (N_SMALL, N_BIG)}


def test_winnow_candidate_exponent(spark, corpora):
    import scaling
    c = {n: scaling.op_winnow(spark, corpora[n])["candidates"]
         for n in (N_SMALL, N_BIG)}
    exp = _exponent(c[N_SMALL], c[N_BIG])
    assert exp <= 1.4, (
        f"winnow candidates re-quadratified: {c} → exponent {exp:.2f} "
        f"(measured 1.26 in r05; did the fp-frequency cap regress?)")


def test_fuzzy_candidate_exponent(spark, corpora):
    import scaling
    c = {n: scaling.op_fuzzy(spark, corpora[n])["candidates"]
         for n in (N_SMALL, N_BIG)}
    exp = _exponent(c[N_SMALL], c[N_BIG])
    assert exp <= 1.2, (
        f"fuzzy-join candidates superlinear at constant key density: {c} "
        f"→ exponent {exp:.2f} (measured 1.08 in r05; did the segment "
        f"selection window widen?)")


def test_bloom_suspect_exponent(spark, corpora):
    import scaling
    m = {n: scaling.op_bloom(spark, corpora[n]) for n in (N_SMALL, N_BIG)}
    exp = _exponent(m[N_SMALL]["candidates"], m[N_BIG]["candidates"])
    assert exp <= 1.15, (
        f"bloom suspects superlinear: {m} → exponent {exp:.2f} "
        f"(measured 1.03 in r05; is the filter still applied map-side?)")
    # and suspects must stay a small fraction of the input rows — the
    # whole point of the bloom prefilter
    for n in (N_SMALL, N_BIG):
        assert m[n]["candidates"] < 0.2 * m[n]["rows_in"]


def test_kmeans_update_traffic_independent_of_n(spark):
    """A Lloyd round's update traffic is the ≤ k rows per task the
    driver collects (per-partition cell sums), and no shuffle at all —
    so 10× the corpus moves no more per round than k × partitions rows
    and zero shuffle bytes."""
    import scaling
    m = {n: scaling.op_kmeans(spark, n) for n in (2000, 20000)}
    k_rows = 8 * spark.sparkContext.defaultParallelism
    for n, r in m.items():
        assert r["shuffle_w_per_round"] == 0, (
            f"kmeans rounds shuffle at n={n}: {m} — did an exchange "
            f"come back into the round pass?")
        assert r["update_rows_per_round"] <= k_rows, (
            f"kmeans collects more than k rows per task per round at "
            f"n={n}: {m} — did the per-partition sums stop combining?")


def test_neardup_against_output_tracks_batch(spark, corpora):
    """The store probe's OUTPUT is batch-sized (exponent ~1.0) and the
    structural guarantee holds: kept rows never exceed the batch, and
    the probe never inflates output via the (band, hash) join (distinct
    on ids before the anti join). Candidate volume itself is data-shape
    driven (see SCALING.md — the raw-store harness is clique-dense), so
    the pin is on output, not candidates."""
    import scaling
    m = {n: scaling.op_neardup_against(spark, corpora[n])
         for n in (N_SMALL, N_BIG)}
    exp = _exponent(m[N_SMALL]["rows"], m[N_BIG]["rows"])
    assert exp <= 1.05, (
        f"neardup_against kept rows superlinear: {m} → exponent {exp:.2f} "
        f"(measured 1.00 in r06; did the distinct before the anti join "
        f"drop?)")
    for n in (N_SMALL, N_BIG):
        assert m[n]["rows"] <= m[n]["rows_in"]
