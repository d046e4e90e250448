"""Differential verification of the connected-components operator against
an INDEPENDENT pure-Python union-find (py_reference.golden_components).

The driver's SQL oracle for component queries is a DuckDB recursive-CTE
transitive closure, which explodes combinatorially on dense near-dup
cliques — it cannot follow the operators past sf0.1. Union-find is
O(E·α(E)), so this parity holds at ANY corpus size; `scripts/sf1_parity.py`
runs the same comparison on the 50k-doc sf1 expansion (results recorded in
SCALING.md)."""

import math
import random

import pytest

from py_reference import golden_components
from scalding_spark.functions import dedup


def _random_edges(rng, n_nodes, n_edges):
    return list({(a, b) for a, b in
                 ((rng.randrange(n_nodes), rng.randrange(n_nodes))
                  for _ in range(n_edges)) if a != b})


def _spark_labels(spark, edges, stats=None):
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    return {r.node: r.comp for r in
            dedup.connected_components(df, stats=stats).collect()}


def _expected(edges):
    nodes = sorted({x for e in edges for x in e})
    return golden_components(nodes, edges)


@pytest.fixture
def star_only(monkeypatch):
    """T = 0: every graph runs the star rounds to convergence (the driver
    finish then only ever sees an empty residual)."""
    monkeypatch.setattr(dedup, "_LOCAL_FINISH_EDGES", 0)


_RANDOM_GRAPHS = [
    # sparse (forest-ish, many components), near-critical, dense (one
    # giant component) — the three Erdős–Rényi regimes — plus a sparse
    # and a dense graph on other seeds
    (7, 200, 60), (8, 200, 190), (9, 120, 400), (11, 200, 120), (12, 90, 300),
]


@pytest.mark.parametrize("seed,n_nodes,n_edges", _RANDOM_GRAPHS)
def test_cc_star_matches_unionfind_random_graphs(spark, star_only, seed,
                                                 n_nodes, n_edges):
    edges = _random_edges(random.Random(seed), n_nodes, n_edges)
    assert _spark_labels(spark, edges) == _expected(edges)


@pytest.mark.parametrize("seed,n_nodes,n_edges", _RANDOM_GRAPHS)
def test_cc_local_finish_matches_unionfind(spark, seed, n_nodes, n_edges):
    """Default T: every cut here is under T, so no star round runs and the
    driver labels the whole cut."""
    edges = _random_edges(random.Random(seed), n_nodes, n_edges)
    stats = {}
    assert _spark_labels(spark, edges, stats) == _expected(edges)
    assert stats["iterations"] == 0


@pytest.mark.parametrize("finish_edges", [0, 10 ** 6], ids=["star", "local"])
@pytest.mark.parametrize("edges,want", [
    ([(1, 2), (12, 12)], {1: 1, 2: 1, 12: 12}),
    ([(1, 2), (None, 3), (4, None), (2, 5)], {1: 1, 2: 1, 5: 1}),
    ([], {}),
], ids=["self_loop_only_node", "null_endpoints", "empty"])
def test_cc_edge_cases_on_both_paths(spark, monkeypatch, finish_edges,
                                     edges, want):
    monkeypatch.setattr(dedup, "_LOCAL_FINISH_EDGES", finish_edges)
    assert _spark_labels(spark, edges) == want


def test_cc_mixed_finish_runs_fewer_rounds(spark, monkeypatch):
    """T between the cut (2000 clique edges) and round 1's output (a
    4-edge star per clique): one star round, then the driver finishes —
    one round fewer than the pure-star pin below."""
    edges = [(5 * c + i, 5 * c + j) for c in range(200)
             for i in range(5) for j in range(i + 1, 5)]
    monkeypatch.setattr(dedup, "_LOCAL_FINISH_EDGES", 1000)
    stats = {}
    assert _spark_labels(spark, edges, stats) == _expected(edges)
    assert stats["iterations"] == 1


def test_cc_floating_ids_keep_the_rounds(spark):
    """numpy cannot order floating ids as Spark does (Spark sorts NaN above
    every value and equates -0.0 with 0.0), so a double-typed graph runs
    the star rounds even though its cut is far under the default T. A
    NaN id is a node (only NULL endpoints are ignored); NULL-endpoint
    edges still drop."""
    nan = float("nan")
    for rows, want in [
            ([(1.5, 2.5), (2.5, 0.5), (3.0, 4.0)],
             {0.5: 0.5, 1.5: 0.5, 2.5: 0.5, 3.0: 3.0, 4.0: 3.0}),
            ([(1.5, nan), (nan, 0.5), (3.0, 4.0), (5.0, None)],
             {0.5: 0.5, 1.5: 0.5, "nan": 0.5, 3.0: 3.0, 4.0: 3.0})]:
        df = spark.createDataFrame(rows, "src double, dst double")
        stats = {}
        got = {("nan" if math.isnan(r.node) else r.node): r.comp for r in
               dedup.connected_components(df, stats=stats).collect()}
        assert got == want
        assert stats["iterations"] > 0


@pytest.mark.parametrize("edges,rounds", [
    # 200 disjoint 5-cliques (the dedup shape); near-critical random graph
    ([(5 * c + i, 5 * c + j) for c in range(200)
      for i in range(5) for j in range(i + 1, 5)], 2),
    (_random_edges(random.Random(8), 200, 190), 5),
], ids=["cliques", "random"])
def test_cc_round_counts_pinned(spark, star_only, edges, rounds):
    """Exact rounds (the 200-edge path's 9 is pinned in test_cc_sampling).
    The convergence fingerprint stops at the first round whose output
    repeats its input's distinct edge set; one more round here means
    convergence is detected late."""
    stats = {}
    assert _spark_labels(spark, edges, stats) == _expected(edges)
    assert stats["iterations"] == rounds


def test_dedup_clusters_pipeline_matches_unionfind(spark, sf_dir):
    """The full q_dedup_clusters pipeline (ngram pairs → CC → per-doc
    cluster id) against union-find over the operator's own pair list plus
    the full doc-id universe (singletons label as themselves)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3,
                                      threshold=0.05, max_doc_freq=1000)
    edges = [(r.id_a, r.id_b) for r in
             pairs.select("id_a", "id_b").collect()]
    got = {r.doc_id: r.cluster_id for r in
           dedup.dedup_clusters(docs, pairs, "doc_id")
           .select("doc_id", "cluster_id").collect()}
    all_ids = [r.doc_id for r in docs.select("doc_id").collect()]
    assert got == golden_components(all_ids, edges)
    assert len(edges) > 0  # the parity must have exercised real merges


def test_unionfind_golden_basics():
    # chain, clique, singleton, endpoint-only-in-edges min labeling
    assert golden_components([1, 2, 3, 9], [(1, 2), (2, 3)]) == \
        {1: 1, 2: 1, 3: 1, 9: 9}
    # node 0 appears only in edges; it still supplies the component min
    assert golden_components([5, 6], [(5, 0), (0, 6)]) == {5: 0, 6: 0}
    assert golden_components([4], []) == {4: 4}
