"""Connected-components clustering + deterministic sampling."""
import pytest
from pyspark.sql import functions as F

from scalding_spark.functions import dedup, sampling


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src: bigint, dst: bigint")


def test_cc_chain_and_island(spark):
    # chain 1-2-3-4 (diameter 3), pair 10-11, cycle 20-21-22-20
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (10, 11),
                       (20, 21), (21, 22), (22, 20)])
    got = {r["node"]: r["comp"]
           for r in dedup.connected_components(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_cc_long_chain_converges(spark):
    n = 24  # diameter 23: needs genuinely iterative propagation
    e = _edges(spark, [(i, i + 1) for i in range(n)])
    comps = {r["comp"] for r in dedup.connected_components(e).collect()}
    assert comps == {0}


def test_dedup_clusters_covers_singletons(spark):
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(6)], "doc_id: bigint, name: string")
    pairs = spark.createDataFrame([(1, 3), (3, 5)], "id_a: bigint, id_b: bigint")
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.dedup_clusters(docs, pairs, "doc_id").collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 4, 5: 1}


@pytest.fixture(scope="module")
def keyed(spark):
    return spark.range(4000).select(F.col("id").alias("k"))


def test_sample_deterministic_and_composable(keyed):
    s10 = sampling.deterministic_sample(keyed, "k", 0.10)
    s01 = sampling.deterministic_sample(keyed, "k", 0.01)
    a = {r["k"] for r in s10.collect()}
    b = {r["k"] for r in s10.collect()}
    assert a == b                       # rerun → identical membership
    assert {r["k"] for r in s01.collect()} <= a   # 1% ⊆ 10%
    assert 0.07 < len(a) / 4000 < 0.13


def test_sample_salt_changes_membership(keyed):
    a = {r["k"] for r in sampling.deterministic_sample(keyed, "k", 0.1).collect()}
    b = {r["k"] for r in sampling.deterministic_sample(keyed, "k", 0.1, salt="v2").collect()}
    assert a != b


def test_split_disjoint_cover_fractions(keyed):
    out = sampling.train_val_test_split(keyed, "k")
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 4000
    assert 0.86 < counts["train"] / 4000 < 0.94
    assert 0.03 < counts["val"] / 4000 < 0.07
    assert 0.03 < counts["test"] / 4000 < 0.07


def test_split_rejects_bad_weights(keyed):
    with pytest.raises(ValueError):
        sampling.train_val_test_split(keyed, "k", {"a": 0.5, "b": 0.6})


def test_split_stays_in_codegen(keyed):
    p = sampling.train_val_test_split(keyed, "k")._jdf \
        .queryExecution().executedPlan().toString()
    assert "EvalPython" not in p  # pure column exprs, no Python in the path


def test_stratified_sample_per_stratum_rates(spark):
    df = spark.range(6000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, "web").otherwise("books").alias("src"))
    out = sampling.stratified_sample(df, "k", "src",
                                     {"web": 0.2, "books": 1.0})
    counts = {r["src"]: r["n"] for r in
              out.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert counts["books"] == 4000          # kept wholesale
    assert 0.14 < counts["web"] / 2000 < 0.26
    # unlisted strata default to dropped
    out2 = sampling.stratified_sample(df, "k", "src", {"books": 1.0})
    assert out2.where(F.col("src") == "web").count() == 0


# -- property-based contracts (hypothesis drives the weights/fractions) -----

from hypothesis import given, settings, strategies as st


@st.composite
def _weights(draw):
    n = draw(st.integers(min_value=2, max_value=4))
    raw = [draw(st.floats(min_value=0.05, max_value=1.0)) for _ in range(n)]
    total = sum(raw)
    return {f"s{i}": w / total for i, w in enumerate(raw)}


@settings(max_examples=8, deadline=None)
@given(w=_weights())
def test_split_column_partitions_for_any_weights(spark_keep, w):
    """For ANY normalized weight dict: every row gets exactly one split and
    all splits are from the dict — the disjoint-cover contract."""
    spark, df = spark_keep
    from scalding_spark.functions.sampling import split_column
    out = df.withColumn("split", split_column("k", w))
    seen = {r["split"] for r in out.select("split").distinct().collect()}
    assert seen <= set(w)
    assert out.where(F.col("split").isNull()).count() == 0


@settings(max_examples=8, deadline=None)
@given(lo=st.floats(min_value=0.01, max_value=0.5),
       hi=st.floats(min_value=0.5, max_value=1.0))
def test_sample_monotone_in_fraction(spark_keep, lo, hi):
    """fraction lo ≤ hi ⇒ sample(lo) ⊆ sample(hi): the composability
    contract that makes hash sampling auditable."""
    spark, df = spark_keep
    a = {r["k"] for r in sampling.deterministic_sample(df, "k", lo).collect()}
    b = {r["k"] for r in sampling.deterministic_sample(df, "k", hi).collect()}
    assert a <= b


@pytest.fixture(scope="module")
def spark_keep(spark):
    return spark, spark.range(500).select(F.col("id").alias("k"))


# --- stop-shingle pruning (ngram_jaccard_pairs max_doc_freq) ---------------

def _py_shingles(text, n=3):
    toks = [t for t in __import__("re").split(r"[^a-z0-9]+", text.lower()) if t]
    if len(toks) >= n:
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    return {" ".join(toks)} if toks else set()


def _golden_pairs(texts, max_doc_freq=None, threshold=0.01):
    """Reference implementation of the pruning contract in plain Python."""
    shs = {i: _py_shingles(t) for i, t in texts.items()}
    freq = {}
    for s in shs.values():
        for g in s:
            freq[g] = freq.get(g, 0) + 1
    kept = {i: {g for g in s if max_doc_freq is None or freq[g] <= max_doc_freq}
            for i, s in shs.items()}
    out = {}
    ids = sorted(texts)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            shared = len(kept[a] & kept[b])
            if shared == 0:
                continue
            j = shared / (len(shs[a]) + len(shs[b]) - shared)  # sizes UNpruned
            if j >= threshold:
                out[(a, b)] = round(j, 6)
    return out


@pytest.mark.parametrize("cap", [None, 3])
def test_ngram_jaccard_stop_shingle_pruning(spark, cap):
    """A boilerplate shingle shared by 6 docs (> cap=3) must be pruned from
    the inverted index: pairs whose ONLY shared content is the hot shingle
    disappear; pairs sharing rare shingles survive with a conservative
    (never inflated) score computed against UNpruned sizes."""
    from scalding_spark.functions import dedup as dd
    texts = {1: "common boiler plate shared tail words alpha",
             2: "common boiler plate shared tail words beta",
             3: "common boiler plate uniq3a uniq3b uniq3c",
             4: "common boiler plate uniq4a uniq4b uniq4c",
             5: "common boiler plate uniq5a uniq5b uniq5c",
             6: "common boiler plate uniq6a uniq6b uniq6c"}
    df = spark.createDataFrame([(i, t) for i, t in texts.items()],
                               ["doc_id", "text"])
    got = {(r.id_a, r.id_b): round(r.jaccard, 6)
           for r in dd.ngram_jaccard_pairs(df, "text", "doc_id", n=3,
                                           threshold=0.01, max_doc_freq=cap,
                                           persist_index=False).collect()}
    expect = _golden_pairs(texts, max_doc_freq=cap)
    assert got == expect
    if cap is not None:
        # the hot shingle's d^2 pair fan-out is gone: only the rare-shingle
        # pair survives, and its score is <= the unpruned score
        unpruned = _golden_pairs(texts, max_doc_freq=None)
        assert set(got) == {(1, 2)}
        assert all(got[p] <= unpruned[p] for p in got)
    else:
        assert set(got) == {(a, b) for a in range(1, 7)
                            for b in range(a + 1, 7)}


def _ngram_space_of(df):
    """Which pair-generation space a returned frame was planned in (the
    set-space plan carries gid/__ga group columns; doc-space never does)."""
    p = df._jdf.queryExecution().optimizedPlan().toString()
    return "set" if ("gid" in p or "__ga" in p) else "doc"


def test_ngram_adaptive_space_routing(spark):
    """r12 adaptive pair generation (the r11 verdict's top item): auto
    routes per corpus shape — doc-space on organic corpora AND on
    small-duplicate-group corpora (measured 2× faster at blowup factor
    ~25), set-space once the estimated candidate multiplication factor
    Σm²/n exceeds the calibrated threshold or duplicate (id, text) rows
    need the documented drop contract, and a hard ValueError (never
    corrupt pairs) when one id carries two different texts."""
    from scalding_spark.functions import dedup as dd
    # organic: every text distinct → doc
    org = spark.createDataFrame(
        [(i, f"organic document number word{i} with tokens a{i} b{i} c{i}")
         for i in range(1, 21)], ["doc_id", "text"])
    assert _ngram_space_of(dd.ngram_jaccard_pairs(
        org, "text", "doc_id", persist_index=False)) == "doc"
    # small duplicate groups (factor ≈ 4 ≤ 100): still doc
    small = spark.createDataFrame(
        [(100 * g + c, f"duplicated group number{g} shared content here")
         for g in range(1, 6) for c in range(4)], ["doc_id", "text"])
    assert _ngram_space_of(dd.ngram_jaccard_pairs(
        small, "text", "doc_id", persist_index=False)) == "doc"
    # one big duplicate group (factor ≈ 150²/160 ≈ 140 > 100): set
    big = spark.createDataFrame(
        [(i, "the one hot duplicated document body shared everywhere")
         for i in range(150)]
        + [(1000 + i, f"organic filler doc u{i} v{i} w{i} x{i}")
           for i in range(10)], ["doc_id", "text"])
    assert _ngram_space_of(dd.ngram_jaccard_pairs(
        big, "text", "doc_id", persist_index=False)) == "set"
    # duplicate (id, text) ROWS: set space's documented drop contract
    dup_rows = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff"), (1, "aa bb cc dd ee ff"),
         (2, "gg hh ii jj kk ll")], ["doc_id", "text"])
    assert _ngram_space_of(dd.ngram_jaccard_pairs(
        dup_rows, "text", "doc_id", persist_index=False)) == "set"
    # same id, two different texts: refuse (gid relabeling would corrupt)
    bad = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff"), (1, "vv ww xx yy zz qq"),
         (2, "gg hh ii jj kk ll")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="unique doc ids"):
        dd.ngram_jaccard_pairs(bad, "text", "doc_id", persist_index=False)


def test_ngram_doc_and_set_space_outputs_identical(spark):
    """The two pair-generation spaces are OUTPUT-IDENTICAL on the same
    corpus (the adaptive choice is physical, never semantic), including
    under stop-shingle pruning and with exact-duplicate groups, and both
    match the plain-Python golden."""
    from scalding_spark.functions import dedup as dd
    texts = {i: f"organic doc {i} about subject s{i} t{i}" for i in range(1, 9)}
    for i in (9, 10, 11):
        texts[i] = "three identical copies of this exact duplicated sentence"
    texts[12] = "common boiler plate shared tail words alpha"
    texts[13] = "common boiler plate shared tail words beta"
    df = spark.createDataFrame([(i, t) for i, t in texts.items()],
                               ["doc_id", "text"])
    for cap in (None, 3):
        outs = {}
        for sp in ("doc", "set"):
            outs[sp] = {(r.id_a, r.id_b): round(r.jaccard, 6)
                        for r in dd.ngram_jaccard_pairs(
                            df, "text", "doc_id", n=3, threshold=0.01,
                            max_doc_freq=cap, persist_index=False,
                            space=sp).collect()}
        assert outs["doc"] == outs["set"]
        assert outs["doc"] == _golden_pairs(texts, max_doc_freq=cap)


# --- large-star/small-star CC -----------------------------------------------

def test_star_cc_path_graph_converges_logarithmically(spark, monkeypatch):
    """A 200-edge path (diameter 200) converges in O(log d) rounds, not
    O(d) — the point of star contraction over label propagation. T = 0
    keeps the driver finish out. The other exact round pins are in
    test_cc_unionfind_parity."""
    monkeypatch.setattr(dedup, "_LOCAL_FINISH_EDGES", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "src long, dst long")
    stats = {}
    rows = dedup.connected_components(edges, stats=stats).collect()
    assert len(rows) == 201
    assert {r.comp for r in rows} == {0}
    assert stats["iterations"] == 9


def test_star_cc_two_components_and_self_loops(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 3), (10, 11)], "src long, dst long")
    got = {(r.node, r.comp) for r in dedup.connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_cc_self_loop_only_node_labels_itself(spark):
    edges = spark.createDataFrame([(1, 2), (12, 12)], "src long, dst long")
    got = {(r.node, r.comp) for r in dedup.connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (12, 12)}


def test_star_cc_empty_edges(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    assert dedup.connected_components(empty).count() == 0


def test_dedup_clusters_star_algorithm(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)],
                                  "id_a long, id_b long")
    out = dedup.dedup_clusters(docs, pairs, "doc_id")
    got = {(r.doc_id, r.cluster_id) for r in out.collect()}
    assert got == {(0, 0), (1, 0), (2, 0), (3, 3), (4, 4), (5, 4)}


def test_dedup_clusters_job_count_pinned(spark):
    """Exact Spark jobs of building and collecting dedup_clusters on the
    6-doc / 3-pair fixture, read from the status tracker under a job
    group. A reintroduced per-round action or Python-worker scan changes
    this number."""
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)],
                                  "id_a long, id_b long")
    sc = spark.sparkContext
    sc.setJobGroup("dedup-clusters-jobs", "job-count pin")
    try:
        rows = dedup.dedup_clusters(docs, pairs, "doc_id").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 6
    jobs = sc.statusTracker().getJobIdsForGroup("dedup-clusters-jobs")
    assert len(jobs) == 5, sorted(jobs)


# --- round-2 training-pipeline ops: decontaminate / cap / shard-pack -------

def test_decontaminate_drops_overlapping_docs(spark):
    from scalding_spark.functions.dedup import decontaminate

    corpus = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "completely unrelated text about spark partitioning strategies"),
        (3, "we observed the quick brown fox jumps over the lazy dog yesterday"),
    ], "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    kept = sorted(r.doc_id for r in
                  decontaminate(corpus, bench, "text", "doc_id", n=8).collect())
    assert kept == [2]  # docs 1 and 3 share the benchmark 8-gram


def test_decontaminate_min_shared_threshold(spark):
    from scalding_spark.functions.dedup import decontaminate

    corpus = spark.createDataFrame([
        (1, "alpha beta gamma delta"),     # shares 1 trigram with bench
        (2, "zeta eta theta iota"),        # shares none
    ], "doc_id long, text string")
    bench = spark.createDataFrame(
        [(9, "alpha beta gamma nothing else here")], "doc_id long, text string")
    k1 = {r.doc_id for r in
          decontaminate(corpus, bench, "text", "doc_id", n=3, min_shared=1).collect()}
    k2 = {r.doc_id for r in
          decontaminate(corpus, bench, "text", "doc_id", n=3, min_shared=2).collect()}
    assert k1 == {2}
    assert k2 == {1, 2}  # only one shared trigram -> below the threshold


def test_decontaminate_no_corpus_text_in_shuffles(spark):
    """The corpus text column must never cross an exchange — only shingles
    (on the map side, pre-broadcast-join) and ids."""
    from tests.test_plans import _shuffle_exchange_schemas
    from scalding_spark.functions.dedup import decontaminate

    corpus = spark.createDataFrame(
        [(i, f"text body number {i} with several words") for i in range(50)],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(900, "text body number 3 with several words")], "doc_id long, text string")
    out = decontaminate(corpus, bench, "text", "doc_id", n=3)
    offenders = [
        (name, cols) for name, _p, cols in _shuffle_exchange_schemas(out)
        if name.startswith("Shuffle") and any(c == "text" for c, _ in cols)]
    assert not offenders, offenders


def test_cap_per_key_deterministic(spark):
    from scalding_spark.functions.sampling import cap_per_key

    rows = [(i, f"d{i % 4}") for i in range(100)]
    df = spark.createDataFrame(rows, "id long, domain string").repartition(7)
    from scalding_spark.functions.sampling import hash_bucket
    order = [hash_bucket("id", "s1"), "id"]
    a = {(r.id, r.domain) for r in cap_per_key(df, "domain", 5, order).collect()}
    b = {(r.id, r.domain) for r in
         cap_per_key(df.repartition(3), "domain", 5, order).collect()}
    assert a == b                       # layout-independent
    assert len(a) == 20                 # 4 domains x 5
    per = {}
    for _, d in a:
        per[d] = per.get(d, 0) + 1
    assert all(v == 5 for v in per.values())


def test_pack_into_shards_budget_and_order(spark):
    from scalding_spark.functions.sampling import pack_into_shards

    rows = [(i, 10) for i in range(100)]  # uniform weight 10
    df = spark.createDataFrame(rows, "id long, w long").repartition(9)
    out = {r.id: r.shard for r in
           pack_into_shards(df, "w", 100, ["id"]).collect()}
    # 10 rows of weight 10 per 100-budget shard, in id order
    assert out == {i: i // 10 for i in range(100)}
    # a row never splits: oversized row occupies its starting shard
    big = spark.createDataFrame([(1, 50), (2, 500), (3, 50)], "id long, w long")
    got = {r.id: r.shard for r in pack_into_shards(big, "w", 100, ["id"]).collect()}
    assert got == {1: 0, 2: 0, 3: 5}


def test_weighted_sample_matches_constant_fraction(keyed):
    # constant weight w ≡ deterministic_sample(fraction=w) up to the
    # floor-vs-round cutoff (differs by at most one bucket)
    w = sampling.weighted_sample(keyed, "k", F.lit(0.10))
    got = {r["k"] for r in w.collect()}
    frac = {r["k"] for r in sampling.deterministic_sample(keyed, "k", 0.10).collect()}
    assert got == frac or got <= frac


def test_weighted_sample_monotone_in_weight(keyed):
    # raising weights can only ADD rows (incremental re-weighting contract)
    lo = {r["k"] for r in
          sampling.weighted_sample(keyed, "k", F.lit(0.05)).collect()}
    hi = {r["k"] for r in
          sampling.weighted_sample(keyed, "k", F.lit(0.20)).collect()}
    assert lo <= hi


def test_weighted_sample_per_row_weights_and_clamp(keyed):
    # weight 0 (and below) keeps nothing; weight 1 (and above) keeps all;
    # a row-dependent weight keeps roughly its mean
    zero = sampling.weighted_sample(keyed, "k", F.lit(-0.5)).count()
    full = sampling.weighted_sample(keyed, "k", F.lit(2.0)).count()
    assert zero == 0 and full == 4000
    half = sampling.weighted_sample(
        keyed, "k", F.when(F.col("k") % 2 == 0, 1.0).otherwise(0.0))
    rows = {r["k"] for r in half.collect()}
    assert rows == {k for k in range(4000) if k % 2 == 0}


def test_mix_to_proportions_hits_budget(spark):
    # 3 domains, equal 1/3 targets, budget small enough that all downsample
    rows = [(i, f"dom{i % 3}", 100) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id: bigint, dom: string, toks: bigint")
    stats = {}
    kept = sampling.mix_to_proportions(df, "doc_id", "dom", "toks",
                                       {f"dom{i}": 1 / 3 for i in range(3)},
                                       total=30_000, stats=stats)
    per = {r["dom"]: r["s"] for r in
           kept.groupBy("dom").agg(F.sum("toks").alias("s")).collect()}
    for d in ("dom0", "dom1", "dom2"):
        assert 0.5 * 10_000 < per[d] < 1.5 * 10_000   # ≈10k tokens each
        assert abs(stats["fractions"][d] - 0.1) < 1e-12


def test_mix_to_proportions_clamps_and_drops(spark):
    rows = [(i, "tiny" if i < 10 else "big", 100) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id: bigint, dom: string, toks: bigint")
    stats = {}
    kept = sampling.mix_to_proportions(
        df, "doc_id", "dom", "toks",
        {"tiny": 0.5, "big": 0.5, "absent": 0.0}, total=10_000, stats=stats)
    got = kept.groupBy("dom").count().collect()
    per = {r["dom"]: r["count"] for r in got}
    # tiny's budget (5000 toks) exceeds its 1000 toks -> keep all 10 docs
    assert per["tiny"] == 10
    assert stats["fractions"]["tiny"] == 1.0
    assert stats["fractions"]["absent"] == 0.0
    # unlisted domains never appear
    assert set(per) <= {"tiny", "big"}


def test_mix_to_proportions_deterministic(spark):
    rows = [(i, f"d{i % 2}", 10) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id: bigint, dom: string, toks: bigint")
    props = {"d0": 0.5, "d1": 0.5}
    a = {r["doc_id"] for r in sampling.mix_to_proportions(
        df, "doc_id", "dom", "toks", props, total=1000).collect()}
    b = {r["doc_id"] for r in sampling.mix_to_proportions(
        df.repartition(13), "doc_id", "dom", "toks", props, total=1000).collect()}
    assert a == b


# -- dedup_against / remove_duplicate_lines ---------------------------------

def test_dedup_against_drops_seen_content(spark):
    seen = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "unique old doc")], "id: bigint, text: string")
    new = spark.createDataFrame(
        [(10, "hello   world"),       # normalizes to seen #1 -> dropped
         (11, "brand new content"),   # kept
         (12, "brand new content")],  # within-batch dup: kept (by contract)
        "id: bigint, text: string")
    kept = sorted(r["id"] for r in
                  dedup.dedup_against(new, seen, "text").collect())
    assert kept == [11, 12]


def test_remove_duplicate_lines_corpus_scope(spark):
    df = spark.createDataFrame(
        [(1, "header\nalpha\nbeta"),
         (2, "header\ngamma"),        # 'header' already in doc 1 -> cut
         (3, "header")],              # everything duplicated -> empty doc
        "id: bigint, text: string")
    from scalding_spark.functions.dedup import remove_duplicate_lines
    out = {r["id"]: r["text"] for r in
           remove_duplicate_lines(df, "text", "id").collect()}
    assert out == {1: "header\nalpha\nbeta", 2: "gamma", 3: ""}


def test_remove_duplicate_lines_doc_scope(spark):
    df = spark.createDataFrame(
        [(1, "a\nb\na\nc\nb"), (2, "a\na")], "id: bigint, text: string")
    from scalding_spark.functions.dedup import remove_duplicate_lines
    out = {r["id"]: r["text"] for r in
           remove_duplicate_lines(df, "text", "id", scope="doc").collect()}
    # per-doc: first occurrence kept, order preserved; doc 2 keeps its own 'a'
    assert out == {1: "a\nb\nc", 2: "a"}


def test_remove_duplicate_lines_layout_independent(spark):
    rows = [(i, "\n".join(f"line{j % 7}" for j in range(i % 5 + 1)))
            for i in range(40)]
    df = spark.createDataFrame(rows, "id: bigint, text: string")
    from scalding_spark.functions.dedup import remove_duplicate_lines
    a = sorted(map(tuple, remove_duplicate_lines(df, "text", "id").collect()))
    b = sorted(map(tuple, remove_duplicate_lines(
        df.repartition(11), "text", "id").collect()))
    assert a == b


def test_pack_sequences_budget_and_order(spark):
    # docs of 3 tokens each, budget 7 -> greedy fill: ceil boundary after
    # the doc whose start offset crosses a multiple of 7
    rows = [(i, f"w{i}a w{i}b w{i}c") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    out = {r["seq_id"]: r for r in
           sampling.pack_sequences(df, "text", "doc_id", 7).collect()}
    # offsets 0,3,6,9,12,15 -> seqs 0,0,0,1,1,2
    assert sorted(out) == [0, 1, 2]
    assert out[0]["n_docs"] == 3 and out[0]["n_tokens"] == 9
    assert out[1]["n_docs"] == 2 and out[2]["n_docs"] == 1
    # concatenation preserves doc order, whole docs only
    assert out[0]["text"] == "w0a w0b w0c\nw1a w1b w1c\nw2a w2b w2c"
    assert out[2]["text"] == "w5a w5b w5c"


def test_pack_sequences_zero_token_docs_bounded(spark):
    # punctuation-only docs tokenize to 0 -> clamped weight 1, so they
    # spread across sequences instead of piling into one
    rows = [(i, "!!!") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    out = sampling.pack_sequences(df, "text", "doc_id", 4).collect()
    assert {r["seq_id"] for r in out} == {0, 1, 2}
    assert all(r["n_docs"] <= 4 for r in out)


def test_pack_sequences_layout_independent(spark):
    rows = [(i, " ".join(f"t{i}_{j}" for j in range(i % 6 + 1)))
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    a = sorted(map(tuple, sampling.pack_sequences(df, "text", "doc_id", 16).collect()))
    b = sorted(map(tuple, sampling.pack_sequences(
        df.repartition(9), "text", "doc_id", 16).collect()))
    assert a == b


@settings(max_examples=6, deadline=None)
@given(lens=st.lists(st.integers(min_value=0, max_value=9),
                     min_size=1, max_size=60),
       budget=st.integers(min_value=1, max_value=25))
def test_pack_sequences_partition_property(spark_keep, lens, budget):
    """For ANY doc-length profile and budget: every doc lands in exactly
    one sequence, order is preserved, and each sequence's weight exceeds
    the budget by at most one doc (never-split greedy contract)."""
    spark, _ = spark_keep
    rows = [(i, " ".join(f"d{i}t{j}" for j in range(n)))
            for i, (n) in enumerate(lens)]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    out = sorted(sampling.pack_sequences(df, "text", "doc_id", budget).collect(),
                 key=lambda r: r["seq_id"])
    # partition: every doc exactly once, in id order across sequences
    docs_back = []
    for r in out:
        docs_back += [t for t in r["text"].split("\n")]
    expected = [t for _, t in rows]
    assert docs_back == expected
    # budget: python replay of the greedy rule agrees on every boundary
    w = [max(n, 1) for n in lens]
    cum = 0
    py_seq = []
    for wi in w:
        py_seq.append(cum // budget)
        cum += wi
    got_seq = []
    for r in out:
        got_seq += [r["seq_id"]] * r["n_docs"]
    assert got_seq == py_seq


# -- r03: cluster-representative selection ------------------------------------

def test_select_representatives_by_score(spark):
    from scalding_spark.functions import dedup
    df = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 20.0), (4, 5.0), (9, 1.0)],
        "doc_id long, score double")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long")  # {1,2,3} cluster; 4, 9 solo
    kept = dedup.select_representatives(
        df, pairs, "doc_id", order_by=[F.col("score").desc()])
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [2, 4, 9]  # highest score wins the cluster; solos survive
    assert kept.columns == ["doc_id", "score"]


def test_select_representatives_tie_breaks_on_id(spark):
    from scalding_spark.functions import dedup
    df = spark.createDataFrame(
        [(7, 1.0), (8, 1.0)], "doc_id long, score double")
    pairs = spark.createDataFrame([(7, 8)], "id_a long, id_b long")
    kept = dedup.select_representatives(
        df, pairs, "doc_id", order_by=[F.col("score").desc()])
    assert [r["doc_id"] for r in kept.collect()] == [7]


def test_select_representatives_default_is_min_id(spark):
    from scalding_spark.functions import dedup
    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z"), (5, "w")], "doc_id long, v string")
    pairs = spark.createDataFrame([(2, 3)], "id_a long, id_b long")
    a = {r["doc_id"] for r in
         dedup.select_representatives(df, pairs, "doc_id").collect()}
    b = {r["doc_id"] for r in
         dedup.dedup_clusters(df, pairs, "doc_id")
         .where(F.col("cluster_id") == F.col("doc_id")).collect()}
    assert a == b == {1, 2, 5}


# ---------------------------------------------------------------------------
# top_fraction (global exact quantile cut)
# ---------------------------------------------------------------------------

def test_top_fraction_exact_count_and_membership(spark):
    rows = [(i, float(100 - i)) for i in range(40)]  # id 0 has best score
    df = spark.createDataFrame(rows, "id long, score double")
    kept = sampling.top_fraction(df, [F.col("score").desc()], 0.25, "id")
    got = sorted(r["id"] for r in kept.collect())
    assert got == list(range(10))  # ceil(40*0.25)=10 best scores
    assert set(kept.columns) == {"id", "score"}


def test_top_fraction_ceil_and_ties(spark):
    # 7 rows, fraction 1/3 -> ceil(7/3) = 3 kept; all scores tie, so the
    # tie-break id decides membership deterministically
    df = spark.createDataFrame([(i, 1.0) for i in range(7)],
                               "id long, score double")
    kept = sampling.top_fraction(df, [F.col("score").desc()], 1 / 3, "id")
    assert sorted(r["id"] for r in kept.collect()) == [0, 1, 2]


def test_top_fraction_layout_independent(spark):
    rows = [(i, float((i * 37) % 23)) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, score double")
    a = sampling.top_fraction(df, [F.col("score").desc()], 0.4, "id")
    b = sampling.top_fraction(df.repartition(11),
                              [F.col("score").desc()], 0.4, "id")
    assert (sorted(r["id"] for r in a.collect())
            == sorted(r["id"] for r in b.collect()))


def test_top_fraction_validates(spark):
    df = spark.createDataFrame([(1, 1.0)], "id long, score double")
    for bad in (0.0, -0.1, 1.5):
        with pytest.raises(ValueError):
            sampling.top_fraction(df, [F.col("score")], bad, "id")


def test_top_fraction_full_keeps_all(spark):
    df = spark.createDataFrame([(i, float(i)) for i in range(5)],
                               "id long, score double")
    kept = sampling.top_fraction(df, [F.col("score")], 1.0, "id")
    assert kept.count() == 5


# ---------------------------------------------------------------------------
# lsh_plan (banding calibration)
# ---------------------------------------------------------------------------

def test_lsh_plan_divisor_contract():
    for nh in (16, 64, 128, 100):
        for t in (0.1, 0.3, 0.5, 0.7, 0.9):
            b, r = dedup.lsh_plan(t, nh)
            assert b * r == nh and b >= 1 and r >= 1


def test_lsh_plan_monotone_threshold():
    # higher target similarity -> at least as many rows per band (AND-ier)
    prev_r = 0
    for t in (0.1, 0.3, 0.5, 0.7, 0.9, 0.97):
        _, r = dedup.lsh_plan(t, 64)
        assert r >= prev_r
        prev_r = r


def test_lsh_plan_midpoint_quality():
    # the chosen midpoint is within 0.15 of target across the usable band
    for t in (0.3, 0.5, 0.7, 0.8, 0.9):
        b, r = dedup.lsh_plan(t, 128)
        mid = (1.0 / b) ** (1.0 / r)
        assert abs(mid - t) < 0.15, (t, b, r, mid)


def test_lsh_plan_validates():
    with pytest.raises(ValueError):
        dedup.lsh_plan(0.0)
    with pytest.raises(ValueError):
        dedup.lsh_plan(1.0)
    with pytest.raises(ValueError):
        dedup.lsh_plan(0.5, 1)


# ---------------------------------------------------------------------------
# temperature_mix
# ---------------------------------------------------------------------------

def _tm_corpus(spark):
    # head domain 10x the tail domain
    rows = ([(i, "big", 100) for i in range(200)]
            + [(1000 + i, "small", 100) for i in range(20)])
    return spark.createDataFrame(rows, "id long, dom string, toks long")


def test_temperature_mix_boosts_tail(spark):
    df = _tm_corpus(spark)
    stats_nat, stats_cool = {}, {}
    sampling.temperature_mix(df, "id", "dom", "toks", total=11_000,
                             alpha=1.0, stats=stats_nat).count()
    sampling.temperature_mix(df, "id", "dom", "toks", total=11_000,
                             alpha=0.3, stats=stats_cool).count()
    # natural: shares follow sizes (10:1); cooled: tail share rises
    assert abs(stats_nat["proportions"]["big"] - 200 / 220) < 1e-9
    assert (stats_cool["proportions"]["small"]
            > stats_nat["proportions"]["small"] * 2)


def test_temperature_mix_alpha_zero_is_uniform(spark):
    df = _tm_corpus(spark)
    stats = {}
    sampling.temperature_mix(df, "id", "dom", "toks", total=1000,
                             alpha=0.0, stats=stats).count()
    assert abs(stats["proportions"]["big"] - 0.5) < 1e-9
    assert abs(stats["proportions"]["small"] - 0.5) < 1e-9


def test_temperature_mix_deterministic_and_layout_free(spark):
    df = _tm_corpus(spark)
    a = sampling.temperature_mix(df, "id", "dom", "toks", total=5000)
    b = sampling.temperature_mix(df.repartition(13), "id", "dom", "toks",
                                 total=5000)
    assert (sorted(r["id"] for r in a.collect())
            == sorted(r["id"] for r in b.collect()))


def test_temperature_mix_validates(spark):
    df = _tm_corpus(spark)
    with pytest.raises(ValueError, match="alpha"):
        sampling.temperature_mix(df, "id", "dom", "toks", 100, alpha=-1)


def test_temperature_mix_plan_is_scan_fused(spark):
    """The RETURNED mix plan is a pure filter (md5-cutoff CASE fused into
    the scan): zero exchanges, zero Python — the #domains sizes agg runs
    as its own tiny job before the plan is built."""
    from scalding_spark.functions.sampling import temperature_mix
    df = spark.createDataFrame(
        [(i, f"d{i % 4}", 10 + i) for i in range(100)],
        "k long, dom string, sz long")
    out = temperature_mix(df, "k", "dom", "sz", total=500, alpha=0.3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


# -- leakage_safe_split: dedup-cluster-keyed train/val/test ------------------

@pytest.fixture(scope="module")
def clustered(spark):
    """300 docs in 100 size-3 clusters (cluster id = smallest member)."""
    docs = spark.range(300).select(F.col("id").alias("doc_id"))
    labels = docs.select("doc_id",
                         (F.col("doc_id") - F.col("doc_id") % 3)
                         .alias("cluster_id"))
    return docs, labels


def test_leakage_split_never_straddles(clustered):
    docs, labels = clustered
    out = sampling.leakage_safe_split(docs, "doc_id", labels)
    per_cluster = (out.join(labels, "doc_id")
                   .groupBy("cluster_id")
                   .agg(F.countDistinct("split").alias("ns")).collect())
    assert all(r["ns"] == 1 for r in per_cluster)
    # non-vacuous: per-DOCUMENT splitting straddles at least one cluster
    naive = sampling.train_val_test_split(docs, "doc_id")
    straddled = (naive.join(labels, "doc_id")
                 .groupBy("cluster_id")
                 .agg(F.countDistinct("split").alias("ns"))
                 .where(F.col("ns") > 1).count())
    assert straddled > 0


def test_leakage_split_singletons_match_own_key_split(clustered):
    docs, labels = clustered
    # labels only for clusters 0..29 (docs 0..89); the rest are singletons
    partial = labels.where(F.col("cluster_id") < 90)
    out = sampling.leakage_safe_split(docs, "doc_id", partial)
    own = sampling.train_val_test_split(docs, "doc_id")
    got = {r["doc_id"]: r["split"] for r in out.collect()}
    want = {r["doc_id"]: r["split"] for r in own.collect()}
    assert all(got[i] == want[i] for i in range(90, 300))
    # and a self-labeled row (cluster_id == own id) is the same as absent
    self_lab = docs.select("doc_id", F.col("doc_id").alias("cluster_id"))
    as_self = {r["doc_id"]: r["split"] for r in
               sampling.leakage_safe_split(docs, "doc_id", self_lab)
               .collect()}
    assert as_self == want


def test_leakage_split_disjoint_cover_and_weights(clustered):
    docs, labels = clustered
    out = sampling.leakage_safe_split(docs, "doc_id", labels,
                                      weights={"a": 0.5, "b": 0.5})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 300
    assert set(counts) <= {"a", "b"}
    with pytest.raises(ValueError):
        sampling.leakage_safe_split(docs, "doc_id", labels,
                                    weights={"a": 0.5, "b": 0.6})


def test_leakage_split_broadcasts_labels_on_request(clustered):
    docs, labels = clustered
    out = sampling.leakage_safe_split(docs, "doc_id", labels,
                                      broadcast_labels=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "Python" not in plan, plan


def test_leakage_split_tolerates_cluster_col_on_input(spark):
    """dedup_clusters output (which already carries cluster_id) can be fed
    straight in as BOTH df and labels without an ambiguous-column error,
    and the input's own cluster_id column passes through untouched."""
    docs = spark.range(60).select(F.col("id").alias("doc_id"))
    labels = docs.select("doc_id",
                         (F.col("doc_id") - F.col("doc_id") % 3)
                         .alias("cluster_id"))
    out = sampling.leakage_safe_split(labels, "doc_id", labels)
    assert set(out.columns) == {"doc_id", "cluster_id", "split"}
    per = (out.groupBy("cluster_id")
           .agg(F.countDistinct("split").alias("ns")).collect())
    assert all(r["ns"] == 1 for r in per)


def test_same_salt_stages_correlate_distinct_salts_compose(spark):
    """Salt hygiene (caught by the r06 all-options composition run): a
    0.9 sample under the DEFAULT salt keeps exactly the hash range the
    default-salt 90/5/5 split labels 'train' — val/test come out empty.
    Distinct per-stage salts restore the expected split mix."""
    docs = spark.range(3000).select(F.col("id").alias("k"))
    correlated = sampling.train_val_test_split(
        sampling.deterministic_sample(docs, "k", 0.9), "k")
    got = {r["split"] for r in correlated.select("split").distinct().collect()}
    assert got == {"train"}  # the documented hazard, pinned
    hygienic = sampling.train_val_test_split(
        sampling.deterministic_sample(docs, "k", 0.9, salt="downsample"),
        "k")
    mix = {r["split"]: r["n"] for r in
           hygienic.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(mix) == {"train", "val", "test"}
    n = sum(mix.values())
    assert 0.85 < mix["train"] / n < 0.95


def test_ngram_jaccard_cap_counts_duplicate_docs_not_sets(spark):
    """r11 distinct-set-space pin: the stop-shingle cap is DOC frequency
    (the set-space window weights each set by its member count), so 5
    byte-identical docs push every one of their shingles past cap=3 —
    all pruned, the identical pairs DISAPPEAR (the pre-r11 doc-space
    semantics, which a naive set-frequency window would silently relax
    to df=1). The golden is the same plain-Python contract."""
    from scalding_spark.functions import dedup as dd
    texts = {i: "five identical copies of this exact sentence here"
             for i in range(1, 6)}
    texts[7] = "a completely different document about rare words alpha"
    texts[8] = "a completely different document about rare words beta"
    df = spark.createDataFrame([(i, t) for i, t in texts.items()],
                               ["doc_id", "text"])
    got = {(r.id_a, r.id_b): round(r.jaccard, 6)
           for r in dd.ngram_jaccard_pairs(df, "text", "doc_id", n=3,
                                           threshold=0.01, max_doc_freq=3,
                                           persist_index=False).collect()}
    expect = _golden_pairs(texts, max_doc_freq=3)
    assert got == expect
    assert not any(a < 6 and b < 6 for a, b in got)  # identical pairs gone
    assert (7, 8) in got                             # rare-shingle pair kept
    # and WITHOUT the cap the identical group scores exactly 1.0
    got_nc = {(r.id_a, r.id_b): r.jaccard
              for r in dd.ngram_jaccard_pairs(df, "text", "doc_id", n=3,
                                              threshold=0.01,
                                              max_doc_freq=None,
                                              persist_index=False).collect()}
    assert all(got_nc[(a, b)] == 1.0
               for a in range(1, 6) for b in range(a + 1, 6))
