"""Tests for the round-2 training-data scoring operators: shared n-gram
spans (span-level exact dedup), self-trained n-gram LM scoring, the
broadcast linear quality model, and distributed k-means."""

import math

import pytest
from pyspark.sql import functions as F

from scalding_spark.functions import lm
from scalding_spark.functions.dedup import shared_ngram_spans
from scalding_spark.functions.similarity import kmeans
from scalding_spark.functions.text import (
    QUALITY_MODEL_BIAS, QUALITY_MODEL_WEIGHTS, STOPWORDS,
    linear_quality_score)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


# --- shared_ngram_spans ----------------------------------------------------

WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
         "kilo lima mike november oscar papa quebec romeo sierra tango").split()


def test_spans_finds_exact_shared_run(spark):
    run = " ".join(WORDS[:10])               # 10-token shared run
    d0 = "zebra yak xray " + run + " walrus vulture"
    d1 = "unicorn " + run + " tapir seal rabbit"
    out = shared_ngram_spans(_docs(spark, [d0, d1]), "text", "doc_id",
                             n=4, min_len=8).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.id_a, r.id_b) == (0, 1)
    assert r.span_tokens == 10
    assert r.start_a == 3 and r.start_b == 1


def test_spans_below_min_len_dropped(spark):
    run = " ".join(WORDS[:6])                # 6 < min_len=8
    d0 = "zebra yak " + run + " walrus"
    d1 = "unicorn " + run + " seal"
    out = shared_ngram_spans(_docs(spark, [d0, d1]), "text", "doc_id",
                             n=4, min_len=8).collect()
    assert out == []


def test_spans_gap_splits_islands(spark):
    # two shared runs separated by differing middles -> two spans, not one
    run1, run2 = " ".join(WORDS[:8]), " ".join(WORDS[10:18])
    d0 = run1 + " zebra " + run2
    d1 = run1 + " yak " + run2
    out = shared_ngram_spans(_docs(spark, [d0, d1]), "text", "doc_id",
                             n=4, min_len=8)
    rows = sorted(out.collect(), key=lambda r: r.start_a)
    assert [r.span_tokens for r in rows] == [8, 8]
    assert rows[0].start_a == 0 and rows[1].start_a == 9


def test_spans_three_docs_pairwise(spark):
    run = " ".join(WORDS[:9])
    texts = ["aa " + run + " bb", "cc dd " + run, run + " ee ff gg"]
    out = shared_ngram_spans(_docs(spark, texts), "text", "doc_id",
                             n=4, min_len=8)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert pairs == {(0, 1), (0, 2), (1, 2)}


def test_spans_hot_gram_pruned(spark):
    # the shared run appears in ALL docs -> every gram of it exceeds the
    # cap, so the span disappears (conservative pruning), while a rarer
    # run between two docs survives
    boiler = " ".join(WORDS[:8])
    rare = " ".join(WORDS[10:18])
    texts = [boiler + " x" + str(i) for i in range(6)]
    texts.append(boiler + " " + rare)
    texts.append(rare + " " + boiler)
    got = shared_ngram_spans(_docs(spark, texts), "text", "doc_id",
                             n=4, min_len=8, max_gram_freq=5).collect()
    assert {(r.id_a, r.id_b, r.span_tokens) for r in got} == {(6, 7, 8)}


# --- n-gram LM scoring -----------------------------------------------------

def _py_unigram(texts, add_k=0.5):
    toks = [t.lower().split() for t in texts]
    cnt: dict[str, int] = {}
    for ts in toks:
        for w in ts:
            cnt[w] = cnt.get(w, 0) + 1
    N, V = sum(cnt.values()), len(cnt)
    out = {}
    for i, ts in enumerate(toks):
        if ts:
            out[i] = sum(-math.log((cnt[w] + add_k) / (N + add_k * V))
                         for w in ts) / len(ts)
    return out


def test_unigram_lm_matches_hand_model(spark):
    texts = ["the cat sat", "the the the", "quantum flux capacitor", ""]
    got = {r.doc_id: (r.n_toks, r.avg_neg_logp)
           for r in lm.unigram_lm_score(
               _docs(spark, texts), "text", "doc_id").collect()}
    want = _py_unigram(texts)
    assert set(got) == set(want)          # empty doc absent
    for i, w in want.items():
        assert got[i][1] == pytest.approx(w, rel=1e-12)
    assert got[1][0] == 3
    # repetitive common-token doc scores LOWER surprise than rare-token doc
    assert got[1][1] < got[2][1]


def test_unigram_lm_fixed_point_close_to_exact(spark):
    texts = ["the cat sat on the mat", "rare words only here"]
    exact = {r.doc_id: r.avg_neg_logp for r in lm.unigram_lm_score(
        _docs(spark, texts), "text", "doc_id").collect()}
    fixed = {r.doc_id: r.avg_neg_logp for r in lm.unigram_lm_score(
        _docs(spark, texts), "text", "doc_id", term_decimals=6).collect()}
    for i in exact:
        assert fixed[i] == pytest.approx(exact[i], abs=1e-5)


def test_bigram_lm_matches_hand_model(spark):
    texts = ["a b a b a", "a a a a", "c d"]
    toks = [t.split() for t in texts]
    pair_cnt: dict[tuple, int] = {}
    for ts in toks:
        for x, y in zip(ts, ts[1:]):
            pair_cnt[(x, y)] = pair_cnt.get((x, y), 0) + 1
    prefix = {}
    for (x, _), c in pair_cnt.items():
        prefix[x] = prefix.get(x, 0) + c
    V = len({w for ts in toks for w in ts})
    want = {}
    for i, ts in enumerate(toks):
        ps = list(zip(ts, ts[1:]))
        want[i] = sum(-math.log((pair_cnt[p] + 0.5) / (prefix[p[0]] + 0.5 * V))
                      for p in ps) / len(ps)
    got = {r.doc_id: (r.n_bigrams, r.avg_neg_logp)
           for r in lm.bigram_lm_score(
               _docs(spark, texts), "text", "doc_id").collect()}
    for i, w in want.items():
        assert got[i][1] == pytest.approx(w, rel=1e-12)
    assert got[0][0] == 4


# --- linear quality score --------------------------------------------------

def _py_quality(text):
    toks = [t for t in "".join(
        c if c.isalnum() else " " for c in text.lower()).split() if t]
    n = len(toks)
    punct = sum(1 for c in text if not (c.isalnum() or c.isspace()))
    feats = {
        "log_n_tok": math.log(1.0 + n),
        "punct_ratio": (punct / len(text)) if text else 0.0,
        "stop_ratio": (sum(1 for t in toks if t in STOPWORDS["en"]) / n) if n else 0.0,
        "mean_word_len": (sum(len(t) for t in toks) / n) if n else 0.0,
    }
    z = QUALITY_MODEL_BIAS
    for name in sorted(QUALITY_MODEL_WEIGHTS):
        z += QUALITY_MODEL_WEIGHTS[name] * feats[name]
    return 1.0 / (1.0 + math.exp(-z))


def test_linear_quality_matches_formula(spark):
    texts = ["The cat sat on the mat with a hat and it is fine.",
             "$$$ ### !!! ??? ***",
             "zxqwv pneumonoultramicroscopic reallylongtokens everywhere",
             ""]
    got = [r.q for r in _docs(spark, texts)
           .select(linear_quality_score(F.col("text")).alias("q"))
           .orderBy("doc_id").collect()]
    for g, t in zip(got, texts):
        assert g == pytest.approx(_py_quality(t), rel=1e-9)
    # prose beats symbol soup and gibberish
    assert got[0] > got[1] and got[0] > got[2]


def test_linear_quality_custom_weights(spark):
    got = (_docs(spark, ["five tokens of plain text"])
           .select(linear_quality_score(
               F.col("text"), weights={"log_n_tok": 0.0, "punct_ratio": 0.0,
                                       "stop_ratio": 0.0, "mean_word_len": 0.0},
               bias=0.0).alias("q")).collect()[0].q)
    assert got == pytest.approx(0.5)


# --- k-means ---------------------------------------------------------------

def test_kmeans_separates_blobs(spark):
    # two tight, far-apart blobs; deterministic points
    pts = [(i, [float(10 + (i % 5)) * 0.01 + 10.0, 10.0]) for i in range(20)]
    pts += [(100 + i, [-10.0, float(i % 7) * 0.01 - 10.0]) for i in range(20)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    stats: dict = {}
    assigned, cents = kmeans(df, k=2, max_iter=10, seed=42, stats=stats)
    rows = assigned.collect()
    by_blob = {}
    for r in rows:
        by_blob.setdefault(r.id < 100, set()).add(r.cell)
    # each blob maps to exactly one cell, and the cells differ
    assert all(len(cells) == 1 for cells in by_blob.values())
    assert by_blob[True] != by_blob[False]
    assert stats["iterations"] == 2
    assert len(cents) == 2 and len(cents[0]) == 2
    # centroids converged near the blob centers
    got = sorted(round(c[0]) for c in cents)
    assert got == [-10, 10]


def test_kmeans_deterministic(spark):
    import random
    rnd = random.Random(7)
    pts = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    a1, c1 = kmeans(df, k=4, max_iter=5, seed=1)
    a2, c2 = kmeans(df, k=4, max_iter=5, seed=1)
    # ulp tolerance, not ==: the driver adds per-partition sums, so
    # centroids are only bit-stable for an IDENTICAL layout
    for row_a, row_b in zip(c1, c2):
        for x, y in zip(row_a, row_b):
            assert abs(x - y) <= 1e-9
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))


# --- chunk_documents -------------------------------------------------------

def test_chunking_exact_boundaries(spark):
    from scalding_spark.functions.text import chunk_documents
    text = " ".join(f"w{i}" for i in range(25))      # 25 tokens
    out = sorted(chunk_documents(_docs(spark, [text]), "text", "doc_id",
                                 chunk_tokens=10, overlap=4).collect(),
                 key=lambda r: r.chunk_id)
    # stride 6: starts 0,6,12 -> covers up to 22; last start 18 exposes 19..24
    starts = [r.chunk_id * 6 for r in out]
    assert starts == [0, 6, 12, 18]
    for r in out:
        words = r.chunk_text.split()
        s = r.chunk_id * 6
        assert words == [f"w{i}" for i in range(s, min(s + 10, 25))]
        assert r.n_tokens == len(words)
    # consecutive chunks overlap by exactly 4 tokens (except the tail math)
    assert out[0].chunk_text.split()[-4:] == out[1].chunk_text.split()[:4]


def test_chunking_every_token_covered_once_plus_overlap(spark):
    from scalding_spark.functions.text import chunk_documents
    text = " ".join(f"t{i}" for i in range(100))
    out = chunk_documents(_docs(spark, [text]), "text", "doc_id",
                          chunk_tokens=32, overlap=8).collect()
    covered = set()
    for r in out:
        covered.update(r.chunk_text.split())
    assert covered == {f"t{i}" for i in range(100)}


def test_chunking_short_and_empty_docs(spark):
    from scalding_spark.functions.text import chunk_documents
    out = chunk_documents(_docs(spark, ["only three tokens", "", "   "]),
                          "text", "doc_id", chunk_tokens=10, overlap=2).collect()
    assert len(out) == 1                      # token-less docs absent
    assert out[0].doc_id == 0 and out[0].chunk_id == 0
    assert out[0].chunk_text == "only three tokens" and out[0].n_tokens == 3


def test_chunking_rejects_bad_overlap(spark):
    from scalding_spark.functions.text import chunk_documents
    with pytest.raises(ValueError):
        chunk_documents(_docs(spark, ["x"]), "text", "doc_id",
                        chunk_tokens=8, overlap=8)


def test_chunking_rejects_negative_overlap_and_zero_chunk(spark):
    from scalding_spark.functions.text import chunk_documents
    with pytest.raises(ValueError):
        chunk_documents(_docs(spark, ["x"]), "text", "doc_id",
                        chunk_tokens=10, overlap=-5)
    with pytest.raises(ValueError):
        chunk_documents(_docs(spark, ["x"]), "text", "doc_id",
                        chunk_tokens=0, overlap=-1)


@pytest.mark.parametrize("n_tokens,chunk,overlap", [
    (1, 5, 0), (5, 5, 0), (6, 5, 0), (7, 3, 1), (24, 10, 4),
    (25, 10, 9), (100, 32, 8), (53, 7, 3), (11, 11, 10), (12, 11, 10),
])
def test_chunking_matches_python_reference(spark, n_tokens, chunk, overlap):
    """Exhaustive boundary sweep vs a literal python implementation of the
    documented contract (start multiples of stride while new tokens remain;
    every token covered; last chunk may be short)."""
    from scalding_spark.functions.text import chunk_documents

    words = [f"w{i}" for i in range(n_tokens)]
    stride = chunk - overlap
    want = []
    s = 0
    while True:
        want.append((len(want), words[s:s + chunk]))
        if s + chunk >= n_tokens:
            break
        s += stride
    # drop trailing chunks that expose no new tokens (the formula's
    # n_chunks = 1 + ceil(max(n - chunk, 0) / stride) does the same)
    got = sorted(
        chunk_documents(_docs(spark, [" ".join(words)]), "text", "doc_id",
                        chunk_tokens=chunk, overlap=overlap).collect(),
        key=lambda r: r.chunk_id)
    assert [(r.chunk_id, r.chunk_text.split()) for r in got] == want
    assert all(r.n_tokens == len(r.chunk_text.split()) for r in got)


# -- r03: span cutting (the shared_ngram_spans companion) ---------------------

def test_cut_spans_removes_higher_id_copy(spark):
    from scalding_spark.functions import dedup
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(1, f"intro one {shared} tail one"),
         (2, f"start two two {shared} end"),
         (3, "совсем unrelated text here ok")],
        "doc_id long, text string")
    spans = dedup.shared_ngram_spans(df, "text", "doc_id", n=4, min_len=8)
    out = {r["doc_id"]: r for r in
           dedup.cut_spans(df, spans, "text", "doc_id").collect()}
    # doc1 (lower id) keeps its text untouched, byte-identical
    assert out[1]["text"] == f"intro one {shared} tail one"
    assert out[1]["n_cut_tokens"] == 0
    # doc2 lost exactly the 8 shared tokens; the rest survives in order
    assert out[2]["n_cut_tokens"] == 8
    assert out[2]["text"] == "start two two end"
    # untouched doc is byte-identical (null-join passthrough)
    assert out[3]["text"] == "совсем unrelated text here ok"
    assert out[3]["n_cut_tokens"] == 0


def test_cut_spans_overlapping_intervals(spark):
    from scalding_spark.functions import dedup
    df = spark.createDataFrame(
        [(9, "a b c d e f g h i j")], "doc_id long, text string")
    spans = spark.createDataFrame(
        [(1, 9, 0, 2, 4), (2, 9, 0, 4, 4)],  # cuts [2,6) and [4,8) on doc 9
        "id_a long, id_b long, start_a long, start_b long, span_tokens long")
    out = dedup.cut_spans(df, spans, "text", "doc_id").first()
    assert out["text"] == "a b i j"       # union of overlaps removed
    assert out["n_cut_tokens"] == 6


def test_cut_spans_schema_and_column_order(spark):
    from scalding_spark.functions import dedup
    df = spark.createDataFrame([(1, "x y", "s")],
                               "doc_id long, text string, src string")
    spans = spark.createDataFrame(
        [], "id_a long, id_b long, start_a long, start_b long, span_tokens long")
    out = dedup.cut_spans(df, spans, "text", "doc_id")
    assert out.columns == ["doc_id", "src", "text", "n_cut_tokens"]


# ---------------------------------------------------------------------------
# perplexity_buckets (CCNet head/middle/tail)
# ---------------------------------------------------------------------------

def _bucket_corpus(spark):
    # 12 docs: 4 of repeated common words (low surprise), 4 mixed, 4 of
    # unique rare tokens (high surprise)
    rows = []
    for i in range(4):
        rows.append((i, "the cat sat on the mat the cat sat again"))
    for i in range(4, 8):
        rows.append((i, f"the cat pondered quantum flux number{i}"))
    for i in range(8, 12):
        rows.append((i, f"zyx{i}a qwv{i}b jkl{i}c mnp{i}d"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_perplexity_buckets_exact_sizes(spark):
    df = _bucket_corpus(spark)
    out = lm.perplexity_buckets(df, "text", "doc_id").toPandas()
    assert len(out) == 12
    sizes = out.groupby("bucket").size().to_dict()
    assert sizes == {"head": 4, "middle": 4, "tail": 4}
    assert set(out.columns) == {"doc_id", "n_toks", "avg_neg_logp", "bucket"}


def test_perplexity_buckets_order_semantics(spark):
    # head must hold the LOWEST avg_neg_logp docs, tail the highest
    df = _bucket_corpus(spark)
    out = lm.perplexity_buckets(df, "text", "doc_id").toPandas()
    by = out.groupby("bucket")["avg_neg_logp"]
    assert by.max()["head"] <= by.min()["middle"]
    assert by.max()["middle"] <= by.min()["tail"]
    # repeated-common-word docs land in head, rare-token docs in tail
    head_ids = set(out[out.bucket == "head"].doc_id)
    tail_ids = set(out[out.bucket == "tail"].doc_id)
    assert head_ids == {0, 1, 2, 3}
    assert tail_ids == {8, 9, 10, 11}


def test_perplexity_buckets_layout_independent(spark):
    df = _bucket_corpus(spark)
    a = lm.perplexity_buckets(df, "text", "doc_id")
    b = lm.perplexity_buckets(df.repartition(7), "text", "doc_id")
    pa = a.toPandas().sort_values("doc_id").reset_index(drop=True)
    pb = b.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert (pa["bucket"] == pb["bucket"]).all()


def test_perplexity_buckets_custom_fractions(spark):
    df = _bucket_corpus(spark)
    out = lm.perplexity_buckets(df, "text", "doc_id",
                                fractions=(0.25,), labels=("keep", "drop"))
    sizes = out.toPandas().groupby("bucket").size().to_dict()
    assert sizes == {"keep": 3, "drop": 9}


def test_perplexity_buckets_validates(spark):
    df = _bucket_corpus(spark)
    with pytest.raises(ValueError):
        lm.perplexity_buckets(df, "text", "doc_id", fractions=(0.5,),
                              labels=("a", "b", "c"))
    with pytest.raises(ValueError):
        lm.perplexity_buckets(df, "text", "doc_id", fractions=(0.7, 0.3))
    with pytest.raises(ValueError):
        lm.perplexity_buckets(df, "text", "doc_id", fractions=(0.0, 0.5))


# ---------------------------------------------------------------------------
# corpus_divergence (domain-shift KL)
# ---------------------------------------------------------------------------

def _py_kl(corpus_a, corpus_b, add_k=0.5):
    import re
    from collections import Counter
    tok = lambda s: [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]
    ca = Counter(t for s in corpus_a for t in tok(s))
    cb = Counter(t for s in corpus_b for t in tok(s))
    vocab = set(ca) | set(cb)
    na, nb, v = sum(ca.values()), sum(cb.values()), len(vocab)
    kl_ab = kl_ba = 0.0
    for t in vocab:
        pa = (ca[t] + add_k) / (na + add_k * v)
        pb = (cb[t] + add_k) / (nb + add_k * v)
        kl_ab += pa * math.log(pa / pb)
        kl_ba += pb * math.log(pb / pa)
    return na, nb, v, kl_ab, kl_ba


def test_corpus_divergence_matches_python_reference(spark):
    a = ["the cat sat on the mat", "the dog sat too", "a cat and a dog"]
    b = ["quantum flux decoheres rapidly", "the flux capacitor hums",
         "entangled states decohere"]
    da = spark.createDataFrame([(i, t) for i, t in enumerate(a)], "id long, text string")
    db = spark.createDataFrame([(i, t) for i, t in enumerate(b)], "id long, text string")
    row = lm.corpus_divergence(da, db, "text", term_decimals=None).collect()[0]
    na, nb, v, kl_ab, kl_ba = _py_kl(a, b)
    assert (row["n_toks_a"], row["n_toks_b"], row["vocab"]) == (na, nb, v)
    assert abs(row["kl_ab"] - kl_ab) < 1e-9
    assert abs(row["kl_ba"] - kl_ba) < 1e-9
    assert abs(row["jsd_proxy"] - (kl_ab + kl_ba) / 2) < 1e-9


def test_corpus_divergence_identical_corpora_is_zero(spark):
    a = ["alpha beta gamma", "beta gamma delta"]
    da = spark.createDataFrame([(i, t) for i, t in enumerate(a)], "id long, text string")
    row = lm.corpus_divergence(da, da, "text", term_decimals=None).collect()[0]
    assert row["kl_ab"] == 0.0 and row["kl_ba"] == 0.0


def test_corpus_divergence_fixed_point_close_and_layout_stable(spark):
    a = ["the cat sat on the mat"] * 3 + ["dogs bark loudly at night"]
    b = ["stock prices fell sharply today", "the market rallied late"]
    da = spark.createDataFrame([(i, t) for i, t in enumerate(a)], "id long, text string")
    db = spark.createDataFrame([(i, t) for i, t in enumerate(b)], "id long, text string")
    exact = lm.corpus_divergence(da, db, "text", term_decimals=None).collect()[0]
    fx1 = lm.corpus_divergence(da, db, "text").collect()[0]
    fx2 = lm.corpus_divergence(da.repartition(5), db.repartition(3),
                               "text").collect()[0]
    assert abs(fx1["kl_ab"] - exact["kl_ab"]) < 1e-6
    assert fx1["kl_ab"] == fx2["kl_ab"] and fx1["kl_ba"] == fx2["kl_ba"]


def test_corpus_divergence_shift_is_detectable(spark):
    # near-identical corpora diverge far less than disjoint-domain ones
    base = ["the cat sat on the mat", "the dog sat too"]
    near = ["the cat sat on a mat", "the dog sat there too"]
    far = ["quantum flux decoheres", "entangled states collapse"]
    mk = lambda c: spark.createDataFrame(
        [(i, t) for i, t in enumerate(c)], "id long, text string")
    d_near = lm.corpus_divergence(mk(base), mk(near), "text").collect()[0]
    d_far = lm.corpus_divergence(mk(base), mk(far), "text").collect()[0]
    assert d_near["jsd_proxy"] < d_far["jsd_proxy"] / 2
