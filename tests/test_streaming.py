"""Structured Streaming tests: availableNow incremental runs must equal the
batch results of the same logical plan."""

from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from scalding_spark import streaming

SCHEMA = "ts timestamp, user string, value double"
ROWS = [
    (datetime(2026, 1, 1, 10, 0), "a", 1.0),
    (datetime(2026, 1, 1, 10, 4), "a", 2.0),
    (datetime(2026, 1, 1, 10, 20), "a", 4.0),
    (datetime(2026, 1, 1, 10, 1), "b", 8.0),
    (datetime(2026, 1, 1, 11, 2), "b", 16.0),
]


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_stream"))
    spark.createDataFrame(ROWS, SCHEMA).write.mode("overwrite").parquet(d)
    return d


def test_stream_windowed_agg_equals_batch(spark, events_dir):
    batch = spark.read.parquet(events_dir)
    stream = streaming.stream_from_parquet_dir(spark, events_dir, SCHEMA)

    def plan(df):
        return streaming.windowed_agg(
            df, "ts", "10 minutes", F.sum("value").alias("total"),
            keys=["user"], watermark="1 hour")

    got = streaming.run_available_now(plan(stream), "win_test")
    b = {(r.user, r.win.start): r.total for r in plan(batch).collect()}
    s = {(r.user, r.win.start): r.total for r in got.collect()}
    assert s == b and len(b) == 4


def test_session_window_agg_batch_and_stream(spark, events_dir):
    batch = spark.read.parquet(events_dir)
    stream = streaming.stream_from_parquet_dir(spark, events_dir, SCHEMA)

    def plan(df):
        return streaming.session_window_agg(
            df, "ts", "user", F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total"), gap="10 minutes", watermark="1 hour")

    b = {(r.user, r.n, r.total) for r in plan(batch).collect()}
    s = {(r.user, r.n, r.total) for r in
         streaming.run_available_now(plan(stream), "sess_test").collect()}
    # user a: (10:00,10:04) one session n=2 total=3; 10:20 alone; b: two singles
    assert b == {("a", 2, 3.0), ("a", 1, 4.0), ("b", 1, 8.0), ("b", 1, 16.0)}
    assert s == b


def test_streaming_dedup_requires_watermark(spark, events_dir):
    stream = streaming.stream_from_parquet_dir(spark, events_dir, SCHEMA)
    with pytest.raises(ValueError):
        streaming.streaming_dedup(stream, ["user"])
    deduped = streaming.streaming_dedup(stream, ["user"], "ts", "1 hour")
    got = streaming.run_available_now(deduped, "dedup_test")
    assert got.select("user").distinct().count() == 2
    assert got.count() == 2


def test_stateful_map_running_count(spark, events_dir):
    stream = streaming.stream_from_parquet_dir(spark, events_dir, SCHEMA)

    def counter(key, pdf_iter, state):
        (n,) = state.get if state.exists else (0,)
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame([{"user": key[0], "n_events": n}])

    out = streaming.stateful_map(stream, ["user"], counter,
                                 state_schema="n long",
                                 out_schema="user string, n_events long")
    got = {r.user: r.n_events for r in
           streaming.run_available_now(out, "state_test").collect()}
    assert got == {"a": 3, "b": 2}


def test_write_stream_parquet_checkpointed(spark, events_dir, tmp_path):
    stream = streaming.stream_from_parquet_dir(spark, events_dir, SCHEMA)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = streaming.write_stream_parquet(stream, out, ckpt, available_now=True)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == len(ROWS)


# -- stream_interval_join ---------------------------------------------------

EV_SCHEMA = "ts timestamp, user string, kind string"
EV_ROWS = [
    (datetime(2026, 1, 1, 10, 0), "a", "error"),
    (datetime(2026, 1, 1, 10, 10), "a", "click"),   # 10 min after error
    (datetime(2026, 1, 1, 11, 30), "a", "click"),   # past the 1h window
    (datetime(2026, 1, 1, 10, 5), "b", "click"),    # no error for b
    (datetime(2026, 1, 1, 12, 0), "b", "error"),
    (datetime(2026, 1, 1, 12, 0), "b", "click"),    # same instant: included
]


@pytest.fixture(scope="module")
def clicks_errors_dirs(spark, tmp_path_factory):
    ev = spark.createDataFrame(EV_ROWS, EV_SCHEMA)
    dc = str(tmp_path_factory.mktemp("clicks"))
    de = str(tmp_path_factory.mktemp("errors"))
    ev.where(F.col("kind") == "click").drop("kind").write.mode("overwrite").parquet(dc)
    ev.where(F.col("kind") == "error").drop("kind") \
      .withColumnRenamed("ts", "err_ts").write.mode("overwrite").parquet(de)
    return dc, de


def expected_pairs(spark, dc, de):
    c = spark.read.parquet(dc)
    e = spark.read.parquet(de)
    j = c.join(e, (c.user == e.user) & (c.ts >= e.err_ts)
               & (c.ts <= e.err_ts + F.expr("INTERVAL 1 HOUR")), "inner")
    return {(r[0], str(r[1]), str(r[2])) for r in
            j.select(c.user, c.ts, e.err_ts).collect()}


def test_stream_interval_join_batch_equals_inequality_join(spark, clicks_errors_dirs):
    dc, de = clicks_errors_dirs
    out = streaming.stream_interval_join(
        spark.read.parquet(dc), spark.read.parquet(de),
        on=["user"], left_ts="ts", right_ts="err_ts",
        min_delay="0 seconds", max_delay="1 hour")
    got = {(r.user, str(r.ts), str(r.err_ts)) for r in out.collect()}
    assert got == expected_pairs(spark, dc, de)
    assert got == {("a", "2026-01-01 10:10:00", "2026-01-01 10:00:00"),
                   ("b", "2026-01-01 12:00:00", "2026-01-01 12:00:00")}


def test_stream_interval_join_streaming_equals_batch(spark, clicks_errors_dirs):
    dc, de = clicks_errors_dirs
    sc = streaming.stream_from_parquet_dir(spark, dc, "ts timestamp, user string")
    se = streaming.stream_from_parquet_dir(spark, de, "err_ts timestamp, user string")
    out = streaming.stream_interval_join(
        sc, se, on=["user"], left_ts="ts", right_ts="err_ts",
        min_delay="0 seconds", max_delay="1 hour")
    got_df = streaming.run_available_now(out, "ivj_test", output_mode="append")
    got = {(r.user, str(r.ts), str(r.err_ts)) for r in got_df.collect()}
    assert got == expected_pairs(spark, dc, de)


def test_stream_interval_join_rejects_full_outer(spark, clicks_errors_dirs):
    dc, de = clicks_errors_dirs
    with pytest.raises(ValueError, match="inner"):
        streaming.stream_interval_join(
            spark.read.parquet(dc), spark.read.parquet(de),
            on=["user"], left_ts="ts", right_ts="err_ts", how="fullOuter")


# --- stream_ingest_dedup ----------------------------------------------------

DOC_SCHEMA = "doc_id long, text string"


def _run_ingest(spark, batch_rows, paths):
    """Write one batch dir, stream it through stream_ingest_dedup (its own
    checkpoint per call simulates successive stream restarts on new data)."""
    src, corpus, store, ckpt = paths
    spark.createDataFrame(batch_rows, DOC_SCHEMA) \
        .write.mode("append").parquet(src)
    stream = streaming.stream_from_parquet_dir(spark, src, DOC_SCHEMA)
    q = streaming.stream_ingest_dedup(
        stream, corpus_path=corpus, store_path=store,
        checkpoint=ckpt, text_col="text", id_col="doc_id")
    q.awaitTermination(120)


def test_stream_ingest_dedup_cumulative(spark, tmp_path):
    paths = tuple(str(tmp_path / p) for p in
                  ("src", "corpus", "store", "ckpt"))
    # batch 1: 3 docs, one internal dup (doc 2 repeats doc 0's text)
    _run_ingest(spark, [(0, "alpha beta"), (1, "gamma delta"),
                        (2, "alpha beta")], paths)
    corpus = spark.read.parquet(paths[1])
    assert sorted(r.doc_id for r in corpus.collect()) == [0, 1]
    # batch 2: one true novel doc + one dup of batch 1 (different id)
    _run_ingest(spark, [(10, "epsilon zeta"), (11, "gamma delta")], paths)
    corpus = spark.read.parquet(paths[1])
    assert sorted(r.doc_id for r in corpus.collect()) == [0, 1, 10]
    # fingerprint store tracks exactly the kept docs
    assert spark.read.parquet(paths[2]).distinct().count() == 3


# --- stream_ingest_neardup --------------------------------------------------

BASE = ("the quick brown fox jumps over the lazy dog while seven wizards "
        "quietly brew hex elixirs beneath the ancient stone bridge at dawn "
        "watching pale mist curl across the silent river")


def _run_neardup(spark, batch_rows, paths, threshold=0.7):
    src, corpus, store, ckpt = paths
    spark.createDataFrame(batch_rows, DOC_SCHEMA) \
        .write.mode("append").parquet(src)
    stream = streaming.stream_from_parquet_dir(spark, src, DOC_SCHEMA)
    q = streaming.stream_ingest_neardup(
        stream, corpus_path=corpus, store_path=store, checkpoint=ckpt,
        text_col="text", id_col="doc_id", threshold=threshold)
    q.awaitTermination(120)


def test_stream_ingest_neardup_within_and_cross_batch(spark, tmp_path):
    paths = tuple(str(tmp_path / p) for p in
                  ("src", "corpus", "store", "ckpt"))
    # batch 1: base doc, an exact dup, a near dup (one word changed), and
    # one unrelated doc
    near = BASE.replace("lazy", "sleepy")
    other = ("completely different content about distributed query engines "
             "aggregating partitioned columnar data with adaptive shuffles "
             "and broadcast hash joins across many executor nodes tonight")
    _run_neardup(spark, [(0, BASE), (1, BASE), (2, near), (3, other)], paths)
    corpus = spark.read.parquet(paths[1])
    assert sorted(r.doc_id for r in corpus.collect()) == [0, 3]
    # batch 2: near dup of the STORED base doc (only signatures remain),
    # plus a novel doc
    near2 = BASE.replace("dawn", "dusk")
    novel = ("fresh unseen narrative describing orchard keepers grafting "
             "rare apple cultivars onto hardy rootstock under autumn skies "
             "while migrating geese trace long chevrons overhead")
    _run_neardup(spark, [(10, near2), (11, novel)], paths)
    corpus = spark.read.parquet(paths[1])
    assert sorted(r.doc_id for r in corpus.collect()) == [0, 3, 11]
    # store holds exactly one signature per kept doc
    store = spark.read.parquet(paths[2])
    assert sorted(r.id for r in store.select("id").collect()) == [0, 3, 11]


def test_stream_ingest_neardup_distinct_docs_all_kept(spark, tmp_path):
    paths = tuple(str(tmp_path / p) for p in
                  ("s2", "c2", "st2", "ck2"))
    docs = [(i, f"wholly distinct document number {i} about topic "
                f"{'alpha beta gamma delta epsilon'.split()[i]} with unique "
                f"token{i}a token{i}b token{i}c token{i}d token{i}e")
            for i in range(5)]
    _run_neardup(spark, docs[:3], paths)
    _run_neardup(spark, docs[3:], paths)
    corpus = spark.read.parquet(paths[1])
    assert sorted(r.doc_id for r in corpus.collect()) == [0, 1, 2, 3, 4]


def test_stream_ingest_neardup_matches_python_golden(spark, sf_dir, tmp_path):
    """batch ≡ stream vs the pure-Python mirror of the tier's rule, over
    two epochs of the sf0.01 documents (even ids, then odd) plus crafted
    near-dups: exact dedup keeps the min id per normalized text; a doc
    whose banded candidate estimates ≥ threshold against ANY smaller-id
    batch doc loses; survivors drop against the cumulative kept-signature
    store; kept signed docs extend the store."""
    import os

    import py_reference as pr
    num_hashes, bands, thr = 64, 16, 0.5
    docs = pr._documents(os.path.join(os.path.dirname(sf_dir), "sf0.01"))
    crafted = [
        (1000, BASE), (1002, BASE.replace("lazy", "sleepy")),
        (1004, BASE.upper() + "!"), (1006, "..."), (1008, None),
        (1001, BASE.replace("dawn", "dusk")), (1003, "!!!"), (1005, "?"),
        (1007, BASE.replace("river", "stream")), (1009, None),
    ]
    batches = [[r for r in docs + crafted if r[0] % 2 == p]
               for p in (0, 1)]
    paths = tuple(str(tmp_path / p) for p in ("ns", "nc", "nt", "nk"))
    src, corpus, store_path, ckpt = paths
    for rows in batches:
        spark.createDataFrame(rows, DOC_SCHEMA).write.mode("append") \
            .parquet(src)
        stream = streaming.stream_from_parquet_dir(spark, src, DOC_SCHEMA)
        streaming.stream_ingest_neardup(
            stream, corpus_path=corpus, store_path=store_path,
            checkpoint=ckpt, text_col="text", id_col="doc_id",
            num_hashes=num_hashes, bands=bands,
            threshold=thr).awaitTermination(300)
    got = sorted(r.doc_id for r in spark.read.parquet(corpus).collect())
    # pure-python mirror
    store, kept = [], []
    for rows in batches:
        first = {}
        for i, t in sorted(rows):
            first.setdefault(None if t is None
                             else " ".join(pr.tokenize(t)), i)
        text = dict(rows)
        sigs = {i: pr.minhash_signature(pr.shingles(text[i]), num_hashes)
                for i in first.values() if pr.shingles(text[i])}
        keys = {i: set(pr.minhash_band_keys(s, bands))
                for i, s in sigs.items()}

        def near(i, sig, ks):
            return bool(keys[i] & ks) and \
                pr.signature_estimate(sigs[i], sig) >= thr
        drop = {i for i in sigs
                if any(j < i and near(i, sigs[j], keys[j]) for j in sigs)}
        for i in sorted(first.values()):
            if i in drop or (i in sigs and any(near(i, *s) for s in store)):
                continue
            kept.append(i)
            if i in sigs:
                store.append((sigs[i], keys[i]))
    assert 1002 not in kept and 1001 not in kept and 1003 in kept
    assert got == sorted(kept)


def test_signature_jaccard_estimator(spark):
    from scalding_spark.functions.dedup import (minhash_signatures,
                                                signature_jaccard)
    near = BASE.replace("lazy", "sleepy")
    df = spark.createDataFrame(
        [(0, BASE), (1, near), (2, "entirely unrelated words here today")],
        DOC_SCHEMA)
    sigs = minhash_signatures(df, "text", "doc_id", num_hashes=64)
    a = sigs.where(F.col("id") == 0).select(F.col("sig").alias("sa"))
    for other, lo, hi in ((1, 0.6, 1.0), (2, 0.0, 0.2)):
        b = sigs.where(F.col("id") == other).select(F.col("sig").alias("sb"))
        est = a.join(b).select(
            signature_jaccard(F.col("sa"), F.col("sb"), 64).alias("j")
        ).collect()[0]["j"]
        assert lo <= est <= hi, (other, est)


def test_batch_probe_reads_the_streaming_store(spark, tmp_path):
    """The docstring claim, verified: a corpus signed by the STREAMING
    path is probe-able by the BATCH dedup.neardup_against without
    re-signing — identical seeds and (band, hash) buckets (streaming
    defaults: 64 hashes / 16 bands)."""
    from scalding_spark.functions import dedup
    paths = tuple(str(tmp_path / p) for p in ("s3", "c3", "st3", "ck3"))
    other = ("completely different content about distributed query engines "
             "aggregating partitioned columnar data with adaptive shuffles "
             "and broadcast hash joins across many executor nodes tonight")
    _run_neardup(spark, [(0, BASE), (3, other)], paths)
    store = spark.read.parquet(paths[2])  # (id, sig, __batch)
    novel = ("fresh unseen narrative describing orchard keepers grafting "
             "rare apple cultivars onto hardy rootstock under autumn skies")
    batch = spark.createDataFrame(
        [(100, BASE.replace("lazy", "sleepy")), (101, novel)],
        "doc_id long, text string")
    kept = dedup.neardup_against(batch, store, "text", "doc_id",
                                 num_hashes=64, bands=16, threshold=0.7)
    assert {r.doc_id for r in kept.collect()} == {101}


def test_semantic_decontaminate_is_stream_compatible(spark, tmp_path):
    """similarity.semantic_decontaminate is a pure broadcast filter (the
    benchmark collapses to literals at plan-build), so it applies to a
    STREAMING frame unchanged — batch ≡ stream on the same rows."""
    from scalding_spark.functions import similarity
    src = str(tmp_path / "emb_src")
    rows = [(1, [1.0, 0.0]), (2, [0.99, 0.1]), (3, [0.0, 1.0]), (4, None)]
    schema = "vec_id long, embedding array<double>"
    spark.createDataFrame(rows, schema).write.parquet(src)
    bench = spark.createDataFrame([(100, [1.0, 0.0])], schema)
    stream = streaming.stream_from_parquet_dir(spark, src, schema)
    out = similarity.semantic_decontaminate(stream, bench, threshold=0.9)
    assert out.isStreaming
    got = {r["vec_id"] for r in
           streaming.run_available_now(out, timeout_s=120).collect()}
    batch = {r["vec_id"] for r in similarity.semantic_decontaminate(
        spark.read.parquet(src), bench, threshold=0.9).collect()}
    assert got == batch == {3, 4}  # near-dups dropped; NULL vec kept


# --- stream_ingest_semantic ---------------------------------------------------

EMB_SCHEMA = "vec_id long, embedding array<double>"


def _run_semantic(spark, batch_rows, paths, threshold=0.9,
                  store_dtype="float64"):
    src, corpus, store, ckpt = paths
    spark.createDataFrame(batch_rows, EMB_SCHEMA) \
        .write.mode("append").parquet(src)
    stream = streaming.stream_from_parquet_dir(spark, src, EMB_SCHEMA)
    q = streaming.stream_ingest_semantic(
        stream, corpus_path=corpus, store_path=store, checkpoint=ckpt,
        vec_col="embedding", id_col="vec_id", threshold=threshold,
        store_dtype=store_dtype)
    q.awaitTermination(120)


def test_stream_ingest_semantic_within_and_cross_batch(spark, tmp_path):
    paths = tuple(str(tmp_path / p) for p in
                  ("ssrc", "scorpus", "sstore", "sckpt"))
    # batch 1: base direction, a scaled exact dup, a near dup (cos≈0.995),
    # an orthogonal doc, and a NULL vector (kept, never stored)
    _run_semantic(spark, [
        (0, [1.0, 0.0]), (1, [5.0, 0.0]), (2, [1.0, 0.1]),
        (3, [0.0, 1.0]), (4, None)], paths)
    corpus = spark.read.parquet(paths[1])
    assert sorted(r.vec_id for r in corpus.collect()) == [0, 3, 4]
    # batch 2: near-dup of the STORED base doc (only vectors remain),
    # plus a genuinely novel direction
    _run_semantic(spark, [(10, [2.0, 0.1]), (11, [-1.0, 1.0])], paths)
    corpus = spark.read.parquet(paths[1])
    assert sorted(r.vec_id for r in corpus.collect()) == [0, 3, 4, 11]
    # store holds one NORMALIZED vector per kept non-NULL doc
    store = spark.read.parquet(paths[2])
    assert sorted(r.id for r in store.select("id").collect()) == [0, 3, 11]
    nrm = {r.id: sum(x * x for x in r.vecn) for r in store.collect()}
    assert all(abs(v - 1.0) < 1e-12 for v in nrm.values())


def test_stream_ingest_semantic_equals_batch_path(spark, tmp_path):
    """batch ≡ stream: the streaming tiers compose the BATCH operators'
    semantics — within-batch greedy-by-id == semantic_dedup(k=1), store
    probe == semantic_decontaminate(batch, stored docs)."""
    from scalding_spark.functions import similarity
    paths = tuple(str(tmp_path / p) for p in ("s2", "c2", "st2", "ck2"))
    b1 = [(0, [1.0, 0.0, 0.0]), (1, [0.99, 0.05, 0.0]),
          (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.98, 0.1])]
    b2 = [(10, [0.99, 0.0, 0.05]), (11, [0.0, 0.0, 1.0]),
          (12, [0.05, 0.05, 0.99])]
    _run_semantic(spark, b1, paths, threshold=0.95)
    _run_semantic(spark, b2, paths, threshold=0.95)
    stream_kept = sorted(
        r.vec_id for r in spark.read.parquet(paths[1]).collect())
    # batch path: dedup within b1; then b2 deduped within, then
    # decontaminated against b1's survivors
    s1 = similarity.semantic_dedup(
        spark.createDataFrame(b1, EMB_SCHEMA), threshold=0.95, k=1)
    df2 = similarity.semantic_dedup(
        spark.createDataFrame(b2, EMB_SCHEMA), threshold=0.95, k=1)
    s2 = similarity.semantic_decontaminate(df2, s1, threshold=0.95)
    batch_kept = sorted([r.vec_id for r in s1.collect()]
                        + [r.vec_id for r in s2.collect()])
    assert stream_kept == batch_kept


def test_stream_ingest_semantic_distinct_all_kept(spark, tmp_path):
    paths = tuple(str(tmp_path / p) for p in ("s3", "c3", "st3", "ck3"))
    eye = [(i, [1.0 if j == i else 0.0 for j in range(6)]) for i in range(6)]
    _run_semantic(spark, eye[:3], paths)
    _run_semantic(spark, eye[3:], paths)
    corpus = spark.read.parquet(paths[1])
    assert sorted(r.vec_id for r in corpus.collect()) == [0, 1, 2, 3, 4, 5]


def test_stream_ingest_semantic_batch_cap(spark, tmp_path):
    import pyspark.errors
    paths = tuple(str(tmp_path / p) for p in ("s4", "c4", "st4", "ck4"))
    src, corpus, store, ckpt = paths
    rows = [(i, [float(i), 1.0]) for i in range(10)]
    spark.createDataFrame(rows, EMB_SCHEMA).write.parquet(src)
    stream = streaming.stream_from_parquet_dir(spark, src, EMB_SCHEMA)
    q = streaming.stream_ingest_semantic(
        stream, corpus_path=corpus, store_path=store, checkpoint=ckpt,
        max_batch=5)
    with pytest.raises(pyspark.errors.StreamingQueryException,
                       match="max_batch"):
        q.awaitTermination(120)


# --- stream_ingest_semantic: bucketed store (r08) ----------------------------

def _run_semantic_bucketed(spark, batch_rows, paths, threshold=0.9,
                           store_buckets=3, probe_hamming=1):
    src, corpus, store, ckpt = paths
    spark.createDataFrame(batch_rows, EMB_SCHEMA) \
        .write.mode("append").parquet(src)
    stream = streaming.stream_from_parquet_dir(spark, src, EMB_SCHEMA)
    q = streaming.stream_ingest_semantic(
        stream, corpus_path=corpus, store_path=store, checkpoint=ckpt,
        vec_col="embedding", id_col="vec_id", threshold=threshold,
        store_buckets=store_buckets, probe_hamming=probe_hamming)
    q.awaitTermination(120)


def _gauss_rows(n, dim, seed, dup_every=3):
    """Seeded corpus: every ``dup_every``-th row is a near-dup (tiny
    perturbation) of the previous row, the rest i.i.d. Gaussian."""
    import random as _r
    rng = _r.Random(seed)
    rows, prev = [], None
    for i in range(n):
        if prev is not None and i % dup_every == 0:
            v = [x + rng.gauss(0, 0.01) for x in prev]
        else:
            v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((i, v))
        prev = v
    return rows


def test_probe_buckets_hamming_expansion():
    from scalding_spark.streaming._semantic import _probe_buckets
    planes = [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]
    # (+,+): all three dots positive -> bucket 0b111 = 7
    assert _probe_buckets([[2.0, 3.0]], planes, 0) == [7]
    got = _probe_buckets([[2.0, 3.0]], planes, 1)
    assert got == sorted({7, 6, 5, 3})          # flip each bit once
    # probing the full Hamming ball = every bucket
    assert _probe_buckets([[2.0, 3.0]], planes, 3) == list(range(8))
    assert _probe_buckets([[2.0, 3.0]], planes, 99) == list(range(8))


def test_stream_ingest_semantic_bucketed_full_probe_equals_exact(spark,
                                                                 tmp_path):
    """probe_hamming = store_buckets probes every bucket — the bucketed
    tier must then match the exact full-scan tier doc-for-doc."""
    rows = _gauss_rows(40, 8, seed=7)
    b1, b2 = rows[:25], rows[25:]
    pe = tuple(str(tmp_path / p) for p in ("se", "ce", "ste", "cke"))
    pb = tuple(str(tmp_path / p) for p in ("sb", "cb", "stb", "ckb"))
    _run_semantic(spark, b1, pe, threshold=0.9)
    _run_semantic(spark, b2, pe, threshold=0.9)
    _run_semantic_bucketed(spark, b1, pb, threshold=0.9,
                           store_buckets=3, probe_hamming=3)
    _run_semantic_bucketed(spark, b2, pb, threshold=0.9,
                           store_buckets=3, probe_hamming=3)
    exact = sorted(r.vec_id for r in spark.read.parquet(pe[1]).collect())
    bucketed = sorted(r.vec_id for r in spark.read.parquet(pb[1]).collect())
    assert bucketed == exact
    # the store really is laid out in __bucket partition directories
    import os
    batches = [d for d in os.listdir(pb[2]) if d.startswith("__batch=")]
    assert batches
    assert all(any(sub.startswith("__bucket=")
                   for sub in os.listdir(os.path.join(pb[2], d)))
               for d in batches)


def test_stream_ingest_semantic_bucketed_containment(spark, tmp_path):
    """Narrow probe (hamming 1): the bucketed tier may MISS cross-batch
    dups (lower recall) but must never drop a doc the exact tier keeps —
    kept_exact ⊆ kept_bucketed (the ANN-suite containment contract)."""
    rows = _gauss_rows(60, 6, seed=11, dup_every=2)
    b1, b2 = rows[:30], rows[30:]
    pe = tuple(str(tmp_path / p) for p in ("xe", "yce", "yse", "yke"))
    pb = tuple(str(tmp_path / p) for p in ("xb", "ycb", "ysb", "ykb"))
    _run_semantic(spark, b1, pe, threshold=0.9)
    _run_semantic(spark, b2, pe, threshold=0.9)
    _run_semantic_bucketed(spark, b1, pb, threshold=0.9,
                           store_buckets=4, probe_hamming=1)
    _run_semantic_bucketed(spark, b2, pb, threshold=0.9,
                           store_buckets=4, probe_hamming=1)
    exact = {r.vec_id for r in spark.read.parquet(pe[1]).collect()}
    bucketed = {r.vec_id for r in spark.read.parquet(pb[1]).collect()}
    assert exact <= bucketed, (
        f"bucketed tier dropped docs the exact tier kept: "
        f"{sorted(exact - bucketed)}")


def test_stream_ingest_semantic_bucketed_store_scan_prunes_partitions(
        spark, tmp_path):
    """The store probe's bucket filter is a PARTITION filter: the scan
    plan prunes whole __bucket directories (the 100 TB lever — per-batch
    cost |store ∩ probed buckets|, not |store|)."""
    from scalding_spark.streaming._semantic import _probe_buckets
    from scalding_spark.functions.similarity import random_hyperplanes
    rows = _gauss_rows(64, 6, seed=3, dup_every=10**9)
    paths = tuple(str(tmp_path / p) for p in ("zp", "zc", "zs", "zk"))
    _run_semantic_bucketed(spark, rows, paths, threshold=0.95,
                           store_buckets=3, probe_hamming=0)
    store = spark.read.parquet(paths[2])
    n_parts = store.select("__bucket").distinct().count()
    assert n_parts > 2  # 64 Gaussian vectors spread over 8 buckets
    planes = random_hyperplanes(6, 3, 42)
    pbk = _probe_buckets([rows[0][1]], planes, 0)
    pruned = store.where(F.col("__bucket").isin(pbk))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__bucket" in plan.split(
        "PartitionFilters", 1)[1].split("]", 1)[0]
    # and it actually reads fewer rows than the full store
    assert pruned.count() < store.count()


def test_stream_ingest_semantic_layout_mismatch_raises(spark, tmp_path):
    import pyspark.errors
    rows = _gauss_rows(10, 4, seed=5)
    paths = tuple(str(tmp_path / p) for p in ("mp", "mc", "ms", "mk"))
    _run_semantic_bucketed(spark, rows[:5], paths, store_buckets=2)
    # reopening the bucketed store WITHOUT buckets must refuse
    src, corpus, store, _ = paths
    spark.createDataFrame(rows[5:], EMB_SCHEMA) \
        .write.mode("append").parquet(src)
    stream = streaming.stream_from_parquet_dir(spark, src, EMB_SCHEMA)
    q = streaming.stream_ingest_semantic(
        stream, corpus_path=corpus, store_path=store,
        checkpoint=str(tmp_path / "mk2"))
    with pytest.raises(pyspark.errors.StreamingQueryException,
                       match="layout mismatch"):
        q.awaitTermination(120)

# --- r08 vectorized probes: exactness contracts -------------------------------

def _fold_dot(a, b):
    """Spark's aggregate(zip_with(a, b, x*y), 0.0, acc+x): per-element
    double multiply, sequential left-to-right double adds."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def test_within_batch_hits_matches_bruteforce_rule():
    """The within-batch rule (similarity._greedy_smaller_id_hits) == the
    literal greedy-by-id rule (drop i when ANY smaller-id vector's
    exact-fold dot clears thr), on random unit vectors across the block
    boundary (n > 1024 exercises the row blocking)."""
    import math
    import random
    from scalding_spark.functions.similarity import _greedy_smaller_id_hits
    rng = random.Random(5)
    barr = []
    for i in range(1500):
        v = [rng.gauss(0, 1) for _ in range(8)]
        nrm = math.sqrt(sum(x * x for x in v))
        barr.append((i, [x / nrm for x in v]))
    rng.shuffle(barr)
    thr = 0.9
    expect = set()
    by_id = sorted(barr)
    for a in range(len(by_id)):
        for b in range(a + 1, len(by_id)):
            if _fold_dot(by_id[a][1], by_id[b][1]) >= thr:
                expect.add(by_id[b][0])
    assert set(_greedy_smaller_id_hits(barr, thr)) == expect


def test_within_batch_hits_boundary_band_is_exact():
    """Pairs whose dot lands WITHIN the ±1e-9 numpy prefilter band must
    be decided by the exact sequential fold — construct dots straddling
    the threshold by <1e-9 and check each side."""
    from scalding_spark.functions.similarity import _greedy_smaller_id_hits
    thr = 0.75
    base = [1.0, 0.0]
    for delta, should_hit in [(1e-12, True), (-1e-12, False),
                              (0.0, True)]:  # >= is inclusive
        import math
        d = thr + delta
        other = [d, math.sqrt(max(0.0, 1 - d * d))]
        exact = _fold_dot(base, other)
        barr = [(1, base), (2, other)]
        hits = _greedy_smaller_id_hits(barr, thr)
        assert (2 in hits) == (exact >= thr), (delta, exact)
        assert 1 not in hits


def test_vectorized_store_probe_matches_hof_form(spark):
    """The mapInPandas store probe returns exactly the batch ids the r07
    Column-expression HOF form returns, including near-threshold pairs."""
    import math
    import random
    from pyspark.sql import functions as F
    from scalding_spark.streaming._semantic import _vectorized_store_probe
    rng = random.Random(11)

    def unit(dim=6):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    stored = [unit() for _ in range(80)]
    batch = []
    for i in range(40):
        if i % 3 == 0:
            batch.append((i, stored[rng.randrange(80)]))  # exact dup
        else:
            batch.append((i, unit()))
    thr = 0.8
    store = spark.createDataFrame([(v,) for v in stored],
                                  "vecn array<double>")
    got = {r[0] for r in _vectorized_store_probe(
        store, batch, thr, "vec_id",
        spark.createDataFrame([(1,)], "vec_id long")
        .schema["vec_id"].dataType).collect()}
    expect = {i for i, bv in batch
              if any(_fold_dot(bv, sv) >= thr for sv in stored)}
    assert got == expect


def test_greedy_kernel_duplicate_ids_never_pair():
    """The drop rule is strict id-VALUE comparison (r.id < l.id): rows
    sharing an id must not vet each other even though they occupy
    different sorted positions — pins the value-mask against a
    positional-mask regression."""
    from scalding_spark.functions.similarity import _greedy_smaller_id_hits
    barr = [(1, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [1.0, 0.0])]
    assert _greedy_smaller_id_hits(barr, 0.9) == [2]


# --- store_dtype='float32' (VERDICT r09 #6) -----------------------------------

def test_stream_ingest_semantic_float32_store_parity(spark, tmp_path):
    """The float32 store tier must match the batch operators' kept-id
    sets whenever no pair sits inside the ~2e-6 tolerance band around
    the threshold (the documented contract) — this is the float64
    parity test's corpus, margins ≫ 1e-5."""
    from scalding_spark.functions import similarity
    paths = tuple(str(tmp_path / p) for p in ("s32", "c32", "st32", "ck32"))
    b1 = [(0, [1.0, 0.0, 0.0]), (1, [0.99, 0.05, 0.0]),
          (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.98, 0.1])]
    b2 = [(10, [0.99, 0.0, 0.05]), (11, [0.0, 0.0, 1.0]),
          (12, [0.05, 0.05, 0.99])]
    _run_semantic(spark, b1, paths, threshold=0.95, store_dtype="float32")
    _run_semantic(spark, b2, paths, threshold=0.95, store_dtype="float32")
    stream_kept = sorted(
        r.vec_id for r in spark.read.parquet(paths[1]).collect())
    s1 = similarity.semantic_dedup(
        spark.createDataFrame(b1, EMB_SCHEMA), threshold=0.95, k=1)
    df2 = similarity.semantic_dedup(
        spark.createDataFrame(b2, EMB_SCHEMA), threshold=0.95, k=1)
    s2 = similarity.semantic_decontaminate(df2, s1, threshold=0.95)
    batch_kept = sorted([r.vec_id for r in s1.collect()]
                        + [r.vec_id for r in s2.collect()])
    assert stream_kept == batch_kept
    # the store really is narrowed on disk (half the scan bytes)
    elem = spark.read.parquet(paths[2]).schema["vecn"] \
        .dataType.elementType.simpleString()
    assert elem == "float"


def test_stream_ingest_semantic_store_dtype_mismatch_raises(spark, tmp_path):
    """A store written float32 cannot be silently reopened float64 (and
    vice versa): mixed-precision fragments would corrupt the scan
    schema — the reopen must raise, mirroring the bucket layout check."""
    paths = tuple(str(tmp_path / p) for p in ("sm", "cm", "stm", "ckm"))
    _run_semantic(spark, [(0, [1.0, 0.0])], paths, store_dtype="float32")
    src = paths[0]
    spark.createDataFrame([(1, [0.9, 0.1])], EMB_SCHEMA) \
        .write.mode("append").parquet(src)
    stream = streaming.stream_from_parquet_dir(spark, src, EMB_SCHEMA)
    q = streaming.stream_ingest_semantic(
        stream, corpus_path=paths[1], store_path=paths[2],
        checkpoint=paths[3], vec_col="embedding", id_col="vec_id")
    with pytest.raises(Exception, match="dtype mismatch"):
        q.awaitTermination(120)
        raise RuntimeError(q.exception() or "query ended cleanly")


def test_stream_ingest_semantic_store_dtype_validates(spark, tmp_path):
    src = str(tmp_path / "vsrc")
    spark.createDataFrame([(0, [1.0])], EMB_SCHEMA).write.parquet(src)
    stream = streaming.stream_from_parquet_dir(spark, src, EMB_SCHEMA)
    with pytest.raises(ValueError, match="store_dtype"):
        streaming.stream_ingest_semantic(
            stream, corpus_path=str(tmp_path / "c"),
            store_path=str(tmp_path / "s"), checkpoint=str(tmp_path / "k"),
            store_dtype="float16")


# --- stream_ingest_phash (image tier, r10) ------------------------------------

IMG_SCHEMA = "media_id long, content binary"


def _p5img(pixels, w=16, h=16):
    return b"P5\n%d %d\n255\n" % (w, h) + bytes(pixels)


def _run_phash(spark, batch_rows, paths, **kw):
    src, corpus, store, ckpt = paths
    spark.createDataFrame(batch_rows, IMG_SCHEMA) \
        .write.mode("append").parquet(src)
    stream = streaming.stream_from_parquet_dir(spark, src, IMG_SCHEMA)
    q = streaming.stream_ingest_phash(
        stream, corpus_path=corpus, store_path=store, checkpoint=ckpt,
        content_col="content", id_col="media_id", **kw)
    q.awaitTermination(120)


def test_stream_ingest_phash_within_and_cross_batch(spark, tmp_path):
    import random
    rng = random.Random(21)
    base = [rng.randrange(256) for _ in range(256)]
    near1 = list(base); near1[0] = (near1[0] + 50) % 256   # hamming <= 1
    near2 = list(base); near2[0] = (near2[0] + 120) % 256
    other = [rng.randrange(256) for _ in range(256)]
    paths = tuple(str(tmp_path / p) for p in ("ps", "pc", "pt", "pk"))
    # epoch 1: base, its near-dup (dropped within batch), a distinct
    # image, and a NULL blob (kept, never stored)
    _run_phash(spark, [(0, _p5img(base)), (1, _p5img(near1)),
                       (2, _p5img(other)), (3, None)], paths)
    got = sorted(r.media_id for r in spark.read.parquet(paths[1]).collect())
    assert got == [0, 2, 3]
    store = spark.read.parquet(paths[2])
    assert sorted(r.id for r in store.collect()) == [0, 2]
    # epoch 2: near-dup of the STORED base (only hashes remain on disk)
    # is dropped; a novel image lands
    novel = [rng.randrange(256) for _ in range(256)]
    _run_phash(spark, [(10, _p5img(near2)), (11, _p5img(novel))], paths)
    got = sorted(r.media_id for r in spark.read.parquet(paths[1]).collect())
    assert got == [0, 2, 3, 11]
    assert sorted(r.id for r in
                  spark.read.parquet(paths[2]).collect()) == [0, 2, 11]


def test_stream_ingest_phash_matches_python_golden(spark, tmp_path):
    """batch ≡ stream vs the pure-Python mirror of the tier's rule:
    within a batch drop i when ANY smaller-id batch image sits within
    max_hamming; survivors drop against the cumulative kept-hash store;
    kept hash-bearing images extend the store."""
    import random

    import py_reference as pr
    rng = random.Random(33)

    def img(seed_px=None, tweak=None):
        px = list(seed_px) if seed_px else [rng.randrange(256)
                                            for _ in range(256)]
        if tweak is not None:
            px[0] = (px[0] + tweak) % 256
        return px

    a, b, c = img(), img(), img()
    batches = [
        [(0, _p5img(a)), (1, _p5img(img(a, 40))), (2, _p5img(b)), (3, None)],
        [(10, _p5img(img(a, 90))), (11, _p5img(c)),
         (12, _p5img(img(b, 70))), (13, _p5img(img(c, 30)))],
    ]
    max_h = 2
    paths = tuple(str(tmp_path / p) for p in ("gs", "gc", "gt", "gk"))
    for rows in batches:
        _run_phash(spark, rows, paths, max_hamming=max_h)
    got = sorted(r.media_id for r in spark.read.parquet(paths[1]).collect())
    # pure-python mirror
    store, kept = [], []
    for rows in batches:
        hs = {i: (None if ct is None else pr.golden_image_dhash(ct))
              for i, ct in rows}
        drop = set()
        for i in sorted(hs):
            if hs[i] is None:
                continue
            if any(j < i and hs[j] is not None
                   and bin(hs[i] ^ hs[j]).count("1") <= max_h
                   for j in hs):
                drop.add(i)
        for i, _ct in rows:
            if i in drop:
                continue
            if hs[i] is not None and any(
                    bin(hs[i] ^ s).count("1") <= max_h for s in store):
                continue
            kept.append(i)
            if hs[i] is not None:
                store.append(hs[i])
    assert got == sorted(kept)


def test_stream_ingest_phash_validates_method(spark, tmp_path):
    src = str(tmp_path / "vsrc2")
    spark.createDataFrame([(0, b"P5\n1 1\n255\n\x00")], IMG_SCHEMA) \
        .write.parquet(src)
    stream = streaming.stream_from_parquet_dir(spark, src, IMG_SCHEMA)
    with pytest.raises(ValueError, match="method"):
        streaming.stream_ingest_phash(
            stream, corpus_path=str(tmp_path / "c2"),
            store_path=str(tmp_path / "s2"),
            checkpoint=str(tmp_path / "k2"), method="xhash")


def test_stream_ingest_phash_duplicate_heavy_batch(spark, tmp_path):
    """r11 distinct-hash within-batch rewrite: a batch where most images
    are byte-identical (the blank-thumbnail crawl shape) must keep
    exactly the min-id copy per identical group and still apply the
    smaller-id-survives rule ACROSS groups through the rep-level band
    join — decisions identical to the per-image plan it replaced."""
    import random
    rng = random.Random(77)
    blank = [0] * 256                          # 30 byte-identical copies
    base = [rng.randrange(256) for _ in range(256)]
    near = list(base); near[0] = (near[0] + 50) % 256  # cross-hash near-dup
    far = [rng.randrange(256) for _ in range(256)]
    rows = [(100 + i, _p5img(blank)) for i in range(30)]
    rows += [(50, _p5img(base)), (51, _p5img(near)), (52, _p5img(far)),
             (5, _p5img(blank))]               # id 5: the group's min id
    paths = tuple(str(tmp_path / p) for p in ("ds", "dc", "dt", "dk"))
    _run_phash(spark, rows, paths)
    kept = sorted(r.media_id for r in spark.read.parquet(paths[1]).collect())
    # blank group -> id 5 only; base survives; near loses to base (51>50);
    # far is distinct
    assert kept == [5, 50, 52]
    assert sorted(r.id for r in
                  spark.read.parquet(paths[2]).collect()) == [5, 50, 52]
    # epoch 2: another flood of the SAME blank image + one novel -> the
    # store probe (rep-space broadcast) drops every blank copy
    novel = [rng.randrange(256) for _ in range(256)]
    rows2 = [(200 + i, _p5img(blank)) for i in range(20)] + \
        [(300, _p5img(novel))]
    _run_phash(spark, rows2, paths)
    kept = sorted(r.media_id for r in spark.read.parquet(paths[1]).collect())
    assert kept == [5, 50, 52, 300]
