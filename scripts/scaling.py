"""Measured scaling evidence for the candidate-generating dedup operators
(VERDICT r04 next-round #6).

Runs each operator at multiple corpus scales — the driver's REAL sf0.01
(500 docs) and sf0.1 (5,000 docs) plus SYNTHETIC 15,000- and 50,000-doc
corpora generated with the same distribution as the driver's documents
table (uniform 10-100 tokens over the same 30-word vocabulary, 5%
near-duplicate injection) — and records, per (operator, scale):

- wall seconds for the full operator,
- shuffle write/read bytes (statusStore stage-metric deltas),
- the CANDIDATE volume (the quantity each operator's pruning is supposed
  to bound: bucket-pair counts for inverted-index/banding ops, segment-key
  join volume for fuzzy_join via its own counter, bloom-positive suspects
  for bloom_anti_join),
- output rows.

Prints a JSON line per measurement and a final markdown table with
fitted scaling exponents (log-log slope between consecutive scales);
SCALING.md is written from these numbers.

Usage:
    python scripts/scaling.py             # all ops, all scales
    python scripts/scaling.py ngram fuzzy # subset of ops
"""

import json
import os
import random
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from scalding_spark.session import get_spark  # noqa: E402

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SYN_DIR = os.path.join(HERE, ".scaling")

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "group", "index", "join", "row", "slow", "fast", "small",
         "big", "filter", "order", "data", "line", "customer", "part",
         "hash", "the", "agg", "key", "query", "a", "scan", "batch"]


def gen_documents(spark, n_docs: int, seed: int = 42) -> str:
    """Synthetic documents with the driver generator's distribution:
    uniform 10-100 tokens over the 30-word vocabulary, 20 sources, 5% of
    docs copy an earlier doc with a few 'dup' marker tokens spliced in
    (the near-duplicate population the dedup ops exist to find)."""
    path = os.path.join(SYN_DIR, f"docs{n_docs}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            base = rows[rng.randrange(len(rows))][1].split(" ")
            for _ in range(rng.randint(0, 3)):
                base.insert(rng.randrange(len(base) + 1), "dup")
            text = " ".join(base)
        else:
            text = " ".join(rng.choices(VOCAB,
                                        k=rng.randint(10, 100)))
        rows.append((i, text, f"src{i % 20}", len(text)))
    (spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long")
     .repartition(32).write.mode("overwrite").parquet(path))
    return path


# ---------------------------------------------------------------------------
# shuffle metrics via the app status store
# ---------------------------------------------------------------------------

def _shuffle_totals(spark):
    sc = spark.sparkContext
    ss = sc._jsc.sc().statusStore()
    gw = sc._gateway
    stages = ss.stageList(gw.jvm.java.util.ArrayList(), False, False,
                          gw.new_array(gw.jvm.double, 0),
                          gw.jvm.java.util.ArrayList())
    w = r = 0
    for i in range(stages.size()):
        s = stages.apply(i)
        w += s.shuffleWriteBytes()
        r += s.shuffleReadBytes()
    return w, r


def measure(spark, fn):
    """Run fn() (must trigger its own action and return a result dict);
    returns result + wall secs + shuffle deltas."""
    w0, r0 = _shuffle_totals(spark)
    t0 = time.time()
    out = fn()
    secs = time.time() - t0
    w1, r1 = _shuffle_totals(spark)
    out.update(secs=round(secs, 2), shuffle_w=w1 - w0, shuffle_r=r1 - r0)
    return out


# ---------------------------------------------------------------------------
# operators + their candidate-volume probes
# ---------------------------------------------------------------------------

def _bucket_pairs(exploded, key_cols, cap=None):
    """Σ c·(c-1)/2 over buckets (post doc-frequency cap) — the candidate
    volume of an inverted-index/banding self-join."""
    g = exploded.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("c"))
    if cap:
        g = g.where(F.col("c") <= cap)
    return g.agg(F.coalesce(F.sum(F.col("c") * (F.col("c") - 1) / 2),
                            F.lit(0.0))).collect()[0][0]


def op_ngram(spark, path):
    from scalding_spark.functions import dedup
    docs = spark.read.parquet(path)

    def run():
        pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3,
                                          threshold=0.05, max_doc_freq=1000)
        return {"rows": pairs.count()}

    m = measure(spark, run)
    sh = (docs.select("doc_id",
                      F.explode(dedup.shingles(F.col("text"), 3))
                      .alias("s")))
    m["candidates"] = int(_bucket_pairs(sh, ["s"], cap=1000))
    return m


def op_minhash(spark, path):
    from scalding_spark.functions import dedup
    docs = spark.read.parquet(path)

    def run():
        pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id",
                                        num_hashes=32, bands=16,
                                        threshold=0.3)
        return {"rows": pairs.count()}

    m = measure(spark, run)
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", 32, 3)
    buckets = sigs.select(
        "id", F.explode(dedup.minhash_band_hashes(32, 16)).alias("b"))
    m["candidates"] = int(_bucket_pairs(buckets, ["b"]))
    return m


def op_winnow(spark, path):
    from scalding_spark.functions import dedup
    docs = spark.read.parquet(path)

    def run():
        pairs = dedup.winnow_overlap_pairs(docs, "text", "doc_id",
                                           k=5, window=4, min_shared=2,
                                           max_fp_freq=1000)
        return {"rows": pairs.count()}

    m = measure(spark, run)
    fps = (dedup.winnow_fingerprints(docs, "text", "doc_id", k=5, window=4)
           .select("doc_id", "fp").distinct())
    m["candidates"] = int(_bucket_pairs(fps, ["fp"], cap=1000))
    return m


def op_spans(spark, path):
    from scalding_spark.functions import dedup
    docs = spark.read.parquet(path)

    def run():
        out = dedup.shared_ngram_spans(docs, "text", "doc_id",
                                       n=4, min_len=8)
        return {"rows": out.count()}

    m = measure(spark, run)
    from scalding_spark.functions.text import let_bound, tokenize
    toks = tokenize(F.col("text"))
    grams = let_bound(toks, lambda t: F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(t) - 4, F.lit(0))),
        lambda i: F.xxhash64(F.array_join(F.slice(t, i + 1, 4), " "))))
    g = (docs.where(F.size(toks) >= 4)
         .select("doc_id", F.explode(grams).alias("h")))
    m["candidates"] = int(_bucket_pairs(g, ["h"], cap=1000))
    return m


def op_fuzzy(spark, path):
    """Edit-distance-1 self-join over md5-bucketed 8-hex keys; bucket
    count scales WITH n (n/5) so key-collision density stays constant —
    the production shape (near-dup keys rare at any corpus size)."""
    from scalding_spark.joins import fuzzy_join
    from scalding_spark.pipe import counters
    docs = spark.read.parquet(path).select("doc_id")
    n = docs.count()
    s = F.substring(F.md5((F.col("doc_id") % (n // 5)).cast("string")), 1, 8)
    l = docs.select(F.col("doc_id").alias("lid"), s.alias("ls"))
    r = docs.select(F.col("doc_id").alias("rid"), s.alias("rs"))

    def run():
        out = fuzzy_join(l, r, "ls", "rs", "lid", "rid", max_distance=1,
                         counter="scaling_fz").df \
            .where(F.col("lid") < F.col("rid"))
        return {"rows": out.count()}

    m = measure(spark, run)
    m["candidates"] = int(counters("scaling_fz")["n_candidates"])
    return m


def op_bloom(spark, path):
    from scalding_spark.functions import bloom, dedup
    docs = spark.read.parquet(path)
    fp = F.md5(dedup.normalize_for_fingerprint(F.col("text")))
    n = docs.select("doc_id", "source", fp.alias("__fp"))
    seen = n.where(F.col("doc_id") % 2 == 0).select("__fp").distinct()
    new = n.where(F.col("doc_id") % 2 == 1)

    def run():
        out = bloom.bloom_anti_join(new, seen, on="__fp")
        return {"rows": out.count()}

    m = measure(spark, run)
    # candidates = bloom-positive suspects (the rows that actually shuffle
    # into the anti-join); everything else bypasses map-side
    bf = bloom.bloom_build(seen.select(F.col("__fp").alias("__k")), "__k")
    _, tagged = bloom._split(new, "__fp", bf, seen)
    m["candidates"] = tagged.where("__bloom_hit").count()
    m["rows_in"] = new.count()
    return m


def op_neardup_against(spark, path):
    """Batch near-dup gate vs a signature store (even doc_ids stored,
    odd arrive): candidate volume = Σ over (band, hash) buckets of
    c_batch·c_store — the CROSS count, since the probe is a batch-vs-
    store join, not a self-join."""
    from scalding_spark.functions import dedup
    docs = spark.read.parquet(path)
    even = docs.where(F.col("doc_id") % 2 == 0)
    odd = docs.where(F.col("doc_id") % 2 == 1)
    store = dedup.minhash_signatures(even, "text", "doc_id", 32, 3)

    def run():
        out = dedup.neardup_against(odd, store, "text", "doc_id",
                                    num_hashes=32, bands=16, threshold=0.5)
        return {"rows": out.count()}

    m = measure(spark, run)
    bh = dedup.minhash_band_hashes(32, 16)
    bsig = dedup.minhash_signatures(odd, "text", "doc_id", 32, 3)
    bb = (bsig.select(F.posexplode(bh).alias("band", "h"))
          .groupBy("band", "h").agg(F.count(F.lit(1)).alias("cb")))
    sb = (store.select(F.posexplode(bh).alias("band", "h"))
          .groupBy("band", "h").agg(F.count(F.lit(1)).alias("cs")))
    m["candidates"] = int(bb.join(sb, ["band", "h"])
                          .agg(F.coalesce(F.sum(F.col("cb") * F.col("cs")),
                                          F.lit(0)))
                          .collect()[0][0])
    m["rows_in"] = odd.count()
    return m


OPS = {"ngram": op_ngram, "minhash": op_minhash, "winnow": op_winnow,
       "spans": op_spans, "fuzzy": op_fuzzy, "bloom": op_bloom,
       "neardup_against": op_neardup_against}


# ---------------------------------------------------------------------------
# iterative operators: shuffle-per-round / round-count scaling
# ---------------------------------------------------------------------------

def gen_embeddings(spark, n: int, dim: int = 64, seed: int = 7) -> str:
    """Synthetic i.i.d. Gaussian embeddings with the driver generator's
    shape (vec_id long, embedding array<float> of fixed dim)."""
    path = os.path.join(SYN_DIR, f"emb{n}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    import numpy as np
    rng = np.random.default_rng(seed)
    mat = rng.standard_normal((n, dim)).astype("float32")
    rows = [(i, mat[i].tolist()) for i in range(n)]
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
     .repartition(32).write.mode("overwrite").parquet(path))
    return path


def op_kmeans(spark, n):
    """Lloyd's k-means: the claim under test is that per-round UPDATE
    traffic is independent of corpus size — a round collects at most k
    (cell, n, sum) rows per task to the driver and shuffles nothing.
    Per-round shuffle is the 10-round call's bytes minus the 1-round
    call's, over the extra rounds, so one-off passes (the count, the
    final assignment, a task-sizing repartition) cancel out."""
    from scalding_spark.functions import similarity
    emb = spark.read.parquet(gen_embeddings(spark, n))

    def run(max_iter):
        stats = {}
        assigned, _ = similarity.kmeans(emb, k=8, max_iter=max_iter,
                                        seed=42, stats=stats)
        return {"rows": assigned.count(), "rounds": stats["iterations"],
                "update_rows": stats["update_rows"]}

    one = measure(spark, lambda: run(1))
    m = measure(spark, lambda: run(10))
    m["shuffle_w_per_round"] = ((m["shuffle_w"] - one["shuffle_w"])
                                // max(1, m["rounds"] - 1))
    m["update_rows_per_round"] = m["update_rows"] / m["rounds"]
    return m


def op_cc(spark, n, shape):
    """Connected components on one of two graph shapes. ``cliques``: the
    dedup shape, n/5 five-node star cliques (diameter 2) — rounds must
    stay CONSTANT in n and shuffle bytes ~linear (edges × rounds,
    fixed-width keys only). ``chain``: a SINGLE n-long chain (diameter
    n) — rounds must grow ~log n."""
    from scalding_spark.functions import dedup
    if shape == "cliques":
        edges = (spark.range(n).where(F.col("id") % 5 != 0)
                 .select(F.col("id").alias("src"),
                         (F.col("id") - F.col("id") % 5).alias("dst")))
    else:
        edges = spark.range(n - 1).select(F.col("id").alias("src"),
                                          (F.col("id") + 1).alias("dst"))

    def run():
        stats = {}
        labels = dedup.connected_components(edges, stats=stats)
        return {"rows": labels.count(), "rounds": stats["iterations"]}

    m = measure(spark, run)
    m["shuffle_w_per_round"] = m["shuffle_w"] // max(1, m["rounds"])
    return m


# iterative ops build their own inputs from n (embeddings / edge lists)
ITER_OPS = {
    "kmeans": (op_kmeans, [2000, 20000, 60000]),
    "cc_cliques": (lambda spark, n: op_cc(spark, n, "cliques"),
                   [5000, 50000, 150000]),
    "cc_chain": (lambda spark, n: op_cc(spark, n, "chain"),
                 [5000, 50000, 150000]),
}


def main():
    only = set(sys.argv[1:])
    spark = get_spark(app_name="scaling")
    scales = [
        (500, "/root/testdata/sf0.01/documents.parquet"),
        (5000, "/root/testdata/sf0.1/documents.parquet"),
        (15000, None),
        (50000, None),
    ]
    scales = [(n, p or gen_documents(spark, n)) for n, p in scales]
    results = {}
    for opname, op in OPS.items():
        if only and opname not in only:
            continue
        for n, path in scales:
            from scalding_spark.pipe import clear_counters
            clear_counters()
            m = op(spark, path)
            m.update(op=opname, n_docs=n)
            results.setdefault(opname, []).append(m)
            print(json.dumps(m), flush=True)
    for opname, (op, iter_scales) in ITER_OPS.items():
        if only and opname not in only:
            continue
        for n in iter_scales:
            m = op(spark, n)
            m.update(op=opname, n_docs=n)
            results.setdefault(opname, []).append(m)
            print(json.dumps(m), flush=True)
    # exponent table: slope of log(metric) vs log(n) between last 2 scales
    print("\n| op | metric | values (by n) | exponent (tail) |")
    print("|---|---|---|---|")
    import math
    for opname, ms in results.items():
        for metric in ("candidates", "shuffle_w", "shuffle_w_per_round",
                       "rounds", "secs", "rows"):
            vals = [m.get(metric) for m in ms]
            if any(v is None for v in vals):
                continue
            tail = ""
            if len(ms) >= 2 and vals[-2] and vals[-1]:
                tail = f"{math.log(vals[-1] / vals[-2]) / math.log(ms[-1]['n_docs'] / ms[-2]['n_docs']):.2f}"
            print(f"| {opname} | {metric} | "
                  + " | ".join(str(v) for v in vals) + f" | {tail} |")


if __name__ == "__main__":
    main()
