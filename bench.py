"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is fully materialized via the noop sink (forces every operator,
no driver collect overhead in the timing).

    python bench.py                     # every HEADLINE query; mirrors BENCH_LAST.json
    python bench.py --queries q1,q2     # same session and protocol, listed queries only
    python bench.py --explain DIR       # write DIR/<q>.txt formatted plans, no timing

The bench session (``bench_session``) and the timing protocol
(``time_query``) live only here; other scripts import them.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
MIRROR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LAST.json")

HEADLINE = [
    "q1_pricing_summary",        # scan + filter + multi-agg
    "q3_shipping_priority",      # 3-way join + agg + top-k
    "q5_local_supplier_volume",  # 6-way star join, dims broadcast
    "q_group_multi_agg",         # wide agg suite incl. distinct count
    "q_join_revenue_by_segment", # shuffle join + agg
    "q_broadcast_join",          # chained broadcast joins
    "q_topk_per_group",          # per-key top-k window
    "q_scan_cumsum",             # running window agg
    "q_flatmap_wordcount",       # explode-heavy text path
    "q_matmul",                  # COO matmul (join + agg)
    "q_exact_dedup",             # hash dedup over documents
    "q_minhash_lsh_pairs",       # MinHash banding near-dup
    "q_cosine_topk",             # brute-force ANN baseline
    "q_events_daily",            # time-bucketed event rollup
    "q_sessionize",              # session windows
    "q_asof_join",               # as-of join (union+window)
    "q_range_join",              # bucketed point-in-interval join
    "q21_waiting_suppliers",     # EXISTS+NOT EXISTS double correlation
    "q_dedup_clusters",          # pair gen + iterative connected components
    # -- added r02 (VERDICT item 9: breadth) --
    "q9_product_profit",         # 6-way join + substring filter + group rollup
    "q_ngram_jaccard_pairs",     # shingle inverted index + stop-shingle cap
    "q_cc_star",                 # large-star/small-star CC on chain graph
    "q_global_rank_scan",        # key-less global rank+scan, range-partitioned
    "q_decontaminate",           # benchmark n-gram overlap, double broadcast
    "q_rank_by_value",           # skew-free low-cardinality global rank
    "q_substring_spans",         # span-level exact dedup (positional n-grams)
    "q_unigram_lm",              # self-trained unigram LM doc scoring
    # -- added r03 (VERDICT item 5: remaining unbenched r02 operators) --
    "q_kmeans",                  # iterative k-means over embeddings
    "q_chunk_documents",         # context-window chunking (posexplode)
    "q_topk_window",             # sortWithTake via window (vs groupBy top-k)
    "q_bigram_lm",               # conditional bigram LM doc scoring
    # -- r03-new operators --
    "q_train_quality",           # logistic GD training (3 exact-int iters)
    "q_weighted_sample",         # score-weighted md5 sampling (map-only)
    "q_mix_proportions",         # token-budget domain mixing (map-only)
    "q_dedup_against",           # incremental anti-join dedup
    "q_bm25_search",             # BM25 top-k retrieval (filtered explode)
    "q_collocations",            # PMI pair mining (combinable counts)
    "q_gopher_quality",          # integer-band quality gate (map-only)
    "q_corpus_stats",            # keyless global corpus report
    "q_top_bigram_fraction",     # n-gram repetition (partial aggs)
    "q_semantic_dedup",          # SemDeDup: kmeans + within-cell pairs
    "q_cut_spans",               # span cut pass (positional token filter)
    "q_cube_agg",                # one-Expand-pass CUBE aggregation
    "q_ntile_ranks",             # keyless ntile/percent_rank (range pattern)
    "q_bloom_anti_join",         # bloom-prefiltered incremental dedup
    "q_dsir_weights",            # DSIR hashed-ngram importance weights
    "q_winnow_fingerprints",     # MOSS winnowing (map-only HOF argmin)
    "q_ccnet_buckets",           # CCNet perplexity terciles (LM + range rank)
    "q_top_fraction",            # exact global top-25% cut (range rank)
    "q_corpus_kl",               # unigram KL drift (outer join + 1-row bcast)
    "q_fuzzy_join",              # edit-distance-1 join (segment filter)
    # -- added r05 (first driver rows for formerly tests-only operators) --
    "q_dedup_lines",             # line-level dedup rewriting docs (window + reassembly)
    "q_char_entropy",            # char-distribution entropy (map-only HOF)
    "q_duplicate_line_fraction", # segment repetition stat (map-only)
    "q_temperature_mix",         # size^alpha domain mixing (map-only cutoffs)
    "q_web_domains",             # URL host/registrable-domain extraction
    "q_web_blocklist",           # broadcast domain blocklist anti-join
    "q_stream_interval_join",    # interval join, batch shape
    "q_fp_store_dedup",          # bucketed incremental fingerprint store
    "q_dup_line_chars",          # Gopher char-weighted repetition rule
    # -- added r06 --
    "q_semantic_dedup_auto",     # SemDeDup auto-k (cells track corpus size)
    "q_url_canonical",           # URL canonicalization (map-only dedup key)
    "q_leakage_safe_split",      # dedup-cluster-keyed train/val/test split
    "q_corpus_diff",             # snapshot added/removed/changed audit
    "q_neardup_against",         # batch near-dup gate vs signature store
    "q_contamination_report",    # per-benchmark-item leak audit
    "q_semantic_decontam",       # embedding decontamination (broadcast-exists)
    # -- added r07 --
    "q_matrix_scalar_pipe",      # pipe-scalar matrix product (AQE exchange reuse)
    # -- added r08 (evaluation module) --
    "q_quality_auc",             # exact AUC/KS (range-partition rank sums)
    "q_auc_by_slice",            # per-slice AUC/KS (null-safe slice join)
    # -- added r09 --
    "q_pr_auc",                  # exact average precision (desc range ranks)
    "q_pr_auc_by_slice",         # per-slice AP (desc windows per slice)
    "q_cohens_kappa",            # chance-corrected rater agreement (pair groupBy)
    # -- added r10 --
    "q_image_neardup",           # dHash perceptual image near-dup (map-only hash + banding)
    "q_audio_neardup",           # energy-hash audio near-dup (same banding, r11)
    "q_calibration_by_slice",    # per-slice reliability table (one grouped pass)
    "q_sweep_by_slice",          # per-slice operating points (distinct-score reagg)
]


def bench_session(app_name: str = "scalding_spark_bench",
                  extra_conf: dict[str, str] | None = None):
    """The driver-like bench session. ``extra_conf`` entries apply last, so
    they override the defaults below."""
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Defend the one-line-JSON contract: stage-progress bars share the
        # output stream and have clipped the JSON line out of a driver's
        # finite tail window before (r10's record was unparseable for
        # exactly this reason).
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def time_query(spark, fn) -> list[float]:
    """Every timed run of ``fn`` under the bench protocol; runs[0] is the
    cold run and min(runs) the reported time."""
    from scalding_spark.session import release_materialized

    def once() -> float:
        t0 = time.time()
        fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
        return time.time() - t0

    # Two runs, report the min: the first run pays whole-stage-codegen
    # JIT for the query's generated code (seconds for wide expressions);
    # steady-state is what a long-running cluster job sees. The box is a
    # shared-host VM with multi-second CPU-steal bursts (observed 4-10x
    # inflation on identical back-to-back runs), so when the samples
    # disagree wildly the min itself is suspect — take up to two more.
    runs = [once(), once()]
    # accept the min once a second sample corroborates it within 1.5x
    while len(runs) < 4 and min(runs) > 0.3 \
            and sorted(runs)[1] / sorted(runs)[0] > 1.5:
        runs.append(once())
    # long queries get one mandatory extra sample: a steal burst that
    # spans both initial runs inflates them AGREEING with each other,
    # which the ratio guard can't see (observed: 8.5s kmeans timed
    # 18.8s twice in a row inside one burst)
    if min(runs) > 5.0 and len(runs) < 4:
        runs.append(once())
    # free library-internal persists between queries (ledger path) so a
    # 60-query session doesn't accumulate input-sized cache entries
    release_materialized(spark)
    return runs


def explain(spark, qs, names: list[str], out_dir: str) -> None:
    """Write each query's formatted physical plan to ``out_dir/<q>.txt``."""
    from scalding_spark.session import release_materialized

    os.makedirs(out_dir, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in names:
        plan = qs[name](spark, SF_DIR)._jdf.queryExecution().explainString(mode)
        release_materialized(spark)
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)", flush=True)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Parse and validate the flags; exits 2 with usage before any JVM starts."""
    import __spark_entry__ as entry_mod

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--queries", metavar="q,q,...", default=HEADLINE,
                   type=lambda s: [q for q in s.split(",") if q],
                   help="queries to run, in this order (default: HEADLINE)")
    p.add_argument("--explain", metavar="DIR",
                   help="write DIR/<q>.txt formatted plans instead of timing")
    args = p.parse_args(argv)
    unknown = set(args.queries) - set(entry_mod.queries())
    if unknown:
        p.error(f"unknown queries: {', '.join(sorted(unknown))}")
    return args


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod

    spark = bench_session()
    qs = entry_mod.queries()
    if args.explain:
        explain(spark, qs, args.queries, args.explain)
        return

    # Warm-up: JIT/codegen + FS cache, so q1 doesn't pay JVM startup.
    spark.range(1_000_000).agg(F.sum("id")).write.mode("overwrite").format("noop").save()
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(1000) \
        .write.mode("overwrite").format("noop").save()
    # one host-speed reading (perfbench's probe) to tell host drift from
    # plan change when comparing records from different windows. Its Spark
    # half depends on the session it is handed, so it compares only with
    # other bench.py readings: on one 4-core host within an hour it read
    # 1.65-1.91 s here, 0.50-0.63 s in perfbench and 1.13 s in
    # scripts/streaming_bench.py.
    from perfbench.run import calibrate
    calibration = calibrate(spark)

    timings: dict[str, float] = {}
    first_runs: dict[str, float] = {}
    for name in args.queries:
        runs = time_query(spark, qs[name])
        timings[name] = round(min(runs), 3)
        first_runs[name] = round(runs[0], 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    total = round(sum(timings.values()), 3)
    full = args.queries == HEADLINE
    record = {
        "metric": "headline_total" if full else "queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        # Cold-run visibility (additions-only; headline metric unchanged):
        # the min-of-2 protocol lets run 2 hit Spark's CacheManager for
        # frames persisted inside run 1, so the first-run total quantifies
        # that warm-cache flattery without changing the comparable metric.
        "first_run_total": round(sum(first_runs.values()), 3),
        "calibration_sec": round(calibration, 3),
    }
    line = json.dumps(record)
    # Mirror the record to a file so a clipped/noisy stdout capture can
    # never lose the round's numbers (the JSON line stays authoritative).
    # Only a full HEADLINE run is a round record; a subset must not
    # overwrite it.
    if full:
        try:
            with open(MIRROR, "w") as fh:
                fh.write(line + "\n")
        except OSError:
            pass  # read-only checkout: the printed line still satisfies the contract
    print(line)


if __name__ == "__main__":
    main()
