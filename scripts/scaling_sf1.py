"""sf1 scaling pair for the expensive bench queries (VERDICT r11 #3).

The driver's sf0.1 scaling block is uninformative — the 8-core run BEAT
the 32-core run on most queries because sf0.1 is per-stage-overhead-
bound, not data-bound. This records the same 8-vs-32-core pair at sf1
(50k docs / 6M lineitem — 10× the bench SF), where data work is large
enough for parallelism to matter, for the top-cost bench queries.

Methodology matches bench.py exactly: master local[$cpus],
shuffle.partitions=$cpus, AQE on, noop sink, min-of-2 with
library-internal persists released between runs.

Usage:
    python scripts/scaling_sf1.py <cpus> [out.json]   # one core count
Run it once per core count (fresh JVM each — core count is a session
property) and merge with scripts/scaling_sf1.py merge <out> <f32> <f8>.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SCALING_SF1_DIR", os.path.join(HERE, ".scaling", "sf1"))

# top-cost bench rows (r12 baseline ordering) + the two heavy non-bench
# pair pipelines' representative
QUERIES = [
    "q_dedup_clusters", "q_cc_star", "q_semantic_dedup_auto",
    "q_semantic_dedup", "q_matmul", "q_kmeans", "q_ngram_jaccard_pairs",
    "q_fp_store_dedup", "q_bloom_anti_join", "q_dsir_weights",
]


def run(cpus: int, out_path: str) -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod
    from scalding_spark.session import release_materialized

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"scaling_sf1_c{cpus}")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    timings = {}
    for name in QUERIES:
        fn = qs[name]
        runs = []
        for _ in range(2):
            spark.sparkContext.setJobDescription(f"scaling_sf1 {name}")
            t0 = time.time()
            fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            runs.append(time.time() - t0)
            release_materialized(spark)
        timings[name] = round(min(runs), 3)
        print(f"{name}: {timings[name]}s (runs {[round(r, 2) for r in runs]})",
              flush=True)
    with open(out_path, "w") as fh:
        json.dump({"cpus": cpus, "sf_dir": SF_DIR, "queries": timings}, fh,
                  indent=2)
    spark.stop()


def merge(out_path: str, f_hi: str, f_lo: str) -> None:
    hi = json.load(open(f_hi))
    lo = json.load(open(f_lo))
    per = {}
    for q, t_hi in hi["queries"].items():
        t_lo = lo["queries"].get(q)
        per[q] = {
            f"c{hi['cpus']}_sec": t_hi,
            f"c{lo['cpus']}_sec": t_lo,
            # >1 means the extra cores helped; the core ratio is the ceiling
            "speedup_from_cores": round(t_lo / t_hi, 2) if t_lo else None,
        }
    with open(out_path, "w") as fh:
        json.dump({"cpus_main": hi["cpus"], "cpus_low": lo["cpus"],
                   "sf_dir": hi["sf_dir"], "per_query": per}, fh, indent=2)
    print(json.dumps(per, indent=2))


if __name__ == "__main__":
    args = sys.argv[1:]
    if args[:1] == ["merge"] and len(args) == 4:
        merge(*args[1:])
    elif args and args[0].isdigit() and len(args) <= 2:
        run(int(args[0]), args[1] if len(args) > 1 else
            f"/tmp/scaling_sf1_c{args[0]}.json")
    else:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
