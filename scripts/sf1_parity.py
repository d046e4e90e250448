"""Independent value-verification AT sf1 for the two queries whose DuckDB
oracles cannot scale past sf0.1 (SCALING.md "Full-gate value parity at
10x" exclusions):

- q_dedup_clusters — the sf0.01 oracle is a recursive-CTE transitive
  closure (explodes on near-dup clique structure). Here: the Spark
  pipeline's 50k cluster labels vs a pure-Python union-find
  (py_reference.golden_components, O(E·α(E))) over the operator's OWN
  pair list plus the full doc-id universe.
- q_fuzzy_join — the sf0.01 oracle is the O(n²) brute-force inequality
  join (22.5B levenshtein pairs at sf1). Here: the key universe is 300
  md5-prefix strings by construction, so an EXACT combinatorial oracle
  exists at any row count: Python edit-distance over the 300×300 distinct
  string pairs + per-key row counts → exact expected (n_pairs,
  total_distance).

Usage:
    python scripts/sf1_parity.py [sf_dir]   # default .scaling/sf1

Prints one PASS/FAIL line per check; exit code 0 iff all pass.
"""

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py_reference import golden_components  # noqa: E402

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = sys.argv[1] if len(sys.argv) > 1 else os.path.join(HERE, ".scaling", "sf1")


def edit_distance(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def check_dedup_clusters(spark) -> bool:
    from scalding_spark.functions import dedup
    sys.path.insert(0, HERE)
    from __spark_entry__ import _t
    docs = _t(spark, SF_DIR, "documents")
    t0 = time.time()
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3,
                                      threshold=0.05, max_doc_freq=1000)
    edges = [(r.id_a, r.id_b) for r in pairs.select("id_a", "id_b").collect()]
    labels = {r.doc_id: r.cluster_id for r in
              dedup.dedup_clusters(docs, pairs, "doc_id")
              .select("doc_id", "cluster_id").collect()}
    spark_secs = time.time() - t0
    t0 = time.time()
    all_ids = [r.doc_id for r in docs.select("doc_id").collect()]
    want = golden_components(all_ids, edges)
    uf_secs = time.time() - t0
    diff = sum(1 for k in labels if labels[k] != want.get(k))
    n_comp = len(set(labels.values()))
    ok = labels == want
    print(f"{'PASS' if ok else 'FAIL'} dedup_clusters: {len(labels)} labels, "
          f"{len(edges)} edges, {n_comp} components; {diff} label diffs "
          f"(spark {spark_secs:.1f}s, union-find {uf_secs:.1f}s)")
    return ok


def check_fuzzy_join(spark) -> bool:
    from __spark_entry__ import q_fuzzy_join
    t0 = time.time()
    row = q_fuzzy_join(spark, SF_DIR).collect()[0]
    spark_secs = time.time() - t0

    # exact combinatorial oracle: per-key-string row counts × pairwise
    # distances over the 300-string universe
    t0 = time.time()
    import pyarrow.parquet as pq
    custkeys = pq.read_table(os.path.join(SF_DIR, "customer.parquet"),
                             columns=["c_custkey"])["c_custkey"].to_pylist()
    key_of = {r: hashlib.md5(str(r).encode()).hexdigest()[:8]
              for r in range(300)}
    counts = {}
    for ck in custkeys:
        s = key_of[ck % 300]
        counts[s] = counts.get(s, 0) + 1
    strings = sorted(counts)
    n_pairs = sum(c * (c - 1) // 2 for c in counts.values())  # distance 0
    total_distance = 0
    for i, s in enumerate(strings):
        for t in strings[i + 1:]:
            if edit_distance(s, t) == 1:
                cross = counts[s] * counts[t]
                n_pairs += cross
                total_distance += cross
    oracle_secs = time.time() - t0
    ok = (row.n_pairs, row.total_distance) == (n_pairs, total_distance)
    print(f"{'PASS' if ok else 'FAIL'} fuzzy_join: spark "
          f"(n_pairs={row.n_pairs}, total_distance={row.total_distance}) vs "
          f"oracle ({n_pairs}, {total_distance}) over {len(custkeys)} rows / "
          f"{len(strings)} key strings (spark {spark_secs:.1f}s, oracle "
          f"{oracle_secs:.1f}s)")
    return ok


def main():
    from scalding_spark.session import get_spark, release_materialized
    spark = get_spark(app_name="sf1_parity")
    ok = True
    for check in (check_dedup_clusters, check_fuzzy_join):
        ok = check(spark) and ok
        release_materialized(spark)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
