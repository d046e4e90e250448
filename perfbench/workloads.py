"""The workloads: what one iteration runs and how its outputs are
checked.

The check reads exactly the output that was timed: the rows a query op
collected, or the files a job or ingest op wrote under
``<work>/out/<op>/<iteration>``. A workload's ``check`` returns the
(op, iteration) pairs whose output is wrong.
"""
from __future__ import annotations

import glob
import math
import os
import random
import re
import shutil

import duckdb

from inputs import TABLES


def norm(rows, cols):
    """Order-insensitive, column-order-insensitive row normal form: the
    rules of ``scripts/driver_check.py:norm``."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    def nv(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.17g}"
        if isinstance(v, bool):
            return str(int(v))
        return str(v)

    return sorted(tuple(nv(r[i]) for i in idx) for r in rows)


class Workload:
    name = ""
    why = ""

    def __init__(self, spark, inp: str, work: str, seed: int, tracer=None):
        self.spark, self.inp, self.work, self.seed = spark, inp, work, seed
        self.tracer = tracer
        self.out = os.path.join(work, "out")
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)

    def prepare(self) -> None:
        """Untimed per-run preparation (counted into setup)."""

    def ops(self):
        """[(op name, fn(iteration))] run in order by every iteration."""
        raise NotImplementedError

    def check(self, done: list[tuple[str, int]]) -> list[tuple[str, int]]:
        raise NotImplementedError

    def pair_yield(self) -> float:
        """Pairs out / capped candidate pairs of the workload's n-gram
        pair generation, computed after timing (0 when it runs none)."""
        return 0.0

    def dest(self, op: str, it: int) -> str:
        return os.path.join(self.out, op, str(it))

    def scope(self, layer: str, name: str):
        import contextlib
        return (self.tracer.scope(layer, name) if self.tracer
                else contextlib.nullcontext())


class QueryWorkload(Workload):
    """Driver-contract queries from ``__spark_entry__``. Each op collects
    its result to the driver, as the driver contract consumes it, and the
    rows are checked against the query's DuckDB or Python oracle."""

    queries: list[str] = []

    def ops(self):
        import __spark_entry__ as e
        from scalding_spark.session import release_materialized
        qs = e.queries()
        self.results = {}

        def run(name):
            def op(it):
                df = qs[name](self.spark, self.inp)
                with self.scope("sink", "collect"):
                    rows = [tuple(r) for r in df.collect()]
                self.results[(name, it)] = (rows, df.columns)
                release_materialized(self.spark)
            return op
        return [(q, run(q)) for q in self.queries]

    def expected(self, name: str):
        import __spark_entry__ as e
        sql = e.oracle_sql().get(name)
        if sql is None:
            return None
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.inp}/{t}.parquet'")
            cur = con.execute(sql)
            rows, cols = cur.fetchall(), [d[0] for d in cur.description]
        finally:
            con.close()
        return sorted(cols), norm(rows, cols)

    def check_one(self, name: str, rows, cols, want) -> bool:
        if want is not None:
            return (sorted(cols), norm(rows, cols)) == want
        import __spark_entry__ as e
        return not e.py_oracle()[name](self.inp, rows, cols)

    def check(self, done):
        bad, want = [], {}
        for name, it in done:
            if name not in want:
                want[name] = self.expected(name)
            rows, cols = self.results[(name, it)]
            try:
                ok = self.check_one(name, rows, cols, want[name])
            except Exception:
                ok = False
            if not ok:
                bad.append((name, it))
        return bad


class Relational(QueryWorkload):
    """Star-schema queries plus the expression-only ops of the matrix, lm,
    sampling and job layers: work that grows with rows, no iteration."""

    name = "relational"
    why = ("scan, aggregate, join and window queries plus matrix, LM, "
           "sampling and job ops; no dedup, similarity or streaming code runs")
    queries = ["q1_pricing_summary", "q3_shipping_priority",
               "q5_local_supplier_volume", "q21_waiting_suppliers",
               "q_topk_per_group", "q_asof_join", "q_matmul",
               "q_unigram_lm", "q_weighted_sample"]

    def prepare(self):
        # one document per line: the WordCount job's TextLine input
        self.lines = [t for (t,) in duckdb.sql(
            f"SELECT text FROM '{self.inp}/documents.parquet' "
            f"ORDER BY doc_id").fetchall()]
        self.text = os.path.join(self.work, "docs.txt")
        with open(self.text, "w") as fh:
            fh.write("\n".join(self.lines) + "\n")

    def ops(self):
        from examples.wordcount_job import WordCountJob
        from scalding_spark.job import Args

        def wordcount(it):
            WordCountJob(Args(["--input", self.text, "--output",
                               self.dest("wordcount", it)]),
                         self.spark).run()

        return super().ops() + [("wordcount", wordcount)]

    def check_one(self, name, rows, cols, want):
        if name == "wordcount":
            from collections import Counter
            return dict(rows) == Counter(
                w for line in self.lines for w in line.lower().split())
        return super().check_one(name, rows, cols, want)

    def check(self, done):
        for name, it in done:
            if name == "wordcount":
                counts = []
                for f in sorted(glob.glob(os.path.join(
                        self.dest(name, it), "part-*"))):
                    with open(f) as fh:
                        counts += [(w, int(c)) for w, c in
                                   (ln.rstrip("\n").split("\t")
                                    for ln in fh if ln.strip())]
                self.results[(name, it)] = (counts, ["word", "count"])
        return super().check(done)


class DriverLoop(QueryWorkload):
    """Work bound by per-job fixed cost times driver round trips and
    commits: near-dup pairs plus connected-components rounds, k-means
    rounds, and streaming ingest into the fingerprint store."""

    name = "driver_loop"
    why = ("per-job fixed cost times round trips and commits: n-gram pairs "
           "plus CC rounds, k-means rounds, streaming store ingest")
    queries: list[str] = []
    KMEANS = dict(k=4, max_iter=3)
    JACCARD = 0.5   # the training-data pipeline's production threshold

    def prepare(self):
        self.docs = duckdb.sql(
            f"SELECT doc_id, text FROM '{self.inp}/documents.parquet' "
            f"ORDER BY doc_id").fetchall()
        self.store = StoreIngest(self)

    def ops(self):
        import __spark_entry__ as e
        from scalding_spark.functions import dedup, similarity
        from scalding_spark.session import release_materialized
        self.results = {}

        def near_dup(it):
            # prepare_training_data_job's step 4: n-gram Jaccard pairs,
            # then connected components over them
            docs = e._t(self.spark, self.inp, "documents")
            pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3,
                                              threshold=self.JACCARD)
            labels = dedup.dedup_clusters(docs, pairs, "doc_id") \
                .select("doc_id", "cluster_id")
            with self.scope("sink", "collect"):
                rows = [tuple(r) for r in labels.collect()]
            self.results[("near_dup", it)] = (rows, labels.columns)
            release_materialized(self.spark)

        def kmeans(it):
            emb = e._t(self.spark, self.inp, "embeddings")
            assigned, _ = similarity.kmeans(emb, seed=self.seed,
                                            **self.KMEANS)
            with self.scope("sink", "collect"):
                rows = [tuple(r) for r in assigned.collect()]
            self.results[("kmeans", it)] = (rows, assigned.columns)
            release_materialized(self.spark)

        return [("near_dup", near_dup), ("kmeans", kmeans),
                ("stream_ingest", self.store.ingest)]

    def check_one(self, name, rows, cols, want):
        if name == "near_dup":
            # labels against the union-find golden over the pairs a plain
            # Python shingle index finds (scripts/sf1_parity.py's check)
            from py_reference import golden_components
            ids = [i for i, _ in self.docs]
            return dict(rows) == golden_components(ids, _jaccard_pairs(
                self.docs, self.JACCARD))
        import py_reference as pr
        _, nn, _, _ = pr._embeddings_np(self.inp)
        gold, _ = pr.kmeans(nn, seed=self.seed, **self.KMEANS)
        return dict(rows) == gold

    def check(self, done):
        ingest = [d for d in done if d[0] == "stream_ingest"]
        return (super().check([d for d in done if d not in ingest])
                + self.store.check(ingest))

    def pair_yield(self):
        # the scripts/scaling.py candidate probe: sum of c(c-1)/2 over
        # shingle buckets under the default max_doc_freq cap
        from pyspark.sql import functions as F
        from scalding_spark.functions import dedup
        docs = self.spark.read.parquet(f"{self.inp}/documents.parquet")
        pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3,
                                          threshold=self.JACCARD).count()
        sh = docs.select("doc_id", F.explode(F.array_distinct(
            dedup.shingles(F.col("text"), 3))).alias("s"))
        g = sh.groupBy("s").agg(F.count(F.lit(1)).alias("c")) \
            .where(F.col("c") <= 1000)
        cands = g.agg(F.sum(F.col("c") * (F.col("c") - 1) / 2)) \
            .collect()[0][0]
        return pairs / cands if cands else 0.0


def _shingles(text: str, n: int = 3) -> set:
    """Python mirror of ``text.shingles``: distinct word n-grams over
    lowercase ``[a-z0-9]+`` tokens (the whole text when it is shorter)."""
    toks = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
    if len(toks) < n:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _jaccard_pairs(docs, threshold: float) -> list[tuple[int, int]]:
    """(a, b) with a < b and shingle Jaccard >= threshold."""
    sh = {i: _shingles(t) for i, t in docs}
    index: dict[str, list[int]] = {}
    for i, _ in docs:
        for g in sh[i]:
            index.setdefault(g, []).append(i)
    shared: dict[tuple[int, int], int] = {}
    for ids in index.values():
        ids.sort()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                k = (ids[x], ids[y])
                shared[k] = shared.get(k, 0) + 1
    return [(a, b) for (a, b), c in shared.items()
            if c / (len(sh[a]) + len(sh[b]) - c) >= threshold]


class StoreIngest:
    """The exact streaming ingest tier. One availableNow query drains the
    staged micro-batches one file per trigger: the first seeds an empty
    fingerprint store, the second is deduped against it."""

    SEED_FRAC = 0.8
    PROBE_DOCS = 200

    def __init__(self, wl: Workload):
        import pyarrow as pa
        import pyarrow.parquet as pq
        self.wl = wl
        rng = random.Random(wl.seed)
        n_seed = int(len(wl.docs) * self.SEED_FRAC)
        seeded, fresh = wl.docs[:n_seed], wl.docs[n_seed:]
        # the probe batch: fresh docs plus exact re-sends of seeded texts
        # under new ids (the store must drop every re-send)
        resend = [(50_000_000 + k, t) for k, (_, t) in
                  enumerate(rng.sample(seeded, self.PROBE_DOCS // 5))]
        self.batches = [seeded, fresh[:self.PROBE_DOCS] + resend]
        self.stage = os.path.join(wl.work, "stage")
        os.makedirs(self.stage)
        self.batch_bytes = 0
        for b, rows in enumerate(self.batches):
            path = os.path.join(self.stage, f"batch-{b:03d}.parquet")
            pq.write_table(pa.table({
                "doc_id": pa.array([i for i, _ in rows], pa.int64()),
                "text": pa.array([t for _, t in rows], pa.string())}), path)
            os.utime(path, (1_000_000 + b, 1_000_000 + b))
            self.batch_bytes += os.path.getsize(path)

    def ingest(self, it: int) -> None:
        from scalding_spark import streaming
        wl = self.wl
        root = wl.dest("stream_ingest", it)
        stream = (wl.spark.readStream.schema("doc_id LONG, text STRING")
                  .option("maxFilesPerTrigger", 1).parquet(self.stage))
        with wl.scope("streaming", "ingest_exact"):
            q = streaming.stream_ingest_dedup(
                stream, corpus_path=os.path.join(root, "corpus"),
                store_path=os.path.join(root, "store"),
                checkpoint=os.path.join(root, "_ckpt"),
                text_col="text", id_col="doc_id")
            q.awaitTermination()
        if wl.tracer:
            wl.tracer.watch_query(q)
            new = _tree(os.path.join(root, "corpus"))
            new.update(_tree(os.path.join(root, "store")))
            wl.tracer.note("store.files_written", len(new))
            wl.tracer.note("_store.bytes_written", sum(new.values()))
            wl.tracer.note("_store.input_bytes", self.batch_bytes)

    def check(self, done):
        # kept iff the text is absent from every earlier batch, and the doc
        # is its batch's min id for that text
        seen, want = set(), set()
        for rows in self.batches:
            first: dict[str, int] = {}
            for i, t in sorted(rows):
                if t not in seen and t not in first:
                    first[t] = i
            want |= set(first.values())
            seen |= set(first)
        bad = []
        for name, it in done:
            files = glob.glob(os.path.join(self.wl.dest(name, it), "corpus",
                                           "__batch=*", "*.parquet"))
            kept = {r[0] for r in duckdb.execute(
                "SELECT doc_id FROM read_parquet(?)", [files]).fetchall()} \
                if files else set()
            if kept != want:
                bad.append((name, it))
        return bad


def _tree(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


WORKLOADS = {w.name: w for w in (Relational, DriverLoop)}
