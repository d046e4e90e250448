"""Physical-plan contracts: the scale properties that make these operators
viable at 100 TB, asserted against the optimized plan so a regression shows
up as a test failure, not a production incident.

- filters/projections reach the parquet scan (PushedFilters/ReadSchema);
- joinWithTiny really broadcasts (no shuffle of the big side);
- map-phase pipelines have ZERO exchanges;
- aggregations get map-side partial aggregation (two HashAggregate levels);
- global top-k plans as TakeOrderedAndProject, not a total sort.
"""

import pytest
from pyspark.sql import functions as F

from scalding_spark.functions import dedup
from scalding_spark.pipe import Pipe
from scalding_spark import joins

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def li(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_and_projection_pushed_to_scan(li):
    q = li.where(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    p = plan(q)
    assert "PushedFilters: [" in p and "GreaterThan(l_quantity,45" in p
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in p


def test_join_with_tiny_broadcasts(spark, li):
    nation = Pipe(spark.read.parquet(f"{SF}/nation.parquet"))
    j = joins.join_with_tiny(Pipe(li.withColumn("k", F.col("l_suppkey") % 25)),
                             nation, on=[F.col("k") == F.col("n_nationkey")])
    p = plan(j.df)
    assert "BroadcastHashJoin" in p
    # the big (lineitem) side must not shuffle for the join
    assert p.count("Exchange hashpartitioning") == 0


def test_map_phase_pipeline_has_no_exchange(li):
    q = (Pipe(li)
         .filter(F.col("l_discount") > 0)
         .map(rev=F.col("l_extendedprice") * (1 - F.col("l_discount")))
         .project("l_orderkey", "rev"))
    assert "Exchange" not in plan(q.df)


def test_aggregation_is_partial_then_final(li):
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    p = plan(q)
    # two HashAggregate levels around one exchange = map-side combine
    assert p.count("HashAggregate") == 2
    assert p.count("Exchange hashpartitioning") == 1


def test_global_topk_is_take_ordered(li):
    q = li.orderBy(F.col("l_extendedprice").desc()).limit(5)
    p = plan(q)
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p  # no global sort materialization


def test_minhash_signatures_no_shuffle(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", 16, 3)
    assert "Exchange" not in plan(sigs)


def test_whole_stage_codegen_covers_map_ops(li):
    q = (Pipe(li).map(x=F.col("l_quantity") * 2)
         .filter(F.col("x") > 10).project("l_orderkey", "x"))
    # '*(n)' prefixes mark operators inside a WholeStageCodegen span
    p = plan(q.df)
    assert "*(1) Project" in p and "*(1) Filter" in p


def test_q5_dims_broadcast_single_agg_shuffle(spark):
    """TPC-H Q5 shape: nation/region (explicitly) and the other dims (by AQE
    or size estimate at this SF) should broadcast; the fact table must reach
    the final aggregation through at most one hash-partitioning exchange of
    its own rows."""
    import __spark_entry__ as e
    p = plan(e.q5_local_supplier_volume(spark, SF))
    assert p.count("BroadcastHashJoin") >= 2  # nation+region forced
    # orderdate range filter must reach the orders scan
    assert "PushedFilters" in p and "GreaterThanOrEqual(o_orderdate" in p


def test_q18_semi_join_shape(spark):
    import __spark_entry__ as e
    p = plan(e.q18_large_volume_customer(spark, SF))
    assert "LeftSemi" in p
    assert "TakeOrderedAndProject" in p  # top-20, not a global sort


def test_pii_redact_stays_in_codegen(spark):
    """The PII cascade is pure JVM expression work — no exchange, no UDF
    (BatchEvalPython/ArrowEvalPython) in the plan."""
    from scalding_spark.functions import text as tx
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select(tx.pii_redact(F.col("text")).alias("r"))
    p = plan(q)
    assert "Exchange" not in p
    assert "EvalPython" not in p


def test_top_word_fraction_partial_aggs(spark):
    """Both aggs in the repetition stat are map-side combinable: 2 aggs ×
    2 levels = 4 HashAggregates, 2 exchanges (token, then doc)."""
    from scalding_spark.functions import text as tx
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(tx.top_word_fraction(docs, "text", "doc_id"))
    assert p.count("HashAggregate") == 4
    assert p.count("Exchange hashpartitioning") == 2


def test_range_join_is_equi_not_nested_loop(spark):
    """The bucketed range join must plan as a hash/sort-merge equi-join on
    (keys, bucket) — never the quadratic BroadcastNestedLoopJoin a naive
    non-equi join degenerates to."""
    import __spark_entry__ as e
    p = plan(e.q_range_join(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or ("BroadcastHashJoin" in p)


def test_semi_anti_native(spark, li):
    cust = Pipe(spark.read.parquet(f"{SF}/customer.parquet")
                .select(F.col("c_custkey").alias("l_suppkey")))
    semi = joins.semi_join(Pipe(li), cust, on="l_suppkey")
    anti = joins.anti_join(Pipe(li), cust, on="l_suppkey")
    assert "LeftSemi" in plan(semi.df)
    assert "LeftAnti" in plan(anti.df)


def test_q6_all_predicates_pushed_no_join(spark):
    """Q6 is the pushdown acid test: date range, discount band, and quantity
    cap all reach the parquet scan, the read schema is 4 columns, and the
    whole query is one partial+final agg with zero joins."""
    import __spark_entry__ as e
    p = plan(e.q6_forecast_revenue(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity)" in p
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp" in p
    assert "Join" not in p
    assert p.count("HashAggregate") == 2


def test_q19_disjunction_stays_hash_join(spark):
    """OR-of-ANDs predicate groups must not degrade the part join to a
    nested-loop: the equi-key carries the join, the disjunction evaluates
    as a post-join filter."""
    import __spark_entry__ as e
    p = plan(e.q19_disjunctive_revenue(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p and "Cartesian" not in p
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p)


def test_q21_correlations_stay_equi_joins(spark):
    """The EXISTS/NOT-EXISTS double correlation has a `suppkey <>` conjunct;
    it must ride the orderkey equi-join as a residual condition, never a
    quadratic nested-loop."""
    import __spark_entry__ as e
    p = plan(e.q21_waiting_suppliers(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p and "Cartesian" not in p
    assert "LeftSemi" in p and "LeftAnti" in p


def test_q17_decorrelated_threshold_is_partial_agg(spark):
    """The per-part avg threshold decorrelates into a two-level partial agg
    plus an equi-join back to the fact (no per-row correlated subquery)."""
    import __spark_entry__ as e
    p = plan(e.q17_small_quantity_revenue(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p and "Cartesian" not in p
    assert p.count("HashAggregate") >= 4


def _shuffle_exchange_schemas(df):
    """(node_name, partitioning, [(col, typeName)]) for every exchange in the
    physical plan.

    Walks the py4j plan tree (through the AQE wrapper's initialPlan) because
    toString() doesn't print per-node output schemas."""
    out = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if "Exchange" in name:
            o = node.output()
            part = (node.outputPartitioning().toString()
                    if name.startswith("Shuffle") else "")
            out.append((name, part,
                        [(o.apply(i).name(), o.apply(i).dataType().typeName())
                         for i in range(o.size())]))
        if name == "AdaptiveSparkPlanExec":
            walk(node.initialPlan())
            return
        if name == "InMemoryTableScanExec":
            # keyless range ops persist their ranged frame (frozen-__pid
            # contract, grouping.py _ranged) — the range exchange then
            # lives inside the cached relation's plan; keep asserting it
            walk(node.relation().cachedPlan())
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


@pytest.mark.parametrize("variant", ["topk_lsh", "neardup"])
def test_lsh_candidate_dedup_shuffles_no_vectors(spark, variant):
    """The engine contract 'shuffles carry hashes, not payloads' applied to
    LSH candidate dedup: scoring happens map-side BEFORE the id-pair
    groupBy, so no ShuffleExchange in the plan carries an embedding array.
    (Broadcast of the tiny query side is allowed to carry vectors — that is
    the point of broadcasting it.)"""
    from scalding_spark.functions import similarity
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    if variant == "topk_lsh":
        q = emb.where(F.col("vec_id") < 5)
        df = similarity.cosine_topk_lsh(emb, q, k=3, dim=32)
    else:
        df = similarity.embedding_near_dup_pairs(emb, threshold=0.5, dim=32)
    offenders = [
        (name, cols)
        for name, _part, cols in _shuffle_exchange_schemas(df)
        if name.startswith("Shuffle") and any(t == "array" for _, t in cols)
    ]
    assert not offenders, f"shuffle exchanges carrying vectors: {offenders}"


def test_substring_spans_shuffles_no_text(spark):
    """shared_ngram_spans' exchanges must carry (id, pos, 8-byte gram hash)
    — never the text or gram strings. Same contract as LSH dedup: the
    inverted-index join keys on hashes."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = dedup.shared_ngram_spans(docs, "text", "doc_id", n=4, min_len=8)
    offenders = [
        (name, cols)
        for name, _part, cols in _shuffle_exchange_schemas(df)
        if name.startswith("Shuffle") and any(t == "string" for _, t in cols)
    ]
    assert not offenders, f"shuffle exchanges carrying text: {offenders}"


def test_unigram_lm_aggregates_are_partial(spark):
    """Both LM count tables and the per-doc mean must plan as two-level
    HashAggregate (map-side combine) — the shuffle carries distinct
    (doc, tok) rows, not token occurrences."""
    from scalding_spark.functions import lm
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(lm.unigram_lm_score(docs, "text", "doc_id"))
    # 3 aggregations (doc-term, model, per-doc) * 2 levels, plus the scalar agg
    assert p.count("HashAggregate") >= 6
    assert "partial_count" in p


def test_linear_quality_is_map_only(spark):
    """Scoring with plan-literal weights must fuse into the scan: no
    exchange, no UDF, one codegen span."""
    from scalding_spark.functions.text import linear_quality_score
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(docs.select("doc_id",
                         linear_quality_score(F.col("text")).alias("q")))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_kmeans_assignment_is_map_only(spark):
    """The assignment pass against literal centroids must not shuffle the
    corpus."""
    from scalding_spark.functions import similarity
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = similarity.ivf_centroids(emb, 4)
    assigned = emb.select(
        "vec_id",
        similarity._nearest_centroid_l2(F.col("embedding"), cents).alias("cell"))
    assert "Exchange" not in plan(assigned)


def test_kmeans_bcast_assignment_no_corpus_shuffle(spark):
    """Broadcast-data centroid assignment: the corpus side may meet a
    BroadcastExchange (the one-row centroid table) but must never be
    hash/range-repartitioned itself."""
    from scalding_spark.functions import similarity
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = similarity.ivf_centroids(emb, 4)
    src = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    p = plan(similarity._assign_cells_bcast(src, cents))
    assert "hashpartitioning" not in p and "rangepartitioning" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_kmeans_round_pass_has_no_exchange(spark):
    """A Lloyd round (_cell_sums) assigns and sums per cell inside each
    task: its plan holds no Exchange of any kind, so one round is one
    map-only stage and the driver collects at most k rows per task."""
    from scalding_spark.functions import similarity
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = similarity.ivf_centroids(emb, 4)
    src = similarity._drop_null_vecs(emb, "embedding").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    p = plan(similarity._cell_sums(src, cents))
    assert "Exchange" not in p, p
    assert "MapInPandas" in p, p


def test_kmeans_bcast_assignment_matches_literal(spark):
    """Data-centroids and plan-literal-centroids argmin must agree exactly,
    including the lowest-index tie-break."""
    from scalding_spark.functions import similarity
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(200)
    cents = similarity.ivf_centroids(emb, 5)
    src = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    lit = {r.id: r.cell for r in src.select(
        "id", similarity._nearest_centroid_l2(F.col("v"), cents).alias("cell")
    ).collect()}
    bc = {r.id: r.cell for r in
          similarity._assign_cells_bcast(src, cents).select("id", "cell").collect()}
    assert lit == bc


def test_kmeans_centroid_build_side_is_one_partition(spark):
    """A driver-built one-row frame must be a single task: plain
    createDataFrame spreads even one row over defaultParallelism
    Python-worker slices. The Arrow path plans a JVM LocalRelation, one
    partition per row at most."""
    from scalding_spark.session import _arrow_frame
    one = _arrow_frame(spark, [[[[0.0, 1.0]]]], "cents: array<array<double>>")
    assert _optimized(one).startswith("LocalRelation"), _optimized(one)
    assert one.rdd.getNumPartitions() == 1
    assert [r.cents for r in one.collect()] == [[[0.0, 1.0]]]


def test_driver_built_frames_plan_local_relation(spark):
    """The bloom words row and the CC label mapping are built on the
    driver and ship as Arrow: a LocalRelation scans in the JVM, where a
    list-built frame is a LogicalRDD scanned by one Python-worker task
    per core."""
    from scalding_spark.functions import bloom
    keys = spark.range(50).select(F.col("id").alias("k"))
    assert _optimized(bloom.bloom_build(keys, "k").df) \
        .startswith("LocalRelation")
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)],
                                  "src long, dst long")
    cc = dedup.connected_components(edges)
    assert _optimized(cc).startswith("LocalRelation"), _optimized(cc)
    assert sorted(map(tuple, cc.collect())) == [
        (1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]


def test_weighted_sample_is_map_only(spark):
    """Score-weighted membership must fuse into the scan: no exchange,
    no UDF — the filter is pure expressions over md5 + the model score."""
    from scalding_spark.functions import sampling
    from scalding_spark.functions.text import linear_quality_score
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(sampling.weighted_sample(
        docs, "doc_id", F.round(linear_quality_score(F.col("text")), 6)))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_mix_to_proportions_filter_is_map_only(spark):
    """After the one tiny sizing agg, the mixing filter itself is a pure
    CASE expression over the md5 bucket — no join, no exchange."""
    from scalding_spark.functions import sampling
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = sampling.mix_to_proportions(
        docs, "doc_id", "source", "n_chars",
        {f"src{i}": 0.2 for i in range(5)}, total=10_000)
    p = plan(out)
    assert "Exchange" not in p
    assert "Join" not in p


def test_pack_sequences_no_single_task_window(spark):
    """Sequence packing must ride the range-partitioned parallel running
    sum — never a single-partition window over the whole corpus."""
    from scalding_spark.functions import sampling
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(sampling.pack_sequences(docs, "text", "doc_id", 512))
    assert "rangepartitioning" in p
    # the only SinglePartition exchange allowed is the #partitions-row
    # offsets table of the scan-left pattern, never a corpus-wide window
    assert "Window [" not in p.split("SinglePartition")[0] or \
        "rangepartitioning" in p.split("SinglePartition")[0]


def test_train_logistic_gradient_is_one_agg_no_udf(spark):
    """Each training iteration is a single partial-aggregated pass: no
    Python evaluation nodes, exactly one aggregate pair over the corpus."""
    from scalding_spark.functions import text as tx
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    feats = tx.quality_features(F.col("text"))
    base = docs.select(*[F.round(feats[k], 6).alias(k) for k in sorted(feats)],
                       (F.col("lang") == "en").cast("int").alias("__y"))
    gscale = 1e9
    err = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.lit(0.0))), 6) - F.col("__y")
    agg = base.agg(F.sum(F.round(err * gscale).cast("long")).alias("gb"),
                   F.count(F.lit(1)).alias("n"))
    p = plan(agg)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("HashAggregate") == 2  # partial + final, nothing more


def test_top_ngram_fraction_partial_aggs(spark):
    """Same contract as top_word_fraction for the n-gram generalization:
    both aggs map-side combinable (4 HashAggregates), exactly the (gram,
    doc) exchanges, and gram construction stays in codegen (no UDF)."""
    from scalding_spark.functions import text as tx
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(tx.top_ngram_fraction(docs, "text", "doc_id", n=2))
    assert p.count("HashAggregate") == 4
    assert p.count("Exchange hashpartitioning") == 2
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_gopher_pass_is_map_only(spark):
    """The quality gate is a pure row expression: zero exchanges, zero
    Python evals — it fuses into whatever scan feeds it."""
    from scalding_spark.functions import text as tx
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(docs.select(tx.gopher_pass(F.col("text")).alias("ok")))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_approx_percentile_is_partial_agg(spark):
    """GK sketch partials combine map-side: two HashAggregate/
    ObjectHashAggregate levels around ONE exchange, never a sort."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = (Pipe(li).group_by("l_returnflag")
         .approx_percentile("l_quantity", [0.5]).done().to_df())
    p = plan(q)
    assert p.count("Exchange hashpartitioning") == 1
    assert "Sort" not in p
    assert p.count("ObjectHashAggregate") == 2
    assert "partial_percentile_approx" in p


def test_shared_count_tables_scan_corpus_once(spark):
    """pyspark 4.1 plans NO ReusedExchange when a shared aggregate subtree
    also feeds a broadcast build — so lm/retrieval/collocations/DSIR
    materialize their count tables (lazy localCheckpoint) instead. Pin the
    resulting scan budget: regressions reappear as extra parquet scans."""
    from scalding_spark.functions import lm, retrieval
    from scalding_spark.functions import text as tx
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # a checkpointed count table shows as Scan ExistingRDD; the visible
    # parquet scans are only the NON-shared subtrees. If a checkpoint is
    # dropped, the shared lineage re-inlines and the parquet count jumps.
    cases = [
        # (plan, max visible parquet scans, min ExistingRDD scans)
        (plan(lm.unigram_lm_score(docs, "text", "doc_id")), 0, 1),
        (plan(lm.bigram_lm_score(docs, "text", "doc_id")), 1, 1),  # vocab explode
        (plan(tx.collocations(docs, "text", min_count=2)), 0, 2),
        (plan(retrieval.bm25_rank(docs, ["alpha", "beta"], k=5)), 1, 1),  # scalars
        (plan(lm.importance_weights(docs, docs.limit(50), "text",
                                    "doc_id", n_buckets=256)), 1, 1),  # target side
        (plan(lm.perplexity_buckets(docs, "text", "doc_id")), 0, 1),
        (plan(lm.corpus_divergence(docs.limit(100), docs, "text")), 0, 1),
    ]
    for i, (p, max_parquet, min_rdd) in enumerate(cases):
        assert p.count("Scan parquet") <= max_parquet, (i, p.count("Scan parquet"))
        assert p.count("Scan ExistingRDD") >= min_rdd, (i, p.count("Scan ExistingRDD"))


def test_matrix_scalar_pipe_reuses_coo_exchange(spark):
    """(A * nnz) / total: the two pipe scalars aggregate the SAME COO
    subtree the scaled matrix reads. Compile-time planning leaves three
    identical exchanges, but AQE's runtime stage cache must collapse them
    — the final plan carries ReusedExchange for both scalar paths, so the
    source is scanned and shuffled exactly once. Executed (not just
    planned): AQE reuse only materializes at runtime. The quantity filter
    keeps this COO plan distinct from q_matmul's (gram() leaves ITS COO
    persisted in the session cache; an identical plan here would be
    silently substituted with InMemoryTableScan and there would be no
    exchanges left to reuse — the in-suite flake this pin replaces)."""
    from scalding_spark.matrix import Matrix
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    coo = (li.where(F.col("l_quantity") > 2)
           .groupBy(F.col("l_suppkey").alias("row"),
                    F.col("l_partkey").alias("col"))
           .agg(F.sum("l_quantity").alias("val")))
    a = Matrix(coo)
    out = (a * a.binarize().total_sum()) / a.total_sum()
    out.df.collect()
    p = plan(out.df)
    assert "isFinalPlan=true" in p
    assert p.count("ReusedExchange") >= 2, p

def test_ngram_jaccard_doc_space_on_organic_corpus(spark):
    """Adaptive pair generation (r12 — the r11 verdict's top item): on an
    organic corpus (distinct shingle-sets ≈ docs, the driver's documents
    table at every SF) ``space='auto'`` picks DOC space, so the md5
    group machinery — group-forming aggregate, membership window, the
    output expansion joins — is absent from the plan entirely. Pinned
    shape: the tokenized (id, shingle-set) frame is PERSISTED (every
    consumer — sizes ×2, the exploded index ×2 — reads
    InMemoryTableScan, never re-tokenizing the corpus), the stop-shingle
    cap costs exactly one Exchange(sh) + count-over-sh Window per
    self-join side (2 each — the pre-r11 doc-space shape, measured
    cheaper than hot-set anti-joins in r08), and the candidate aggregate
    keys on the raw bigint doc ids. A third sh-exchange or any gid/__g
    column means the set-space machinery leaked onto the organic path
    (the r11 ~1.3× organic premium this rewrite removed: sf1 warm A/B
    22.2 → 17.2 s)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", max_doc_freq=1000)
    p = plan(df)
    sh_exchanges = [l for l in p.splitlines()
                    if "Exchange hashpartitioning(sh" in l]
    windows = [l for l in p.splitlines()
               if "Window [count(1)" in l and "windowspecdefinition(sh" in l]
    assert len(sh_exchanges) == 2, p
    assert len(windows) == 2, p
    assert p.count("InMemoryTableScan") >= 4, p
    assert "gid" not in p and "__ga" not in p, p
    # the candidate aggregate keys on the raw bigint ids (the r11
    # wide-key finding transfers: never a wide synthetic key through
    # the quadratic stage)
    import re
    agg_keys = re.findall(
        r"HashAggregate\(keys=\[id#\d+(L?), id#\d+(L?)\], "
        r"functions=\[count\(1\)\], output=\[id_a", p)
    assert agg_keys and all(a == "L" and b == "L" for a, b in agg_keys), p


def test_ngram_jaccard_set_space_shape_pinned(spark):
    """The r11 distinct-set-space plan, still reachable via
    ``space='set'`` (and chosen by auto on duplicate-heavy corpora —
    the C(n,2) blowup protection): the per-set groups frame is
    PERSISTED — every consumer (both join sides, the same-set survivor
    agg, sizes, the expansions) reads InMemoryTableScan, never
    re-tokenizing the corpus — and the stop-shingle cap costs exactly
    one Exchange(sh) + Window per consumer of the pruned index: the two
    self-join sides plus the same-set survivor count, each over
    GROUP-space rows. 3 exchanges + 3 windows IS the pinned shape: a
    fourth means a consumer re-quadratified or the persist was
    dropped."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = dedup.ngram_jaccard_pairs(docs, "text", "doc_id",
                                   max_doc_freq=1000, space="set")
    p = plan(df)
    sh_exchanges = [l for l in p.splitlines()
                    if "Exchange hashpartitioning(sh" in l]
    # count the FREQ windows (sum(__m) over sh) specifically: the gid
    # relabeling adds a min(id)-over-__g window inside the persisted
    # members frame, whose cached lineage prints once per consumer
    # without recomputing (InMemoryTableScan serves it)
    windows = [l for l in p.splitlines()
               if "Window [sum(__m" in l and "windowspecdefinition(sh" in l]
    assert len(sh_exchanges) == 3, p
    assert len(windows) == 3, p
    assert p.count("InMemoryTableScan") >= 5, p
    # the candidate (ga, gb) aggregate keys on the bigint gid, never the
    # 33-byte md5 string (the r11 wide-key finding: 2x on the hot
    # stage); the string key is confined to the group-forming aggregate
    # and the members window inside the persisted index build
    import re
    agg_keys = re.findall(
        r"HashAggregate\(keys=\[gid#\d+(L?), gid#\d+(L?)\], "
        r"functions=\[count\(1\)\], output=\[__ga", p)
    assert agg_keys and all(a == "L" and b == "L" for a, b in agg_keys), p


def test_star_cc_riding_dedup_single_exchange_per_star(spark):
    """r12 star-CC round restructure: the round-end distinct
    Exchange(u, v) is gone — dedup RIDES the small-star window's
    Exchange(u), because hashpartitioning(u) satisfies the (u, v)
    aggregate's clustered-distribution requirement (equal (u, v) rows
    share u). Pins (a) the primitive: repartition("u") + dropDuplicates
    (["u","v"]) + window-over-u plans exactly ONE exchange; (b) the
    source: no .distinct() inside the round loop (it would be a third
    per-round exchange), the riding dedup present. Measured: −21/−25%
    shuffle read/write per sf1 chain-graph run, warm wall 4.85 → 4.03 s."""
    import inspect
    import re
    from pyspark.sql import Window
    e = spark.range(100).select(F.col("id").alias("u"),
                                (F.col("id") + 1).alias("v"))
    w = Window.partitionBy("u")
    round_frame = (e.repartition("u").dropDuplicates(["u", "v"])
                   .withColumn("m", F.min("v").over(w)))
    p = plan(round_frame)
    ex = [l for l in p.splitlines() if re.search(r"\bExchange\b", l)]
    assert len(ex) == 1, p
    src = inspect.getsource(dedup.connected_components)
    loop = src[src.index("for _ in range(max_iter)"):
               src.index('stats["iterations"] = rounds')]
    assert ".distinct()" not in loop, "round-end distinct exchange is back"
    assert 'dropDuplicates(["u", "v"])' in loop
    # upstream cut ONCE (r12): the canonical edge set is materialized
    # first and all_nodes derives from that cut — two independent eager
    # materializations each recomputed the caller's un-checkpointed
    # upstream (the full ngram pair generation for q_dedup_clusters:
    # ~17 s of its 44 s at sf1, paid twice)
    init = src[:src.index("for _ in range(max_iter)")]
    assert init.index("e = materialize") < init.index(
        "all_nodes = materialize"), "all_nodes no longer reads e's cut"


def test_image_neardup_shuffles_hashes_never_bytes(spark):
    """image_neardup_pairs' exchanges must carry 8-byte hashes/chunks and
    ids only — the image BYTES stay in the map-only hash pass (the
    decontaminate/text rule: payloads never cross an exchange)."""
    import random
    rng = random.Random(5)
    rows = [(i, b"P5\n16 16\n255\n"
             + bytes(rng.randrange(256) for _ in range(256)))
            for i in range(40)]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    from scalding_spark.functions import multimodal as mm
    out = mm.image_neardup_pairs(df, max_hamming=2)
    out.collect()
    exchanges = _shuffle_exchange_schemas(out)
    assert exchanges, "banding self-join must plan at least one exchange"
    for name, _part, cols in exchanges:
        for col, typ in cols:
            assert typ != "binary", (
                f"{name} shuffles binary column {col!r} — image bytes "
                f"must never cross an exchange:\n{exchanges}")


def test_gram_self_join_reuses_one_coo_exchange(spark):
    """gram() = A·Aᵀ (r11): both join sides project the SAME columns in
    the SAME order from the persisted COO (the inner dim is `col` on
    either side), so on the shuffle path the second side's exchange is a
    ReusedExchange — one COO shuffle, not two. Asserted with broadcast
    disabled and AQE off (the static ReuseExchange rule; under AQE the
    runtime stage cache performs the same dedup). matmul() with distinct
    operands cannot reuse — gram is the self-product special case."""
    from scalding_spark.matrix import Matrix
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    coo = (li.groupBy(F.col("l_suppkey").alias("row"),
                      F.col("l_partkey").alias("col"))
           .agg(F.sum("l_quantity").alias("val")))
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        g = Matrix(coo).gram()
        p = plan(g.df)
        assert p.count("ReusedExchange") >= 1, p
        join_side_ex = [l for l in p.splitlines()
                        if "Exchange hashpartitioning(k#" in l
                        and "ReusedExchange" not in l]
        assert len(join_side_ex) == 1, p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        from scalding_spark.session import release_materialized
        release_materialized(spark)
