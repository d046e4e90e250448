"""Unit pins for the two r06 operators: web.canonicalize_url and
similarity.semantic_decontaminate."""

from pyspark.sql import functions as F

from scalding_spark.functions import web


def _canon(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [r.c for r in
            df.select(web.canonicalize_url(F.col("url")).alias("c"))
              .collect()]


def test_canonicalize_url_rules(spark):
    got = _canon(spark, [
        # fragment + case + default port + tracking params
        "HTTP://WWW.Example.COM:80/Path?utm_source=x&id=7&utm_campaign=y#s",
        # https default port; survivor order preserved
        "https://news.example.org:443/a?gclid=z&x=1&y=2",
        # bare root path dropped
        "https://Shop.example.co.uk/",
        # all params tracking → query dropped entirely
        "http://site.example.net:8080/q?fbclid=1&ref_src=tw",
        # non-default port kept; path case preserved
        "https://h.example.com:8443/CaseSensitive/Path",
        # no scheme → NULL
        "plain text",
        # empty query string ('?' alone) dropped
        "http://a.example.com/x?",
        # bare ref is a RESOURCE selector (GitHub branches), not a
        # tracking param: preserved by default (ADVICE r06)
        "https://code.example.com/repo/tree?ref=main&fbclid=z",
    ])
    assert got == [
        "http://www.example.com/Path?id=7",
        "https://news.example.org/a?x=1&y=2",
        "https://shop.example.co.uk",
        "http://site.example.net:8080/q",
        "https://h.example.com:8443/CaseSensitive/Path",
        None,
        "http://a.example.com/x",
        "https://code.example.com/repo/tree?ref=main",
    ]


def test_canonicalize_url_custom_strip_set(spark):
    """strip_params is tunable per corpus: a caller who KNOWS ref is a
    click id on their origin can add it back; an empty set strips
    nothing (empty segments still drop)."""
    urls = ["https://a.example.com/p?ref=x&id=1&utm_source=s"]
    assert _canon_with(spark, urls, ("utm_[a-zA-Z0-9_]*", "ref")) == \
        ["https://a.example.com/p?id=1"]
    assert _canon_with(spark, urls, ()) == \
        ["https://a.example.com/p?ref=x&id=1&utm_source=s"]


def _canon_with(spark, urls, strip):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [r.c for r in
            df.select(web.canonicalize_url(F.col("url"), strip_params=strip)
                      .alias("c")).collect()]


def test_canonicalize_url_null_and_order(spark):
    df = spark.createDataFrame([(None,), ("https://a.b/?b=2&a=1",)],
                               "url string")
    got = [r.c for r in df.select(
        web.canonicalize_url(F.col("url")).alias("c")).collect()]
    # NULL in → NULL out; remaining params NOT reordered
    assert got == [None, "https://a.b?b=2&a=1"]


def test_canonicalize_url_is_a_dedup_key(spark):
    """The operator's purpose: click-id variants of one resource collapse
    to one key under hash-groupBy."""
    variants = [
        "https://example.com/page?id=1&utm_source=a",
        "HTTPS://EXAMPLE.COM:443/page?id=1#frag",
        "https://example.com/page?id=1&fbclid=xyz",
    ]
    df = spark.createDataFrame([(u,) for u in variants], "url string")
    n = (df.select(web.canonicalize_url(F.col("url")).alias("c"))
         .distinct().count())
    assert n == 1


def test_semantic_decontaminate_drops_only_near_benchmark(spark):
    from scalding_spark.functions.similarity import semantic_decontaminate
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]),        # == bench direction → dropped
         (2, [10.0, 0.001]),     # nearly parallel to bench → dropped
         (3, [0.0, 1.0]),        # orthogonal → kept
         (4, None),              # NULL vector → kept (can't be vetted)
         (5, [0.0, 0.0])],       # zero vector → kept (dot 0)
        "vec_id long, embedding array<double>")
    bench = spark.createDataFrame([(100, [2.0, 0.0])],
                                  "vec_id long, embedding array<double>")
    stats = {}
    kept = semantic_decontaminate(corpus, bench, threshold=0.9, stats=stats)
    assert stats["n_benchmark"] == 1
    assert sorted(r.vec_id for r in kept.collect()) == [3, 4, 5]


def test_semantic_decontaminate_empty_or_degenerate_benchmark(spark):
    from scalding_spark.functions.similarity import semantic_decontaminate
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert semantic_decontaminate(corpus, empty).count() == 1
    # zero/NULL-only benchmark matches nothing
    degen = spark.createDataFrame([(9, [0.0, 0.0]), (10, None)],
                                  "vec_id long, embedding array<double>")
    stats = {}
    assert semantic_decontaminate(corpus, degen, stats=stats).count() == 1
    assert stats["n_benchmark"] == 0


def test_semantic_decontaminate_plan_is_map_only(spark):
    """The corpus side must not shuffle: the benchmark rides the task
    closure and the corpus is filtered by one Arrow-evaluated pandas UDF
    over the vector column — no join, zero Exchange operators."""
    from scalding_spark.functions.similarity import semantic_decontaminate
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(50)],
        "vec_id long, embedding array<double>")
    bench = spark.createDataFrame([(0, [1.0, 0.0])],
                                  "vec_id long, embedding array<double>")
    out = semantic_decontaminate(corpus, bench, threshold=0.99)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the corpus must never hash/range-shuffle
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "ArrowEvalPython [vetted(embedding" in plan, plan
    assert "Filter NOT pythonUDF" in plan, plan
    assert "Join" not in plan, plan
