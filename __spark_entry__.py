"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises operators from SURVEY.md §2 through the
scalding_spark library; ``oracle_sql()`` carries the DuckDB-equivalent SQL.
Column names and (where feasible) types are aligned between both engines;
double aggregates are rounded identically on both sides so the driver's
order-insensitive value hash is stable across engines.

Keys without an oracle entry (MinHash/SimHash/ANN-LSH/IVF/HLL/k-means/
SemDeDup) are non-SQL-reproducible (seeded xxhash64 / random hyperplanes /
iterative float centroids) and get the driver's rows-only check.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scalding_spark.pipe import Pipe
from scalding_spark import joins
from scalding_spark.matrix import Matrix, SizeHint, pagerank
from scalding_spark.functions import dedup, lm, retrieval, similarity, text as tx
from scalding_spark.functions import sampling as sampling_fns
from scalding_spark.streaming import sessionize

SF_SMOKE = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The driver hands us ITS SparkSession, which may run in a non-UTC
    # timezone. Every timestamp literal cast and timestamp->date cast is
    # session-timezone-dependent, while DuckDB's TIMESTAMP/DATE literals are
    # naive — pin UTC here (the one chokepoint all queries read through) so
    # both engines compare the same instants. (r01: q12_priority_by_flag
    # hash-mismatched on the driver only; its shipdate-window filter shifts
    # under a non-UTC session TZ.)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # applicationId, not id(spark): CPython reuses id()s after GC, so a
    # long-lived driver that rebuilds sessions could get cache hits carrying
    # DataFrames bound to a DEAD session. App ids are timestamped-unique.
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _T_CACHE.get(key)
    if cached is not None:
        return cached
    if name == "events":
        # events.parquet carries TIMESTAMP(NANOS). Spark version drift:
        # newer parquet readers surface it natively as TIMESTAMP_NTZ
        # (micros-truncated) and ignore the legacy nanosAsLong flag; older
        # ones need the flag and hand back a nanos BIGINT. Branch on what
        # the scan actually produced so both behave like DuckDB's
        # TIMESTAMP_NS → TIMESTAMP truncating cast (naive == instant under
        # the UTC session TZ pinned above).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        from pyspark.sql.types import LongType
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name in ("documents", "embeddings"):
            # Small-but-CPU-heavy tables land in one parquet split; fan the
            # per-row text/vector work across all cores. At real scale the
            # scan already yields many splits and this is a cheap no-op-ish
            # round robin of a few MB.
            df = df.repartition(spark.sparkContext.defaultParallelism)
    _T_CACHE[key] = df
    return df


# Memoized read plans per (session, sf_dir, table): the driver runs ~100
# queries back-to-back against the same tables; re-running spark.read.parquet
# per query re-lists files and re-reads footers (a driver-side job each time).
# Caching the DataFrame object reuses one analyzed scan plan — no persist(),
# so executor memory is untouched.
_T_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def _p(spark: SparkSession, sf_dir: str, name: str) -> Pipe:
    return Pipe(_t(spark, sf_dir, name))


def _exact_sum(col, scale: int = 4):
    """Order-insensitive money/quantity sum: the inputs are exact ≤`scale`-
    decimal rationals (price×discount is 2dp×2dp → 4dp), so each term×10^scale
    rounds to an exact bigint and the integer sum is associative — immune to
    the float-summation-order rounding flips that plague round(sum(x), 2)
    across engines (and across partition counts). Bounded by 2^53/10^scale
    total, fine for the oracle scales; production would use DECIMAL columns.
    The SQL mirror is ``_XS``."""
    m = 10 ** scale
    return F.sum(F.round(col * m).cast("bigint")) / F.lit(float(m))


def _XS(expr: str, scale: int = 4) -> str:
    """DuckDB mirror of :func:`_exact_sum`."""
    m = 10 ** scale
    return f"sum(CAST(round(({expr}) * {m}) AS BIGINT)) / {m}.0"


def _exact_sum_r(col, scale: int = 4, dp: int = 2, divisor: int = 1):
    """:func:`_exact_sum` followed by a HALF-UP (away-from-zero) round to
    ``dp`` decimals carried out in INTEGER arithmetic (optionally after an
    exact division by ``divisor``).

    ``round(S / 10**scale, dp)`` on the double is NOT engine-portable when
    the exact sum lands on a decimal half (e.g. a …x.865 revenue at dp=2):
    Spark's ``round()`` HALF_UPs the double's shortest DECIMAL string
    while DuckDB rounds the BINARY value sitting just below the half — the
    10x gate caught q7/q9 flipping one output cent this way (SCALING.md).
    Rounding the bigint sum directly makes the half case exact in both
    engines: with q = divisor·10^(scale-dp), result = div(2|S|+q, 2q),
    sign restored, over pure integers. The double division at the end maps
    one integer to one double — identical everywhere. SQL mirror: _XSR.
    """
    q = divisor * 10 ** (scale - dp)
    s = F.sum(F.round(col * (10 ** scale)).cast("bigint"))
    a = 2 * F.abs(s) + q
    # exact integer floor-div in doubles: a - pmod(a, 2q) is an exact
    # multiple of 2q and the quotient is < 2^53, so the division is exact
    k = (a - F.pmod(a, F.lit(2 * q))) / F.lit(float(2 * q))
    return (F.when(s < 0, -k).otherwise(k)) / F.lit(float(10 ** dp))


def _XSR(expr: str, scale: int = 4, dp: int = 2, divisor: int = 1) -> str:
    """DuckDB mirror of :func:`_exact_sum_r` (// is integer division and
    both operands are kept non-negative)."""
    m, q = 10 ** scale, divisor * 10 ** (scale - dp)
    s = f"sum(CAST(round(({expr}) * {m}) AS BIGINT))"
    return (f"(CASE WHEN {s} < 0 THEN -((2*(-({s})) + {q}) // {2 * q}) "
            f"ELSE ((2*({s}) + {q}) // {2 * q}) END) / {10 ** dp}.0")


def _fx_avg_round(avg_col, n_col, td: int = 6):
    """Integer-exact ``round(avg, td)`` for a fixed-point-backed average:
    the LM scores are ``T / (10^td · n)`` with T an exact bigint term sum,
    so T is recoverable from the double without error (T ≪ 2^53) and the
    round reduces to round_half_up(T/n)/10^td over pure integers — immune
    to the shortest-string-vs-binary round() divergence the 10x gate
    caught on q_unigram_lm (SCALING.md)."""
    t = F.round(avg_col * (10 ** td) * n_col).cast("bigint")
    a = 2 * t + n_col
    k = (a - F.pmod(a, 2 * n_col)) / (2 * n_col)
    return k / F.lit(float(10 ** td))


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the groupBy+multi-agg suite (SURVEY §2.3) end-to-end."""
    li = _p(spark, sf_dir, "lineitem")
    out = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .group_by("l_returnflag", "l_linestatus")
        .agg(_exact_sum_r(F.col("l_quantity")).alias("sum_qty"))
        .agg(_exact_sum_r(F.col("l_extendedprice")).alias("sum_base_price"))
        .agg(_exact_sum_r(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"))
        .average("l_quantity", "avg_qty")
        .average("l_discount", "avg_disc")
        .size("count_order")
        .done()
    )
    return out.map_to(
        F.col("l_returnflag"), F.col("l_linestatus"),
        sum_qty=F.col("sum_qty"),
        sum_base_price=F.col("sum_base_price"),
        sum_disc_price=F.col("sum_disc_price"),
        avg_qty=F.round("avg_qty", 6),
        avg_disc=F.round("avg_disc", 6),
        count_order=F.col("count_order"),
    ).df


# ---------------------------------------------------------------------------
# map-phase ops (SURVEY §2.2)
# ---------------------------------------------------------------------------

def q_project_filter_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _p(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") > 45)
        # unrounded: the per-row product is bit-identical across engines
        .map(revenue=F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .project("l_orderkey", "l_linenumber", "l_quantity", "revenue")
        .df
    )


def q_flatmap_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flatMap/flatten (RichPipe.scala:384-421) → explode; the WordCount slice."""
    docs = _p(spark, sf_dir, "documents")
    return (
        docs.flat_map(tx.tokenize(F.col("text")), out="word", keep=[])
        .group_by("word").size("n").done()
        .filter(F.col("n") >= 10)
        .df
    )


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _p(spark, sf_dir, "part")
    return (
        part.map(p_size_d=F.col("p_size").cast("double"),
                 p_retail_d=F.col("p_retailprice"))
        .project("p_partkey", "p_size_d", "p_retail_d")
        .unpivot(["p_partkey"], ["p_size_d", "p_retail_d"], "feature", "value")
        .df
    )


def q_pack_unpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack/unpack round-trip (RichPipe.scala:550-594) with a computed field."""
    c = _p(spark, sf_dir, "customer")
    return (
        c.project("c_custkey", "c_nationkey", "c_acctbal")
        .pack("packed", "c_nationkey", "c_acctbal")
        .map(packed=F.struct(
            F.col("packed.c_nationkey").alias("c_nationkey"),
            F.round(F.col("packed.c_acctbal") * 2, 2).alias("dbl_bal")))
        .unpack("packed")
        .df
    )


# ---------------------------------------------------------------------------
# set ops (SURVEY §2.7)
# ---------------------------------------------------------------------------

def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _p(spark, sf_dir, "customer").map_to(nationkey=F.col("c_nationkey"))
    s = _p(spark, sf_dir, "supplier").map_to(nationkey=F.col("s_nationkey"))
    return (c + s).distinct().df


def q_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _p(spark, sf_dir, "customer").map_to(k=F.col("c_custkey"))
    with_orders = _p(spark, sf_dir, "orders").map_to(k=F.col("o_custkey")).distinct()
    both = cust.intersect(with_orders).insert("tag", "both")
    only = cust.except_all(with_orders.df and with_orders).insert("tag", "no_orders")
    return (both + only).df


# ---------------------------------------------------------------------------
# grouping & aggregation (SURVEY §2.3)
# ---------------------------------------------------------------------------

def q_group_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _p(spark, sf_dir, "lineitem")
    out = (
        li.group_by("l_returnflag")
        .size("n_rows")
        .max("l_extendedprice", "max_price")
        .min("l_extendedprice", "min_price")
        .count_where(F.col("l_discount") > 0.05, "n_discounted")
        .forall(F.col("l_quantity") > 0, "all_positive")
        .unique_count("l_orderkey", "n_orders")
        .done()
    )
    return out.df


def q_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sizeAveStdev (ReduceOperations.scala:192-195). The DISPLAYED mean is
    re-derived from the exact 2-dp integer sum and rounded in integer space
    (div(2a+n, 2n)): round(avg(double), 4) flips engines when the true
    mean (a 2-dp sum over n rows) lands exactly on a 4-dp half — caught at
    the 10x gate (SCALING.md). size/stdev still come from the library op."""
    li = _p(spark, sf_dir, "lineitem")
    out = (li.group_by("l_suppkey").size_ave_stdev("l_extendedprice")
           .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
                .alias("__s1"))
           .done())
    a = 2 * F.col("__s1") * 100 + F.col("size")
    k = (a - F.pmod(a, 2 * F.col("size"))) / (2 * F.col("size"))
    return out.map_to(
        F.col("l_suppkey"), F.col("size"),
        mean=k / F.lit(10000.0), stdev=F.round("stdev", 4)).df


def q_mkstring(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _p(spark, sf_dir, "nation")
    return n.group_by("n_regionkey").mk_string("n_name", "|", "names").size("n_nations").done().df


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _p(spark, sf_dir, "lineitem")
    return (
        li.group_by("l_returnflag")
        .histogram("l_quantity", bin_width=5.0, bin_out="bin", count_out="n")
        .df
    )


def q_times_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """times (Ring product, ReduceOperations.scala:357-370): per-order
    product of (1 - discount), via the sorted reduce kernel so the multiply
    order (and thus the float result to the last ulp) matches the oracle —
    F.product's partial-aggregation order is nondeterministic in the last
    digit, which the value hash would catch at sf0.1."""
    li = _p(spark, sf_dir, "lineitem")
    out = (li.map(keep=1 - F.col("l_discount"))
           .group_by("l_orderkey")
           .reduce("keep", 1.0, lambda a, b: a * b, out="keep_product", sort=True)
           .done())
    return out.map_to(F.col("l_orderkey"), keep_product=F.round("keep_product", 6)).df


def q_head_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """head on the sorted group stream (ReduceOperations.scala:207-221):
    each supplier's first shipment."""
    li = _p(spark, sf_dir, "lineitem")
    return (li.group_by("l_suppkey")
            .sort_by("l_shipdate", "l_orderkey", "l_linenumber")
            .head()
            .project("l_suppkey", "l_orderkey", "l_linenumber")
            .df)


def q_toset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """toSet-style collect (ReduceOperations.scala:375-378 family): distinct
    order priorities per order status, joined to one string for stable
    compare."""
    o = _p(spark, sf_dir, "orders")
    out = o.group_by("o_orderstatus").to_set("o_orderpriority", "prios").done()
    return out.map_to(F.col("o_orderstatus"),
                      prios=F.array_join("prios", "|")).df


def q_histogram_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram derived stats (mathematics/Histogram.scala:3-47): bin-
    resolution min/max/mean/stdDev/quartiles/IQR per return flag."""
    li = _p(spark, sf_dir, "lineitem")
    out = li.group_by("l_returnflag").histogram_summary("l_quantity", bin_width=5.0)
    return out.map_to(
        F.col("l_returnflag"), F.col("hmin"), F.col("hmax"),
        F.col("q1"), F.col("median"), F.col("q3"), F.col("iqr"),
        mean=F.round("mean", 6), std_dev=F.round("std_dev", 6)).df


def q_maplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapList (ReduceOperations.scala:231-241): whole-group function over the
    sorted value list — here the mid-range (max+min)/2 of quantities."""
    li = _p(spark, sf_dir, "lineitem")
    out = (li.group_by("l_suppkey")
           .map_list("l_quantity",
                     lambda arr: (F.element_at(arr, -1) + F.element_at(arr, 1)) / 2,
                     out="mid_range")
           .done())
    return out.map_to(F.col("l_suppkey"), mid_range=F.round("mid_range", 2)).df


def q_block_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """blockJoinWithSmaller (JoinAlgorithms.scala:265-341): replicated-
    fragment join must produce exactly the plain join's aggregate."""
    o = _p(spark, sf_dir, "orders").map_to(custkey=F.col("o_custkey"),
                                           o_totalprice=F.col("o_totalprice"))
    c = _p(spark, sf_dir, "customer").map_to(custkey=F.col("c_custkey"),
                                             c_mktsegment=F.col("c_mktsegment"))
    j = joins.block_join(o, c, on=["custkey"], left_repl=2, right_repl=2)
    return (j.group_by("c_mktsegment").agg(_exact_sum(F.col("o_totalprice"), 2).alias("revenue")).size("n").done()
            .map_to(F.col("c_mktsegment"), F.col("n"), revenue=F.round("revenue", 2)).df)


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _p(spark, sf_dir, "lineitem")
    return (
        li.group_by("l_returnflag")
        .pivot("l_linestatus", "l_quantity", values=["F", "O"], agg=F.round(F.sum("l_quantity"), 2))
        .df
    )


def q_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalize (RichPipe.scala:528-538): revenue share per return flag."""
    li = _p(spark, sf_dir, "lineitem")
    return (
        li.group_by("l_returnflag").sum("l_extendedprice", "rev").done()
        .normalize("rev", "share")
        .map_to(F.col("l_returnflag"), share=F.round("share", 6))
        .df
    )


def q_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _p(spark, sf_dir, "lineitem")
    return (
        li.group_by("l_returnflag").dot("l_extendedprice", "l_discount", "dot").done()
        .map_to(F.col("l_returnflag"), dot=F.round("dot", 2)).df
    )


def q_groupall(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _p(spark, sf_dir, "lineitem")
    return (
        li.group_all().size("n").sum("l_quantity", "total_qty")
        .unique_count("l_partkey", "n_parts").done()
        .map_to(F.col("n"), F.col("n_parts"), total_qty=F.round("total_qty", 2)).df
    )


def q_fold_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapReduceMap kernel (GroupBuilder.scala:175-199): a sorted
    non-commutative fold acc*0.5+x over each supplier's quantities."""
    li = _p(spark, sf_dir, "lineitem")
    return (
        li.group_by("l_suppkey")
        .reduce("l_quantity", 0.0, lambda acc, x: acc * 0.5 + x, out="folded", sort=True)
        .done()
        # unrounded: both engines fold sequentially over the same sorted order
        .df
    )


# ---------------------------------------------------------------------------
# ordered group-stream ops (SURVEY §2.4)
# ---------------------------------------------------------------------------

def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded per-key top-k via sorted_take (ReduceOperations.scala:420-444):
    with only 3 return flags, a per-key window funnels the whole table into
    3 tasks; the agg form partial-aggregates per map partition instead
    (measured 1.02s → 0.65s at sf0.1). Price is negated inside the sort
    struct so ties break ascending on (orderkey, linenumber), matching the
    window form and the oracle. q_topk_window keeps the window form
    oracle-covered for the many-groups shape."""
    li = _p(spark, sf_dir, "lineitem")
    top = (li.group_by("l_returnflag")
           .sorted_take([(-F.col("l_extendedprice")).alias("np"),
                         F.col("l_orderkey"), F.col("l_linenumber")], 3)
           .done())
    return (top.df.select("l_returnflag", F.explode("top").alias("t"))
            .select("l_returnflag",
                    F.col("t.l_orderkey").alias("l_orderkey"),
                    F.col("t.l_linenumber").alias("l_linenumber"),
                    (-F.col("t.np")).alias("l_extendedprice")))


def q_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key window top-k (SortedGroup.take) — the right shape when group
    count ≈ cores or groups are too big to collect."""
    li = _p(spark, sf_dir, "lineitem")
    return (
        li.group_by("l_returnflag")
        .sort_by(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .take(3)
        .project("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
        .df
    )


def q_scan_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scanLeft (StreamOperations.scala:69-75): running order total per customer."""
    o = _p(spark, sf_dir, "orders")
    return (
        o.group_by("o_custkey")
        .sort_by("o_orderdate", "o_orderkey")
        .scan_left("o_totalprice", "running_total")
        .map_to(F.col("o_custkey"), F.col("o_orderkey"),
                running_total=F.round("running_total", 2))
        .df
    )


def q_scan_running_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scanLeft with a non-sum accumulator (StreamOperations.scala:69-75):
    running max order value per customer."""
    o = _p(spark, sf_dir, "orders")
    return (
        o.group_by("o_custkey")
        .sort_by("o_orderdate", "o_orderkey")
        .scan_left("o_totalprice", "running_max", agg=F.max)
        .map_to(F.col("o_custkey"), F.col("o_orderkey"),
                running_max=F.round("running_max", 2))
        .df
    )


def q_take_drop_while(spark: SparkSession, sf_dir: str) -> DataFrame:
    """takeWhile over each customer's order history: orders before the first
    one over 300k."""
    o = _p(spark, sf_dir, "orders")
    return (
        o.group_by("o_custkey")
        .sort_by("o_orderdate", "o_orderkey")
        .take_while(F.col("o_totalprice") < 300000)
        .project("o_custkey", "o_orderkey", "o_totalprice")
        .df
    )


def q_rank_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _p(spark, sf_dir, "orders")
    ranked = (
        o.group_by("o_custkey")
        .sort_by("o_orderdate", "o_orderkey")
        .row_number("order_seq")
    )
    return (
        ranked.group_by("o_custkey")
        .sort_by("o_orderdate", "o_orderkey")
        .lag("o_totalprice", 1, "prev_price")
        .filter(F.col("order_seq") <= 2)
        .map_to(F.col("o_custkey"), F.col("o_orderkey"), F.col("order_seq"),
                prev_price=F.round(F.coalesce("prev_price", F.lit(-1.0)), 2))
        .df
    )


# ---------------------------------------------------------------------------
# joins (SURVEY §2.5)
# ---------------------------------------------------------------------------

def q_join_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _p(spark, sf_dir, "customer")
    o = _p(spark, sf_dir, "orders")
    return (
        o.join_with_smaller(F.col("o_custkey") == F.col("c_custkey"), c)
        .group_by("c_mktsegment").agg(_exact_sum(F.col("o_totalprice"), 2)
                                      .alias("revenue")).size("n_orders").done()
        .map_to(F.col("c_mktsegment"), F.col("n_orders"), revenue=F.round("revenue", 2))
        .df
    )


def q_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """joinWithTiny (JoinAlgorithms.scala:221-236): two chained broadcasts."""
    n = _p(spark, sf_dir, "nation")
    r = _p(spark, sf_dir, "region")
    c = _p(spark, sf_dir, "customer")
    nr = n.join_with_tiny(F.col("n_regionkey") == F.col("r_regionkey"), r)
    return (
        c.join_with_tiny(F.col("c_nationkey") == F.col("n_nationkey"), nr)
        .group_by("r_name").size("n_customers").done()
        .df
    )


def q_left_join_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _p(spark, sf_dir, "customer")
    o = _p(spark, sf_dir, "orders")
    joined = c.join_with_smaller(F.col("c_custkey") == F.col("o_custkey"), o, how="left")
    return (
        joined.group_by("c_nationkey")
        .count_where(F.col("o_orderkey").isNull(), "n_without_orders")
        .unique_count("c_custkey", "n_customers")
        .done().df
    )


def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _p(spark, sf_dir, "customer").name("c")
    o = _p(spark, sf_dir, "orders").map_to(c_custkey=F.col("o_custkey"))
    with_o = joins.semi_join(c, o, on="c_custkey").insert("tag", "active")
    without_o = joins.anti_join(c, o, on="c_custkey").insert("tag", "inactive")
    return (with_o + without_o).project("c_custkey", "tag").df


def q_cross_tiny(spark: SparkSession, sf_dir: str) -> DataFrame:
    r1 = _p(spark, sf_dir, "region").map_to(r1=F.col("r_name"))
    r2 = _p(spark, sf_dir, "region").map_to(r2=F.col("r_name"))
    return r1.cross_with_tiny(r2).filter(F.col("r1") < F.col("r2")).df


def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join must equal the plain join (the reference's skew-join
    test strategy, SkewJoinTest.scala:100-140)."""
    o = _p(spark, sf_dir, "orders").map_to(custkey=F.col("o_custkey"),
                                           o_totalprice=F.col("o_totalprice"))
    c = _p(spark, sf_dir, "customer").map_to(custkey=F.col("c_custkey"),
                                             c_nationkey=F.col("c_nationkey"))
    j = joins.salted_skew_join(o, c, on=["custkey"], salt=8)
    return (
        j.group_by("c_nationkey").agg(_exact_sum(F.col("o_totalprice"), 2).alias("revenue")).size("n").done()
        .map_to(F.col("c_nationkey"), F.col("n"), revenue=F.round("revenue", 2)).df
    )


def q_sampled_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """skewJoinWithSmaller (JoinAlgorithms.scala:365-458): sample → per-key
    replication → fragment join; must equal the plain join."""
    li = _p(spark, sf_dir, "lineitem").map_to(partkey=F.col("l_partkey"),
                                              l_quantity=F.col("l_quantity"))
    p = _p(spark, sf_dir, "part").map_to(partkey=F.col("p_partkey"),
                                         p_size=F.col("p_size"))
    j = joins.skew_join(li, p, on=["partkey"], sample_rate=0.05,
                        rows_per_fragment=10_000)
    return (j.group_by("p_size").sum("l_quantity", "qty").size("n").done()
            .map_to(F.col("p_size"), F.col("n"), qty=F.round("qty", 2)).df)


def q_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True cogroup via applyInPandas (typed cogroup, TypedPipe.scala:476-482)."""
    import pandas as pd

    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"),
                                           "o_totalprice")

    def fn(key, left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        return pd.DataFrame([{
            "custkey": key[0],
            "n_cust": len(left),
            "n_orders": len(right),
            "total": round(float(right["o_totalprice"].sum()), 2) if len(right) else 0.0,
        }])

    return joins.cogroup(Pipe(c), Pipe(o), ["custkey"], fn,
                         "custkey long, n_cust long, n_orders long, total double").df


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + global top-k (orderBy+limit =
    TakeOrderedAndProject, SURVEY §2.6)."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    j = (li.join(o, li.l_orderkey == o.o_orderkey)
         .join(c, o.o_custkey == c.c_custkey))
    agg = (j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
           .agg(_exact_sum_r(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .alias("revenue")))
    return (agg.orderBy(F.col("revenue").desc(), F.col("l_orderkey")).limit(10)
            .select("l_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"),
                    "o_orderpriority", "revenue"))


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join chain (lineitem⋈orders⋈customer⋈supplier⋈
    nation⋈region) with dimension broadcasts — the optimizer showcase: one
    fact-table scan, dims broadcast, single shuffle for the final agg."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA"))
    j = (li.join(o, li.l_orderkey == o.o_orderkey)
         .join(c, o.o_custkey == c.c_custkey)
         .join(s, (li.l_suppkey == s.s_suppkey)
               & (c.c_nationkey == s.s_nationkey))
         .join(n, s.s_nationkey == n.n_nationkey)
         .join(r, n.n_regionkey == r.r_regionkey))
    return (j.groupBy("n_name")
            .agg(_exact_sum_r(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                 .alias("revenue")))


def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate → HAVING → semi-join back into the fact
    table → top-k. Exercises agg-filter pushback and reuse of the orderkey
    partitioning across the semi-join and final agg."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("qty"))
           .where(F.col("qty") > 150).select("l_orderkey"))
    j = (o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
         .join(c, o.o_custkey == c.c_custkey)
         .join(li, o.o_orderkey == li.l_orderkey))
    agg = (j.groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
           .agg(_exact_sum_r(F.col("l_quantity")).alias("total_qty")))
    return (agg.orderBy(F.col("o_totalprice").desc(), "o_orderkey").limit(20)
            .select("c_custkey", "o_orderkey",
                    F.col("o_orderdate").cast("date").alias("o_orderdate"),
                    F.round("o_totalprice", 2).alias("o_totalprice"), "total_qty"))


def q12_priority_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: IN-list filters + conditional CASE counting after a
    fact-fact join. Both predicates (flag IN-list, shipdate range) must push
    to the lineitem scan; the count split is one pass."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("A", "R")
        # DATE-typed window (not timestamp literals): with midnight-boundary
        # bounds the two forms are equivalent, and the date comparison is the
        # one the oracle mirrors exactly. Session TZ is pinned UTC in _t so
        # the timestamp->date cast is engine-stable.
        & (F.to_date("l_shipdate") >= F.lit("1995-01-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1996-01-01").cast("date")))
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count")))


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-line revenue per customer over a quarter,
    top-20. Fact filtered at the scan, nation broadcast, one agg shuffle on
    custkey, TakeOrderedAndProject for the top-k."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp")))
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    j = (li.join(o, li.l_orderkey == o.o_orderkey)
         .join(c, o.o_custkey == c.c_custkey)
         .join(n, c.c_nationkey == n.n_nationkey))
    agg = (j.groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
           .agg(_exact_sum_r(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .alias("revenue")))
    return (agg.orderBy(F.col("revenue").desc(), "c_custkey").limit(20)
            .select("c_custkey", "c_name", "n_name",
                    F.round("c_acctbal", 2).alias("c_acctbal"), "revenue"))


def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: global conditional-revenue ratio; part dim broadcast,
    single scalar output."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp")))
    # part scales with SF — no forced broadcast; AQE broadcasts while small
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(p, li.l_partkey == p.p_partkey)
            .agg(F.round(
                F.lit(100.0)
                * _exact_sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / _exact_sum(rev), 4).alias("promo_revenue_pct")))


def q4_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join — the orders
    scan keeps its date filter pushed down and shuffles once."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp")))
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 49) \
        .select("l_orderkey")
    return (o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count")))


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value filtered against a GLOBAL scalar
    threshold. The scalar is a broadcast cross-join (never a
    Window.partitionBy() over everything, which funnels all rows through one
    task); both sums use the exact-integer kernel so the threshold compare
    is engine-portable."""
    li = _t(spark, sf_dir, "lineitem")
    val = F.col("l_extendedprice") * F.col("l_quantity")
    per_part = li.groupBy("l_partkey").agg(_exact_sum(val).alias("part_value"))
    # adaptive threshold (TPC-H scales the Q11 fraction by SF for the same
    # reason): 1.2× the mean per-part share, SF-independent
    total = li.agg((_exact_sum(val) * 1.2
                    / F.countDistinct("l_partkey")).alias("threshold"))
    return (per_part.crossJoin(F.broadcast(total))
            .where(F.col("part_value") > F.col("threshold"))
            .select("l_partkey", F.round("part_value", 2).alias("part_value")))


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold (broadcast) + NOT EXISTS
    (anti join): rich customers with no high-value order, per segment."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > 300000).select("o_custkey")
    pos = c.where(F.col("c_acctbal") > 0.0)
    avg_bal = pos.agg((_exact_sum(F.col("c_acctbal"), 2)
                       / F.count(F.lit(1))).alias("avg_bal"))
    rich = (c.crossJoin(F.broadcast(avg_bal))
            .where(F.col("c_acctbal") > F.col("avg_bal")))
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (idle.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_cust"),
                 F.round(_exact_sum(F.col("c_acctbal"), 2), 2).alias("total_bal")))


def q_median_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (Histogram.scala:3-47 median/q1/q3
    without binning error): sort-based agg, interpolation bit-identical to
    DuckDB quantile_cont so the raw doubles hash-match unrounded."""
    li = _p(spark, sf_dir, "lineitem")
    return (li.group_by("l_returnflag")
            .percentile_exact("l_quantity", 0.5, "med_qty")
            .percentile_exact("l_extendedprice", 0.25, "price_q1")
            .percentile_exact("l_extendedprice", 0.75, "price_q3")
            .done().df)


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-side revenue forecast — every predicate
    (date range, discount band, quantity cap) pushes to the parquet scan;
    zero joins, one partial+final agg."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
    return li.agg(_exact_sum_r(F.col("l_extendedprice") * F.col("l_discount"))
                  .alias("revenue"))


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by ship year.
    nation (25 rows) broadcasts twice under different aliases; the pair
    filter applies after both dimension joins; one agg shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = F.broadcast(_t(spark, sf_dir, "nation")
                     .select(F.col("n_nationkey").alias("s_nk"),
                             F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(_t(spark, sf_dir, "nation")
                     .select(F.col("n_nationkey").alias("c_nk"),
                             F.col("n_name").alias("cust_nation")))
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(s, li.l_suppkey == s.s_suppkey)
            .join(n1, F.col("s_nationkey") == F.col("s_nk"))
            .join(n2, F.col("c_nationkey") == F.col("c_nk"))
            .where(pair)
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").alias("l_year"))
            .agg(_exact_sum_r(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                 .alias("revenue")))


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of ASIA's PROMO-part order volume
    per year — conditional-sum ratio over a 6-way star join, dims broadcast,
    fact filters pushed to the scans."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO") \
        .select("p_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = F.broadcast(_t(spark, sf_dir, "nation")
                     .select(F.col("n_nationkey").alias("c_nk"),
                             F.col("n_regionkey")))
    r = F.broadcast(_t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
                    .select("r_regionkey"))
    n2 = F.broadcast(_t(spark, sf_dir, "nation")
                     .select(F.col("n_nationkey").alias("s_nk"),
                             F.col("n_name").alias("supp_nation")))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(p, li.l_partkey == p.p_partkey)
            .join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(n1, F.col("c_nationkey") == F.col("c_nk"))
            .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
            .join(s, li.l_suppkey == s.s_suppkey)
            .join(n2, F.col("s_nationkey") == F.col("s_nk"))
            .groupBy(F.year("o_orderdate").alias("o_year"))
            .agg(F.round(
                _exact_sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(0.0))
                / _exact_sum(vol), 6).alias("mkt_share")))


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and year for a part-name
    family. The schema has no partsupp/supplycost, so cost is modeled as
    half the part's retail price per unit — same join/agg topology
    (part name LIKE filter, 4-way join, two-level group)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%widget%")) \
        .select("p_partkey", "p_retailprice")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = F.broadcast(_t(spark, sf_dir, "nation")
                    .select("n_nationkey", F.col("n_name").alias("nation")))
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity"))
    return (li.join(p, li.l_partkey == p.p_partkey)
            .join(o, li.l_orderkey == o.o_orderkey)
            .join(s, li.l_suppkey == s.s_suppkey)
            .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
            .groupBy("nation", F.year("o_orderdate").alias("o_year"))
            .agg(_exact_sum_r(amount, 6, 2).alias("sum_profit")))


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: order-count histogram over customers — LEFT join
    with an extra non-key predicate (kept inside the join so zero-order
    customers survive), two cascaded aggregations."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT").select("o_orderkey", "o_custkey")
    per_cust = (c.join(o, c.c_custkey == o.o_custkey, "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue view per supplier over a quarter, then the
    argmax via a broadcast global-max scalar (never a global window). The
    exact-integer revenue makes the equality compare engine-portable."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev = (li.groupBy(F.col("l_suppkey").alias("supplier_no"))
           .agg(_exact_sum(vol).alias("total_revenue"),
                # display column rounded in integer space (engine-portable
                # at exact decimal halves, _exact_sum_r) — the unrounded
                # exact value still drives the max-equality compare
                _exact_sum_r(vol).alias("__rev_r")))
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    s = _t(spark, sf_dir, "supplier")
    return (rev.crossJoin(F.broadcast(top))
            .where(F.col("total_revenue") == F.col("max_revenue"))
            .join(s, F.col("supplier_no") == s.s_suppkey)
            .select("s_suppkey", "s_name",
                    F.col("__rev_r").alias("total_revenue")))


def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute class,
    excluding a brand/type and a supplier blocklist (NOT IN → broadcast
    anti-join). lineitem's distinct (part, supp) pairs stand in for
    partsupp; negative-balance suppliers stand in for the complaint list."""
    ps = _t(spark, sf_dir, "lineitem") \
        .select("l_partkey", "l_suppkey").distinct()
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0.0) \
        .select("s_suppkey")
    return (ps.join(bad, ps.l_suppkey == bad.s_suppkey, "left_anti")
            .join(p, ps.l_partkey == p.p_partkey)
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average decorrelated into an
    aggregate + equi-join back onto the fact. Quantities are integral
    doubles, so avg = exact-int-sum / count is bit-identical across engines
    and the 0.2× threshold compare is portable."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "SMALL")) \
        .select("p_partkey")
    narrow = li.join(p, li.l_partkey == p.p_partkey) \
        .select("l_partkey", "l_quantity", "l_extendedprice")
    thresh = (narrow.groupBy(F.col("l_partkey").alias("t_partkey"))
              .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")))
    return (narrow.join(thresh, narrow.l_partkey == thresh.t_partkey)
            .where(F.col("l_quantity") < F.col("qty_threshold"))
            .agg(_exact_sum_r(F.col("l_extendedprice"), divisor=7)
                 .alias("avg_yearly")))


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate groups across the join — each
    disjunct ties a brand to a size band and a quantity band. Catalyst
    extracts the common part-side conjuncts for scan pushdown; the residual
    disjunction evaluates post-join in codegen."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(p, li.l_partkey == p.p_partkey)
    disj = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30)))
    return j.where(disj).agg(
        _exact_sum_r(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .alias("revenue"))


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part minimum-cost supplier via a correlated-min
    decorrelated to groupBy-min + equality join back. Unit price
    (extendedprice/quantity, same doubles both engines) stands in for
    ps_supplycost; top-100 by supplier balance."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")) \
        .select("p_partkey", "p_name")
    s = _t(spark, sf_dir, "supplier")
    unit = F.round(F.col("l_extendedprice") / F.col("l_quantity"), 2)
    offers = (li.join(p, li.l_partkey == p.p_partkey)
              .select("p_partkey", "p_name", "l_suppkey",
                      unit.alias("unit_price")))
    best = (offers.groupBy(F.col("p_partkey").alias("b_partkey"))
            .agg(F.min("unit_price").alias("min_price")))
    return (offers.join(best, (offers.p_partkey == best.b_partkey)
                        & (offers.unit_price == best.min_price))
            .join(s, offers.l_suppkey == s.s_suppkey)
            .select("p_partkey", "p_name", "s_name",
                    F.round("s_acctbal", 2).alias("s_acctbal"),
                    F.col("unit_price"))
            .distinct()
            .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_name")
            .limit(100))


def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join chain — suppliers in one nation
    who moved >30 units of any 'small %' part during 1996. partsupp's
    availqty is modeled by shipped volume per (supp, part); the join
    topology (part filter → grouped fact HAVING → semi-join supplier)
    matches the original."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("small%")) \
        .select("p_partkey")
    heavy = (li.join(p, li.l_partkey == p.p_partkey)
             .groupBy("l_suppkey", "l_partkey")
             .agg(_exact_sum(F.col("l_quantity")).alias("qty"))
             .where(F.col("qty") > 30)
             .select("l_suppkey").distinct())
    s = _t(spark, sf_dir, "supplier")
    n = F.broadcast(_t(spark, sf_dir, "nation")
                    .where(F.col("n_name") == "NATION_3").select("n_nationkey"))
    return (s.join(n, s.s_nationkey == F.col("n_nationkey"))
            .join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
            .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal")))


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the EXISTS + NOT EXISTS double-correlation on the
    fact table. 'Late' = shipped >90 days after the order date (the schema
    has no commit/receipt dates); a supplier 'kept the order waiting' when
    its line is late on a finished multi-supplier order where no OTHER
    supplier was late — semi-join then anti-join on (order, other-supp)."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F") \
        .select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late = (li.join(o, li.l_orderkey == o.o_orderkey)
            .where(F.col("l_shipdate")
                   > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
            .select("l_orderkey", "l_suppkey"))
    # distinct (order, supp) pairs: the any-other-supplier and
    # any-other-late-supplier probes
    all_pairs = li.select(F.col("l_orderkey").alias("a_ok"),
                          F.col("l_suppkey").alias("a_sk")).distinct()
    late_pairs = late.select(F.col("l_orderkey").alias("b_ok"),
                             F.col("l_suppkey").alias("b_sk")).distinct()
    l1 = (late.join(all_pairs, (late.l_orderkey == all_pairs.a_ok)
                    & (late.l_suppkey != all_pairs.a_sk), "left_semi")
          .join(late_pairs, (late.l_orderkey == late_pairs.b_ok)
                & (late.l_suppkey != late_pairs.b_sk), "left_anti"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (l1.join(s, l1.l_suppkey == s.s_suppkey)
            .groupBy("s_name").agg(F.count(F.lit(1)).alias("numwait"))
            .orderBy(F.col("numwait").desc(), "s_name").limit(20))


# ---------------------------------------------------------------------------
# matrix library (SURVEY §2.9)
# ---------------------------------------------------------------------------

def _supplier_part_matrix(spark: SparkSession, sf_dir: str) -> Matrix:
    li = _t(spark, sf_dir, "lineitem")
    coo = (li.groupBy(F.col("l_suppkey").alias("row"), F.col("l_partkey").alias("col"))
           .agg(F.sum("l_quantity").alias("val")))
    # NoClue hint: the COO grows with sf (~590k entries at sf0.1) — let the
    # shuffle join + AQE plan it (a wrong "tiny" hint forced a broadcast that
    # measured 35% slower at sf0.1).
    return Matrix(coo, hint=SizeHint())


def q_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A·Aᵀ gram matrix of the supplier×part quantity matrix — matmul via
    join on the inner dim + groupBy sum (MatrixProduct.scala:340-377);
    gram() materializes the COO once for both operands."""
    a = _supplier_part_matrix(spark, sf_dir)
    g = a.gram()
    return g.df.select("row", "col", F.round("val", 2).alias("val"))


def q_matrix_rownorm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _supplier_part_matrix(spark, sf_dir)
    out = a.row_l1_normalize().top_row_elems(2)
    return out.df.select("row", "col", F.round("val", 6).alias("val"))


def q_matrix_elementwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(A + A) - hadamard(A, binarize(A)) == A — algebra identity output."""
    a = _supplier_part_matrix(spark, sf_dir)
    out = (a + a).h_prod(a.binarize())
    sub = out - a
    return sub.df.select("row", "col", F.round("val", 2).alias("val"))


def q_matrix_reductions(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _supplier_part_matrix(spark, sf_dir)
    rows = a.sum_row_vectors().select(F.col("row").alias("id"),
                                      F.lit("row").alias("axis"),
                                      F.round("val", 2).alias("total"))
    return rows


def q_matrix_col_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-axis L2 normalization + per-column top-k (Matrix.scala:407-430)."""
    a = _supplier_part_matrix(spark, sf_dir)
    out = a.col_l2_normalize().top_col_elems(2)
    return out.df.select("row", "col", F.round("val", 6).alias("val"))


def q_matrix_filter_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keepRowsBy + removeColsBy + removeElementsBy (Matrix.scala:632-693)."""
    a = _supplier_part_matrix(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier").where(F.col("s_nationkey") < 10).select("s_suppkey")
    p = _t(spark, sf_dir, "part").where(F.col("p_size") > 40).select("p_partkey")
    out = (a.keep_rows_by(s).remove_cols_by(p)
           .remove_elements_by(a.diagonal()))
    return out.df.select("row", "col", F.round("val", 2).alias("val"))


def q_matrix_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zip with monoid-zero fill (Matrix.scala:580-627): pair every entry of
    A with A's per-row top-1 entry mask."""
    a = _supplier_part_matrix(spark, sf_dir)
    z = a.zip_matrix(a.top_row_elems(1))
    return z.select("row", "col",
                    F.round("val_left", 2).alias("val_left"),
                    F.round("val_right", 2).alias("val_right"))


def q_matrix_map_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-row transform (Matrix.scala:277-293): divide each row by its max."""
    a = _supplier_part_matrix(spark, sf_dir)

    def row_max_normalize(entries):
        mx = F.array_max(F.transform(entries, lambda e: e["val"]))
        return F.transform(
            entries,
            lambda e: F.struct(e["col"].alias("col"), (e["val"] / mx).alias("val")))

    out = a.map_rows(row_max_normalize)
    return out.df.select("row", "col", F.round("val", 6).alias("val"))


def q_vector_matrix_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RowVector × Matrix (MatrixProduct.scala:287-340): supplier account
    balances as weights over the supplier×part matrix → per-part weighted sum."""
    from scalding_spark.matrix import RowVector
    a = _supplier_part_matrix(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("col"), F.col("s_acctbal").alias("val"))
    rv = RowVector(s)
    out = rv.times_matrix(a)
    return out.df.select("col", F.round("val", 2).alias("val"))


def q_diag_inverse_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DiagonalMatrix.inverse + trace (Matrix.scala:734-755) of the gram
    matrix's diagonal."""
    a = _supplier_part_matrix(spark, sf_dir)
    g = a.matmul(a.transpose())
    inv = g.diagonal_inverse()
    return inv.trace().select(F.round("trace", 10).alias("trace"))


def q_matrix_scalar_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipe-derived scalar matrix ops (MatrixProduct.scala:145-165,
    Matrix.scala:441-447; ScalarOps golden MatrixTest.scala:127-138):
    ``(A * nnz(A)) / A.sum`` where BOTH scalars are computed 1-row frames,
    never collected — the ``A / A.sum`` normalization journey VERDICT r06
    flagged as the first thing a real user hits. The scalars ride
    broadcast cross joins (the reference's crossWithTiny), so the COO
    side stays map-only; the three aggregations over the shared COO
    subtree collapse into one Exchange via ReuseExchange. Scalars are
    exact (integer-valued quantities), so the double division is
    bit-identical across engines."""
    a = _supplier_part_matrix(spark, sf_dir)
    nnz = a.binarize().total_sum()    # count of stored entries, exact
    total = a.total_sum()             # grand total, exact integer-valued
    out = (a * nnz) / total
    return out.df.select("row", "col", F.round("val", 6).alias("val"))


def q_combinations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nCk table generation (Combinatorics.scala:92-116): 10 choose 3."""
    from scalding_spark import combinatorics
    return combinatorics.combinations(spark, list(range(1, 11)), 3)


def q_subset_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """subsetSum (Combinatorics.scala:202-227): subsets of [3,5,7,11,13]
    summing to 18 ± 0.5."""
    from scalding_spark import combinatorics
    return combinatorics.subset_sum(spark, [3, 5, 7, 11, 13], 18, 0.5) \
        .select(*[F.col(f"x{i}").cast("int").alias(f"x{i}") for i in range(1, 6)])


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank (examples/PageRank.scala) on the customer→supplier
    purchase graph. Oracle: 5 iterations unrolled as chained CTEs."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    edges = (li.join(o, li.l_orderkey == o.o_orderkey)
             .select(F.col("o_custkey").alias("src"),
                     (F.col("l_suppkey") + F.lit(1_000_000)).alias("dst"))
             .distinct())
    ranks = pagerank(edges, iterations=5)
    return ranks.select("node", F.round("rank", 8).alias("rank"))


# ---------------------------------------------------------------------------
# dedup / text / similarity extensions (north-star ops)
# ---------------------------------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    kept = dedup.exact_dedup(docs, "text", "doc_id")
    return kept.select("doc_id", "source")


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # max_doc_freq=1000 (the scale default): the correctness SF has 500 docs,
    # so no shingle can exceed the cap and results are byte-identical to the
    # unpruned oracle; at real scale the same call prunes stop shingles.
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3,
                                      threshold=0.05, max_doc_freq=1000)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded-hash MinHash banding — rows-only check (xxhash64 not in DuckDB)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, "text", "doc_id",
                                   num_hashes=32, bands=16, threshold=0.3) \
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair list → connected components → per-doc cluster id.
    The full corpus only left-joins the (small) component labels; oracle is
    a recursive-CTE transitive closure over the same edge list."""
    docs = _t(spark, sf_dir, "documents")
    # Stop-shingle cap wired through (no-op at 500-doc oracle scale, see
    # q_ngram_jaccard_pairs) so the cluster pipeline inherits the bounded
    # candidate generation at 100 TB.
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3,
                                      threshold=0.05, max_doc_freq=1000)
    return dedup.dedup_clusters(docs, pairs, "doc_id") \
        .select("doc_id", "cluster_id")


def q_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (large-star/small-star) on a deliberately
    chain-shaped graph (50-long doc-id chains, diameter ≈ 50): O(log d)
    rounds where min-label propagation would need 50. Oracle:
    recursive-CTE transitive closure over the same edges."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = (docs.where(F.col("doc_id") % 50 != 49)
             .select(F.col("doc_id").alias("src"),
                     (F.col("doc_id") + 1).alias("dst")))
    return dedup.connected_components(edges).select("node", "comp")


def q_global_rank_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-less sorted-stream ops (group_all().sort_by()): global row_number
    + global running sum over customers by (acctbal, custkey). Runs on the
    range-partitioned parallel path — the plan has NO single-partition data
    shuffle (asserted in tests/test_keyless_sorted.py)."""
    cust = _t(spark, sf_dir, "customer")
    p = Pipe(cust.select("c_custkey", "c_acctbal"))
    return (p.group_all().sort_by("c_acctbal", "c_custkey")
            .row_number("rn")
            .group_all().sort_by("c_acctbal", "c_custkey")
            .scan_left("c_acctbal", "running_bal")
            .df.select("c_custkey", "rn",
                       F.round("running_bal", 2).alias("running_bal")))


def q_rank_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-free global rank over a LOW-cardinality key (5 market segments
    across all customers): ranks the distinct-value counts table, never
    co-locating a tie class — the 1e10-rows-per-tier shape where a global
    window or tie-co-located range partitioning would concentrate."""
    cust = _t(spark, sf_dir, "customer")
    p = Pipe(cust.select("c_custkey", "c_mktsegment"))
    comp = (p.rank_by_value("c_mktsegment").df
            .select("c_custkey", "c_mktsegment",
                    F.col("rank").cast("bigint").alias("rank"),
                    F.lit("rank").alias("kind")))
    dense = (p.rank_by_value("c_mktsegment", dense=True).df
             .select("c_custkey", "c_mktsegment",
                     F.col("rank").cast("bigint").alias("rank"),
                     F.lit("dense").alias("kind")))
    return comp.unionByName(dense)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing an 8-gram with the
    'benchmark' slice (doc_id % 97 == 0) are dropped. Benchmark shingles
    broadcast; the corpus text never shuffles."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return (dedup.decontaminate(docs, bench, "text", "doc_id", n=8)
            .select("doc_id", "source"))


def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard packing: contiguous ~50k-char shards under doc_id
    order via the key-less parallel running sum."""
    from scalding_spark.functions import sampling
    docs = _t(spark, sf_dir, "documents")
    sized = docs.select("doc_id", F.length("text").cast("bigint").alias("w"))
    return (sampling.pack_into_shards(sized, "w", 50_000, ["doc_id"])
            .select("doc_id", "w", "shard"))


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (domain mixing): keep ≤ 15 docs per source,
    deterministically by doc_id."""
    from scalding_spark.functions import sampling
    docs = _t(spark, sf_dir, "documents")
    return (sampling.cap_per_key(docs, "source", 15, order_cols=["doc_id"])
            .select("doc_id", "source"))


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-keyed reproducible 10% sample — membership is a dataset
    contract (md5 ranges), identical in any engine, any partitioning."""
    from scalding_spark.functions import sampling
    docs = _t(spark, sf_dir, "documents")
    return sampling.deterministic_sample(docs, "doc_id", 0.10, salt="s1") \
        .select("doc_id", "source")


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: disjoint md5-range membership,
    audited by per-split doc counts and byte totals."""
    from scalding_spark.functions import sampling
    docs = _t(spark, sf_dir, "documents")
    out = sampling.train_val_test_split(docs, "doc_id")
    return (out.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.length("text")).alias("total_chars")))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source deterministic downsampling (sampleBy shape): even sources
    kept at 100%, odd downsampled to 20% — audited by per-source counts."""
    from scalding_spark.functions import sampling
    docs = _t(spark, sf_dir, "documents")
    fractions = {f"src{i}": (1.0 if i % 2 == 0 else 0.2) for i in range(20)}
    out = sampling.stratified_sample(docs, "doc_id", "source", fractions)
    return out.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-band near-dups — rows-only check. max_hamming=3 is
    the classic cutoff: 4 chunks × 16-bit band keys; larger budgets shrink
    the band width and the candidate prune collapses (16 → 3-bit keys and a
    near-all-pairs join)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(docs, "text", "doc_id", max_hamming=3)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        tx.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        tx.quality_score(F.col("text")).alias("quality"),
        tx.punct_ratio(F.col("text")).alias("punct"))
    return (per_doc.groupBy("source")
            .agg(F.sum("n_tokens").alias("total_tokens"),
                 F.round(F.avg("quality"), 6).alias("avg_quality"),
                 F.round(F.avg("punct"), 6).alias("avg_punct")))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (docs.select(tx.lang_id(F.col("text")).alias("lang"))
            .groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit content fingerprints: distinct count must equal distinct
    normalized text count (collision-free at this scale)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.countDistinct(tx.fingerprint64(F.col("text"))).alias("n_unique"),
        F.count(F.lit(1)).alias("n_docs"))


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents with deterministic injected PII (the synthetic
    corpus has none): append an email, an IPv4 and a phone per doc, then run
    the redaction cascade and roll up match counts + redacted length per
    source. Oracle repeats the same injection + RE2-portable cascade in SQL."""
    docs = _t(spark, sf_dir, "documents")
    injected = docs.withColumn(
        "text",
        F.concat(F.col("text"),
                 F.lit(" contact user"), F.col("doc_id"),
                 F.lit("@mail.example.com at 10.0."),
                 F.col("doc_id") % 256, F.lit(".7 or +1 (555) 010-"),
                 F.lit(1000) + F.col("doc_id") % 9000))
    c = tx.pii_counts(F.col("text"))
    per = injected.select("source", c.alias("c"),
                          F.length(tx.pii_redact(F.col("text"))).alias("red_len"))
    return (per.groupBy("source")
            .agg(F.sum(F.col("c.emails")).alias("n_emails"),
                 F.sum(F.col("c.ips")).alias("n_ips"),
                 F.sum(F.col("c.phones")).alias("n_phones"),
                 F.sum("red_len").alias("total_redacted_len")))


def q_top_word_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: most-frequent-token fraction per doc,
    top-20 most repetitive (deterministic doc_id tie-break)."""
    docs = _t(spark, sf_dir, "documents")
    per = tx.top_word_fraction(docs, "text", "doc_id")
    # exact-int scaled division (`div` = integer division, like DuckDB `//`):
    # the int64 quotient and the final /1e6 are bit-identical on any engine,
    # so neither float rounding nor the ORDER-BY cut can drift cross-engine.
    fs = F.expr("(top_cnt * 1000000L + n_toks div 2) div n_toks")
    return (per.withColumn("fs", fs)
            .orderBy(F.col("fs").desc(), "doc_id").limit(20)
            .select("doc_id", "top_cnt", "n_toks",
                    (F.col("fs") / F.lit(1000000.0)).alias("top_word_frac")))


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI CUBE in one Expand pass (Pipe.cube_by): all four grouping
    levels of (returnflag, linestatus) with exact-integer quantity sums —
    the engine upgrade over the reference's N-chained-groupBys shape."""
    li = _p(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity") * 10000).cast("bigint")
    out = (li.cube_by("l_returnflag", "l_linestatus")
           .agg(F.sum(qty).alias("__s"),
                F.count(F.lit(1)).alias("n_rows"))
           .done().to_df())
    return out.select("l_returnflag", "l_linestatus", "n_rows",
                      (F.col("__s") / F.lit(10000.0)).alias("sum_qty"))


def q_ntile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-less NTILE + PERCENT_RANK via the parallel range-partition
    pattern (no 1-task window): 7 order-key buckets with per-bucket counts
    and rank extremes — unique sort key, so every output is deterministic."""
    o = _p(spark, sf_dir, "orders")
    t = o.group_all().sort_by("o_orderkey").ntile(7, out="bucket").to_df()
    pr = (o.group_all().sort_by("o_orderkey")
          .percent_rank(out="pr").to_df().select("o_orderkey", "pr"))
    return (t.join(pr, "o_orderkey")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("o_orderkey").alias("min_key"),
                 F.max("o_orderkey").alias("max_key"),
                 F.round(F.min("pr"), 9).alias("min_pr"),
                 F.round(F.max("pr"), 9).alias("max_pr")))


def q_cut_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-cut pass (dedup.cut_spans over shared_ngram_spans): per victim
    doc, tokens removed and tokens surviving — exact integers; overlapping
    spans counted once (the oracle counts DISTINCT covered positions)."""
    docs = _t(spark, sf_dir, "documents")
    spans = dedup.shared_ngram_spans(docs, "text", "doc_id", n=4, min_len=8)
    out = dedup.cut_spans(docs, spans, "text", "doc_id")
    return (out.where(F.col("n_cut_tokens") > 0)
            .select("doc_id", "n_cut_tokens",
                    tx.token_count(F.col("text")).cast("bigint")
                    .alias("n_kept_tokens"))
            .orderBy("doc_id"))


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative selection (dedup.select_representatives):
    same pair graph as q_dedup_clusters, but each cluster keeps its LONGEST
    doc (n_chars desc, doc_id tie-break) instead of the min id — the
    production keep-the-best-duplicate rule. Integer-only ordering."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id",
                                      n=3, threshold=0.05)
    kept = dedup.select_representatives(
        docs, pairs.select("id_a", "id_b"), "doc_id",
        order_by=[F.col("n_chars").desc()])
    return kept.select("doc_id", "source", "n_chars")


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (tx.collocations): top-50 frequent adjacent
    pairs with their PMI. Ordering/cut on exact integers (pair_cnt desc,
    then the pair); the PMI double comes from ONE pinned-operand-order
    expression, rounded at 6 on both engines."""
    docs = _t(spark, sf_dir, "documents")
    out = tx.collocations(docs, "text", min_count=5)
    return (out.orderBy(F.col("pair_cnt").desc(), "w1", "w2").limit(50)
            .select("w1", "w2", "pair_cnt", F.round("pmi", 6).alias("pmi")))


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus health report (tx.corpus_stats): all-integer outputs.
    The oracle counts distinct NORMALIZED TEXTS where Spark counts distinct
    64-bit fingerprints — identical absent an xxhash64 collision (the same
    contract q_substring_spans pins)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.corpus_stats(docs, "text", "doc_id")


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embeddings table
    (similarity.semantic_dedup): cluster-bounded within-cell cosine drop.
    Rows-only by design (iterative float k-means centroids are not
    SQL-expressible — same contract as q_kmeans); the exact-rule parity is
    pinned by test_similarity's k=1 ≡ exact-pair-list test."""
    emb = _t(spark, sf_dir, "embeddings")
    kept = similarity.semantic_dedup(emb, threshold=0.99, k=8)
    return (kept.groupBy("label").agg(F.count(F.lit(1)).alias("n_kept"))
            .orderBy("label"))


def q_semantic_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the r06 auto-k lever (VERDICT r05 #4):
    ``semantic_dedup(k=None)`` derives k = ceil(n_vectors /
    target_cell_size), so the within-cell quadratic stays n·target as the
    corpus grows instead of the pinned-k n²/k law. target_cell_size=150
    exercises a multi-cell derivation at every gate scale (sf0.01: 500
    vecs → k=4; sf1: 20k → k=134). Value-verified by the vectorized
    py-golden (same derivation mirrored)."""
    emb = _t(spark, sf_dir, "embeddings")
    kept = similarity.semantic_dedup(emb, threshold=0.99,
                                     target_cell_size=150)
    return (kept.groupBy("label").agg(F.count(F.lit(1)).alias("n_kept"))
            .orderBy("label"))


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 retrieval (retrieval.bm25_rank) for a fixed 4-term
    query, fixed-point term accumulation so the score sum and the top-k cut
    are engine-stable. The oracle mirrors the exact expression shapes
    (operand order preserved) in SQL."""
    docs = _t(spark, sf_dir, "documents")
    return retrieval.bm25_rank(docs, ["hash", "join", "spark", "window"],
                               k=10, term_decimals=6)


def q_top_bigram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style n-gram repetition: most-frequent-BIGRAM fraction per doc
    (tx.top_ngram_fraction, n=2), top-20 most repetitive. Same exact-int
    scaled-division contract as q_top_word_fraction so the ORDER-BY cut and
    the emitted double are engine-stable."""
    docs = _t(spark, sf_dir, "documents")
    per = tx.top_ngram_fraction(docs, "text", "doc_id", n=2)
    fs = F.expr("(top_cnt * 1000000L + n_grams div 2) div n_grams")
    return (per.withColumn("fs", fs)
            .orderBy(F.col("fs").desc(), "doc_id").limit(20)
            .select("doc_id", "top_cnt", "n_grams",
                    (F.col("fs") / F.lit(1000000.0)).alias("top_bigram_frac")))


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality gate rollup (tx.gopher_pass): per-language doc
    counts, pass counts, and the integer signal sums behind the gate. Every
    output is an exact integer — the rules themselves are integer
    cross-multiplications — so nothing can drift cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    s = tx.gopher_signals(F.col("text"))
    per = docs.select(
        "lang",
        tx.gopher_pass(F.col("text")).cast("int").alias("ok"),
        s["n_toks"].alias("n_toks"), s["total_chars"].alias("chars"),
        s["n_numeric"].alias("n_num"), s["n_stop"].alias("n_stop"))
    return (per.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("ok").alias("n_pass"),
                 F.sum("n_toks").alias("sum_toks"),
                 F.sum("chars").alias("sum_chars"),
                 F.sum("n_num").alias("sum_numeric"),
                 F.sum("n_stop").alias("sum_stop")))


def q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup (Lee-et-al-style shared-passage detection):
    maximal token runs ≥8 appearing verbatim in two documents, via hashed
    positional 4-grams + anti-diagonal islands (dedup.shared_ngram_spans).
    The Spark side joins on 8-byte gram hashes; the oracle joins on the
    gram strings — identical results absent a 64-bit collision chain."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup.shared_ngram_spans(docs, "text", "doc_id", n=4, min_len=8)
    return out.select(
        "id_a", "id_b",
        F.col("start_a").cast("bigint").alias("start_a"),
        F.col("start_b").cast("bigint").alias("start_b"),
        F.col("span_tokens").cast("bigint").alias("span_tokens"))


def q_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring: mean neg-log-prob per doc under the
    corpus's own add-k unigram LM (lm.unigram_lm_score), fixed-point term
    accumulation for engine-stable hashing; 20 most 'surprising' docs."""
    docs = _t(spark, sf_dir, "documents")
    out = lm.unigram_lm_score(docs, "text", "doc_id", add_k=0.5,
                              term_decimals=6)
    return (out.orderBy(F.col("avg_neg_logp").desc(), "doc_id").limit(20)
            .select("doc_id", "n_toks",
                    _fx_avg_round(F.col("avg_neg_logp"), F.col("n_toks"))
                    .alias("avg_neg_logp")))


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram LM scoring (lm.bigram_lm_score) — the sharper
    gibberish detector; same fixed-point contract as q_unigram_lm."""
    docs = _t(spark, sf_dir, "documents")
    out = lm.bigram_lm_score(docs, "text", "doc_id", add_k=0.5,
                             term_decimals=6)
    return (out.orderBy(F.col("avg_neg_logp").desc(), "doc_id").limit(20)
            .select("doc_id", "n_bigrams",
                    _fx_avg_round(F.col("avg_neg_logp"), F.col("n_bigrams"))
                    .alias("avg_neg_logp")))


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail perplexity bucketing
    (lm.perplexity_buckets): unigram-LM score → parallel range-partition
    rank → exact floor(n·f) cut counts. All-integer output (bucket sizes +
    token totals) so the hash cannot drift on float formatting."""
    docs = _t(spark, sf_dir, "documents")
    out = lm.perplexity_buckets(docs, "text", "doc_id",
                                fractions=(1 / 3, 2 / 3), add_k=0.5,
                                term_decimals=6)
    return (out.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_toks").cast("bigint").alias("total_toks")))


def q_top_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global exact top-fraction cut (sampling.top_fraction): keep the
    longest ceil(n·0.25) docs by (n_chars desc, doc_id), rolled up per
    source — the 'train on the top X% by score' pipeline stage. Integer
    outputs only."""
    docs = _t(spark, sf_dir, "documents")
    kept = sampling_fns.top_fraction(
        docs, [F.col("n_chars").desc()], 0.25, "doc_id")
    return (kept.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("total_chars")))


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance-1 self-join (joins.fuzzy_join, PassJoin segment
    filter + levenshtein verify) over md5-bucketed 8-hex key strings (300
    buckets over customers, so distance-0 collisions actually exist and
    the occasional cross-bucket distance-1 pair exercises the filter).
    Output: exact-integer pair count + distance sum vs the brute-force
    inequality-join oracle."""
    from scalding_spark.joins import fuzzy_join
    s = F.substring(F.md5((F.col("c_custkey") % 300).cast("string")), 1, 8)
    c = _t(spark, sf_dir, "customer")
    l = c.select(F.col("c_custkey").alias("lid"), s.alias("ls"))
    r = c.select(F.col("c_custkey").alias("rid"), s.alias("rs"))
    pairs = (fuzzy_join(l, r, "ls", "rs", "lid", "rid", max_distance=1).df
             .where(F.col("lid") < F.col("rid")))
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.coalesce(F.sum("distance"), F.lit(0)).cast("bigint")
        .alias("total_distance"))


def q_corpus_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level domain-shift detection (lm.corpus_divergence): add-k
    unigram KL between the even- and odd-doc_id halves of the documents
    table, fixed-point term accumulation (9 decimals) so the sums are
    layout- and engine-stable."""
    docs = _t(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    out = lm.corpus_divergence(a, b, "text", add_k=0.5, term_decimals=9)
    return out.select("n_toks_a", "n_toks_b", "vocab",
                      F.round("kl_ab", 6).alias("kl_ab"),
                      F.round("kl_ba", 6).alias("kl_ba"),
                      F.round("jsd_proxy", 6).alias("jsd_proxy"))


def q_linear_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast logistic quality model over expression-only features
    (tx.linear_quality_score): scoring is a map-only pass fused into the
    scan — the deploy shape of a trained doc-quality classifier."""
    docs = _t(spark, sf_dir, "documents")
    # order by the UNROUNDED score (the oracle does too) — ordering by the
    # rounded value could pick a different top-50 set at the cut boundary
    return (docs.select("doc_id",
                        tx.linear_quality_score(F.col("text")).alias("__q"))
            .orderBy(F.col("__q").desc(), "doc_id").limit(50)
            .select("doc_id", F.round("__q", 6).alias("quality")))


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embeddings table (similarity.kmeans):
    one map-only pass per round that assigns and sums per cell in each
    task, at most k rows per task to the driver.
    Rows-only check (iterative float argmin is not SQL-reproducible)."""
    emb = _t(spark, sf_dir, "embeddings")
    assigned, _ = similarity.kmeans(emb, k=8, max_iter=10, seed=42)
    return (assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs"))
            .orderBy("cell"))


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (tx.chunk_documents): overlapping 32-token
    chunks, stride 24 — map-only explode fused into the scan. Returns
    per-chunk rows with token counts."""
    docs = _t(spark, sf_dir, "documents")
    out = tx.chunk_documents(docs, "text", "doc_id",
                             chunk_tokens=32, overlap=8)
    return out.select("doc_id",
                      F.col("chunk_id").cast("bigint").alias("chunk_id"),
                      "chunk_text",
                      F.col("n_tokens").cast("bigint").alias("n_tokens"))


def q_map_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapStream escape hatch (GroupBuilder.scala:219-228) driver-checked
    end-to-end: an arbitrary pandas iterator transform over each key's
    SORTED stream — running account-balance total per market segment in
    exact cents (fixed-point, so the pandas cumsum and the oracle's window
    sum are byte-identical). The one Arrow-batched op in the contract."""
    import pandas as pd

    def running(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        # explicit HALF-AWAY-FROM-ZERO rounding to match DuckDB's round():
        # pandas Series.round() is numpy half-to-even, which only agrees
        # here because 2-decimal acctbal*100 never lands on a half-cent —
        # don't rely on that
        v = pdf["c_acctbal"].to_numpy()
        cents = (np.floor(np.abs(v) * 100 + 0.5) * np.sign(v)).astype("int64")
        cents = pd.Series(cents, index=pdf.index).cumsum()
        return pd.DataFrame({
            "c_custkey": pdf["c_custkey"],
            "c_mktsegment": pdf["c_mktsegment"],
            "running_bal": cents / 100.0,
        })

    cust = _p(spark, sf_dir, "customer")
    return (cust.group_by("c_mktsegment").sort_by("c_custkey")
            .map_stream(running,
                        "c_custkey long, c_mktsegment string, running_bal double")
            .df)


def q_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with frequency ranks. Ranks come from
    Pipe.rank_by — range-partitioned parallel ranking, NOT a global
    row_number window (single-task at web-scale vocab sizes)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tx.tokenize(F.col("text"))).alias("tok"))
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    return (Pipe(cnt).rank_by(F.col("cnt").desc(), F.col("tok"))
            .df.select("tok", "cnt", "rank"))


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: tf(doc,term) × ln(N/df), df table joined back on term;
    top term per doc (tfidf desc, term asc tiebreak) for doc_id < 100."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tx.tokenize(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()
    # df table is vocab-sized (huge at web scale) — AQE broadcasts while small
    scored = (tf.join(df_, on="tok")
              .withColumn("tfidf", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))))
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "tok")
    return (scored.where(F.col("doc_id") < 100)
            .withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
            .select("doc_id", F.col("tok").alias("top_term"), "tf", "df",
                    F.round("tfidf", 6).alias("tfidf")))


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: binary content column → Arrow-batched
    decode (deterministic stub: sha256 digest head) → per-source feature
    rollup. The oracle reproduces the stub's digest math in SQL, proving the
    batching/schema plumbing is value-exact."""
    from scalding_spark.functions import multimodal as mm
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(F.col("doc_id").alias("media_id"), "source",
                        F.encode("text", "utf-8").alias("content"))
    feats = mm.extract_image_features(media)
    return (feats.select("source", F.element_at("features", 1).alias("f0"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_media"),
                 F.round(F.avg("f0"), 6).alias("avg_f0")))


def _fabricated_media(docs: DataFrame,
                     header: bytes = b"P5\n16 16\n255\n") -> DataFrame:
    """(media_id, content) per document: ``header`` + 256 body bytes
    md5-derived from the doc's FAMILY (doc_id % 100), byte 0 replaced by
    (doc_id % 4)·64 — family members sit at perceptual-hash hamming ≤ 1,
    cross-family media are effectively random. The default header makes
    a 16×16 P5 image (q_image_neardup, scripts/streaming_bench.py's
    phash tier); q_audio_neardup passes a WAV header."""
    fam = (F.col("doc_id") % 100).cast("string")
    body = F.concat(*[F.unhex(F.md5(F.concat(fam, F.lit(f"-{j}"))))
                      for j in range(16)])
    delta = F.unhex(F.lpad(F.hex((F.col("doc_id") % 4) * 64), 2, "0"))
    content = F.concat(F.lit(header), delta, F.substring(body, 2, 255))
    return docs.select(F.col("doc_id").alias("media_id"),
                       content.alias("content"))


def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup tier (multimodal.image_neardup_pairs, r10): dHash
    perceptual fingerprints over REAL decoded pixels (16×16 binary P5
    images fabricated per doc from md5 bytes — family doc_id%100 shares a
    body, pixel (0,0) varies by doc_id%4, so family members sit at dhash
    hamming ≤ 1) + the SimHash pigeonhole banding at max_hamming=2.
    py-golden (py_reference.golden_image_neardup mirrors the PNM parse,
    the integer-luminance grid, and the banding — all-integer, so the
    mirror is exact by construction)."""
    from scalding_spark.functions import multimodal as mm
    media = _fabricated_media(_t(spark, sf_dir, "documents"))
    return mm.image_neardup_pairs(media, id_col="media_id",
                                  content_col="content", max_hamming=2)


def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup tier (multimodal.audio_neardup_pairs, r11): the
    energy-difference perceptual hash over REAL decoded PCM (256-sample
    u8 mono WAVs fabricated per doc from md5 bytes — family doc_id%100
    shares a body, sample 0 varies by doc_id%4, so family members sit
    at aehash hamming ≤ 1) + the shared pigeonhole banding at
    max_hamming=2. py-golden (py_reference.golden_audio_neardup mirrors
    the stdlib-wave parse, the integer window energies, and the banding
    — all-integer, so the mirror is exact by construction)."""
    import struct
    from scalding_spark.functions import multimodal as mm
    hdr = (b"RIFF" + struct.pack("<I", 36 + 256) + b"WAVEfmt "
           + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
           + b"data" + struct.pack("<I", 256))
    media = _fabricated_media(_t(spark, sf_dir, "documents"), hdr)
    return mm.audio_neardup_pairs(media, id_col="media_id",
                                  content_col="content", max_hamming=2)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    out = similarity.cosine_topk_bruteforce(emb, queries, k=5)
    return out.select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"))


def q_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN — rows-only check (random hyperplanes not in SQL)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    out = similarity.cosine_topk_lsh(emb, queries, k=5, dim=64)
    return out.select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"))


def q_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (coarse quantize → probe → exact re-rank) —
    rows-only check (centroid picks aren't SQL-reproducible)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    out = similarity.cosine_topk_ivf(emb, queries, k=5, n_cells=16, n_probe=4)
    return out.select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"))


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs — rows-only check. Threshold 0.3:
    the synthetic embeddings are i.i.d. Gaussian (no true near-dups), so a
    production-style 0.9 cutoff returns zero rows; 0.3 exercises the full
    LSH-candidate → exact-verify path with non-empty output."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(emb, threshold=0.3, dim=64) \
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def q_embedding_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine threshold pairs — the oracle-checked truth set
    for the LSH near-dup variant (threshold 0.35 keeps output small on the
    i.i.d. Gaussian synthetic embeddings)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.embedding_near_dup_exact(emb, threshold=0.35)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (SURVEY §2.5 extension): for each click event, the latest
    error event at-or-before it per user, rolled up to exact-integer gap
    sums. Oracle: DuckDB's native ASOF LEFT JOIN."""
    from scalding_spark import joins
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("ts").alias("err_ts"))
    j = joins.as_of_join(clicks, errors, on=["user_id"],
                         left_ts="ts", right_ts="ts").df
    return (j.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_clicks"),
                 F.count("err_ts").alias("n_matched"),
                 F.coalesce(F.sum(F.unix_micros(F.col("ts"))
                                  - F.unix_micros(F.col("err_ts"))),
                            F.lit(0)).alias("total_gap_us")))


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: clicks within 60 minutes AFTER an error, per user —
    bucketed equi-join formulation vs a plain inequality-join oracle."""
    from scalding_spark import joins
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("err_ts"),
        (F.col("ts") + F.expr("INTERVAL 60 MINUTES")).alias("end_ts"))
    j = joins.range_join(clicks, errors, point_ts="ts",
                         start_ts="err_ts", end_ts="end_ts",
                         on=["user_id"], bucket_seconds=3600).df
    return (j.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum(F.unix_micros(F.col("ts"))
                       - F.unix_micros(F.col("err_ts"))).alias("total_gap_us")))


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approximateUniqueCount (ReduceOperations.scala:103-129) — rows-only
    (HLL implementations differ across engines)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts")))


# ---------------------------------------------------------------------------
# events / time (SURVEY §1.4, §2.10 extension)
# ---------------------------------------------------------------------------

def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _p(spark, sf_dir, "events")
    return (
        ev.map(day=F.date_trunc("day", F.col("ts")).cast("date"))
        .group_by("day", "event_type").size("n").agg(_exact_sum(F.col("value"), 2).alias("total_value")).done()
        .map_to(F.col("day"), F.col("event_type"), F.col("n"),
                total_value=F.round("total_value", 2))
        .df
    )


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: one pass produces
    (day, event_type), per-day, and grand-total aggregates via ROLLUP
    (partial-agg friendly — Spark expands grouping sets map-side).
    Routed through rollup_by/grouping_flag so an EMPTY events slice still
    reports the ANSI grand-total row (n=0) like every SQL engine."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    return (Pipe(ev.select(day, "event_type", "value"))
            .rollup_by("day", "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(_exact_sum(F.col("value"), 2), 2).alias("total_value"))
            .grouping_flag("day", "g_day")
            .grouping_flag("event_type", "g_type")
            .done().to_df())


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window gap-merge aggregation (streaming-native sessionize,
    run in batch): per-user session totals with a 60-min gap."""
    from scalding_spark.streaming import session_window_agg
    ev = _t(spark, sf_dir, "events")
    out = session_window_agg(ev, "ts", "user_id",
                             F.count(F.lit(1)).alias("n_events"),
                             F.round(_exact_sum(F.col("value"), 2), 2).alias("total_value"),
                             gap="60 minutes")
    return out.select("user_id",
                      F.col("session.start").alias("session_start"),
                      "n_events", "total_value")


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sess = sessionize(ev.orderBy("ts"), "ts", "user_id", gap_minutes=60)
    return (sess.groupBy("user_id")
            .agg(F.max("session_id").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events")))


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling (sampling.weighted_sample):
    keep probability = the logistic quality score — the standard
    score-proportional corpus downsample, with md5-bucket membership the
    oracle reproduces exactly."""
    from scalding_spark.functions import sampling
    docs = _t(spark, sf_dir, "documents")
    w = F.round(tx.linear_quality_score(F.col("text")), 6)
    return (sampling.weighted_sample(docs, "doc_id", w, salt="wq")
            .select("doc_id", "source"))


def _weighted_sample_sql() -> str:
    """Mirror of q_weighted_sample: same features/z/sigmoid as
    _linear_quality_sql, same floor(weight·2^32) cutoff vs the md5
    bucket."""
    from scalding_spark.functions.text import (
        QUALITY_MODEL_BIAS, QUALITY_MODEL_WEIGHTS, STOPWORDS)
    stops = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    w = QUALITY_MODEL_WEIGHTS
    terms = " + ".join(f"({w[name]!r}) * {name}" for name in sorted(w))
    return f"""
        WITH f AS (
            SELECT doc_id, source,
                   ln(1.0 + len({_TOKENS})) AS log_n_tok,
                   CASE WHEN len(text) > 0 THEN
                       len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))::DOUBLE
                           / len(text)
                   ELSE 0.0 END AS punct_ratio,
                   CASE WHEN len({_TOKENS}) > 0 THEN
                       len(list_filter({_TOKENS}, x -> list_contains([{stops}], x)))
                           / len({_TOKENS})
                   ELSE 0.0 END AS stop_ratio,
                   CASE WHEN len({_TOKENS}) > 0 THEN
                       list_sum(list_transform({_TOKENS}, x -> len(x)))
                           / len({_TOKENS})
                   ELSE 0.0 END AS mean_word_len
            FROM documents),
        q AS (SELECT doc_id, source,
                     round(1.0 / (1.0 + exp(-(({QUALITY_MODEL_BIAS!r}) + {terms}))), 6)
                         AS w
              FROM f)
        SELECT doc_id, source FROM q
        WHERE ('0x' || substr(md5('wq' || doc_id::VARCHAR), 1, 8))::BIGINT
              < CAST(floor(least(greatest(w, 0.0), 1.0) * 4294967296.0) AS BIGINT)
    """


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc sequence packing (sampling.pack_sequences): greedy-fill
    512-token training sequences in doc_id order, whole docs only, on the
    key-less parallel running-sum pattern. Output fingerprints the packed
    text so the oracle verifies exact content + order."""
    from scalding_spark.functions import sampling
    docs = _t(spark, sf_dir, "documents")
    out = sampling.pack_sequences(docs, "text", "doc_id", seq_tokens=512)
    return out.select("seq_id", F.md5("text").alias("fp"),
                      "n_docs", "n_tokens")


def q_dedup_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup (dedup.dedup_against): treat even doc_ids as the
    existing corpus and odd ones as a new crawl increment (a parity split
    so the synthetic corpus's duplicate pairs actually cross the boundary);
    drop new docs whose exact normalized content is already present.
    Anti-join on md5 fingerprints — text never crosses the exchange."""
    docs = _t(spark, sf_dir, "documents")
    seen = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    return (dedup.dedup_against(new, seen, "text")
            .select("doc_id", "source"))


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed fingerprints (dedup.winnow_fingerprints, Schleimer et al.
    2003): per-doc count + checksum of the selected (pos, fp) set — exact
    integers, so the oracle (window-argmin over the same md5 gram hashes)
    must match bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    fps = dedup.winnow_fingerprints(docs, "text", "doc_id", k=5, window=4)
    return (fps.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_fps"),
                 F.sum("fp").alias("fp_sum")))


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnow-based overlap candidates (dedup.winnow_overlap_pairs): docs
    sharing ≥2 distinct winnowed fingerprints, hot-fp-capped — the MOSS
    join stage. All-integer output, exact oracle."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.winnow_overlap_pairs(docs, "text", "doc_id",
                                      k=5, window=4, min_shared=2,
                                      max_fp_freq=1000)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (lm.importance_weights, Xie et al. 2023):
    target = the 'src0' slice, raw = the whole corpus; top-20 most
    target-like docs by the engine-portable fixed-point weight (integer
    micro-nats, so the ORDER-BY cut cannot drift cross-engine)."""
    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("source") == "src0")
    w = lm.importance_weights(docs, target, "text", "doc_id",
                              n_buckets=4096, term_decimals=6)
    return (w.orderBy(F.col("lw_fixed").desc(), "doc_id").limit(20)
            .select("doc_id", "n_feats", "lw_fixed"))


def q_bloom_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental dedup (bloom.bloom_anti_join): same
    parity-split contract as q_dedup_against and row-identical output, but
    definite-new docs bypass the anti-join exchange entirely — the broadcast
    Bloom filter kills them map-side, and only fingerprints that might be
    seen shuffle. The oracle is the plain anti join: the filter must never
    change results, only shuffle volume."""
    from scalding_spark.functions import bloom
    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(dedup.normalize_for_fingerprint(F.col("text")))
    n = docs.select("doc_id", "source", fp.alias("__fp"))
    seen = n.where(F.col("doc_id") % 2 == 0).select("__fp").distinct()
    new = n.where(F.col("doc_id") % 2 == 1)
    out = bloom.bloom_anti_join(new, seen, on="__fp")
    return out.select("doc_id", "source")


# data-mixing constants shared by q_mix_proportions and its oracle
_MIX_PROPS = {f"src{i}": 0.2 for i in range(5)}
_MIX_TOTAL = 60_000


def q_mix_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data mixing (sampling.mix_to_proportions): five sources
    at 20% each of a fixed char budget, others dropped; per-domain md5
    cutoffs derive from exact integer size sums, so the oracle reproduces
    membership bit-for-bit."""
    from scalding_spark.functions import sampling
    docs = _t(spark, sf_dir, "documents")
    out = sampling.mix_to_proportions(docs, "doc_id", "source", "n_chars",
                                      _MIX_PROPS, total=_MIX_TOTAL,
                                      salt="mx")
    return out.select("doc_id", "source")


def _mix_proportions_sql() -> str:
    """Mirror of q_mix_proportions: identical fraction arithmetic
    (p·total as repr'd doubles, exact integer domain sizes, floor·2^32
    cutoffs) computed in SQL instead of on the driver."""
    doms = ", ".join(f"'{d}'" for d in sorted(_MIX_PROPS))
    prop_case = " ".join(
        f"WHEN source = '{d}' THEN ({_MIX_PROPS[d]!r})"
        for d in sorted(_MIX_PROPS))
    return f"""
        WITH sz AS (SELECT source, sum(n_chars) AS s FROM documents
                    WHERE source IN ({doms}) GROUP BY source),
        cut AS (SELECT source,
                       CAST(floor(least(1.0, ((CASE {prop_case} END)
                                  * {float(_MIX_TOTAL)!r}) / CAST(s AS DOUBLE))
                                  * 4294967296.0) AS BIGINT) AS cutoff
                FROM sz)
        SELECT d.doc_id, d.source
        FROM documents d JOIN cut c ON d.source = c.source
        WHERE ('0x' || substr(md5('mx' || d.doc_id::VARCHAR), 1, 8))::BIGINT
              < c.cutoff
    """


def q_train_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED logistic quality classifier (tx.train_logistic_quality):
    3 rounds of full-batch gradient descent predicting English-ness from
    the expression-only surface features, gradients accumulated as exact
    scaled BIGINTs (partition-layout- and engine-independent), so the whole
    trajectory is reproducible and the oracle unrolls the identical three
    iterations in SQL (PageRank-style chained CTEs)."""
    docs = _t(spark, sf_dir, "documents")
    w, b = tx.train_logistic_quality(docs, "text",
                                     (F.col("lang") == "en"),
                                     lr=1.0, iters=3)
    rows = [("__bias__", float(b))] + [(k, float(v))
                                       for k, v in sorted(w.items())]
    out = spark.createDataFrame(rows, "feature string, weight double")
    return out.select("feature", F.round("weight", 6).alias("weight"))


def _train_quality_sql(iters: int = 3, lr: float = 1.0) -> str:
    """Mirror of tx.train_logistic_quality at lr=1.0: same quantized
    features, same sorted-name left-associative z, same scaled-BIGINT
    gradient sums, same update arithmetic — iterations unrolled as chained
    CTEs (weights flow as scalar columns, never literals)."""
    from scalding_spark.functions.text import QUALITY_MODEL_WEIGHTS, STOPWORDS
    stops = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    names = sorted(QUALITY_MODEL_WEIGHTS)
    feat_exprs = {
        "log_n_tok": f"ln(1.0 + len({_TOKENS}))",
        "punct_ratio": ("CASE WHEN len(text) > 0 THEN "
                        "len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))::DOUBLE"
                        " / len(text) ELSE 0.0 END"),
        "stop_ratio": (f"CASE WHEN len({_TOKENS}) > 0 THEN "
                       f"len(list_filter({_TOKENS}, x -> list_contains([{stops}], x)))"
                       f" / len({_TOKENS}) ELSE 0.0 END"),
        "mean_word_len": (f"CASE WHEN len({_TOKENS}) > 0 THEN "
                          f"list_sum(list_transform({_TOKENS}, x -> len(x)))"
                          f" / len({_TOKENS}) ELSE 0.0 END"),
    }
    fcols = ",\n                   ".join(
        f"round({feat_exprs[k]}, 6) AS {k}" for k in names)
    ctes = [f"""f AS (
            SELECT {fcols},
                   CAST(lang = 'en' AS INT) AS y
            FROM documents)""",
            "w0 AS (SELECT 0.0 AS wb, "
            + ", ".join(f"0.0 AS w_{k}" for k in names) + ")"]
    for i in range(1, iters + 1):
        z = "w.wb + " + " + ".join(f"w.w_{k} * {k}" for k in names)
        gsum = ",\n                   ".join(
            f"CAST(sum(CAST(round((p - y) * {k} * 1000000000.0) AS BIGINT)) AS BIGINT) AS g_{k}"
            for k in names)
        # g.n = 0 (empty training slice) keeps the previous weights — the
        # library breaks out of the loop with the zero-initialized model;
        # without the CASE the NULL gradient sums would null every weight
        wup = ",\n                   ".join(
            f"CASE WHEN g.n = 0 THEN w.w_{k} ELSE "
            f"w.w_{k} - {lr!r} * ((CAST(g.g_{k} AS DOUBLE) / 1000000000.0)"
            f" / CAST(g.n AS DOUBLE)) END AS w_{k}" for k in names)
        ctes += [f"""p{i} AS (
            SELECT f.*, round(1.0 / (1.0 + exp(-({z}))), 6) AS p
            FROM f CROSS JOIN w{i - 1} w)""",
                 f"""g{i} AS (
            SELECT CAST(sum(CAST(round((p - y) * 1000000000.0) AS BIGINT)) AS BIGINT) AS gb,
                   {gsum},
                   count(*) AS n
            FROM p{i})""",
                 f"""w{i} AS (
            SELECT CASE WHEN g.n = 0 THEN w.wb ELSE
                       w.wb - {lr!r} * ((CAST(g.gb AS DOUBLE) / 1000000000.0)
                       / CAST(g.n AS DOUBLE)) END AS wb,
                   {wup}
            FROM w{i - 1} w CROSS JOIN g{i} g)"""]
    finals = [f"SELECT '__bias__' AS feature, round(wb, 6) AS weight FROM w{iters}"]
    finals += [f"SELECT '{k}', round(w_{k}, 6) FROM w{iters}" for k in names]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(finals)


# ---------------------------------------------------------------------------
# r03 diagnostic probes (VERDICT r02 §next-round #1b: driver-side bisection)
# ---------------------------------------------------------------------------

def q_probe_hugeint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIAGNOSTIC (retired r05). In r03/r04 its oracle deliberately emitted
    a raw DuckDB HUGEINT column (uncast ``sum(1)``); the probe ran red while
    the five formerly red BIGINT-cast queries ran green, CONFIRMING the
    driver's client-side HUGEINT conversion as the r02 hash-red mechanism.
    Diagnosis complete, the oracle is now BIGINT-cast like every other
    (tests/test_oracle_types.py enforces the portable-type rule repo-wide
    with no exceptions)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.sum(F.lit(1)).alias("s")))


def q_probe_q12_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIAGNOSTIC for the two-round q12 red: ONE row of pure COUNT(*)
    columns (bigint on both engines — no SUM, no HUGEINT anywhere) that
    decompose q12 into its primitives. Reading of CORRECTNESS_r03:
    - this probe green + q12 red ⇒ the divergence is in the SUM(CASE)
      aggregation's client conversion (the HUGEINT theory), not filters;
    - n_flag red ⇒ even string IN-list filtering diverges (data drift);
    - n_date/n_ts red with n_flag green ⇒ the shipdate window semantics
      differ between the driver's engine versions, and which of the two
      formulations is red says whether date-cast or timestamp-literal
      comparison is the broken primitive;
    - n_join red with the above green ⇒ the orders join itself."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    flag = F.col("l_returnflag").isin("A", "R")
    date_win = ((F.to_date("l_shipdate") >= F.lit("1995-01-01").cast("date"))
                & (F.to_date("l_shipdate") < F.lit("1996-01-01").cast("date")))
    ts_win = ((F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
              & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp")))
    base = li.where(flag & date_win)
    return (base.join(o, base.l_orderkey == o.o_orderkey)
            .agg(F.count(F.lit(1)).alias("n_join"))
            .join(li.where(flag).agg(F.count(F.lit(1)).alias("n_flag")))
            .join(li.where(flag & date_win)
                  .agg(F.count(F.lit(1)).alias("n_date")))
            .join(li.where(flag & ts_win)
                  .agg(F.count(F.lit(1)).alias("n_ts"))))


def q_probe_event_micros(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIAGNOSTIC twin for the events read path: min/max/count of
    ``unix_micros(ts)`` per event_type (min/max stay BIGINT — no HUGEINT —
    so this isolates nanos-vs-micros truncation parity from the aggregate
    type issue). Red here would mean the driver's engines read the
    TIMESTAMP(NANOS) parquet to different instants than locally."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min(F.unix_micros(F.col("ts"))).alias("min_us"),
                 F.max(F.unix_micros(F.col("ts"))).alias("max_us")))


# ---------------------------------------------------------------------------
# r05: first driver rows for the formerly tests-only operators
# (VERDICT r04 next-round #5)
# ---------------------------------------------------------------------------

def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """remove_duplicate_lines (dedup.py:113, RefinedWeb line-level cleanup)
    rewriting documents: within each doc every space-delimited segment keeps
    only its first occurrence, reassembled in position order. Compares the
    full rebuilt text per doc — a strong end-to-end check of the
    posexplode → fingerprint window → sorted-reassembly plan."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup.remove_duplicate_lines(
        docs.where(F.col("doc_id") < 300), "text", "doc_id",
        scope="doc", delimiter=" ")
    return out.select("doc_id", F.col("text").alias("dedup_text"))


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """char_entropy (text.py): Shannon entropy of each doc's character
    distribution, map-only higher-order expression. Rounded to 6 — the
    per-char p·log2(p) sum order differs between engines and float addition
    is non-associative."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.where(F.col("doc_id") < 200)
            .select("doc_id",
                    F.round(tx.char_entropy(F.col("text")), 6)
                     .alias("entropy")))


def q_duplicate_line_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """duplicate_line_fraction (text.py, Gopher repetition family): fraction
    of normalized segments that repeat an earlier one, averaged per
    source. Space separator — the synthetic docs carry no sentence
    punctuation, so segments are words."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.select("source",
                        tx.duplicate_line_fraction(F.col("text"), sep=" ")
                          .alias("f"))
            .groupBy("source")
            .agg(F.round(F.avg("f"), 6).alias("avg_dup_fraction")))


def q_dup_line_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """duplicate_line_char_fraction (text.py): Gopher's CHAR-weighted
    duplicate-segment rule — Σ (count−1)·len over repeated segments /
    total segment chars — averaged per source (word segments, like
    q_duplicate_line_fraction's count-weighted companion)."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.select("source",
                        tx.duplicate_line_char_fraction(F.col("text"),
                                                        sep=" ").alias("f"))
            .groupBy("source")
            .agg(F.round(F.avg("f"), 6).alias("avg_dup_char_fraction")))


_TM_ALPHA = 0.3
_TM_TOTAL = 60_000


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """temperature_mix (sampling.py, mT5/XLM-R sampling rule): target
    share of domain d is size_d^alpha / Z with Z accumulated in
    sorted-domain order (bit-reproducible normalizer); membership via the
    md5-cutoff machinery shared with mix_to_proportions. The oracle
    mirrors the exact arithmetic: pow over exact integer sizes, chained
    additions in the same sorted order, identical cutoff floor."""
    docs = _t(spark, sf_dir, "documents")
    out = sampling_fns.temperature_mix(docs, "doc_id", "source", "n_chars",
                                       total=_TM_TOTAL, alpha=_TM_ALPHA,
                                       salt="tm")
    return out.select("doc_id", "source")


def _temperature_mix_sql() -> str:
    doms = sorted(f"src{i}" for i in range(20))
    # chained left-associated additions in sorted-domain order — the same
    # order temperature_mix's Python loop uses, so the float normalizer
    # (hence every cutoff) is bit-identical
    z = " + ".join(
        f"pow(CAST((SELECT s FROM sz WHERE source = '{d}') AS DOUBLE), "
        f"{_TM_ALPHA!r})" for d in doms)
    return f"""
        WITH sz AS (SELECT source, sum(n_chars) AS s FROM documents
                    GROUP BY source),
        cut AS (SELECT source,
                       CAST(floor(least(1.0,
                           ((pow(CAST(s AS DOUBLE), {_TM_ALPHA!r}) / ({z}))
                            * {float(_TM_TOTAL)!r}) / CAST(s AS DOUBLE))
                           * 4294967296.0) AS BIGINT) AS cutoff
                FROM sz)
        SELECT d.doc_id, d.source
        FROM documents d JOIN cut c ON d.source = c.source
        WHERE ('0x' || substr(md5('tm' || d.doc_id::VARCHAR), 1, 8))::BIGINT
              < c.cutoff
    """


def _fake_url_col() -> Column:
    """Deterministic URL synthesis (documents carry no URL column; same
    injection pattern as q_pii_redact): five host shapes exercising
    userinfo/port stripping, PSL-2 heuristics, IPs, single labels, and
    FQDN trailing dots."""
    d = F.col("doc_id")
    host = (F.when(d % 5 == 0,
                   F.concat(F.lit("cdn"), (d % 7).cast("string"),
                            F.lit(".shop.example.co.uk")))
            .when(d % 5 == 1,
                  F.concat(F.lit("www.site"), (d % 11).cast("string"),
                           F.lit(".Example.com")))
            .when(d % 5 == 2, F.lit("192.168.4.25"))
            .when(d % 5 == 3, F.lit("localhost"))
            .otherwise(F.concat(F.lit("a.b.news"), (d % 3).cast("string"),
                                F.lit(".example.org."))))
    return F.concat(F.lit("https://user:pw@"), host, F.lit(":8080/path?q=1"))


_FAKE_URL_SQL = """
    'https://user:pw@' ||
    CASE
        WHEN doc_id % 5 = 0 THEN 'cdn' || (doc_id % 7)::VARCHAR || '.shop.example.co.uk'
        WHEN doc_id % 5 = 1 THEN 'www.site' || (doc_id % 11)::VARCHAR || '.Example.com'
        WHEN doc_id % 5 = 2 THEN '192.168.4.25'
        WHEN doc_id % 5 = 3 THEN 'localhost'
        ELSE 'a.b.news' || (doc_id % 3)::VARCHAR || '.example.org.'
    END || ':8080/path?q=1'
"""

# SQL mirror of web.host_of / web.registrable_domain over a `url` column
# (same RE2-portable regex and PSL-2 heuristic constants as web.py)
_WEB_DOMAIN_SQL = """
    h0 AS (SELECT *, nullif(lower(regexp_replace(regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+).*$', 1),
               '\\.$', '')), '') AS host FROM u),
    h1 AS (SELECT *, string_split(host, '.') AS parts,
                  len(string_split(host, '.')) AS n FROM h0),
    h2 AS (SELECT *, CASE WHEN n >= 3 AND parts[n - 1] IN
                              ('co', 'com', 'net', 'org', 'gov', 'ac', 'edu')
                          THEN 3 ELSE 2 END AS take,
                  regexp_matches(host, '^[0-9.]+$') AS is_ip FROM h1),
    h3 AS (SELECT *, CASE WHEN is_ip OR n <= 2 THEN host
                          ELSE array_to_string(parts[n - take + 1 : n], '.')
                     END AS domain FROM h2)
"""


def _fake_messy_url_col() -> Column:
    """URL synthesis for the canonicalization query: five shapes exercising
    every rule — fragments, uppercase scheme/host, explicit default ports,
    tracking-param stripping with order-preserving survivors, emptied
    query strings, bare-root paths, and unparseable values."""
    d = F.col("doc_id")
    ds = d.cast("string")
    return (F.when(d % 5 == 0,
                   F.concat(F.lit("HTTP://WWW.Example.COM:80/Path/p"), ds,
                            F.lit("?utm_source=x&id="), ds,
                            F.lit("&utm_campaign=y#sec"), ds))
            .when(d % 5 == 1,
                  F.concat(F.lit("https://news.example.org:443/a"),
                           F.lit("?gclid=z&x="), ds, F.lit("&y=2")))
            .when(d % 5 == 2,
                  F.concat(F.lit("https://Shop"), (d % 7).cast("string"),
                           F.lit(".example.co.uk/")))
            .when(d % 5 == 3,
                  F.concat(F.lit("http://site"), (d % 11).cast("string"),
                           F.lit(".example.net:8080/q?fbclid="), ds,
                           F.lit("&ref=tw")))
            .otherwise(F.concat(F.lit("plain text "), ds)))


_FAKE_MESSY_URL_SQL = """
    CASE
        WHEN doc_id % 5 = 0 THEN 'HTTP://WWW.Example.COM:80/Path/p' || doc_id::VARCHAR
             || '?utm_source=x&id=' || doc_id::VARCHAR || '&utm_campaign=y#sec' || doc_id::VARCHAR
        WHEN doc_id % 5 = 1 THEN 'https://news.example.org:443/a?gclid=z&x=' || doc_id::VARCHAR || '&y=2'
        WHEN doc_id % 5 = 2 THEN 'https://Shop' || (doc_id % 7)::VARCHAR || '.example.co.uk/'
        WHEN doc_id % 5 = 3 THEN 'http://site' || (doc_id % 11)::VARCHAR
             || '.example.net:8080/q?fbclid=' || doc_id::VARCHAR || '&ref=tw'
        ELSE 'plain text ' || doc_id::VARCHAR
    END
"""


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """web.canonicalize_url (web.py): fragment/tracking-param/default-port/
    case normalization producing the URL-dedup key. Map-only; the oracle
    mirrors every rule verbatim in RE2-portable SQL. NULL canonical =
    unparseable (kept as NULL output, the host_of contract)."""
    from scalding_spark.functions import web
    docs = _t(spark, sf_dir, "documents")
    u = docs.where(F.col("doc_id") < 400) \
        .select("doc_id", _fake_messy_url_col().alias("url"))
    return u.select("doc_id",
                    web.canonicalize_url(F.col("url")).alias("canonical"))


def _eval_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared eval fixture: a length-based English-ness 'classifier' over
    documents — score = n_chars (integer, heavy tie classes by design:
    exercises the average-rank correction), probability-scaled variant
    (n_chars % 1000)/1000.0 (exact 3-decimal doubles — inside the
    calibration module's <=9-dp cross-engine decimal contract), label =
    (lang = 'en'). NULL scores/labels are dropped by the ops themselves."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("n_chars").alias("score"),
        ((F.col("n_chars") % 1000) / F.lit(1000.0)).alias("prob"),
        (F.col("lang") == "en").cast("int").alias("label"))


def q_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """evaluation.roc_auc: exact tie-corrected ROC-AUC + KS of the doc
    quality heuristic (score = n_chars predicting lang='en'). Rank sums
    and KS numerators are exact BIGINTs with ONE double division each, so
    the hash matches DuckDB bit-for-bit. Plan: one groupBy(score) shuffle
    + the range-partition prefix-offset cumulative — no data-sized
    single-task window (plan-asserted in tests/test_evaluation.py)."""
    from scalding_spark.functions import evaluation
    return evaluation.roc_auc(_eval_scored(spark, sf_dir), "score", "label")


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """evaluation.calibration_bins: reliability-diagram table (10 bins of
    [0,1)) for the probability-scaled score. mean_score accumulates as
    exact DECIMAL(27,9) (one final double division) — layout- and
    engine-stable; counts/frac_pos are integer ratios."""
    from scalding_spark.functions import evaluation
    return evaluation.calibration_bins(_eval_scored(spark, sf_dir),
                                       "prob", "label", bins=10)


def q_auc_by_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """evaluation.roc_auc(by=['lang','source']): per-slice AUC/KS of
    n_chars predicting the generator's near-dup marker (text contains
    'dup') — the slice-audit form (a global AUC routinely hides a
    coin-flip slice). ~100 slices at sf0.01, many one-class → NULL
    metrics rows (the contract), multi-key null-safe slice join
    exercised. Cumulative windows partition by slice; per-slice task
    size is DISTINCT-score count, not row count."""
    from scalding_spark.functions import evaluation
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "lang", "source", F.col("n_chars").alias("score"),
        F.col("text").contains("dup").cast("int").alias("label"))
    return evaluation.roc_auc(scored, "score", "label",
                              by=["lang", "source"])


def q_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """evaluation.threshold_sweep: confusion matrix + precision/recall/
    F1/accuracy at 5 cutoffs. The corpus aggregates per DISTINCT score
    once; the literal threshold array re-aggregates the small per-score
    table — corpus cost independent of threshold count. All counts exact;
    every rate is one division (NULL on empty denominators)."""
    from scalding_spark.functions import evaluation
    return evaluation.threshold_sweep(_eval_scored(spark, sf_dir),
                                      "prob", "label",
                                      [0.1, 0.25, 0.5, 0.75, 0.9])


def q_calibration_by_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """evaluation.calibration_bins(by=['source']) (r10): per-slice
    reliability table — a globally calibrated filter is routinely
    mis-calibrated per source, which breaks any per-slice probability
    use of its scores. Same exact DECIMAL(27,9) mean accumulation, one
    partial-aggregated pass with the slice key in the grouping."""
    from scalding_spark.functions import evaluation
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        ((F.col("n_chars") % 1000) / F.lit(1000.0)).alias("prob"),
        (F.col("lang") == "en").cast("int").alias("label"))
    return evaluation.calibration_bins(scored, "prob", "label",
                                       bins=10, by=["source"])


def q_sweep_by_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """evaluation.threshold_sweep(by=['source']) (r10): per-slice
    operating characteristics at 3 cutoffs — the cutoff a filter ships
    globally is rarely the right operating point per slice. Corpus
    aggregates per (slice, DISTINCT score) once; every judged slice
    reports one row per cutoff."""
    from scalding_spark.functions import evaluation
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        ((F.col("n_chars") % 1000) / F.lit(1000.0)).alias("prob"),
        (F.col("lang") == "en").cast("int").alias("label"))
    return evaluation.threshold_sweep(scored, "prob", "label",
                                      [0.25, 0.5, 0.75], by=["source"])


def q_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """evaluation.pr_auc (r09): exact average precision (step-interpolated
    PR-AUC, the sklearn AP form) of the length heuristic predicting
    lang='en' — the metric an IMBALANCED quality filter is audited with
    (ROC-AUC flatters 1:50 labels; AP degrades honestly). Heavy integer
    tie classes exercise the one-term-per-distinct-score convention.
    Exact BIGINT TP/CNT cumulatives, one double division per tie class
    tie-rounded to DECIMAL(27,9), exact decimal sum, one final division
    — bit-stable across layouts and engines (calibration_bins' decimal
    recipe). Same scale shape as roc_auc: groupBy(score) + the key-less
    range-partition prefix pattern, descending."""
    from scalding_spark.functions import evaluation
    return evaluation.pr_auc(_eval_scored(spark, sf_dir), "score", "label")


def q_pr_auc_by_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """evaluation.pr_auc(by=['lang','source']) (r09): per-slice average
    precision of n_chars predicting the near-dup marker — the slice-audit
    form (q_auc_by_slice's fixture). Many slices have zero positives →
    NULL pr_auc rows (the contract); descending cumulative windows
    partition by slice, per-slice task size is DISTINCT-score count."""
    from scalding_spark.functions import evaluation
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "lang", "source", F.col("n_chars").alias("score"),
        F.col("text").contains("dup").cast("int").alias("label"))
    return evaluation.pr_auc(scored, "score", "label",
                             by=["lang", "source"])


def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """evaluation.cohens_kappa (r09): chance-corrected agreement between
    the gold ``lang`` column and a deterministic second 'rater' that
    agrees on n_chars%3==0 rows, votes 'en' on %3==1, and abstains
    (NULL → unjudged) on the rest — exercises partial agreement,
    skewed marginals, and the dropped-rating rule. Exact-integer
    identity: κ numerator/denominator are BIGINTs, po/pe/κ are one
    double division each → hash-exact vs DuckDB. One category-pair
    groupBy; no data-sized exchange beyond it."""
    from scalding_spark.functions import evaluation
    docs = _t(spark, sf_dir, "documents")
    rated = docs.select(
        F.col("lang").alias("rater_a"),
        F.when(F.col("n_chars") % 3 == 0, F.col("lang"))
        .when(F.col("n_chars") % 3 == 1, F.lit("en")).alias("rater_b"))
    return evaluation.cohens_kappa(rated, "rater_a", "rater_b")


def q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """similarity.semantic_decontaminate: drop corpus embeddings with
    cosine ≥ 0.8 to ANY benchmark embedding (every 37th vector) — the
    embedding analog of q_decontaminate's n-gram guard. Benchmark members
    drop themselves (self-cosine 1); i.i.d. Gaussian cross-cosines sit
    far below 0.8, so survivors = non-benchmark rows minus near-dups.
    Map-only broadcast-exists plan: the corpus never shuffles.
    Py-golden (numpy mirror, same normalize/dot fold order)."""
    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.where(F.col("vec_id") % 37 == 0)
    kept = similarity.semantic_decontaminate(emb, bench, threshold=0.8)
    return (kept.groupBy("label").agg(F.count(F.lit(1)).alias("n_kept"))
            .orderBy("label"))


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sampling.leakage_safe_split (sampling.py): train/val/test assigned
    by DEDUP-CLUSTER key — here exact-dup clusters (min doc_id per
    md5(text) fingerprint) — so duplicate documents can never straddle
    train and test. Labels stay corpus-sized in this audit (every doc has
    a row), so the join is a plain hash join; production restricts labels
    to multi-doc clusters and broadcasts (broadcast_labels=True). Output
    is self-checking: per split, doc and cluster counts plus the number
    of clusters also present in another split (n_straddling — the
    leakage guarantee says 0 everywhere)."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.col("text")))
    # materialize the label table ONCE (r11): it feeds both the split
    # join inside leakage_safe_split and the audit join — without the
    # lineage cut the md5(text) window (a full TEXT shuffle) replanned
    # per consumer (measured: 8 parquet scans / 6 Window passes in the
    # AQE-final plan; after: 1 of each). Same rows, oracle-verified.
    from scalding_spark.session import materialize
    labels = materialize(
        docs.select("doc_id", F.min("doc_id").over(w).alias("cluster_id")))
    out = sampling_fns.leakage_safe_split(docs.select("doc_id"), "doc_id",
                                          labels)
    per = (out.join(labels, "doc_id")
           .groupBy("split", "cluster_id")
           .agg(F.count(F.lit(1)).alias("n")))
    # n_splits via a window over per (r11): the groupBy self-join
    # re-executed per's whole subtree as a second plan — the window
    # reads the one per table it is already grouped from
    per = per.withColumn(
        "n_splits", F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))
    return (per.groupBy("split")
            .agg(F.sum("n").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_clusters"),
                 F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0))
                 .alias("n_straddling"))
            .orderBy("split"))


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.corpus_diff (dedup.py): snapshot audit of a simulated corpus
    refresh — every 11th doc dropped (removed), ' v2' appended to every
    7th survivor (changed), every 13th re-added under a shifted id
    (added), the rest unchanged. Fingerprint-only full-outer join: the
    text never crosses the exchange. Output: per-status counts plus
    min/max affected key (shape + spot-check)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    survivors = docs.where(F.col("doc_id") % 11 != 3)
    edited = survivors.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat_ws(" ", F.col("text"), F.lit("v2")))
        .otherwise(F.col("text")))
    added = (docs.where(F.col("doc_id") % 13 == 1)
             .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    new = edited.unionByName(added)
    d = dedup.corpus_diff(docs, new, "doc_id")
    return (d.groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("doc_id").alias("min_key"),
                 F.max("doc_id").alias("max_key"))
            .orderBy("status"))


def q_neardup_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.neardup_against (dedup.py): batch NEAR-dup gate against a
    signature-only corpus store — even doc_ids are stored (MinHash
    signatures only, the text never re-enters), odd doc_ids arrive as
    the batch; survivors have estimated Jaccard < 0.5 to every stored
    doc. The batch band table broadcasts over a map-only store scan.
    Py-golden mirrors signatures, (band, hash) buckets, and the
    slot-agreement estimator bit-exactly; token-less docs pass."""
    docs = _t(spark, sf_dir, "documents")
    store = dedup.minhash_signatures(
        docs.where(F.col("doc_id") % 2 == 0), "text", "doc_id", 32, 3)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    kept = dedup.neardup_against(batch, store, "text", "doc_id",
                                 num_hashes=32, bands=16, threshold=0.5)
    return kept.select("doc_id")


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.contamination_report (dedup.py): per-benchmark-item leak
    audit — same benchmark construction as q_decontaminate (every 97th
    doc, 8-grams), reporting for each benchmark item how many corpus
    docs share an n-gram and how many distinct grams overlap. Self-hits
    expected (the benchmark is drawn from the corpus); clean items stay
    as zero rows. Corpus text never shuffles (broadcast bench grams)."""
    docs = _t(spark, sf_dir, "documents")
    bench = (docs.where(F.col("doc_id") % 97 == 0)
             .select(F.col("doc_id").alias("bench_id"), "text"))
    return dedup.contamination_report(
        docs, bench, "text", "doc_id", "bench_id", n=8).orderBy("bench_id")


def q_web_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """web.host_of + web.registrable_domain (web.py): URL → normalized host
    → eTLD+1-style registrable domain, counted. Expression-only — the
    corpus never shuffles anything but the tiny (host, domain) pairs."""
    from scalding_spark.functions import web
    docs = _t(spark, sf_dir, "documents")
    u = docs.select("doc_id", _fake_url_col().alias("url"))
    return (u.select(web.host_of(F.col("url")).alias("host"),
                     web.registrable_domain(F.col("url")).alias("domain"))
            .groupBy("host", "domain")
            .agg(F.count(F.lit(1)).alias("n")))


def q_web_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """web.filter_blocklist (web.py): broadcast anti-join of the corpus
    against a domain blocklist on the registrable domain; unparseable URLs
    dropped (keep_unparseable=False default)."""
    from scalding_spark.functions import web
    docs = _t(spark, sf_dir, "documents")
    u = docs.select("doc_id", "source", _fake_url_col().alias("url"))
    bl = spark.createDataFrame(
        [("example.co.uk",), ("EXAMPLE.org",), ("unrelated.net",)],
        "domain string")
    kept = web.filter_blocklist(u, "url", bl)
    return kept.select("doc_id", "source")


def q_fp_store_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FingerprintStore (dedup.py): BUCKETED incremental dedup — three
    batches (doc_id % 3) flow through initialize → dedup → append rounds;
    the store side of every anti join arrives bucket-partitioned (only the
    batch exchanges — plan pinned in test_bucketed). Oracle: a doc in
    batch b survives iff its fingerprint is absent from all earlier
    batches. The synthetic corpus carries real cross-batch dups."""
    import tempfile

    from scalding_spark.functions.dedup import FingerprintStore
    docs = _t(spark, sf_dir, "documents")
    batches = [docs.where(F.col("doc_id") % 3 == b) for b in range(3)]
    # external-table path under tmp: the store files never land in the
    # driver's warehouse dir (only the catalog entry does)
    store = FingerprintStore(spark, "q_fp_store_tbl", n_buckets=4,
                             path=tempfile.mkdtemp(prefix="q_fp_store_"))
    spark.sql("DROP TABLE IF EXISTS q_fp_store_tbl")
    store.initialize(batches[0], "text")
    kept = []
    for b in (1, 2):
        k = store.dedup_new_batch(batches[b], "text")
        # materialize the kept set BEFORE appending its fingerprints —
        # appends would otherwise feed back into the lazy anti join
        k = k.select("doc_id", "source").localCheckpoint()
        store.append(docs.join(k.select("doc_id"), "doc_id"), "text")
        kept.append(k)
    return kept[0].unionByName(kept[1])


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_interval_join (streaming/__init__.py:72) exercised in its
    batch shape (same code path minus watermarks): clicks paired with
    errors up to 60 minutes before, per user — the streaming counterpart
    of joins.range_join, so the oracle is q_range_join's inequality
    join."""
    from scalding_spark import streaming as streaming_mod
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("err_ts"))
    j = streaming_mod.stream_interval_join(
        clicks, errors, on=["user_id"], left_ts="ts", right_ts="err_ts",
        min_delay="0 seconds", max_delay="60 minutes")
    return (j.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum(F.unix_micros(F.col("ts"))
                       - F.unix_micros(F.col("err_ts"))).alias("total_gap_us")))


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001 (driver smoke check)."""
    return q1_pricing_summary(spark, SF_SMOKE)


# Query registry: name -> query. The order here only breaks ties in
# window_order().
_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_hll_distinct": q_hll_distinct,
    "q_weighted_sample": q_weighted_sample,
    "q_mix_proportions": q_mix_proportions,
    "q_dedup_against": q_dedup_against,
    "q_pack_sequences": q_pack_sequences,
    "q_top_bigram_fraction": q_top_bigram_fraction,
    "q_gopher_quality": q_gopher_quality,
    "q_bm25_search": q_bm25_search,
    "q_semantic_dedup": q_semantic_dedup,
    "q_corpus_stats": q_corpus_stats,
    "q_collocations": q_collocations,
    "q_dedup_keep_best": q_dedup_keep_best,
    "q_cut_spans": q_cut_spans,
    "q_ntile_ranks": q_ntile_ranks,
    "q_ccnet_buckets": q_ccnet_buckets,
    "q_top_fraction": q_top_fraction,
    "q_corpus_kl": q_corpus_kl,
    "q_bloom_anti_join": q_bloom_anti_join,
    "q_dsir_weights": q_dsir_weights,
    "q_minhash_lsh_pairs": q_minhash_lsh_pairs,
    "q_simhash_pairs": q_simhash_pairs,
    "q_image_neardup": q_image_neardup,
    "q_neardup_against": q_neardup_against,
    "q_dedup_clusters": q_dedup_clusters,
    "q_audio_neardup": q_audio_neardup,
    "q_winnow_fingerprints": q_winnow_fingerprints,
    "q_winnow_overlap": q_winnow_overlap,
    "q_url_canonical": q_url_canonical,
    "q_calibration_bins": q_calibration_bins,
    "q_dedup_lines": q_dedup_lines,
    "q_char_entropy": q_char_entropy,
    "q_duplicate_line_fraction": q_duplicate_line_fraction,
    "q_temperature_mix": q_temperature_mix,
    "q_web_domains": q_web_domains,
    "q_web_blocklist": q_web_blocklist,
    "q_stream_interval_join": q_stream_interval_join,
    "q_fp_store_dedup": q_fp_store_dedup,
    "q_dup_line_chars": q_dup_line_chars,
    "q1_pricing_summary": q1_pricing_summary,
    "q_flatmap_wordcount": q_flatmap_wordcount,
    "q_project_filter_map": q_project_filter_map,
    "q_unpivot": q_unpivot,
    "q_pack_unpack": q_pack_unpack,
    "q_union_distinct": q_union_distinct,
    "q_intersect_except": q_intersect_except,
    "q_group_multi_agg": q_group_multi_agg,
    "q_group_stats": q_group_stats,
    "q_histogram": q_histogram,
    "q_histogram_summary": q_histogram_summary,
    "q_pivot": q_pivot,
    "q_normalize": q_normalize,
    "q_groupall": q_groupall,
    "q_fold_reduce": q_fold_reduce,
    "q_topk_per_group": q_topk_per_group,
    "q_scan_cumsum": q_scan_cumsum,
    "q_scan_running_max": q_scan_running_max,
    "q_block_join": q_block_join,
    "q_take_drop_while": q_take_drop_while,
    "q_rank_lag": q_rank_lag,
    "q_join_revenue_by_segment": q_join_revenue_by_segment,
    "q_broadcast_join": q_broadcast_join,
    "q_left_join_nulls": q_left_join_nulls,
    "q_semi_anti": q_semi_anti,
    "q_cross_tiny": q_cross_tiny,
    "q_salted_skew_join": q_salted_skew_join,
    "q_sampled_skew_join": q_sampled_skew_join,
    "q_cogroup": q_cogroup,
    "q_median_quartiles": q_median_quartiles,
    "q3_shipping_priority": q3_shipping_priority,
    "q4_order_priority_exists": q4_order_priority_exists,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q10_returned_items": q10_returned_items,
    "q11_important_parts": q11_important_parts,
    "q13_customer_distribution": q13_customer_distribution,
    "q14_promo_effect": q14_promo_effect,
    "q_threshold_sweep": q_threshold_sweep,
    "q_fuzzy_join": q_fuzzy_join,
    "q_train_quality": q_train_quality,
    "q_contamination_report": q_contamination_report,
    "q_corpus_diff": q_corpus_diff,
    "q_leakage_safe_split": q_leakage_safe_split,
    "q_semantic_dedup_auto": q_semantic_dedup_auto,
    "q_semantic_decontam": q_semantic_decontam,
    "q18_large_volume_customer": q18_large_volume_customer,
    "q22_idle_customers": q22_idle_customers,
    "q_mkstring": q_mkstring,
    "q_times_product": q_times_product,
    "q_head_last": q_head_last,
    "q_toset": q_toset,
    "q_maplist": q_maplist,
    "q_dot": q_dot,
    "q15_top_supplier": q15_top_supplier,
    "q16_supplier_part_count": q16_supplier_part_count,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q20_excess_suppliers": q20_excess_suppliers,
    "q21_waiting_suppliers": q21_waiting_suppliers,
    "q_matmul": q_matmul,
    "q_matrix_rownorm_topk": q_matrix_rownorm_topk,
    "q_matrix_elementwise": q_matrix_elementwise,
    "q_matrix_reductions": q_matrix_reductions,
    "q_matrix_col_normalize": q_matrix_col_normalize,
    "q_matrix_filter_ops": q_matrix_filter_ops,
    "q_matrix_zip": q_matrix_zip,
    "q_matrix_map_rows": q_matrix_map_rows,
    "q_vector_matrix_product": q_vector_matrix_product,
    "q_diag_inverse_trace": q_diag_inverse_trace,
    "q_combinations": q_combinations,
    "q_subset_sum": q_subset_sum,
    "q_pagerank": q_pagerank,
    "q_exact_dedup": q_exact_dedup,
    "q_ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "q_deterministic_sample": q_deterministic_sample,
    "q_train_split": q_train_split,
    "q_stratified_sample": q_stratified_sample,
    "q_text_quality": q_text_quality,
    "q_lang_id": q_lang_id,
    "q_fingerprint": q_fingerprint,
    "q_vocabulary": q_vocabulary,
    "q_tfidf_top_terms": q_tfidf_top_terms,
    "q_multimodal_features": q_multimodal_features,
    "q_cosine_topk": q_cosine_topk,
    "q_embedding_neardup_exact": q_embedding_neardup_exact,
    "q_events_daily": q_events_daily,
    "q_calibration_by_slice": q_calibration_by_slice,
    "q_sweep_by_slice": q_sweep_by_slice,
    "q_cohens_kappa": q_cohens_kappa,
    "q_pr_auc": q_pr_auc,
    "q_pr_auc_by_slice": q_pr_auc_by_slice,
    "q_auc_by_slice": q_auc_by_slice,
    "q_quality_auc": q_quality_auc,
    "q_cc_star": q_cc_star,
    "q_matrix_scalar_pipe": q_matrix_scalar_pipe,
    "q_events_rollup": q_events_rollup,
    "q_session_window": q_session_window,
    "q_sessionize": q_sessionize,
    "q_asof_join": q_asof_join,
    "q_range_join": q_range_join,
    "q_cube_agg": q_cube_agg,
    "q_substring_spans": q_substring_spans,
    "q_unigram_lm": q_unigram_lm,
    "q_linear_quality": q_linear_quality,
    "q_global_rank_scan": q_global_rank_scan,
    "q_bigram_lm": q_bigram_lm,
    "q_kmeans": q_kmeans,
    "q_map_stream": q_map_stream,
    "q_chunk_documents": q_chunk_documents,
    "q_topk_window": q_topk_window,
    "q_rank_by_value": q_rank_by_value,
    "q_decontaminate": q_decontaminate,
    "q_pack_shards": q_pack_shards,
    "q_domain_cap": q_domain_cap,
    "q12_priority_by_flag": q12_priority_by_flag,
    "q_pii_redact": q_pii_redact,
    "q_top_word_fraction": q_top_word_fraction,
    "q_cosine_topk_lsh": q_cosine_topk_lsh,
    "q_cosine_topk_ivf": q_cosine_topk_ivf,
    "q_embedding_neardup": q_embedding_neardup,
}

# Queries whose operator changed since their last driver row: they lead the
# window ahead of the rotation. Reset when the driver has re-checked them.
REVERIFY = ("q_cc_star", "q_dedup_clusters", "q_dedup_keep_best",
            "q_semantic_decontam", "q_semantic_dedup")

_HERE = os.path.dirname(os.path.abspath(__file__))


def _last_checked(root: str) -> dict[str, int]:
    """query -> newest round N whose ``root/CORRECTNESS_rN.json`` has a row
    for it; never-checked queries are absent."""
    last: dict[str, int] = {}
    for fn in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(fn)[len("CORRECTNESS_r"):-len(".json")])
        with open(fn) as fh:
            for name in json.load(fh):
                last[name] = max(last.get(name, 0), rnd)
    return last


def window_order(names, root: str = _HERE) -> list[str]:
    """Rotation order for the driver, which checks the first 50 entries of
    ``queries()`` each round: ``REVERIFY`` first, then never-checked
    queries, then the stalest. Ties keep the order of ``names``."""
    last = _last_checked(root)
    rest = sorted((n for n in names if n not in REVERIFY),
                  key=lambda n: last.get(n, -1))
    return [*REVERIFY, *rest]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: _QUERIES[n] for n in window_order(_QUERIES)}


def retired_probes() -> dict[str, tuple]:
    """The r03 driver-side diagnostic probes, retired from the rotation
    (VERDICT r05 #5) now that their diagnoses are closed: the HUGEINT
    client-conversion mechanism was confirmed in r03/r04 and every oracle
    is portable-typed since r05 (tests/test_oracle_types.py), and the q12
    filter decomposition closed two rounds ago. Each maps
    name -> (query callable, DuckDB oracle SQL); tests/test_probes.py
    keeps them parity-pinned so they never silently rot, without spending
    driver-window slots on closed diagnostics."""
    return {
        "q_probe_hugeint": (q_probe_hugeint, """
            SELECT l_returnflag, CAST(sum(1) AS BIGINT) AS s
            FROM lineitem GROUP BY l_returnflag
        """),
        "q_probe_event_micros": (q_probe_event_micros, """
            SELECT event_type, count(*) AS n,
                   min(epoch_us(CAST(ts AS TIMESTAMP))) AS min_us,
                   max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us
            FROM events GROUP BY event_type
        """),
        "q_probe_q12_filter": (q_probe_q12_filter, """
            SELECT
                (SELECT count(*) FROM lineitem JOIN orders
                    ON l_orderkey = o_orderkey
                  WHERE l_returnflag IN ('A', 'R')
                    AND CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
                    AND CAST(l_shipdate AS DATE) < DATE '1996-01-01') AS n_join,
                (SELECT count(*) FROM lineitem
                  WHERE l_returnflag IN ('A', 'R')) AS n_flag,
                (SELECT count(*) FROM lineitem
                  WHERE l_returnflag IN ('A', 'R')
                    AND CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
                    AND CAST(l_shipdate AS DATE) < DATE '1996-01-01') AS n_date,
                (SELECT count(*) FROM lineitem
                  WHERE l_returnflag IN ('A', 'R')
                    AND l_shipdate >= TIMESTAMP '1995-01-01'
                    AND l_shipdate < TIMESTAMP '1996-01-01') AS n_ts
        """),
    }


# DuckDB-side shared SQL fragments -----------------------------------------

_TOKENS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
_NORM_TEXT = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"

# shared winnowing CTE chain (k=5, w=4): gram hashes → window starts →
# rightmost-argmin per window → distinct selections
_WINNOW_SEL = f"""
    WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
    g AS (SELECT doc_id, i - 1 AS pos,
                 ('0x' || substr(md5(array_to_string(t[i:i+4], ' ')),
                                 1, 8))::BIGINT AS h
          FROM toks,
               unnest(generate_series(1, len(t) - 4)) AS u(i)
          WHERE len(t) >= 5),
    L AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
    wins AS (SELECT l.doc_id, u.j
             FROM L l,
                  unnest(generate_series(1, greatest(l.n - 3, 1))) AS u(j)),
    pick AS (SELECT w.doc_id, g.pos, g.h,
                    row_number() OVER (PARTITION BY w.doc_id, w.j
                        ORDER BY g.h, g.pos DESC) AS rk
             FROM wins w JOIN g ON g.doc_id = w.doc_id
                  AND g.pos >= w.j - 1 AND g.pos <= w.j + 2),
    sel AS (SELECT DISTINCT doc_id, pos, h FROM pick WHERE rk = 1)
"""
_SHINGLES = (
    "CASE WHEN len(toks) >= 3 THEN "
    " list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) "
    "WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] "
    "ELSE [] END"
)


def _lang_sql() -> str:
    from scalding_spark.functions.text import STOPWORDS
    score_cols = []
    for lang in sorted(STOPWORDS):
        words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        score_cols.append(
            f"len(list_distinct(list_filter(toks, x -> list_contains([{words}], x)))) AS s_{lang}")
    scores = ", ".join(score_cols)
    langs = sorted(STOPWORDS)
    g = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    pick = "CASE WHEN " + g + " <= 0 THEN 'und' " + " ".join(
        f"WHEN s_{lang} = {g} THEN '{lang}'" for lang in langs) + " END"
    return f"""
        WITH t AS (SELECT {_TOKENS} AS toks FROM documents),
        s AS (SELECT {scores} FROM t)
        SELECT {pick} AS lang, count(*) AS n_docs FROM s GROUP BY 1
    """


def _linear_quality_sql() -> str:
    """Mirror of tx.linear_quality_score: same weights (module constants →
    repr'd literals, so both engines multiply the SAME IEEE doubles) and the
    same ADDITION ORDER (sorted feature names) — float addition isn't
    associative, so the oracle must accumulate z identically."""
    from scalding_spark.functions.text import (
        QUALITY_MODEL_BIAS, QUALITY_MODEL_WEIGHTS, STOPWORDS)
    stops = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    w = QUALITY_MODEL_WEIGHTS
    terms = " + ".join(
        f"({w[name]!r}) * {name}" for name in sorted(w))
    return f"""
        WITH f AS (
            SELECT doc_id,
                   ln(1.0 + len({_TOKENS})) AS log_n_tok,
                   CASE WHEN len(text) > 0 THEN
                       len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))::DOUBLE
                           / len(text)
                   ELSE 0.0 END AS punct_ratio,
                   CASE WHEN len({_TOKENS}) > 0 THEN
                       len(list_filter({_TOKENS}, x -> list_contains([{stops}], x)))
                           / len({_TOKENS})
                   ELSE 0.0 END AS stop_ratio,
                   CASE WHEN len({_TOKENS}) > 0 THEN
                       list_sum(list_transform({_TOKENS}, x -> len(x)))
                           / len({_TOKENS})
                   ELSE 0.0 END AS mean_word_len
            FROM documents),
        z AS (SELECT doc_id, ({QUALITY_MODEL_BIAS!r}) + {terms} AS z FROM f)
        SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS quality
        FROM z ORDER BY 1.0 / (1.0 + exp(-z)) DESC, doc_id LIMIT 50
    """


def _pagerank_sql(iters: int = 5, alpha: float = 0.85) -> str:
    """Fixed-iteration PageRank unrolled as chained CTEs (recursive CTEs
    can't aggregate over the recursive term). Constants are embedded with
    Python repr so both engines divide the SAME IEEE doubles."""
    teleport = repr(1 - alpha)  # 1-0.85 is 0.15000000000000002 in IEEE
    ctes = [
        """edges AS (
            SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey)""",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM nodes)",
        "deg AS (SELECT src, sum(1.0) AS deg FROM edges GROUP BY src)",
        """trans AS (SELECT dst AS row, src AS col, 1.0 / deg AS val
                     FROM edges JOIN deg USING (src))""",
        "r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)",
    ]
    for i in range(iters):
        ctes.append(f"""r{i + 1} AS (
            SELECT n.node,
                   {teleport} / (SELECT n FROM nn)
                   + {alpha!r} * coalesce(c.s, 0.0) AS rank
            FROM nodes n LEFT JOIN (
                SELECT t.row AS node, sum(t.val * r.rank) AS s
                FROM trans t JOIN r{i} r ON t.col = r.node
                GROUP BY t.row) c ON n.node = c.node)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, round(rank, 8) AS rank FROM r{iters}")


def _pii_sql() -> str:
    """Same injection + redaction cascade as q_pii_redact, with the regex
    literals taken from the SAME constants the Spark side uses."""
    from scalding_spark.functions.text import (PII_EMAIL_RE, PII_IPV4_RE,
                                               PII_PHONE_RE)
    e, i, p = PII_EMAIL_RE, PII_IPV4_RE, PII_PHONE_RE
    return f"""
        WITH inj AS (
            SELECT source,
                   text || ' contact user' || doc_id || '@mail.example.com at 10.0.' ||
                   (doc_id % 256) || '.7 or +1 (555) 010-' || (1000 + doc_id % 9000) AS text
            FROM documents),
        s1 AS (SELECT source, len(regexp_extract_all(text, '{e}')) AS emails,
                      regexp_replace(text, '{e}', '<EMAIL>', 'g') AS t FROM inj),
        s2 AS (SELECT source, emails, len(regexp_extract_all(t, '{i}')) AS ips,
                      regexp_replace(t, '{i}', '<IP>', 'g') AS t FROM s1),
        s3 AS (SELECT source, emails, ips, len(regexp_extract_all(t, '{p}')) AS phones,
                      regexp_replace(t, '{p}', '<PHONE>', 'g') AS t FROM s2)
        SELECT source,
               CAST(sum(emails) AS BIGINT) AS n_emails,
               CAST(sum(ips) AS BIGINT) AS n_ips,
               CAST(sum(phones) AS BIGINT) AS n_phones,
               CAST(sum(len(t)) AS BIGINT) AS total_redacted_len
        FROM s3 GROUP BY source
    """


def py_oracle() -> dict[str, Callable]:
    """Python-reference oracles for the 8 queries DuckDB SQL cannot express
    (seeded xxhash64, random hyperplanes, iterative float centroids —
    VERDICT r04 #4). Each entry is ``check(sf_dir, rows, cols) -> error |
    None`` run by scripts/driver_check.py against the Spark result; the
    goldens in py_reference.py recompute the same deterministic arithmetic
    (Spark-compatible XXH64, same seeds, same left-to-right double
    accumulation) without Spark. q_hll_distinct is the one accuracy-bound
    check (estimate within 5×rsd of exact) — HLL++ internals are not
    mirrored."""
    import py_reference as pr
    return {
        "q_minhash_lsh_pairs": pr.golden_checker(pr.golden_minhash_lsh_pairs),
        "q_neardup_against": pr.golden_checker(pr.golden_neardup_against),
        "q_simhash_pairs": pr.golden_checker(pr.golden_simhash_pairs),
        "q_cosine_topk_lsh": pr.golden_checker(pr.golden_cosine_topk_lsh),
        "q_cosine_topk_ivf": pr.golden_checker(pr.golden_cosine_topk_ivf),
        "q_embedding_neardup": pr.golden_checker(pr.golden_embedding_neardup),
        "q_kmeans": pr.golden_checker(pr.golden_kmeans),
        "q_semantic_dedup": pr.golden_checker(pr.golden_semantic_dedup),
        "q_semantic_dedup_auto": pr.golden_checker(
            pr.golden_semantic_dedup_auto),
        "q_semantic_decontam": pr.golden_checker(
            pr.golden_semantic_decontam),
        "q_hll_distinct": pr.check_hll_distinct,
        # r10: image near-dup tier — the PNM parse, integer-luminance
        # grid, dHash bits, and banding are all-integer, so the mirror
        # is exact by construction (no SQL: binary image decode)
        "q_image_neardup": pr.golden_checker(pr.golden_image_neardup),
        # r11: audio near-dup tier — stdlib-wave integer PCM, exact
        # integer window energies, same banding (no SQL: binary WAV
        # decode)
        "q_audio_neardup": pr.golden_checker(pr.golden_audio_neardup),
    }


def oracle_sql() -> dict[str, str]:
    return {
        # (the r03 diagnostic probes moved to retired_probes() in r06 —
        #  VERDICT r05 #5; parity-pinned by tests/test_probes.py)
        # -- r05: formerly tests-only operators (VERDICT r04 #5) --
        "q_dedup_lines": """
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS parts
                       FROM documents WHERE doc_id < 300),
            e AS (SELECT doc_id, i AS pos, parts[i] AS w
                  FROM t, unnest(generate_series(1, len(parts))) AS u(i)),
            r AS (SELECT doc_id, pos, w,
                         row_number() OVER (PARTITION BY doc_id, md5(w)
                                            ORDER BY pos) AS rk
                  FROM e),
            rebuilt AS (SELECT doc_id,
                               string_agg(w, ' ' ORDER BY pos) AS dedup_text
                        FROM r WHERE rk = 1 GROUP BY doc_id)
            -- 1:1 with the input ids (the operator's contract): a NULL-text
            -- doc has no lines to explode, but still comes back ('' text)
            SELECT d.doc_id, coalesce(rebuilt.dedup_text, '') AS dedup_text
            FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
            LEFT JOIN rebuilt USING (doc_id)
        """,
        "q_char_entropy": """
            WITH c AS (SELECT doc_id,
                              [text[i] for i in generate_series(1, len(text))]
                                  AS chars
                       FROM documents WHERE doc_id < 200)
            SELECT doc_id,
                   round(coalesce(-list_sum(
                       [ (len(list_filter(chars, x -> x = ch)) / len(chars))
                         * log2(len(list_filter(chars, x -> x = ch))
                                / len(chars))
                         for ch in list_distinct(chars)]), 0.0), 6) + 0.0
                       AS entropy  -- + 0.0: canonicalize IEEE -0.0
            FROM c
        """,
        "q_duplicate_line_fraction": """
            WITH s AS (SELECT source,
                              list_filter(list_transform(
                                  string_split_regex(text, ' '),
                                  x -> trim(regexp_replace(lower(x),
                                            '[^a-z0-9]+', ' ', 'g'))),
                                  x -> x <> '') AS segs
                       FROM documents),
            f AS (SELECT source,
                         CASE WHEN len(segs) > 1
                              THEN (len(segs) - len(list_distinct(segs)))
                                   / len(segs)
                              ELSE 0.0 END AS f
                  FROM s)
            SELECT source, round(avg(f), 6) AS avg_dup_fraction
            FROM f GROUP BY source
        """,
        "q_dup_line_chars": """
            WITH s AS (SELECT source,
                              list_filter(list_transform(
                                  string_split_regex(text, ' '),
                                  x -> trim(regexp_replace(lower(x),
                                            '[^a-z0-9]+', ' ', 'g'))),
                                  x -> x <> '') AS segs
                       FROM documents),
            f AS (SELECT source,
                         CASE WHEN len(segs) > 1 AND
                                   list_sum(list_transform(segs,
                                            x -> len(x))) > 0
                              THEN list_sum(list_transform(
                                       list_distinct(segs),
                                       d -> (len(list_filter(segs,
                                                 x -> x = d)) - 1) * len(d)))
                                   / CAST(list_sum(list_transform(segs,
                                          x -> len(x))) AS DOUBLE)
                              ELSE 0.0 END AS f
                  FROM s)
            SELECT source, round(avg(f), 6) AS avg_dup_char_fraction
            FROM f GROUP BY source
        """,
        "q_temperature_mix": _temperature_mix_sql(),
        # canonicalize_url mirror: every rule verbatim (RE2-portable; \\1
        # backrefs; regexp_extract returns '' on no match on both engines)
        "q_contamination_report": f"""
            WITH d AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
            g AS (SELECT doc_id,
                  CASE WHEN len(toks) >= 8 THEN list_distinct(
                           [array_to_string(toks[i:i+7], ' ')
                            for i in range(1, len(toks) - 6)])
                       WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                       ELSE [] END AS shs
                  FROM d),
            e AS (SELECT doc_id, unnest(shs) AS sh FROM g),
            bsh AS (SELECT DISTINCT doc_id AS bench_id, sh FROM e
                    WHERE doc_id % 97 = 0),
            hits AS (SELECT bench_id,
                            count(DISTINCT e.doc_id) AS n_corpus_docs,
                            count(DISTINCT bsh.sh) AS n_shared_ngrams
                     FROM bsh JOIN e ON e.sh = bsh.sh
                     GROUP BY bench_id)
            SELECT b.bench_id,
                   coalesce(n_corpus_docs, 0)::BIGINT AS n_corpus_docs,
                   coalesce(n_shared_ngrams, 0)::BIGINT AS n_shared_ngrams
            FROM (SELECT DISTINCT doc_id AS bench_id FROM documents
                  WHERE doc_id % 97 = 0) b
            LEFT JOIN hits ON b.bench_id = hits.bench_id
            ORDER BY b.bench_id
        """,
        "q_corpus_diff": f"""
            WITH o AS (SELECT doc_id, md5({_NORM_TEXT}) AS fp, true AS pres
                       FROM documents),
            surv AS (SELECT doc_id,
                            CASE WHEN doc_id % 7 = 0
                                 THEN concat_ws(' ', text, 'v2')
                                 ELSE text END AS text
                     FROM documents WHERE doc_id % 11 <> 3),
            newt AS (SELECT doc_id, text FROM surv
                     UNION ALL
                     SELECT doc_id + 1000000 AS doc_id, text
                     FROM documents WHERE doc_id % 13 = 1),
            n AS (SELECT doc_id, md5({_NORM_TEXT}) AS fp, true AS pres
                  FROM newt),
            j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                         CASE WHEN o.pres IS NULL THEN 'added'
                              WHEN n.pres IS NULL THEN 'removed'
                              WHEN o.fp IS NOT DISTINCT FROM n.fp
                                   THEN 'unchanged'
                              ELSE 'changed' END AS status
                  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
            SELECT status, count(*) AS n, min(doc_id) AS min_key,
                   max(doc_id) AS max_key
            FROM j GROUP BY status ORDER BY status
        """,
        "q_leakage_safe_split": """
            WITH lab AS (
                SELECT doc_id,
                       min(doc_id) OVER (PARTITION BY md5(text)) AS cluster_id
                FROM documents),
            s AS (
                SELECT doc_id, cluster_id,
                       CASE WHEN ('0x' || substr(md5(cluster_id::VARCHAR), 1, 8))::BIGINT
                                 < 3865470566 THEN 'train'
                            WHEN ('0x' || substr(md5(cluster_id::VARCHAR), 1, 8))::BIGINT
                                 < 4080218931 THEN 'val'
                            ELSE 'test' END AS split
                FROM lab),
            g AS (SELECT split, cluster_id, count(*) AS n FROM s GROUP BY 1, 2),
            ns AS (SELECT cluster_id, count(*) AS n_splits FROM g GROUP BY 1)
            SELECT split, sum(n)::BIGINT AS n_docs,
                   count(*)::BIGINT AS n_clusters,
                   sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END)::BIGINT
                       AS n_straddling
            FROM g JOIN ns USING (cluster_id)
            GROUP BY split ORDER BY split
        """,
        "q_url_canonical": f"""
            WITH u AS (SELECT doc_id, {_FAKE_MESSY_URL_SQL} AS url
                       FROM documents WHERE doc_id < 400),
            c0 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS uu
                   FROM u),
            c1 AS (SELECT doc_id,
                          regexp_extract(uu, '^([^?]*)', 1) AS base,
                          regexp_extract(uu, '^[^?]*\\?(.*)$', 1) AS query
                   FROM c0),
            c2 AS (SELECT *,
                          regexp_extract(base,
                              '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)', 1) AS auth,
                          regexp_extract(base,
                              '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*(.*)$', 1) AS path
                   FROM c1),
            c3 AS (SELECT *,
                          regexp_replace(regexp_replace(lower(auth),
                              '^(http://[^/:]+):80$', '\\1'),
                              '^(https://[^/:]+):443$', '\\1') AS a,
                          CASE WHEN path = '/' THEN '' ELSE path END AS p,
                          -- coalesce: DuckDB's array_to_string over an
                          -- EMPTY list is NULL (Spark's array_join is '')
                          coalesce(array_to_string(
                              list_filter(string_split(query, '&'),
                              x -> x <> '' AND NOT regexp_matches(x,
                                  '^(utm_[a-zA-Z0-9_]*|gclid|fbclid|msclkid|mc_eid|igshid|spm|ref_src)=')),
                              '&'), '') AS q
                   FROM c2)
            SELECT doc_id,
                   CASE WHEN auth <> '' THEN a || p ||
                        CASE WHEN q = '' THEN '' ELSE '?' || q END
                   END AS canonical
            FROM c3
        """,
        "q_web_domains": f"""
            WITH u AS (SELECT doc_id, {_FAKE_URL_SQL} AS url FROM documents),
            {_WEB_DOMAIN_SQL}
            SELECT host, domain, count(*) AS n
            FROM h3 GROUP BY host, domain
        """,
        "q_web_blocklist": f"""
            WITH u AS (SELECT doc_id, source, {_FAKE_URL_SQL} AS url
                       FROM documents),
            {_WEB_DOMAIN_SQL}
            SELECT doc_id, source FROM h3
            WHERE domain IS NOT NULL
              AND domain NOT IN ('example.co.uk', 'example.org',
                                 'unrelated.net')
        """,
        "q_fp_store_dedup": f"""
            WITH n AS (SELECT doc_id, source, doc_id % 3 AS b,
                              md5({_NORM_TEXT}) AS fp
                       FROM documents)
            SELECT doc_id, source FROM n x
            WHERE b > 0 AND NOT EXISTS (
                SELECT 1 FROM n y WHERE y.b < x.b AND y.fp = x.fp)
        """,
        "q_stream_interval_join": """
            WITH clicks AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
                            FROM events WHERE event_type = 'click'),
            errs AS (SELECT user_id AS e_user, CAST(ts AS TIMESTAMP) AS err_ts
                     FROM events WHERE event_type = 'error'),
            j AS (SELECT user_id, ts, err_ts FROM clicks JOIN errs
                  ON user_id = e_user AND ts >= err_ts
                     AND ts <= err_ts + INTERVAL 60 MINUTE)
            SELECT user_id, count(*) AS n_pairs,
                   CAST(sum(epoch_us(ts) - epoch_us(err_ts)) AS BIGINT)
                       AS total_gap_us
            FROM j GROUP BY user_id
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   ((2*sum(CAST(round((l_quantity) * 10000) AS BIGINT)) + 100) // 200) / 100.0 AS sum_qty,
                   ((2*sum(CAST(round((l_extendedprice) * 10000) AS BIGINT)) + 100) // 200) / 100.0 AS sum_base_price,
                   ((2*sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) + 100) // 200) / 100.0 AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q_project_filter_map": """
            SELECT l_orderkey, l_linenumber, l_quantity,
                   l_extendedprice * (1 - l_discount) AS revenue
            FROM lineitem WHERE l_quantity > 45
        """,
        "q_flatmap_wordcount": f"""
            SELECT word, count(*) AS n FROM (
                SELECT unnest({_TOKENS}) AS word FROM documents
            ) GROUP BY word HAVING count(*) >= 10
        """,
        "q_unpivot": """
            SELECT p_partkey, 'p_size_d' AS feature, p_size::DOUBLE AS value FROM part
            UNION ALL
            SELECT p_partkey, 'p_retail_d' AS feature, p_retailprice AS value FROM part
        """,
        "q_pack_unpack": """
            SELECT c_custkey, c_nationkey, round(c_acctbal * 2, 2) AS dbl_bal FROM customer
        """,
        "q_union_distinct": """
            SELECT DISTINCT nationkey FROM (
                SELECT c_nationkey AS nationkey FROM customer
                UNION ALL SELECT s_nationkey FROM supplier)
        """,
        "q_intersect_except": """
            SELECT k, 'both' AS tag FROM (
                SELECT c_custkey AS k FROM customer
                INTERSECT SELECT DISTINCT o_custkey FROM orders)
            UNION ALL
            SELECT k, 'no_orders' AS tag FROM (
                SELECT c_custkey AS k FROM customer
                EXCEPT ALL SELECT DISTINCT o_custkey FROM orders)
        """,
        "q_group_multi_agg": """
            SELECT l_returnflag, count(*) AS n_rows,
                   max(l_extendedprice) AS max_price,
                   min(l_extendedprice) AS min_price,
                   sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)::BIGINT AS n_discounted,
                   min(l_quantity > 0) AS all_positive,
                   count(DISTINCT l_orderkey) AS n_orders
            FROM lineitem GROUP BY l_returnflag
        """,
        "q_group_stats": """
            SELECT l_suppkey, count(*) AS size,
                   ((2*sum(CAST(round(l_extendedprice * 100) AS BIGINT))*100
                     + count(*)) // (2*count(*))) / 10000.0 AS mean,
                   round(stddev_pop(l_extendedprice), 4) AS stdev
            FROM lineitem GROUP BY l_suppkey
        """,
        "q_mkstring": """
            SELECT n_regionkey,
                   string_agg(n_name, '|' ORDER BY n_name) AS names,
                   count(*) AS n_nations
            FROM nation GROUP BY n_regionkey
        """,
        "q_histogram": """
            SELECT l_returnflag, floor(l_quantity / 5.0) * 5.0 AS bin, count(*) AS n
            FROM lineitem GROUP BY 1, 2
        """,
        "q_times_product": """
            SELECT l_orderkey,
                   round(list_reduce(list_prepend(1.0::DOUBLE,
                         list(1 - l_discount ORDER BY 1 - l_discount)),
                         (acc, x) -> acc * x), 6) AS keep_product
            FROM lineitem GROUP BY l_orderkey
        """,
        "q_head_last": """
            SELECT l_suppkey, l_orderkey, l_linenumber FROM lineitem
            QUALIFY row_number() OVER (PARTITION BY l_suppkey
                ORDER BY l_shipdate, l_orderkey, l_linenumber) = 1
        """,
        "q_toset": """
            SELECT o_orderstatus,
                   array_to_string(list_sort(list(DISTINCT o_orderpriority)), '|') AS prios
            FROM orders GROUP BY o_orderstatus
        """,
        "q_histogram_summary": """
            WITH bins AS (
                SELECT l_returnflag AS k, floor(l_quantity / 5.0) * 5.0 AS bin,
                       count(*) AS n
                FROM lineitem GROUP BY 1, 2),
            c AS (
                SELECT k, bin, n,
                       sum(n) OVER (PARTITION BY k ORDER BY bin
                                    ROWS UNBOUNDED PRECEDING) AS cum,
                       sum(n) OVER (PARTITION BY k) AS tot
                FROM bins)
            SELECT k AS l_returnflag,
                   min(bin) AS hmin, max(bin) AS hmax,
                   round(sum(bin * n) / any_value(tot), 6) AS mean,
                   round(sqrt(sum(bin * bin * n) / any_value(tot)
                              - pow(sum(bin * n) / any_value(tot), 2)), 6) AS std_dev,
                   min(CASE WHEN cum >= 0.25 * tot THEN bin END) AS q1,
                   min(CASE WHEN cum >= 0.50 * tot THEN bin END) AS median,
                   min(CASE WHEN cum >= 0.75 * tot THEN bin END) AS q3,
                   min(CASE WHEN cum >= 0.75 * tot THEN bin END)
                     - min(CASE WHEN cum >= 0.25 * tot THEN bin END) AS iqr
            FROM c GROUP BY k
        """,
        "q_maplist": """
            SELECT l_suppkey,
                   round((max(l_quantity) + min(l_quantity)) / 2, 2) AS mid_range
            FROM lineitem GROUP BY l_suppkey
        """,
        "q_block_join": """
            SELECT c_mktsegment, count(*) AS n, round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100.0, 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "q_pivot": """
            SELECT l_returnflag,
                   round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F",
                   round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O"
            FROM lineitem GROUP BY l_returnflag
        """,
        "q_normalize": """
            SELECT l_returnflag,
                   round(rev / sum(rev) OVER (), 6) AS share
            FROM (SELECT l_returnflag, sum(l_extendedprice) AS rev
                  FROM lineitem GROUP BY l_returnflag)
        """,
        "q_dot": """
            SELECT l_returnflag, round(sum(l_extendedprice * l_discount), 2) AS dot
            FROM lineitem GROUP BY l_returnflag
        """,
        "q_groupall": """
            SELECT count(*) AS n, count(DISTINCT l_partkey) AS n_parts,
                   ((2*sum(CAST(round((l_quantity) * 10000) AS BIGINT)) + 100) // 200) / 100.0 AS total_qty
            FROM lineitem
        """,
        "q_fold_reduce": """
            SELECT l_suppkey,
                   list_reduce(list_prepend(0.0::DOUBLE,
                         list(l_quantity ORDER BY l_quantity)),
                         (acc, x) -> acc * 0.5 + x) AS folded
            FROM lineitem GROUP BY l_suppkey
        """,
        "q_topk_per_group": """
            SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
            FROM lineitem
            QUALIFY row_number() OVER (PARTITION BY l_returnflag
                ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) <= 3
        """,
        "q_topk_window": """
            SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
            FROM lineitem
            QUALIFY row_number() OVER (PARTITION BY l_returnflag
                ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) <= 3
        """,
        "q_scan_cumsum": """
            SELECT o_custkey, o_orderkey,
                   round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS UNBOUNDED PRECEDING), 2) AS running_total
            FROM orders
        """,
        "q_scan_running_max": """
            SELECT o_custkey, o_orderkey,
                   round(max(o_totalprice) OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS UNBOUNDED PRECEDING), 2) AS running_max
            FROM orders
        """,
        "q_take_drop_while": """
            SELECT o_custkey, o_orderkey, o_totalprice FROM orders
            QUALIFY max(CASE WHEN o_totalprice < 300000 THEN 0 ELSE 1 END)
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS UNBOUNDED PRECEDING) = 0
        """,
        "q_rank_lag": """
            SELECT o_custkey, o_orderkey, order_seq,
                   round(coalesce(prev_price, -1.0), 2) AS prev_price
            FROM (
                SELECT o_custkey, o_orderkey,
                       row_number() OVER w AS order_seq,
                       lag(o_totalprice) OVER w AS prev_price
                FROM orders
                WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
            ) WHERE order_seq <= 2
        """,
        "q_join_revenue_by_segment": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100.0, 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "q_broadcast_join": """
            SELECT r_name, count(*) AS n_customers
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "q_left_join_nulls": """
            SELECT c_nationkey,
                   sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_without_orders,
                   count(DISTINCT c_custkey) AS n_customers
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_nationkey
        """,
        "q_semi_anti": """
            SELECT c_custkey, 'active' AS tag FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
            UNION ALL
            SELECT c_custkey, 'inactive' AS tag FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "q_cross_tiny": """
            SELECT a.r_name AS r1, b.r_name AS r2
            FROM region a CROSS JOIN region b WHERE a.r_name < b.r_name
        """,
        "q_salted_skew_join": """
            SELECT c_nationkey, count(*) AS n, round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100.0, 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_nationkey
        """,
        "q_sampled_skew_join": """
            SELECT p_size, count(*) AS n, round(sum(l_quantity), 2) AS qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_size
        """,
        "q_cogroup": """
            SELECT coalesce(c.k, o.k) AS custkey,
                   coalesce(c.n, 0)::BIGINT AS n_cust,
                   coalesce(o.n, 0)::BIGINT AS n_orders,
                   coalesce(o.total, 0.0) AS total
            FROM (SELECT c_custkey AS k, count(*) AS n FROM customer GROUP BY 1) c
            FULL OUTER JOIN (SELECT o_custkey AS k, count(*) AS n,
                                    round(sum(o_totalprice), 2) AS total
                             FROM orders GROUP BY 1) o
            ON c.k = o.k
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey, o_orderdate::DATE AS o_orderdate, o_orderpriority,
                   ((2*sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) + 100) // 200) / 100.0 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-03-15'
              AND l_shipdate > TIMESTAMP '1998-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY ((2*sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) + 100) // 200) / 100.0 DESC, l_orderkey
            LIMIT 10
        """,
        "q5_local_supplier_volume": """
            SELECT n_name, ((2*sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) + 100) // 200) / 100.0 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY n_name
        """,
        "q18_large_volume_customer": """
            WITH big AS (
                SELECT l_orderkey FROM lineitem
                GROUP BY l_orderkey HAVING sum(l_quantity) > 150
            )
            SELECT c_custkey, o_orderkey, o_orderdate::DATE AS o_orderdate,
                   round(o_totalprice, 2) AS o_totalprice,
                   ((2*sum(CAST(round((l_quantity) * 10000) AS BIGINT)) + 100) // 200) / 100.0 AS total_qty
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE o_orderkey IN (SELECT l_orderkey FROM big)
            GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
            ORDER BY orders.o_totalprice DESC, o_orderkey
            LIMIT 20
        """,
        "q4_order_priority_exists": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_quantity > 49)
            GROUP BY o_orderpriority
        """,
        "q11_important_parts": """
            WITH pp AS (
                SELECT l_partkey,
                       sum(CAST(round((l_extendedprice * l_quantity) * 10000) AS BIGINT)) / 10000.0
                           AS part_value
                FROM lineitem GROUP BY l_partkey),
            tot AS (
                SELECT (sum(CAST(round((l_extendedprice * l_quantity) * 10000) AS BIGINT)) / 10000.0)
                       * 1.2 / count(DISTINCT l_partkey) AS threshold
                FROM lineitem)
            SELECT l_partkey, round(part_value, 2) AS part_value
            FROM pp CROSS JOIN tot WHERE part_value > threshold
        """,
        "q22_idle_customers": """
            WITH avg_bal AS (
                SELECT (sum(CAST(round((c_acctbal) * 100) AS BIGINT)) / 100.0)
                       / count(*) AS avg_bal
                FROM customer WHERE c_acctbal > 0.0),
            rich AS (
                SELECT c_custkey, c_mktsegment, c_acctbal
                FROM customer CROSS JOIN avg_bal WHERE c_acctbal > avg_bal)
            SELECT c_mktsegment, count(*) AS n_cust,
                   round(sum(CAST(round((c_acctbal) * 100) AS BIGINT)) / 100.0, 2)
                       AS total_bal
            FROM rich
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_totalprice > 300000)
            GROUP BY c_mktsegment
        """,
        "q_median_quartiles": """
            SELECT l_returnflag,
                   quantile_cont(l_quantity, 0.5) AS med_qty,
                   quantile_cont(l_extendedprice, 0.25) AS price_q1,
                   quantile_cont(l_extendedprice, 0.75) AS price_q3
            FROM lineitem GROUP BY l_returnflag
        """,
        "q6_forecast_revenue": """
            SELECT ((2*sum(CAST(round((l_extendedprice * l_discount) * 10000) AS BIGINT)) + 100) // 200) / 100.0 AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "q7_volume_shipping": """
            SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
                   year(l_shipdate) AS l_year,
                   ((2*sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) + 100) // 200) / 100.0 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE (n2.n_name = 'NATION_1' AND n1.n_name = 'NATION_2')
               OR (n2.n_name = 'NATION_2' AND n1.n_name = 'NATION_1')
            GROUP BY supp_nation, cust_nation, l_year
        """,
        "q8_market_share": """
            SELECT year(o_orderdate) AS o_year,
                   round(
                     (sum(CAST(round((CASE WHEN n2.n_name = 'NATION_5'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END) * 10000) AS BIGINT)) / 10000.0)
                     / (sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) / 10000.0),
                   6) AS mkt_share
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE p_type = 'PROMO' AND r_name = 'ASIA'
            GROUP BY o_year
        """,
        "q9_product_profit": """
            SELECT n_name AS nation, year(o_orderdate) AS o_year,
                   (CASE WHEN sum(CAST(round((l_extendedprice * (1 - l_discount)
                                         - 0.5 * p_retailprice * l_quantity) * 1000000) AS BIGINT)) < 0
                         THEN -((2*(-(sum(CAST(round((l_extendedprice * (1 - l_discount)
                                         - 0.5 * p_retailprice * l_quantity) * 1000000) AS BIGINT)))) + 10000) // 20000)
                         ELSE ((2*(sum(CAST(round((l_extendedprice * (1 - l_discount)
                                         - 0.5 * p_retailprice * l_quantity) * 1000000) AS BIGINT))) + 10000) // 20000)
                    END) / 100.0 AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%widget%'
            GROUP BY n_name, year(o_orderdate)
        """,
        "q13_customer_distribution": """
            WITH per_cust AS (
                SELECT c_custkey, count(o_orderkey) AS c_count
                FROM customer LEFT JOIN orders
                  ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
                GROUP BY c_custkey)
            SELECT c_count, count(*) AS custdist
            FROM per_cust GROUP BY c_count
        """,
        "q15_top_supplier": """
            WITH revenue AS (
                SELECT l_suppkey AS supplier_no,
                       sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS rev_i
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1996-04-01'
                GROUP BY l_suppkey)
            SELECT s_suppkey, s_name,
                   ((2*rev_i + 100) // 200) / 100.0 AS total_revenue
            FROM revenue JOIN supplier ON supplier_no = s_suppkey
            WHERE rev_i = (SELECT max(rev_i) FROM revenue)
        """,
        "q16_supplier_part_count": """
            WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM ps JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
              AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 0.0)
            GROUP BY p_brand, p_type, p_size
        """,
        "q17_small_quantity_revenue": """
            WITH narrow AS (
                SELECT l_partkey, l_quantity, l_extendedprice
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_brand = 'Brand#3' AND p_type = 'SMALL'),
            thresh AS (
                SELECT l_partkey AS t_partkey,
                       0.2 * avg(l_quantity) AS qty_threshold
                FROM narrow GROUP BY l_partkey)
            SELECT ((2*sum(CAST(round((l_extendedprice) * 10000) AS BIGINT)) + 700) // 1400) / 100.0 AS avg_yearly
            FROM narrow JOIN thresh ON l_partkey = t_partkey
            WHERE l_quantity < qty_threshold
        """,
        "q19_disjunctive_revenue": """
            SELECT ((2*sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) + 100) // 200) / 100.0 AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "q2_min_cost_supplier": """
            WITH offers AS (
                SELECT p_partkey, p_name, l_suppkey,
                       round(l_extendedprice / l_quantity, 2) AS unit_price
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_size = 15 AND p_type = 'STANDARD'),
            best AS (
                SELECT p_partkey AS b_partkey, min(unit_price) AS min_price
                FROM offers GROUP BY p_partkey)
            SELECT DISTINCT p_partkey, p_name, s_name,
                   round(s_acctbal, 2) AS s_acctbal, unit_price
            FROM offers
            JOIN best ON p_partkey = b_partkey AND unit_price = min_price
            JOIN supplier ON l_suppkey = s_suppkey
            ORDER BY round(s_acctbal, 2) DESC, p_partkey, s_name
            LIMIT 100
        """,
        "q20_excess_suppliers": """
            WITH heavy AS (
                SELECT DISTINCT l_suppkey
                FROM (SELECT l_suppkey, l_partkey,
                             sum(CAST(round((l_quantity) * 10000) AS BIGINT)) / 10000.0 AS qty
                      FROM lineitem JOIN part ON l_partkey = p_partkey
                      WHERE p_name LIKE 'small%'
                        AND l_shipdate >= TIMESTAMP '1996-01-01'
                        AND l_shipdate < TIMESTAMP '1997-01-01'
                      GROUP BY l_suppkey, l_partkey) g
                WHERE qty > 30)
            SELECT s_name, round(s_acctbal, 2) AS s_acctbal
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
              AND s_suppkey IN (SELECT l_suppkey FROM heavy)
        """,
        "q21_waiting_suppliers": """
            WITH late AS (
                SELECT l_orderkey, l_suppkey
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE o_orderstatus = 'F'
                  AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
            SELECT s_name, count(*) AS numwait
            FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
            WHERE EXISTS (SELECT 1 FROM (SELECT DISTINCT l_orderkey, l_suppkey
                                         FROM lineitem) l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM (SELECT DISTINCT l_orderkey, l_suppkey
                                             FROM late) l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey)
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT 20
        """,
        "q10_returned_items": """
            WITH agg AS (
                SELECT c_custkey, c_name, n_name, c_acctbal,
                       ((2*sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) + 100) // 200) / 100.0 AS revenue
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                WHERE l_returnflag = 'R'
                  AND o_orderdate >= TIMESTAMP '1995-01-01'
                  AND o_orderdate < TIMESTAMP '1995-04-01'
                GROUP BY c_custkey, c_name, n_name, c_acctbal)
            SELECT c_custkey, c_name, n_name, round(c_acctbal, 2) AS c_acctbal,
                   revenue
            FROM agg ORDER BY revenue DESC, c_custkey LIMIT 20
        """,
        # sum(int) is HUGEINT in DuckDB; HUGEINT's client conversion is
        # duckdb-version-dependent (int vs float64) — CAST to BIGINT so any
        # fetch path yields int64, matching Spark's bigint. (r02 root cause
        # of ALL five driver hash-reds: exactly the oracles with a HUGEINT
        # output column failed, every green oracle had none.)
        "q12_priority_by_flag": """
            SELECT l_returnflag,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_returnflag IN ('A', 'R')
              AND CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
              AND CAST(l_shipdate AS DATE) < DATE '1996-01-01'
            GROUP BY l_returnflag
        """,
        "q14_promo_effect": """
            SELECT round(100.0 * (sum(CAST(round((CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) * 10000) AS BIGINT)) / 10000.0)
                         / (sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) / 10000.0), 4)
                       AS promo_revenue_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1995-09-01'
              AND l_shipdate < TIMESTAMP '1995-10-01'
        """,
        "q_matmul": """
            WITH a AS (SELECT l_suppkey AS row, l_partkey AS col, sum(l_quantity) AS val
                       FROM lineitem GROUP BY 1, 2)
            SELECT x.row AS row, y.row AS col, round(sum(x.val * y.val), 2) AS val
            FROM a x JOIN a y ON x.col = y.col
            GROUP BY 1, 2 HAVING sum(x.val * y.val) != 0
        """,
        "q_matrix_scalar_pipe": """
            -- (A * nnz(A)) / sum(A): both scalars computed, cross-joined
            -- (the broadcast-crossWithTiny shape); zero-pruned like
            -- map_values. Scalars are exact integer-valued doubles, so
            -- the division is bit-identical across engines.
            WITH a AS (SELECT l_suppkey AS row, l_partkey AS col, sum(l_quantity) AS val
                       FROM lineitem GROUP BY 1, 2),
            s AS (SELECT sum(val) AS total, count(*)::DOUBLE AS nnz
                  FROM a WHERE val != 0)
            SELECT row, col, round((val * nnz) / total, 6) AS val
            FROM a, s
            WHERE val != 0 AND (val * nnz) / total != 0
        """,
        "q_matrix_rownorm_topk": """
            WITH a AS (SELECT l_suppkey AS row, l_partkey AS col, sum(l_quantity) AS val
                       FROM lineitem GROUP BY 1, 2),
            n AS (SELECT row, col, val / sum(abs(val)) OVER (PARTITION BY row) AS val FROM a)
            SELECT row, col, round(val, 6) AS val FROM n
            QUALIFY row_number() OVER (PARTITION BY row ORDER BY val DESC, col) <= 2
        """,
        "q_matrix_elementwise": """
            WITH a AS (SELECT l_suppkey AS row, l_partkey AS col, sum(l_quantity) AS val
                       FROM lineitem GROUP BY 1, 2)
            SELECT row, col, round(val, 2) AS val FROM a WHERE val != 0
        """,
        "q_matrix_reductions": """
            SELECT l_suppkey AS id, 'row' AS axis, round(sum(val), 2) AS total
            FROM (SELECT l_suppkey, sum(l_quantity) AS val
                  FROM lineitem GROUP BY l_suppkey, l_partkey)
            GROUP BY l_suppkey
        """,
        "q_matrix_col_normalize": """
            WITH a AS (SELECT l_suppkey AS row, l_partkey AS col, sum(l_quantity) AS val
                       FROM lineitem GROUP BY 1, 2),
            n AS (SELECT row, col, val / sqrt(sum(val * val) OVER (PARTITION BY col)) AS val
                  FROM a)
            SELECT row, col, round(val, 6) AS val FROM n
            QUALIFY row_number() OVER (PARTITION BY col ORDER BY val DESC, row) <= 2
        """,
        "q_matrix_filter_ops": """
            WITH a AS (SELECT l_suppkey AS row, l_partkey AS col, sum(l_quantity) AS val
                       FROM lineitem GROUP BY 1, 2)
            SELECT row, col, round(val, 2) AS val FROM a
            WHERE row IN (SELECT s_suppkey FROM supplier WHERE s_nationkey < 10)
              AND col NOT IN (SELECT p_partkey FROM part WHERE p_size > 40)
              AND row != col
        """,
        "q_matrix_zip": """
            WITH a AS (SELECT l_suppkey AS row, l_partkey AS col, sum(l_quantity) AS val
                       FROM lineitem GROUP BY 1, 2),
            top1 AS (SELECT row, col, val FROM a
                     QUALIFY row_number() OVER (PARTITION BY row
                         ORDER BY val DESC, col) <= 1)
            SELECT a.row AS row, a.col AS col,
                   round(a.val, 2) AS val_left,
                   round(coalesce(t.val, 0.0), 2) AS val_right
            FROM a LEFT JOIN top1 t ON a.row = t.row AND a.col = t.col
        """,
        "q_matrix_map_rows": """
            WITH a AS (SELECT l_suppkey AS row, l_partkey AS col, sum(l_quantity) AS val
                       FROM lineitem GROUP BY 1, 2)
            SELECT row, col,
                   round(val / max(val) OVER (PARTITION BY row), 6) AS val
            FROM a
        """,
        "q_vector_matrix_product": """
            WITH a AS (SELECT l_suppkey AS row, l_partkey AS col, sum(l_quantity) AS val
                       FROM lineitem GROUP BY 1, 2)
            SELECT a.col AS col, round(sum(s.s_acctbal * a.val), 2) AS val
            FROM a JOIN supplier s ON s.s_suppkey = a.row
            GROUP BY a.col HAVING sum(s.s_acctbal * a.val) != 0
        """,
        "q_diag_inverse_trace": """
            WITH a AS (SELECT l_suppkey AS row, l_partkey AS col, sum(l_quantity) AS val
                       FROM lineitem GROUP BY 1, 2),
            diag AS (SELECT row, sum(val * val) AS val FROM a GROUP BY row)
            SELECT round(sum(1.0 / val), 10) AS trace FROM diag WHERE val != 0
        """,
        "q_combinations": """
            SELECT a.r AS c1, b.r AS c2, c.r AS c3
            FROM (SELECT unnest(generate_series(1, 10)) AS r) a,
                 (SELECT unnest(generate_series(1, 10)) AS r) b,
                 (SELECT unnest(generate_series(1, 10)) AS r) c
            WHERE a.r < b.r AND b.r < c.r
        """,
        "q_subset_sum": """
            SELECT x1, x2, x3, x4, x5
            FROM (SELECT unnest([0, 1]) AS x1) a,
                 (SELECT unnest([0, 1]) AS x2) b,
                 (SELECT unnest([0, 1]) AS x3) c,
                 (SELECT unnest([0, 1]) AS x4) d,
                 (SELECT unnest([0, 1]) AS x5) e
            WHERE abs(x1 * 3 + x2 * 5 + x3 * 7 + x4 * 11 + x5 * 13 - 18) <= 0.5
        """,
        # exact rank-statistic AUC/KS: every aggregate is an integer sum;
        # the two divisions at the end are single IEEE ops, so the hash
        # matches Spark bit-for-bit (evaluation.py's determinism contract)
        "q_quality_auc": """
            WITH t AS (
                SELECT n_chars AS s,
                       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                FROM documents
                WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
            g AS (SELECT s, count(*) AS n, sum(y) AS np FROM t GROUP BY s),
            c AS (
                SELECT n, np,
                       coalesce(sum(n) OVER (ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) AS cb,
                       sum(np) OVER (ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS cpt,
                       sum(n) OVER (ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS cnt
                FROM g),
            tot AS (SELECT CAST(coalesce(sum(y), 0) AS BIGINT) AS np_all,
                           count(*) AS n_all FROM t)
            SELECT CAST(np_all AS BIGINT) AS n_pos,
                   CAST(n_all - np_all AS BIGINT) AS n_neg,
                   CASE WHEN np_all > 0 AND n_all - np_all > 0 THEN
                       CAST(sum(np * (2 * cb + n + 1))
                            - np_all * (np_all + 1) AS DOUBLE)
                       / CAST(2 * np_all * (n_all - np_all) AS DOUBLE)
                   END AS auc,
                   CASE WHEN np_all > 0 AND n_all - np_all > 0 THEN
                       CAST(max(abs(cpt * (n_all - np_all)
                                    - (cnt - cpt) * np_all)) AS DOUBLE)
                       / CAST(np_all * (n_all - np_all) AS DOUBLE)
                   END AS ks
            FROM c CROSS JOIN tot
            GROUP BY np_all, n_all
            UNION ALL
            -- zero judged rows: the operator's always-one-row contract
            -- (n_pos=0, n_neg=0, NULL metrics) — the empty-axis campaign
            -- caught the bare-GROUP-BY form returning 0 rows here
            SELECT np_all AS n_pos, n_all - np_all AS n_neg,
                   CAST(NULL AS DOUBLE) AS auc, CAST(NULL AS DOUBLE) AS ks
            FROM tot WHERE n_all = 0
        """,
        # per-slice AUC/KS: same integer rank algebra per (lang, source)
        # group; the two-branch CASE keeps NULL text → NULL label (Spark
        # drops NULL labels; a bare ELSE 0 would keep them as negatives)
        "q_auc_by_slice": """
            WITH t AS (
                SELECT lang, source, n_chars AS s,
                       CASE WHEN text LIKE '%dup%' THEN 1
                            WHEN text NOT LIKE '%dup%' THEN 0 END AS y
                FROM documents
                WHERE n_chars IS NOT NULL AND text IS NOT NULL),
            g AS (SELECT lang, source, s, count(*) AS n, sum(y) AS np
                  FROM t GROUP BY 1, 2, 3),
            c AS (
                SELECT lang, source, n, np,
                       coalesce(sum(n) OVER (PARTITION BY lang, source
                           ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS cb,
                       sum(np) OVER (PARTITION BY lang, source ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                           ROW) AS cpt,
                       sum(n) OVER (PARTITION BY lang, source ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                           ROW) AS cnt
                FROM g),
            tot AS (SELECT lang, source,
                           CAST(sum(y) AS BIGINT) AS np_all,
                           count(*) AS n_all
                    FROM t GROUP BY 1, 2)
            SELECT c.lang, c.source,
                   CAST(np_all AS BIGINT) AS n_pos,
                   CAST(n_all - np_all AS BIGINT) AS n_neg,
                   CASE WHEN np_all > 0 AND n_all - np_all > 0 THEN
                       CAST(sum(np * (2 * cb + n + 1))
                            - np_all * (np_all + 1) AS DOUBLE)
                       / CAST(2 * np_all * (n_all - np_all) AS DOUBLE)
                   END AS auc,
                   CASE WHEN np_all > 0 AND n_all - np_all > 0 THEN
                       CAST(max(abs(cpt * (n_all - np_all)
                                    - (cnt - cpt) * np_all)) AS DOUBLE)
                       / CAST(np_all * (n_all - np_all) AS DOUBLE)
                   END AS ks
            FROM c JOIN tot
              ON c.lang IS NOT DISTINCT FROM tot.lang
             AND c.source IS NOT DISTINCT FROM tot.source
            GROUP BY c.lang, c.source, np_all, n_all
        """,
        # mean_score via exact DECIMAL(27,9) accumulation (the module's
        # fixed-point contract); bin arithmetic mirrors Spark's IEEE
        # double floor(s*10) exactly
        "q_calibration_bins": """
            WITH t AS (
                SELECT (n_chars % 1000) / 1000.0 AS s,
                       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                FROM documents
                WHERE n_chars IS NOT NULL AND lang IS NOT NULL)
            SELECT CAST(least(floor(s * 10), 9) AS INT) AS bin,
                   count(*) AS n,
                   CAST(sum(y) AS BIGINT) AS pos,
                   CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                       AS frac_pos,
                   CAST(sum(CAST(s AS DECIMAL(27,9))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS mean_score
            FROM t GROUP BY 1
        """,
        "q_calibration_by_slice": """
            WITH t AS (
                SELECT source, (n_chars % 1000) / 1000.0 AS s,
                       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                FROM documents
                WHERE n_chars IS NOT NULL AND lang IS NOT NULL)
            SELECT source, CAST(least(floor(s * 10), 9) AS INT) AS bin,
                   count(*) AS n,
                   CAST(sum(y) AS BIGINT) AS pos,
                   CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                       AS frac_pos,
                   CAST(sum(CAST(s AS DECIMAL(27,9))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS mean_score
            FROM t GROUP BY 1, 2
        """,
        "q_sweep_by_slice": """
            WITH t AS (
                SELECT source, (n_chars % 1000) / 1000.0 AS s,
                       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                FROM documents
                WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
            g AS (SELECT source, s, count(*) AS n, sum(y) AS np
                  FROM t GROUP BY 1, 2),
            x AS (SELECT g.source, th.threshold, g.s, g.n, g.np
                  FROM g CROSS JOIN (
                      SELECT unnest([CAST(0.25 AS DOUBLE),
                                     CAST(0.5 AS DOUBLE),
                                     CAST(0.75 AS DOUBLE)]) AS threshold
                  ) th),
            a AS (
                SELECT source, threshold,
                    CAST(coalesce(sum(CASE WHEN s >= threshold THEN np END),
                                  0) AS BIGINT) AS tp,
                    CAST(coalesce(sum(CASE WHEN s >= threshold
                                           THEN n - np END), 0) AS BIGINT)
                        AS fp,
                    CAST(coalesce(sum(CASE WHEN s < threshold
                                           THEN n - np END), 0) AS BIGINT)
                        AS tn,
                    CAST(coalesce(sum(CASE WHEN s < threshold THEN np END),
                                  0) AS BIGINT) AS fn
                FROM x GROUP BY 1, 2)
            SELECT source, threshold, tp, fp, tn, fn,
                   CASE WHEN tp + fp > 0 THEN
                       CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                   END AS "precision",
                   CASE WHEN tp + fn > 0 THEN
                       CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
                   END AS recall,
                   CASE WHEN 2 * tp + fp + fn > 0 THEN
                       CAST(2 * tp AS DOUBLE)
                       / CAST(2 * tp + fp + fn AS DOUBLE)
                   END AS f1,
                   CASE WHEN tp + fp + tn + fn > 0 THEN
                       CAST(tp + tn AS DOUBLE)
                       / CAST(tp + fp + tn + fn AS DOUBLE)
                   END AS accuracy
            FROM a
        """,
        "q_threshold_sweep": """
            WITH t AS (
                SELECT (n_chars % 1000) / 1000.0 AS s,
                       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                FROM documents
                WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
            g AS (SELECT s, count(*) AS n, sum(y) AS np FROM t GROUP BY s),
            x AS (SELECT th.threshold, g.s, g.n, g.np
                  FROM g CROSS JOIN (
                      SELECT unnest([CAST(0.1 AS DOUBLE),
                                     CAST(0.25 AS DOUBLE),
                                     CAST(0.5 AS DOUBLE),
                                     CAST(0.75 AS DOUBLE),
                                     CAST(0.9 AS DOUBLE)]) AS threshold
                  ) th),
            a AS (
                SELECT threshold,
                    CAST(coalesce(sum(CASE WHEN s >= threshold THEN np END),
                                  0) AS BIGINT) AS tp,
                    CAST(coalesce(sum(CASE WHEN s >= threshold
                                           THEN n - np END), 0) AS BIGINT)
                        AS fp,
                    CAST(coalesce(sum(CASE WHEN s < threshold
                                           THEN n - np END), 0) AS BIGINT)
                        AS tn,
                    CAST(coalesce(sum(CASE WHEN s < threshold THEN np END),
                                  0) AS BIGINT) AS fn
                FROM x GROUP BY threshold)
            SELECT threshold, tp, fp, tn, fn,
                   CASE WHEN tp + fp > 0 THEN
                       CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                   END AS "precision",
                   CASE WHEN tp + fn > 0 THEN
                       CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
                   END AS recall,
                   CASE WHEN 2 * tp + fp + fn > 0 THEN
                       CAST(2 * tp AS DOUBLE)
                       / CAST(2 * tp + fp + fn AS DOUBLE)
                   END AS f1,
                   CASE WHEN tp + fp + tn + fn > 0 THEN
                       CAST(tp + tn AS DOUBLE)
                       / CAST(tp + fp + tn + fn AS DOUBLE)
                   END AS accuracy
            FROM a
            UNION ALL
            -- zero judged rows: the operator's one-row-per-threshold
            -- contract (all-zero counts, NULL rates — ADVICE r08 #3);
            -- without this branch the empty per-score table never
            -- explodes and the sweep returns 0 rows
            SELECT th.threshold, 0, 0, 0, 0,
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
            FROM (SELECT unnest([CAST(0.1 AS DOUBLE),
                                 CAST(0.25 AS DOUBLE),
                                 CAST(0.5 AS DOUBLE),
                                 CAST(0.75 AS DOUBLE),
                                 CAST(0.9 AS DOUBLE)]) AS threshold) th
            WHERE (SELECT count(*) FROM t) = 0
        """,
        # average precision: one term per distinct-score class sweeping
        # DESC — np·TP/CNT as one double division, tie-rounded to
        # DECIMAL(27,9) (the calibration_bins cross-engine recipe), exact
        # decimal sum, one final division by n_pos
        "q_pr_auc": """
            WITH t AS (
                SELECT n_chars AS s,
                       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                FROM documents
                WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
            g AS (SELECT s, count(*) AS n, sum(y) AS np FROM t GROUP BY s),
            c AS (
                SELECT n, np,
                       sum(np) OVER (ORDER BY s DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS cpt,
                       sum(n) OVER (ORDER BY s DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS cnt
                FROM g),
            tot AS (SELECT CAST(coalesce(sum(y), 0) AS BIGINT) AS np_all,
                           count(*) AS n_all FROM t)
            SELECT CAST(np_all AS BIGINT) AS n_pos,
                   CAST(n_all - np_all AS BIGINT) AS n_neg,
                   CASE WHEN np_all > 0 THEN
                       CAST(coalesce(sum(CASE WHEN np > 0 THEN
                           CAST(CAST(np * cpt AS DOUBLE)
                                / CAST(cnt AS DOUBLE)
                                AS DECIMAL(27,9)) END), 0) AS DOUBLE)
                       / CAST(np_all AS DOUBLE)
                   END AS pr_auc
            FROM c CROSS JOIN tot
            GROUP BY np_all, n_all
            UNION ALL
            -- zero judged rows: the always-one-row contract
            SELECT np_all AS n_pos, n_all - np_all AS n_neg,
                   CAST(NULL AS DOUBLE) AS pr_auc
            FROM tot WHERE n_all = 0
        """,
        # Cohen's kappa via the exact-integer identity:
        # k = (n*agree - sum_k a_k*b_k) / (n^2 - sum_k a_k*b_k);
        # NULL ratings are unjudged, both-constant-equal -> NULL (0/0)
        "q_cohens_kappa": """
            WITH t AS (
                SELECT CAST(lang AS VARCHAR) AS a,
                       CAST(CASE WHEN n_chars % 3 = 0 THEN lang
                                 WHEN n_chars % 3 = 1 THEN 'en'
                            END AS VARCHAR) AS b
                FROM documents
                WHERE lang IS NOT NULL
                  AND (CASE WHEN n_chars % 3 = 0 THEN lang
                            WHEN n_chars % 3 = 1 THEN 'en'
                       END) IS NOT NULL),
            pairs AS (SELECT a, b, count(*) AS c FROM t GROUP BY a, b),
            am AS (SELECT a, CAST(sum(c) AS BIGINT) AS ak
                   FROM pairs GROUP BY a),
            bm AS (SELECT b, CAST(sum(c) AS BIGINT) AS bk
                   FROM pairs GROUP BY b),
            prod AS (SELECT CAST(coalesce(sum(ak * bk), 0) AS BIGINT)
                         AS pab
                     FROM am JOIN bm ON am.a = bm.b),
            agg AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n,
                           CAST(coalesce(sum(CASE WHEN a = b THEN c END),
                                         0) AS BIGINT) AS agree
                    FROM pairs)
            SELECT n,
                   CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
                   CAST(pab AS DOUBLE) / CAST(n * n AS DOUBLE) AS pe,
                   CASE WHEN n * n - pab <> 0 THEN
                       CAST(n * agree - pab AS DOUBLE)
                       / CAST(n * n - pab AS DOUBLE)
                   END AS kappa
            FROM agg CROSS JOIN prod
            WHERE n > 0
            UNION ALL
            SELECT n, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE)
            FROM agg WHERE n = 0
        """,
        # per-slice AP; two-branch CASE keeps NULL text → NULL label
        # (the q_auc_by_slice fixture); zero-positive slices report NULL
        "q_pr_auc_by_slice": """
            WITH t AS (
                SELECT lang, source, n_chars AS s,
                       CASE WHEN text LIKE '%dup%' THEN 1
                            WHEN text NOT LIKE '%dup%' THEN 0 END AS y
                FROM documents
                WHERE n_chars IS NOT NULL AND text IS NOT NULL),
            g AS (SELECT lang, source, s, count(*) AS n, sum(y) AS np
                  FROM t GROUP BY 1, 2, 3),
            c AS (
                SELECT lang, source, n, np,
                       sum(np) OVER (PARTITION BY lang, source
                           ORDER BY s DESC ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW) AS cpt,
                       sum(n) OVER (PARTITION BY lang, source
                           ORDER BY s DESC ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW) AS cnt
                FROM g),
            tot AS (SELECT lang, source,
                           CAST(sum(y) AS BIGINT) AS np_all,
                           count(*) AS n_all
                    FROM t GROUP BY 1, 2)
            SELECT c.lang, c.source,
                   CAST(np_all AS BIGINT) AS n_pos,
                   CAST(n_all - np_all AS BIGINT) AS n_neg,
                   CASE WHEN np_all > 0 THEN
                       CAST(coalesce(sum(CASE WHEN np > 0 THEN
                           CAST(CAST(np * cpt AS DOUBLE)
                                / CAST(cnt AS DOUBLE)
                                AS DECIMAL(27,9)) END), 0) AS DOUBLE)
                       / CAST(np_all AS DOUBLE)
                   END AS pr_auc
            FROM c JOIN tot
              ON c.lang IS NOT DISTINCT FROM tot.lang
             AND c.source IS NOT DISTINCT FROM tot.source
            GROUP BY c.lang, c.source, np_all, n_all
        """,
        "q_exact_dedup": f"""
            SELECT doc_id, source FROM (
                SELECT doc_id, source,
                       min(doc_id) OVER (PARTITION BY {_NORM_TEXT}) AS keep
                FROM documents) WHERE doc_id = keep
        """,
        "q_ngram_jaccard_pairs": f"""
            WITH d AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
            s AS (SELECT doc_id, {_SHINGLES} AS shs FROM d),
            e AS (SELECT doc_id, unnest(shs) AS sh FROM s),
            sz AS (SELECT doc_id, count(*) AS sz FROM e GROUP BY doc_id),
            shared AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(shared / (x.sz + y.sz - shared), 6) AS jaccard
            FROM shared
            JOIN sz x ON x.doc_id = id_a
            JOIN sz y ON y.doc_id = id_b
            WHERE shared / (x.sz + y.sz - shared) >= 0.05
        """,
        "q_dedup_clusters": f"""
            WITH RECURSIVE d AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
            s AS (SELECT doc_id, {_SHINGLES} AS shs FROM d),
            e AS (SELECT doc_id, unnest(shs) AS sh FROM s),
            sz AS (SELECT doc_id, count(*) AS sz FROM e GROUP BY doc_id),
            shared AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
            pairs AS (
                SELECT id_a, id_b FROM shared
                JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b
                WHERE shared / (x.sz + y.sz - shared) >= 0.05),
            sym AS (SELECT id_a AS a, id_b AS b FROM pairs
                    UNION ALL SELECT id_b, id_a FROM pairs),
            reach(node, lab) AS (
                SELECT DISTINCT a, a FROM sym
                UNION
                SELECT sym.a, reach.lab FROM sym JOIN reach ON sym.b = reach.node),
            comp AS (SELECT node, min(lab) AS comp FROM reach GROUP BY node)
            SELECT d2.doc_id, coalesce(comp.comp, d2.doc_id) AS cluster_id
            FROM documents d2 LEFT JOIN comp ON d2.doc_id = comp.node
        """,
        "q_cc_star": """
            WITH RECURSIVE e AS (
                SELECT doc_id AS a, doc_id + 1 AS b FROM documents
                WHERE doc_id % 50 <> 49),
            sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
            reach(node, lab) AS (
                SELECT DISTINCT a, a FROM sym
                UNION
                SELECT sym.a, reach.lab FROM sym JOIN reach ON sym.b = reach.node)
            SELECT node, min(lab) AS comp FROM reach GROUP BY node
        """,
        "q_global_rank_scan": """
            SELECT c_custkey,
                   row_number() OVER (ORDER BY c_acctbal, c_custkey) AS rn,
                   round(sum(c_acctbal) OVER (
                       ORDER BY c_acctbal, c_custkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                       AS running_bal
            FROM customer
        """,
        "q_rank_by_value": """
            SELECT c_custkey, c_mktsegment,
                   rank() OVER (ORDER BY c_mktsegment) AS rank,
                   'rank' AS kind
            FROM customer
            UNION ALL
            SELECT c_custkey, c_mktsegment,
                   dense_rank() OVER (ORDER BY c_mktsegment) AS rank,
                   'dense' AS kind
            FROM customer
        """,
        "q_decontaminate": f"""
            WITH d AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
            g AS (SELECT doc_id,
                  CASE WHEN len(toks) >= 8 THEN list_distinct(
                           [array_to_string(toks[i:i+7], ' ')
                            for i in range(1, len(toks) - 6)])
                       WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                       ELSE [] END AS shs
                  FROM d),
            e AS (SELECT doc_id, unnest(shs) AS sh FROM g),
            b AS (SELECT DISTINCT sh FROM e WHERE doc_id % 97 = 0),
            bad AS (SELECT DISTINCT e.doc_id FROM e JOIN b ON e.sh = b.sh)
            SELECT doc_id, source FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM bad)
        """,
        "q_pack_shards": """
            SELECT doc_id, len(text)::BIGINT AS w,
                   CAST(floor((sum(len(text)) OVER (ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - len(text)) / 50000)
                        AS BIGINT) AS shard
            FROM documents
        """,
        "q_domain_cap": """
            SELECT doc_id, source FROM documents
            QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 15
        """,
        "q_deterministic_sample": """
            SELECT doc_id, source FROM documents
            WHERE ('0x' || substr(md5('s1' || doc_id::VARCHAR), 1, 8))::BIGINT
                  < 429496730
        """,
        "q_train_split": """
            WITH b AS (
                SELECT text,
                       ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS bucket
                FROM documents)
            SELECT CASE WHEN bucket < 3865470566 THEN 'train'
                        WHEN bucket < 4080218931 THEN 'val'
                        ELSE 'test' END AS split,
                   count(*) AS n_docs, sum(len(text))::BIGINT AS total_chars
            FROM b GROUP BY 1
        """,
        "q_stratified_sample": """
            SELECT source, count(*) AS n_docs FROM documents
            WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT <
                  CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
                       THEN 4294967296 ELSE 858993459 END
            GROUP BY source
        """,
        "q_text_quality": f"""
            WITH per_doc AS (
                SELECT source,
                       len({_TOKENS})::BIGINT AS n_tokens,
                       CASE WHEN len(text) > 0 THEN
                           len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))::DOUBLE / len(text)
                       ELSE 0.0 END AS punct,
                       (CASE WHEN len({_TOKENS}) BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.0 END
                        + CASE WHEN (CASE WHEN len(text) > 0 THEN
                              len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))::DOUBLE / len(text)
                              ELSE 0.0 END) < 0.2 THEN 1.0 ELSE 0.0 END
                        + CASE WHEN (CASE WHEN len({_TOKENS}) > 0 THEN
                              len(list_filter({_TOKENS}, x -> list_contains(
                                  ['the','and','of','to','in','is','that','it','for','with'], x)))::DOUBLE
                              / len({_TOKENS}) ELSE 0.0 END) > 0.05 THEN 1.0 ELSE 0.0 END
                       ) / 3.0 AS quality
                FROM documents)
            SELECT source, sum(n_tokens)::BIGINT AS total_tokens,
                   round(avg(quality), 6) AS avg_quality,
                   round(avg(punct), 6) AS avg_punct
            FROM per_doc GROUP BY source
        """,
        "q_lang_id": _lang_sql(),
        "q_fingerprint": f"""
            SELECT count(DISTINCT {_NORM_TEXT}) AS n_unique, count(*) AS n_docs
            FROM documents
        """,
        "q_pagerank": _pagerank_sql(),
        # CAST(ts AS TIMESTAMP) truncates DuckDB's TIMESTAMP_NS read of the
        # events parquet to micros — the same floor pyspark 4.1.2 applies on
        # its NTZ read — so both engines compare identical instants at the
        # window boundaries. CAST(... AS BIGINT): see q12 comment (HUGEINT).
        "q_range_join": """
            WITH clicks AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
                            FROM events WHERE event_type = 'click'),
            errs AS (SELECT user_id AS e_user, CAST(ts AS TIMESTAMP) AS err_ts,
                            CAST(ts AS TIMESTAMP) + INTERVAL 60 MINUTE AS end_ts
                     FROM events WHERE event_type = 'error'),
            j AS (SELECT user_id, ts, err_ts FROM clicks JOIN errs
                  ON user_id = e_user AND ts >= err_ts AND ts <= end_ts)
            SELECT user_id, count(*) AS n_pairs,
                   CAST(sum(epoch_us(ts) - epoch_us(err_ts)) AS BIGINT) AS total_gap_us
            FROM j GROUP BY user_id
        """,
        "q_asof_join": """
            WITH clicks AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
                            FROM events WHERE event_type = 'click'),
            errors AS (SELECT user_id AS e_user, CAST(ts AS TIMESTAMP) AS err_ts
                       FROM events WHERE event_type = 'error'),
            j AS (SELECT user_id, ts, err_ts
                  FROM clicks ASOF LEFT JOIN errors
                  ON clicks.user_id = errors.e_user AND clicks.ts >= errors.err_ts)
            SELECT user_id, count(*) AS n_clicks, count(err_ts) AS n_matched,
                   CAST(coalesce(sum(epoch_us(ts) - epoch_us(err_ts)), 0) AS BIGINT)
                       AS total_gap_us
            FROM j GROUP BY user_id
        """,
        "q_embedding_neardup_exact": """
            -- NULL embeddings are excluded from similarity search (the
            -- operator's _drop_null_vecs contract; DuckDB's
            -- list_inner_product hard-errors on them anyway)
            WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec
                       FROM embeddings WHERE embedding IS NOT NULL),
            pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       list_inner_product(a.vec, b.vec)
                       / (sqrt(list_inner_product(a.vec, a.vec))
                          * sqrt(list_inner_product(b.vec, b.vec))) AS cos_raw
                FROM v a JOIN v b ON a.vec_id < b.vec_id)
            SELECT id_a, id_b, round(cos_raw, 6) AS cosine
            FROM pairs WHERE cos_raw >= 0.35
        """,
        "q_pii_redact": _pii_sql(),
        "q_vocabulary": f"""
            WITH toks AS (SELECT unnest({_TOKENS}) AS tok FROM documents),
            cnt AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok)
            SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rank
            FROM cnt
        """,
        "q_tfidf_top_terms": f"""
            WITH toks AS (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents),
            tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
            df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
            nd AS (SELECT count(*)::DOUBLE AS n FROM documents),
            scored AS (SELECT doc_id, tok, tf, df,
                              tf * ln((SELECT n FROM nd) / df) AS tfidf
                       FROM tf JOIN df USING (tok))
            SELECT doc_id, tok AS top_term, tf, df, round(tfidf, 6) AS tfidf
            FROM scored WHERE doc_id < 100
            QUALIFY row_number() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, tok) = 1
        """,
        # the fraction is computed by EXACT integer arithmetic (scaled
        # half-up division via `//`) and only converted to double at the
        # end — the int64 quotient and the final /1e6 are bit-identical on
        # any engine, so neither rounding nor the ORDER-BY cut can drift.
        "q_top_word_fraction": f"""
            WITH toks AS (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents),
            cnt AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
            per AS (SELECT doc_id, max(cnt) AS top_cnt,
                           CAST(sum(cnt) AS BIGINT) AS n_toks
                    FROM cnt GROUP BY 1),
            sc AS (SELECT doc_id, top_cnt, n_toks,
                          (top_cnt * 1000000 + n_toks // 2) // n_toks AS fs
                   FROM per)
            SELECT doc_id, top_cnt, n_toks, fs / 1000000.0 AS top_word_frac
            FROM sc ORDER BY fs DESC, doc_id
            LIMIT 20
        """,
        "q_cube_agg": """
            SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
                   CAST(sum(CAST(round(l_quantity * 10000) AS BIGINT))
                        AS BIGINT) / 10000.0 AS sum_qty
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        # unique sort key -> NTILE/PERCENT_RANK fully deterministic; the
        # (rank-1)/(N-1) division is one double op, identical on any engine
        "q_ntile_ranks": """
            WITH r AS (SELECT o_orderkey,
                              ntile(7) OVER (ORDER BY o_orderkey) AS bucket,
                              percent_rank() OVER (ORDER BY o_orderkey) AS pr
                       FROM orders)
            SELECT bucket, count(*) AS n,
                   min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
                   round(min(pr), 9) AS min_pr, round(max(pr), 9) AS max_pr
            FROM r GROUP BY bucket
        """,
        # the q_substring_spans CTE chain + distinct covered positions per
        # victim (id_b) doc; overlaps collapse via the DISTINCT
        "q_cut_spans": f"""
            WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
            g0 AS (SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+3], ' ') AS gram
                   FROM toks, unnest(generate_series(1, greatest(len(t) - 3, 0))) AS u(i)
                   WHERE len(t) >= 4),
            p AS (SELECT doc_id, pos, gram FROM (
                    SELECT *, count(*) OVER (PARTITION BY gram) AS df FROM g0)
                  WHERE df <= 1000),
            m AS (SELECT a.doc_id AS ia, b.doc_id AS ib, a.pos AS pa, b.pos AS pb,
                         a.pos - b.pos AS diag
                  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id),
            isl AS (SELECT *, pa - row_number() OVER (
                        PARTITION BY ia, ib, diag ORDER BY pa) AS grp
                    FROM m),
            spans AS (SELECT ib AS doc_id, min(pb) AS start_b,
                             count(*) + 3 AS span_tokens
                      FROM isl GROUP BY ia, ib, diag, grp
                      HAVING count(*) + 3 >= 8),
            cover AS (SELECT doc_id,
                             unnest(generate_series(start_b,
                                    start_b + span_tokens - 1)) AS cp
                      FROM spans),
            cut AS (SELECT doc_id, count(DISTINCT cp) AS n_cut_tokens
                    FROM cover GROUP BY doc_id)
            SELECT c.doc_id, c.n_cut_tokens,
                   CAST(len(t.t) - c.n_cut_tokens AS BIGINT) AS n_kept_tokens
            FROM cut c JOIN toks t ON c.doc_id = t.doc_id
            ORDER BY c.doc_id
        """,
        # same closure as q_dedup_clusters; keeper = longest per component
        "q_dedup_keep_best": f"""
            WITH RECURSIVE d AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
            s AS (SELECT doc_id, {_SHINGLES} AS shs FROM d),
            e AS (SELECT doc_id, unnest(shs) AS sh FROM s),
            sz AS (SELECT doc_id, count(*) AS sz FROM e GROUP BY doc_id),
            shared AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
            pairs AS (
                SELECT id_a, id_b FROM shared
                JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b
                WHERE shared / (x.sz + y.sz - shared) >= 0.05),
            sym AS (SELECT id_a AS a, id_b AS b FROM pairs
                    UNION ALL SELECT id_b, id_a FROM pairs),
            reach(node, lab) AS (
                SELECT DISTINCT a, a FROM sym
                UNION
                SELECT sym.a, reach.lab FROM sym JOIN reach ON sym.b = reach.node),
            comp AS (SELECT node, min(lab) AS comp FROM reach GROUP BY node),
            cl AS (SELECT d2.doc_id, d2.source, d2.n_chars,
                          coalesce(comp.comp, d2.doc_id) AS cluster_id
                   FROM documents d2 LEFT JOIN comp ON d2.doc_id = comp.node)
            SELECT doc_id, source, n_chars FROM (
                SELECT *, row_number() OVER (PARTITION BY cluster_id
                    ORDER BY n_chars DESC, doc_id) AS rn FROM cl)
            WHERE rn = 1
        """,
        # PMI ratio mirrors tx.collocations verbatim: CAST to double FIRST,
        # then left-associated * N1 * N1 / N2 / cx / cy — identical
        # promotion and rounding on both engines
        "q_collocations": f"""
            WITH toks AS (SELECT {_TOKENS} AS t FROM documents),
            ex AS (SELECT t[i] AS w1, t[i+1] AS w2
                   FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
                   WHERE len(t) >= 2),
            pm AS (SELECT w1, w2, count(*) AS pair_cnt FROM ex GROUP BY 1, 2),
            uni AS (SELECT tok, count(*) AS cnt
                    FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
            sc AS (SELECT (SELECT CAST(sum(pair_cnt) AS BIGINT) FROM pm) AS N2,
                          (SELECT CAST(sum(cnt) AS BIGINT) FROM uni) AS N1),
            out AS (SELECT w1, w2, pair_cnt,
                           ln(CAST(pair_cnt AS DOUBLE) * N1 * N1
                              / N2 / cx.cnt / cy.cnt) AS pmi
                    FROM pm JOIN uni cx ON pm.w1 = cx.tok
                            JOIN uni cy ON pm.w2 = cy.tok, sc
                    WHERE pair_cnt >= 5)
            SELECT w1, w2, pair_cnt, round(pmi, 6) AS pmi
            FROM out ORDER BY pair_cnt DESC, w1, w2 LIMIT 50
        """,
        "q_corpus_stats": f"""
            WITH t AS (SELECT doc_id, {_TOKENS} AS toks,
                              {_NORM_TEXT} AS norm FROM documents),
            main AS (SELECT count(*) AS n_docs,
                            CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
                            min(len(toks)) AS min_doc_tokens,
                            max(len(toks)) AS max_doc_tokens,
                            count(DISTINCT norm) AS n_unique_texts
                     FROM t),
            vocab AS (SELECT count(DISTINCT tok) AS vocab_size
                      FROM (SELECT unnest(toks) AS tok FROM t))
            SELECT * FROM main, vocab
        """,
        # BM25: operand order mirrors retrieval.bm25_rank exactly (0.75*dl*N
        # /sum_dl etc.), per-term contributions fixed-pointed at 6 decimals,
        # ORDER BY on the exact-integer sum; sum(bigint) cast off HUGEINT
        "q_bm25_search": f"""
            WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
            hits AS (SELECT doc_id, len(toks) AS dl,
                            unnest(list_filter(toks, x -> list_contains(
                                ['hash','join','spark','window'], x))) AS term
                     FROM t),
            tf AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
                   FROM hits GROUP BY 1, 2),
            dfreq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
            scal AS (SELECT count(*) AS N,
                            CAST(sum(len(toks)) AS BIGINT) AS sum_dl FROM t),
            scored AS (
                SELECT doc_id,
                       ln(1.0 + (N - dfc + 0.5) / (dfc + 0.5))
                         * (tf * (1.2 + 1.0))
                         / (tf + 1.2 * ((1.0 - 0.75)
                                        + 0.75 * dl * N / sum_dl)) AS contrib
                FROM tf JOIN dfreq USING (term), scal),
            agg AS (SELECT doc_id, count(*) AS n_match_terms,
                           CAST(sum(CAST(round(contrib * 1000000) AS BIGINT))
                                AS BIGINT) AS fs
                    FROM scored GROUP BY 1)
            SELECT doc_id, n_match_terms, fs / 1000000.0 AS score
            FROM agg ORDER BY fs DESC, doc_id LIMIT 10
        """,
        "q_top_bigram_fraction": f"""
            WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
            g AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS gram
                  FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
                  WHERE len(toks) >= 2),
            cnt AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
            per AS (SELECT doc_id, max(cnt) AS top_cnt,
                           CAST(sum(cnt) AS BIGINT) AS n_grams
                    FROM cnt GROUP BY 1),
            sc AS (SELECT doc_id, top_cnt, n_grams,
                          (top_cnt * 1000000 + n_grams // 2) // n_grams AS fs
                   FROM per)
            SELECT doc_id, top_cnt, n_grams, fs / 1000000.0 AS top_bigram_frac
            FROM sc ORDER BY fs DESC, doc_id
            LIMIT 20
        """,
        # every signal and the pass bit are exact-integer (the rule bands are
        # cross-multiplied, e.g. 3*n <= chars <= 10*n) — nothing to drift
        "q_gopher_quality": f"""
            WITH t AS (SELECT lang, {_TOKENS} AS toks FROM documents),
            s AS (SELECT lang,
                         len(toks) AS n_toks,
                         coalesce(CAST(list_aggregate(
                             list_transform(toks, x -> length(x)), 'sum')
                             AS BIGINT), 0) AS chars,
                         len(list_filter(toks,
                             x -> regexp_full_match(x, '[0-9]+'))) AS n_num,
                         len(list_filter(toks, x -> list_contains(
                             ['the','and','of','to','in','is','that','it',
                              'for','with'], x))) AS n_stop
                  FROM t),
            p AS (SELECT lang, n_toks, chars, n_num, n_stop,
                         CASE WHEN n_toks >= 50 AND n_toks <= 100000
                                   AND chars >= 3 * n_toks
                                   AND chars <= 10 * n_toks
                                   AND n_num * 5 <= n_toks * 1
                                   AND n_stop * 50 >= n_toks * 1
                              THEN 1 ELSE 0 END AS ok
                  FROM s)
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(ok) AS BIGINT) AS n_pass,
                   CAST(sum(n_toks) AS BIGINT) AS sum_toks,
                   CAST(sum(chars) AS BIGINT) AS sum_chars,
                   CAST(sum(n_num) AS BIGINT) AS sum_numeric,
                   CAST(sum(n_stop) AS BIGINT) AS sum_stop
            FROM p GROUP BY lang
        """,
        # spans: the oracle joins on gram STRINGS where Spark joins on their
        # xxhash64 — identical span sets absent a chained 64-bit collision
        "q_substring_spans": f"""
            WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
            g0 AS (SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+3], ' ') AS gram
                   FROM toks, unnest(generate_series(1, greatest(len(t) - 3, 0))) AS u(i)
                   WHERE len(t) >= 4),
            p AS (SELECT doc_id, pos, gram FROM (
                    SELECT *, count(*) OVER (PARTITION BY gram) AS df FROM g0)
                  WHERE df <= 1000),
            m AS (SELECT a.doc_id AS ia, b.doc_id AS ib, a.pos AS pa, b.pos AS pb,
                         a.pos - b.pos AS diag
                  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id),
            isl AS (SELECT *, pa - row_number() OVER (
                        PARTITION BY ia, ib, diag ORDER BY pa) AS grp
                    FROM m)
            SELECT ia AS id_a, ib AS id_b,
                   min(pa)::BIGINT AS start_a, min(pb)::BIGINT AS start_b,
                   (count(*) + 3)::BIGINT AS span_tokens
            FROM isl GROUP BY ia, ib, diag, grp
            HAVING count(*) + 3 >= 8
        """,
        # same LM-score pipeline as q_unigram_lm, then the CCNet cut:
        # rank by (score, doc_id), bucket membership by EXACT integer
        # rational comparison (r·3 <= n·k) — float fraction literals are
        # DECIMAL in DuckDB vs DOUBLE in Spark and floor(n·f) flips at
        # representation boundaries (measured at n=207, fuzz seed 104).
        "q_ccnet_buckets": f"""
            WITH ex AS (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents),
            dt AS (SELECT doc_id, tok, count(*) AS occ FROM ex GROUP BY 1, 2),
            model AS (SELECT tok, count(*) AS cnt FROM ex GROUP BY 1),
            s AS (SELECT sum(cnt) AS n, count(*) AS v FROM model),
            scored AS (SELECT doc_id, occ,
                              CAST(round(-ln((cnt + 0.5) / ((SELECT n FROM s)
                                   + 0.5 * (SELECT v FROM s))) * 1000000)
                                   AS BIGINT) AS fx
                       FROM dt JOIN model USING (tok)),
            per AS (SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_toks,
                           sum(occ * fx) / (1000000.0 * sum(occ)) AS anl
                    FROM scored GROUP BY 1),
            rk AS (SELECT doc_id, n_toks,
                          row_number() OVER (ORDER BY anl, doc_id) AS r,
                          count(*) OVER () AS n
                   FROM per),
            -- exact integer cuts (r <= floor(n/3) <=> 3r <= n): float
            -- fraction literals are DECIMAL in DuckDB but DOUBLE in Spark,
            -- and floor(n * f) differs at representation boundaries
            lab AS (SELECT n_toks,
                           CASE WHEN r * 3 <= n THEN 'head'
                                WHEN r * 3 <= n * 2 THEN 'middle'
                                ELSE 'tail' END AS bucket
                    FROM rk)
            SELECT bucket, count(*) AS n_docs,
                   CAST(sum(n_toks) AS BIGINT) AS total_toks
            FROM lab GROUP BY bucket
        """,
        "q_top_fraction": """
            WITH rk AS (SELECT source, n_chars,
                               row_number() OVER (ORDER BY n_chars DESC,
                                                  doc_id) AS r,
                               count(*) OVER () AS n
                        FROM documents)
            SELECT source, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            -- exact integer ceil cut: r <= ceil(n/4) <=> (r-1)*4 < n
            FROM rk WHERE (r - 1) * 4 < n
            GROUP BY source
        """,
        "q_fuzzy_join": """
            WITH s AS (SELECT c_custkey AS id,
                              substring(md5(CAST(c_custkey % 300 AS VARCHAR)),
                                        1, 8) AS st
                       FROM customer)
            SELECT count(*) AS n_pairs,
                   CAST(coalesce(sum(levenshtein(a.st, b.st)), 0) AS BIGINT)
                       AS total_distance
            FROM s a JOIN s b
              ON a.id < b.id AND levenshtein(a.st, b.st) <= 1
        """,
        # operand order mirrors lm.corpus_divergence exactly: pa/pb built
        # as (c + 0.5) / (n + 0.5*v), per-term fixed-point at 1e9, HALF-UP
        # rounding matches Spark's F.round on both signs
        "q_corpus_kl": f"""
            WITH ca AS (SELECT tok, count(*) AS ca FROM (
                            SELECT unnest({_TOKENS}) AS tok FROM documents
                            WHERE doc_id % 2 = 0) GROUP BY tok),
            cb AS (SELECT tok, count(*) AS cb FROM (
                            SELECT unnest({_TOKENS}) AS tok FROM documents
                            WHERE doc_id % 2 = 1) GROUP BY tok),
            j AS (SELECT coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
                  FROM ca FULL OUTER JOIN cb USING (tok)),
            s AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                         CAST(sum(cb) AS BIGINT) AS nb,
                         count(*) AS v FROM j),
            terms AS (SELECT
                ((ca + 0.5) / ((SELECT na FROM s) + 0.5 * (SELECT v FROM s)))
                    AS pa,
                ((cb + 0.5) / ((SELECT nb FROM s) + 0.5 * (SELECT v FROM s)))
                    AS pb
                FROM j),
            agg AS (SELECT
                sum(CAST(round(pa * ln(pa / pb) * 1000000000) AS BIGINT))
                    / 1000000000.0 AS kl_ab,
                sum(CAST(round(pb * ln(pb / pa) * 1000000000) AS BIGINT))
                    / 1000000000.0 AS kl_ba
                FROM terms)
            SELECT (SELECT na FROM s) AS n_toks_a,
                   (SELECT nb FROM s) AS n_toks_b,
                   (SELECT v FROM s) AS vocab,
                   round(kl_ab, 6) AS kl_ab,
                   round(kl_ba, 6) AS kl_ba,
                   round((kl_ab + kl_ba) / 2.0, 6) AS jsd_proxy
            FROM agg
        """,
        "q_unigram_lm": f"""
            WITH ex AS (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents),
            dt AS (SELECT doc_id, tok, count(*) AS occ FROM ex GROUP BY 1, 2),
            model AS (SELECT tok, count(*) AS cnt FROM ex GROUP BY 1),
            s AS (SELECT sum(cnt) AS n, count(*) AS v FROM model),
            scored AS (SELECT doc_id, occ,
                              CAST(round(-ln((cnt + 0.5) / ((SELECT n FROM s)
                                   + 0.5 * (SELECT v FROM s))) * 1000000)
                                   AS BIGINT) AS fx
                       FROM dt JOIN model USING (tok)),
            per AS (SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_toks,
                           CAST(sum(occ * fx) AS BIGINT) AS ti,
                           sum(occ * fx) / (1000000.0 * sum(occ)) AS anl
                    FROM scored GROUP BY 1)
            SELECT doc_id, n_toks,
                   ((2*ti + n_toks) // (2*n_toks)) / 1000000.0 AS avg_neg_logp
            FROM per ORDER BY anl DESC, doc_id LIMIT 20
        """,
        "q_bigram_lm": f"""
            WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
            ex AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
                   FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
                   WHERE len(t) >= 2),
            db AS (SELECT doc_id, w1, w2, count(*) AS occ FROM ex GROUP BY 1, 2, 3),
            pm AS (SELECT w1, w2, count(*) AS pair_cnt FROM ex GROUP BY 1, 2),
            pf AS (SELECT w1, sum(pair_cnt) AS prefix_cnt FROM pm GROUP BY 1),
            vv AS (SELECT count(DISTINCT tok) AS v
                   FROM (SELECT unnest({_TOKENS}) AS tok FROM documents)),
            scored AS (SELECT doc_id, occ,
                              CAST(round(-ln((pair_cnt + 0.5) / (prefix_cnt
                                   + 0.5 * (SELECT v FROM vv))) * 1000000)
                                   AS BIGINT) AS fx
                       FROM db JOIN pm USING (w1, w2) JOIN pf USING (w1)),
            per AS (SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_bigrams,
                           CAST(sum(occ * fx) AS BIGINT) AS ti,
                           sum(occ * fx) / (1000000.0 * sum(occ)) AS anl
                    FROM scored GROUP BY 1)
            SELECT doc_id, n_bigrams,
                   ((2*ti + n_bigrams) // (2*n_bigrams)) / 1000000.0 AS avg_neg_logp
            FROM per ORDER BY anl DESC, doc_id LIMIT 20
        """,
        "q_linear_quality": _linear_quality_sql(),
        "q_train_quality": _train_quality_sql(),
        "q_weighted_sample": _weighted_sample_sql(),
        "q_mix_proportions": _mix_proportions_sql(),
        "q_dedup_against": f"""
            WITH n AS (SELECT doc_id, source, md5({_NORM_TEXT}) AS fp
                       FROM documents)
            -- NOT EXISTS, not NOT IN: a NULL fingerprint (null-text doc)
            -- must be KEPT — it duplicates nothing. NOT IN's three-valued
            -- NULL semantics would silently drop it; anti-join (the Spark
            -- side) keeps it.
            SELECT doc_id, source FROM n
            WHERE doc_id % 2 = 1
              AND NOT EXISTS (SELECT 1 FROM n AS s
                              WHERE s.doc_id % 2 = 0 AND s.fp = n.fp)
        """,
        # winnowing: same md5 gram hashes, same window starts
        # (1..max(L-w+1, 1)), same rightmost-min rule (ORDER BY h, pos DESC)
        # — all integers, k=5 w=4 mirror the Spark call
        "q_winnow_fingerprints": f"""
            {_WINNOW_SEL}
            SELECT doc_id, count(*) AS n_fps,
                   CAST(sum(h) AS BIGINT) AS fp_sum
            FROM sel GROUP BY doc_id
        """,
        # overlap stage: distinct (doc, fp) → hot-fp cap → self-join —
        # mirrors winnow_overlap_pairs(min_shared=2, max_fp_freq=1000)
        "q_winnow_overlap": f"""
            {_WINNOW_SEL},
            fps0 AS (SELECT DISTINCT doc_id, h FROM sel),
            fps AS (SELECT doc_id, h FROM (
                        SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df
                        FROM fps0)
                    WHERE df <= 1000)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   count(*) AS shared_fps
            FROM fps a JOIN fps b ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2
        """,
        # DSIR: per-bucket λ and the normalizer are each rounded to integer
        # micro-nats BEFORE the per-doc sum, so the weight is an exact
        # integer on both engines (ln() may drift an ulp across libms, but
        # a 1e-6-rounded value only flips if the true λ sits within ~1e-16
        # of a rounding boundary). kb = add_k · n_buckets = 0.5·4096.
        "q_dsir_weights": f"""
            WITH toks AS (SELECT doc_id, source, {_TOKENS} AS t FROM documents),
            feats AS (
                SELECT doc_id, source, f FROM toks, unnest(t) AS u(f)
                UNION ALL
                SELECT doc_id, source, array_to_string(t[i:i+1], ' ') AS f
                FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
                WHERE len(t) >= 2),
            b AS (SELECT doc_id, source,
                         ('0x' || substr(md5(f), 1, 8))::BIGINT % 4096 AS bucket
                  FROM feats),
            fr AS (SELECT doc_id, bucket, count(*) AS occ FROM b GROUP BY 1, 2),
            mr AS (SELECT bucket, CAST(sum(occ) AS BIGINT) AS c_r
                   FROM fr GROUP BY 1),
            mt AS (SELECT bucket, count(*) AS c_t FROM b
                   WHERE source = 'src0' GROUP BY 1),
            lam AS (SELECT mr.bucket,
                           CAST(round((ln(coalesce(c_t, 0) + 0.5)
                                       - ln(c_r + 0.5)) * 1000000) AS BIGINT)
                               AS lam_i
                    FROM mr LEFT JOIN mt ON mr.bucket = mt.bucket),
            nr AS (SELECT CAST(sum(c_r) AS BIGINT) AS n FROM mr),
            nt AS (SELECT count(*) AS n FROM b WHERE source = 'src0'),
            norm AS (SELECT CAST(round((ln((SELECT n FROM nr) + 2048.0)
                                        - ln((SELECT n FROM nt) + 2048.0))
                                       * 1000000) AS BIGINT) AS norm_i),
            w AS (SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_feats,
                         CAST(sum(occ * lam_i)
                              + sum(occ) * (SELECT norm_i FROM norm)
                              AS BIGINT) AS lw_fixed
                  FROM fr JOIN lam USING (bucket) GROUP BY doc_id)
            SELECT doc_id, n_feats, lw_fixed FROM w
            ORDER BY lw_fixed DESC, doc_id LIMIT 20
        """,
        # bloom_anti_join is EXACT (the filter only routes rows around the
        # exchange), so its oracle is the plain anti join — identical to
        # q_dedup_against's
        "q_bloom_anti_join": f"""
            WITH n AS (SELECT doc_id, source, md5({_NORM_TEXT}) AS fp
                       FROM documents)
            -- NOT EXISTS, not NOT IN: a NULL fingerprint (null-text doc)
            -- must be KEPT — it duplicates nothing. NOT IN's three-valued
            -- NULL semantics would silently drop it; anti-join (the Spark
            -- side) keeps it.
            SELECT doc_id, source FROM n
            WHERE doc_id % 2 = 1
              AND NOT EXISTS (SELECT 1 FROM n AS s
                              WHERE s.doc_id % 2 = 0 AND s.fp = n.fp)
        """,
        "q_pack_sequences": f"""
            WITH w AS (SELECT doc_id, text,
                              greatest(len({_TOKENS}), 1) AS w
                       FROM documents),
            c AS (SELECT doc_id, text, w,
                         sum(w) OVER (ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS cum
                  FROM w),
            s AS (SELECT doc_id, text, w,
                         CAST(floor((cum - w) / 512.0) AS BIGINT) AS seq_id
                  FROM c)
            SELECT seq_id,
                   -- coalesce mirrors the operator: a null-text doc packs
                   -- as an empty member (string_agg would SKIP the null)
                   md5(string_agg(coalesce(text, ''), chr(10)
                                  ORDER BY doc_id)) AS fp,
                   count(*) AS n_docs,
                   CAST(sum(w) AS BIGINT) AS n_tokens
            FROM s GROUP BY seq_id
        """,
        "q_map_stream": """
            SELECT c_custkey, c_mktsegment,
                   sum(CAST(round(c_acctbal * 100) AS BIGINT)) OVER (
                       PARTITION BY c_mktsegment ORDER BY c_custkey
                       ROWS UNBOUNDED PRECEDING) / 100.0 AS running_bal
            FROM customer
        """,
        # chunking: stride = 32 - 8 = 24; chunk i covers t[i*24+1 : i*24+32]
        "q_chunk_documents": f"""
            WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
            nn AS (SELECT doc_id, t, len(t) AS n,
                          1 + CAST(floor((greatest(len(t) - 32, 0) + 23) / 24.0)
                                   AS INT) AS n_chunks
                   FROM toks WHERE len(t) > 0)
            SELECT doc_id, (i - 1)::BIGINT AS chunk_id,
                   array_to_string(t[(i-1)*24 + 1 : (i-1)*24 + 32], ' ') AS chunk_text,
                   least(32, n - (i-1)*24)::BIGINT AS n_tokens
            FROM nn, unnest(generate_series(1, n_chunks)) AS u(i)
        """,
        "q_multimodal_features": """
            SELECT source, count(*) AS n_media,
                   round(avg(('0x' || substr(sha256(text), 1, 2))::INT / 255.0), 6)
                       AS avg_f0
            FROM documents GROUP BY source
        """,
        "q_cosine_topk": """
            -- embedding IS NOT NULL: the _drop_null_vecs contract
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                       FROM embeddings
                       WHERE vec_id < 5 AND embedding IS NOT NULL),
            c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
                  FROM embeddings WHERE embedding IS NOT NULL),
            scored AS (
                SELECT query_id, neighbor_id,
                       list_inner_product(qv, cv)
                       / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv)))
                       AS cos_raw
                FROM c CROSS JOIN q WHERE neighbor_id != query_id)
            SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine FROM scored
            QUALIFY row_number() OVER (PARTITION BY query_id
                ORDER BY cos_raw DESC, neighbor_id) <= 5
        """,
        "q_events_daily": """
            SELECT date_trunc('day', ts)::DATE AS day, event_type,
                   count(*) AS n, round(sum(CAST(round((value) * 100) AS BIGINT)) / 100.0, 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "q_events_rollup": """
            SELECT date_trunc('day', ts)::DATE AS day, event_type,
                   count(*) AS n, round(sum(CAST(round((value) * 100) AS BIGINT)) / 100.0, 2) AS total_value,
                   GROUPING(date_trunc('day', ts)::DATE) AS g_day,
                   GROUPING(event_type) AS g_type
            FROM events
            GROUP BY ROLLUP(date_trunc('day', ts)::DATE, event_type)
        """,
        "q_session_window": """
            WITH o AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch(ts::TIMESTAMP) - epoch((lag(ts) OVER w)::TIMESTAMP)
                               >= 3600
                       THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
                  FROM o)
            SELECT user_id, min(ts)::TIMESTAMP AS session_start,
                   count(*) AS n_events, round(sum(CAST(round((value) * 100) AS BIGINT)) / 100.0, 2) AS total_value
            FROM s GROUP BY user_id, sid
        """,
        "q_sessionize": """
            WITH flagged AS (
                SELECT user_id,
                       CASE WHEN lag(ts) OVER w IS NULL
                            OR floor(epoch(ts::TIMESTAMP))::BIGINT
                               - floor(epoch((lag(ts) OVER w)::TIMESTAMP))::BIGINT > 3600
                       THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            )
            SELECT user_id, sum(new_sess)::BIGINT AS n_sessions, count(*) AS n_events
            FROM flagged GROUP BY user_id
        """,
    }
