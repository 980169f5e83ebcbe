"""Group D — aggregation (SURVEY §2B).

Reference analog: combine (ref op A2, map-side partial agg) + reduce
(ref op A4).  Spark's HashAggregateExec runs the same two phases
automatically (partial before the exchange, final after), so the combiner
the reference implements by hand inside MapTask's spill path is free here.

100TB notes: every groupBy below shuffles only the (small) group keyspace
after partial agg; distinct-counts use Expand which multiplies rows —
that is the one agg whose shuffle grows with data, mitigated by partial
distinct aggregation (Spark 4 does partial de-dup map-side).
"""

from __future__ import annotations

import math

from pyspark.sql import Window, functions as F

from ..catalog import load_tables
from ..operators import ranking
from ..operators.ranking import global_row_number, global_running_sum
from .udfs import KMV_K


def q_agg_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape over lineitem (the flagship / entry() query)."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    disc_price = li.l_extendedprice * (1 - li.l_discount)
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + li.l_tax)), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_agg_global(spark, sf_dir):
    """Ungrouped global aggregate over orders."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    return o.agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


def q_agg_distinct_count(spark, sf_dir):
    """Exact multi-column distinct counts per group (Expand-based)."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
    )


def q_agg_bitmap_distinct(spark, sf_dir):
    """EXACT distinct counting via roaring-style bitmaps — the
    warehouse technique for distinct counts that must be exact AND
    incrementally mergeable (HLL trades exactness; plain
    count-distinct can't merge precomputed partials): each key maps to
    (bucket, bit position), per-(group, bucket) bitmaps OR-merge
    associatively, and the final count sums bitmap_count per group.
    Verified here against the plain COUNT(DISTINCT) oracle — the
    bitmap pipeline must be exactly equal, not approximate.

    100 TB: the shuffle carries fixed-size bitmap bytes per (group,
    bucket) instead of one row per distinct value (the Expand blowup of
    multi-distinct aggregation), and a precomputed per-partition/day
    bitmap table supports exact distinct rollups over any date range by
    bitmap_or_agg — the mergeability COUNT(DISTINCT) lacks."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    per_bucket = (
        li.selectExpr(
            "l_returnflag",
            "bitmap_bucket_number(l_orderkey) AS bkt",
            "bitmap_bit_position(l_orderkey) AS pos",
        )
        .groupBy("l_returnflag", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    return per_bucket.groupBy("l_returnflag").agg(
        F.expr("sum(bitmap_count(bm))").alias("n_distinct_orders")
    )


def q_agg_having(spark, sf_dir):
    """GROUP BY ... HAVING — filter over aggregated output."""
    load_tables(spark, sf_dir)
    c, n = spark.table("customer"), spark.table("nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_cust"))
        .filter(F.col("n_cust") > 60)
    )


def q_agg_rollup(spark, sf_dir):
    """ROLLUP(r_name, n_name) with grouping() flags to disambiguate NULLs."""
    load_tables(spark, sf_dir)
    c = spark.table("customer")
    n = spark.table("nation")
    r = spark.table("region")
    joined = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.grouping("r_name").cast("int").alias("g_r"),
        F.grouping("n_name").cast("int").alias("g_n"),
        F.count("*").alias("n_cust"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
    )


def q_agg_cube(spark, sf_dir):
    """CUBE(event_type, day) over events."""
    load_tables(spark, sf_dir)
    ev = spark.table("events").select(
        "event_type", F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("day"), "value"
    )
    return ev.cube("event_type", "day").agg(
        F.grouping("event_type").cast("int").alias("g_t"),
        F.grouping("day").cast("int").alias("g_d"),
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def q_agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS ((status,priority),(status),())."""
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_s,
               CAST(grouping(o_orderpriority) AS INT) AS g_p,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


def q_agg_stats(spark, sf_dir):
    """Sample stddev/variance + min/max per market segment."""
    load_tables(spark, sf_dir)
    c = spark.table("customer")
    return c.groupBy("c_mktsegment").agg(
        F.round(F.stddev_samp("c_acctbal"), 2).alias("std_bal"),
        F.round(F.var_samp("c_acctbal"), 2).alias("var_bal"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
    )


def q_agg_approx_distinct(spark, sf_dir):
    """HLL++ approximate distinct (rows-only: approx is engine-specific).

    tests assert |approx - exact| / exact < 5%.  100TB note: this is the
    *production* distinct-count — constant memory per partition vs the
    Expand-based exact path.
    """
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    return li.agg(F.approx_count_distinct("l_partkey").alias("approx_parts"))


def q_agg_pivot(spark, sf_dir):
    """groupBy().pivot().agg() — wide-form reshaping (values enumerated
    explicitly, as a 100TB pivot must be: value discovery is an extra
    full scan).  Output columns renamed to the lowercase contract."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .select(
            "l_returnflag",
            F.coalesce("O", F.lit(0.0)).alias("qty_open"),
            F.coalesce("F", F.lit(0.0)).alias("qty_filled"),
        )
    )


def q_agg_unpivot(spark, sf_dir):
    """unpivot/melt — long-form reshaping (the inverse surface)."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    return o.unpivot(
        ["o_orderkey"],
        ["o_totalprice", "o_custkey"],
        "measure",
        "val",
    ).select("o_orderkey", "measure", F.col("val").cast("double").alias("val"))


def q_agg_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (median/p25/p75) per order status.

    Spark's exact `percentile` and DuckDB's `quantile_cont` both use
    linear interpolation, so the values hash-match after rounding.  100TB
    note: exact percentile sorts each group — the production path at scale
    is `approx_percentile` (KLL/GK sketch, constant memory), kept off the
    hash surface like agg_approx_distinct."""
    load_tables(spark, sf_dir)
    o = spark.table("orders").select(
        "o_orderstatus",
        # quantize to exact integer cents BEFORE the percentile: the
        # quartile interpolation weights (.25/.5/.75) are exact binary
        # fractions, so lo + (hi-lo)*frac over ints is EXACT in double —
        # interpolating the raw doubles landed 1 ulp apart across
        # engines on a 2dp rounding boundary (surfaced by the r8
        # null-injection sweep, where the filtered count shifts the
        # interpolation point)
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(cents, 0.25)") / 100.0, 2).alias("p25"),
        F.round(F.expr("percentile(cents, 0.5)") / 100.0, 2).alias("p50"),
        F.round(F.expr("percentile(cents, 0.75)") / 100.0, 2).alias("p75"),
    )


def q_agg_minmax_by(spark, sf_dir):
    """max_by/min_by (argmax/argmin) per nation: customer name at the
    extreme custkey.  Ordering key is unique per group, so the arg is
    deterministic — ties on a non-unique key would be engine-defined."""
    load_tables(spark, sf_dir)
    c = spark.table("customer")
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", "c_custkey").alias("latest_cust"),
        F.min_by("c_name", "c_custkey").alias("earliest_cust"),
    )


def q_agg_string_concat(spark, sf_dir):
    """Ordered distinct string aggregation: nations per region as one
    comma-joined sorted string (listagg surface).  Sorting before joining
    is what makes the result order-independent of partitioning."""
    load_tables(spark, sf_dir)
    n = spark.table("nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("n_name"))).alias("nations")
    )


def q_agg_corr_covar(spark, sf_dir):
    """Pearson correlation + sample covariance of quantity vs discount
    per return flag (two-pass-free: both are single-pass moment aggs with
    partial/final merge — the same combiner shape as A2)."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 4).alias("covar_qty_disc"),
    )


_FILTER_CLAUSE_SQL = (
    "SELECT o_orderstatus, count(*) AS n_all, "
    "count(*) FILTER (WHERE o_totalprice > 200000) AS n_big, "
    "round(coalesce(sum(o_totalprice) FILTER "
    "(WHERE o_orderpriority = '1-URGENT'), 0), 2) AS sum_urgent, "
    "round(coalesce(avg(o_totalprice) FILTER "
    "(WHERE year(o_orderdate) = 1997), 0), 2) AS avg_1997 "
    "FROM orders GROUP BY o_orderstatus"
)


def q_agg_filter_clause(spark, sf_dir):
    """FILTER (WHERE ...) aggregates: several differently-filtered
    aggregates in ONE scan + one agg, instead of N self-joined subqueries
    — the declarative form of a multi-counter combiner (A2), and the
    single-pass shape that matters at 100TB."""
    load_tables(spark, sf_dir)
    return spark.sql(_FILTER_CLAUSE_SQL)


def q_agg_histogram_bins(spark, sf_dir):
    """Fixed-width histogram of order prices: integer bin ids from
    floor(x/width) — a width_bucket equivalent that stays in the integer
    domain (deterministic cross-engine, no float-edge flapping)."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    return (
        o.withColumn("bin", F.floor(F.col("o_totalprice") / F.lit(100000.0)).cast("long"))
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
    )


def q_agg_bool_bitwise(spark, sf_dir):
    """Boolean (bool_and/bool_or) and bitwise (bit_and/bit_or/bit_xor)
    aggregates per order status — all exact integer/boolean domain, all
    partial-aggregable (A2 combiner shape)."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    return o.groupBy("o_orderstatus").agg(
        F.expr("bool_and(o_totalprice > 1000)").alias("all_over_1k"),
        F.expr("bool_or(o_totalprice > 500000)").alias("any_over_500k"),
        F.expr("bit_and(o_orderkey)").alias("key_band"),
        F.expr("bit_or(o_orderkey)").alias("key_bor"),
        F.expr("bit_xor(o_orderkey)").alias("key_bxor"),
    )


def q_agg_distinct_multi(spark, sf_dir):
    """Several DISTINCT aggregates over DIFFERENT columns in one pass —
    Catalyst plans this with an Expand (row replication per distinct
    group), the engine-stressor shape a naive planner executes as N
    separate scans."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("nd_parts"),
        F.countDistinct("l_suppkey").alias("nd_supps"),
        F.countDistinct("l_linestatus").alias("nd_status"),
        F.count("*").alias("n_rows"),
    )


def q_agg_decimal_exact(spark, sf_dir):
    """Exact-decimal revenue accounting: prices accumulate as
    DECIMAL(18,2) (no float drift — the sum of 600k 2-decimal values is
    exact in both engines by construction), then the totals cast to
    double for the cross-engine hash.  Decimal sums shuffle as unscaled
    longs with map-side partial aggregation — same plan as the double
    version, exactness is free at this precision."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    tax = F.col("l_tax").cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(price).alias("_sp"),
            F.sum(price + tax).alias("_spt"),
            F.count("*").alias("n_rows"),
        )
        .select(
            "l_returnflag",
            F.col("_sp").cast("double").alias("sum_price"),
            F.col("_spt").cast("double").alias("sum_price_tax"),
            "n_rows",
        )
    )


def q_agg_mode(spark, sf_dir):
    """Deterministic mode (most frequent value, smallest-value tie-break)
    of o_orderpriority per o_orderstatus — count + rank, no `mode()`
    builtin so the tie-break is explicit and portable.

    100TB: the candidate table after the first agg is |statuses x
    priorities| rows — the rank window runs on a micro-table."""
    from pyspark.sql import Window

    load_tables(spark, sf_dir)
    cnt = (
        spark.table("orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("c").desc(), F.col("o_orderpriority")
    )
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("c").alias("mode_count"),
        )
    )


def q_agg_skew_kurt(spark, sf_dir):
    """Standardized 3rd/4th moments (skewness, kurtosis) of
    l_extendedprice per l_returnflag, computed from explicit two-pass
    standardized residuals — identical arithmetic in both engines, which
    sidesteps the sample-vs-population bias-correction dialect split
    between Spark's skewness()/kurtosis() and DuckDB's.

    100TB: pass 1 is a tiny per-group stats agg broadcast back; pass 2
    re-aggregates the scan — two scans, zero wide shuffles beyond the
    group keyspace."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    stats = li.groupBy("l_returnflag").agg(
        F.avg("l_extendedprice").alias("mu"),
        F.stddev_pop("l_extendedprice").alias("sd"),
    )
    # try_divide: a single-row group has sd = 0 and no standardized
    # moments — NULL on both engines (DuckDB x/0 is NULL)
    z = F.try_divide(F.col("l_extendedprice") - F.col("mu"), F.col("sd"))
    return (
        li.join(F.broadcast(stats), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.avg(F.pow(z, 3)), 6).alias("skew"),
            F.round(F.avg(F.pow(z, 4)), 6).alias("kurt"),
        )
    )


def q_agg_weighted_median(spark, sf_dir):
    """Weighted median: smallest l_extendedprice whose running
    l_quantity weight reaches half the group total, per l_returnflag —
    the cumulative-weight window formulation (quantity-weighted price
    median, the robust price statistic).

    100TB: the cumulative window sorts within each group — at scale this
    is the one truly rank-based statistic here; the group count is tiny
    so the sort parallelizes across groups, and integer weights keep the
    half-total threshold exact (no float ties)."""
    from pyspark.sql import Window

    load_tables(spark, sf_dir)
    li = spark.table("lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        F.col("l_quantity").cast("long").alias("wt"),
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("l_returnflag")
    cum = li.withColumn("cw", F.sum("wt").over(w_cum)).withColumn(
        "tot", F.sum("wt").over(w_tot)
    )
    return (
        cum.filter(F.col("cw") * 2 >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("weighted_median"),
            F.max("tot").alias("total_weight"),
        )
    )


def q_agg_linreg(spark, sf_dir):
    """Per-group ordinary-least-squares via the SQL regr_* aggregate
    family (slope / intercept / r² / n of extendedprice on quantity per
    returnflag) — single-pass distributed moments, no iteration.

    The intercept straddles zero across groups, so it carries the ±0.0
    normalization (`+ 0.0`) on both engines."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        (F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4) + F.lit(0.0)).alias(
            "intercept"
        ),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n"),
    )


def q_agg_approx_percentile(spark, sf_dir):
    """Sketch-based quantiles: percentile_approx (Greenwald-Khanna in
    Spark) for p50/p95/p99 of extendedprice per returnflag at accuracy
    10000 — the single-pass mergeable alternative to exact percentiles
    when a 100 TB column can't be sorted.  Approx output is rows-only by
    design (sketch internals differ across engines); the error bound vs
    the exact quantile is asserted in tests/test_r3c_ops.py."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile_approx("l_extendedprice", 0.5, 10000), 2).alias("p50"),
        F.round(F.percentile_approx("l_extendedprice", 0.95, 10000), 2).alias("p95"),
        F.round(F.percentile_approx("l_extendedprice", 0.99, 10000), 2).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


def q_agg_gini(spark, sf_dir):
    """Gini coefficient of order revenue across customers — the
    inequality/concentration measure a marketplace-health dashboard
    tracks: with per-customer revenue x sorted ascending and ranked
    i = 1..n, G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n.  One grouped sum, one
    DISTRIBUTED global rank, one global fold.

    Gini needs a total order over all n customers — base-table
    cardinality, so an unpartitioned rank window would funnel every row
    into one task at 100 TB.  The rank instead comes from
    operators/ranking.global_row_number (range-partition + local
    row_number + chunked offsets), which is bit-identical to the global
    window for the unique (revenue, custkey) order but stays parallel.

    The rank tie-break (revenue, then custkey) makes the rank total and
    the Σ(i·x_i) identical across engines even with duplicate revenues
    (equal x under different i contribute the same sum)."""
    load_tables(spark, sf_dir)
    rev = (
        spark.table("orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("x"))
    )
    ranked = ranking.global_row_number(rev, ["x", "o_custkey"], out_col="i")
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(
            2 * F.sum(F.col("i") * F.col("x")) / (F.count(F.lit(1)) * F.sum("x"))
            - (F.count(F.lit(1)) + 1) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


def q_agg_freq_items(spark, sf_dir):
    """DataFrame.stat.freqItems — Spark's native Karp-Papadimitriou-
    Shenker frequent-elements sketch (single pass, constant memory):
    candidate items with frequency above 5% in returnflag and
    orderstatus-by-priority columns.  Sketch output is a SUPERSET of the
    true frequent items (rows-only by design); the no-false-negative
    guarantee is asserted against exact counts in tests.

    Output is flattened to scalar columns (sorted, comma-joined) per the
    grading contract's flat-columns rule — array columns are unhashable
    in the driver's pandas canonicalizer."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    fi = li.stat.freqItems(["l_returnflag", "l_linestatus"], support=0.05)
    return fi.select(
        F.array_join(F.array_sort("l_returnflag_freqItems"), ",").alias(
            "flag_candidates"
        ),
        F.array_join(F.array_sort("l_linestatus_freqItems"), ",").alias(
            "status_candidates"
        ),
    )


def q_agg_equidepth_histogram(spark, sf_dir):
    """Equi-DEPTH histogram (decile edges) of order totals per status —
    the optimizer-statistics histogram form where each bucket holds the
    same row count, vs agg_histogram_bins' equi-width buckets.  One
    exact percentile aggregate returning the full edge array, exploded
    to (status, decile, edge) rows; Spark's `percentile` and DuckDB's
    `quantile_cont` share linear interpolation, so the edges hash-match
    at 2 dp."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    qs = [i / 10.0 for i in range(1, 10)]
    edges = o.groupBy("o_orderstatus").agg(
        F.expr(
            f"percentile(o_totalprice, array({', '.join(str(x) for x in qs)}))"
        ).alias("edges")
    )
    return edges.select(
        "o_orderstatus", F.posexplode("edges").alias("i", "edge")
    ).select(
        "o_orderstatus",
        (F.col("i") + 1).alias("decile"),
        F.round("edge", 2).alias("edge"),
    )


def q_agg_hll_union(spark, sf_dir):
    """Mergeable HLL distinct sketches — THE 100 TB distinct-count
    pattern: per-nation customer sketches built in one pass, then
    UNIONED (not recomputed) into a global estimate.  Sketch union is
    associative, so a warehouse keeps per-partition/per-day sketches and
    answers any rollup without touching raw data again.

    Output is rows-only by design (estimates are implementation-defined
    across engines); pytest asserts each estimate within 5% of its exact
    twin and that the unioned estimate equals the directly-built global
    sketch's estimate (merge losslessness)."""
    load_tables(spark, sf_dir)
    c = spark.table("customer")
    per_nation = c.groupBy("c_nationkey").agg(
        F.expr("hll_sketch_agg(c_custkey)").alias("sk"),
        F.countDistinct("c_custkey").alias("exact_distinct"),
    )
    unioned = per_nation.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"),
    )
    return per_nation.select(
        "c_nationkey",
        "exact_distinct",
        F.expr("hll_sketch_estimate(sk)").alias("est_distinct"),
        F.lit(None).cast("long").alias("global_est"),
    ).unionByName(
        unioned.select(
            F.lit(-1).alias("c_nationkey"),
            F.lit(None).cast("long").alias("exact_distinct"),
            F.lit(None).cast("long").alias("est_distinct"),
            F.col("est").alias("global_est"),
        )
    )


# ---------------------------------------------------------------- helpers
def _md5_le(col, n_bytes: int):
    """Little-endian integer of the first `n_bytes` of md5(col)'s lower
    8 bytes (hex chars 17+) — equals DuckDB md5_number_lower(col) %
    256^n_bytes.  JVM-side only: conv/substr/md5 are builtin exprs."""
    h = F.md5(col)
    acc = None
    for i in range(n_bytes):
        term = F.conv(F.substring(h, 17 + 2 * i, 2), 16, 10).cast("long") * (
            256 ** i
        )
        acc = term if acc is None else acc + term
    return acc


def _md5_le_sql(expr: str, n_bytes: int) -> str:
    """DuckDB twin of _md5_le."""
    return f"(md5_number_lower({expr}) % {256 ** n_bytes})"


# =================================================================
# Group D — sketches / weighted aggregation
# =================================================================

#: count-min sketch geometry: d rows x w buckets
CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_TOPK = 10


def q_agg_count_min_sketch(spark, sf_dir):
    """Count-Min sketch heavy-hitter estimation, built portably: d=4
    hash rows x w=256 buckets, bucket_i(key) = byte i of md5(key)'s
    lower 8 bytes (w=256 means one digest BYTE per depth row, so all
    four bucket choices come from ONE md5 per fact row — the r8 rewrite
    of the original md5(key||'#i')-per-depth form, which hashed the
    fact d times for the same sketch quality; at 100 TB the fact-scan
    hash cost is the build cost).  Sketch cell = count per (row,
    bucket) — a mergeable O(d·w) summary whose build is ONE
    partial+final aggregate over the fact (map-side combine; each
    executor emits at most d·w=1024 partial cells).  Estimates for the
    exact top-10 parts: est(k) = min_i cell[i][bucket_i(k)].  The
    portable byte extraction (Spark conv/substring of the md5 hex ==
    DuckDB md5_number_lower byte shifts) keeps estimates BIT-IDENTICAL
    across engines (hash-checked, unlike the usual rows-only sketch
    keys); the CMS guarantee est-true <= eps·N is pytest-asserted."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    key = F.col("l_partkey").cast("string")

    def depth_buckets(key_col):
        # one md5; depth i reads hex chars 17+2i..18+2i (byte i of the
        # lower 8 bytes, the same bytes md5_number_lower exposes)
        h = F.md5(key_col)
        return F.array(
            *[
                F.struct(
                    F.lit(i).alias("depth"),
                    F.conv(F.substring(h, 17 + 2 * i, 2), 16, 10)
                    .cast("long")
                    .alias("bucket"),
                )
                for i in range(CMS_DEPTH)
            ]
        )

    # sketch build: ONE fact scan — the d bucket choices explode to
    # (depth, bucket) rows (x d, but map-side combine collapses each
    # task's output to <= d*w partial cells), one partial+final agg.
    # A per-depth groupBy would re-scan the fact d times.
    cells = (
        li.select(F.explode(depth_buckets(key)).alias("db"))
        .groupBy("db.depth", "db.bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # exact top-10 parts (ties -> smaller key): the second (and last)
    # fact scan; the d probe buckets explode from the 10-row result
    top = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("true_cnt").desc(), "l_partkey")
            ),
        )
        .filter(F.col("rn") <= CMS_TOPK)
        .drop("rn")
    )
    probes = top.select(
        "l_partkey",
        "true_cnt",
        F.explode(depth_buckets(F.col("l_partkey").cast("string"))).alias(
            "db"
        ),
    ).select("l_partkey", "true_cnt", "db.depth", "db.bucket")
    return (
        probes.join(cells, ["depth", "bucket"])
        .groupBy("l_partkey", "true_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
    )


def q_agg_weighted_percentile(spark, sf_dir):
    """Quantity-weighted price percentiles per return flag (lower
    weighted percentile: the smallest price whose cumulative weight
    reaches q·W) — the weighted distribution summary behind
    'what price point covers 75% of shipped units'.  Entirely exact:
    weights are integer quantities, thresholds compare 100·cumw >= q·W
    in integers, and the picked price is a data value (no
    interpolation), so both engines agree bit-for-bit."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        F.col("l_quantity").cast("decimal(9,0)").cast("long").alias("qty"),
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("l_returnflag")
    # pre-aggregate to one row per (flag, price): the window then runs
    # over distinct prices, not raw lineitems
    g = (
        li.groupBy("l_returnflag", "price")
        .agg(F.sum("qty").alias("qsum"))
        .select(
            "l_returnflag",
            "price",
            F.sum("qsum").over(w).alias("cumw"),
            F.sum("qsum").over(tot).alias("totw"),
        )
    )
    out = None
    for pct in (25, 50, 75):
        p = (
            g.filter(100 * F.col("cumw") >= pct * F.col("totw"))
            .groupBy("l_returnflag")
            .agg(F.min("price").alias("v"))
            .select(
                "l_returnflag",
                F.lit(pct).alias("pct"),
                F.col("v").cast("double").alias("value"),
            )
        )
        out = p if out is None else out.unionByName(p)
    return out


# =================================================================
# Group D — statistical tests
# =================================================================
TT_A, TT_B = "click", "purchase"


def q_agg_welch_ttest(spark, sf_dir):
    """Welch's two-sample t-test between the click and purchase `value`
    populations — the A/B-comparison primitive.  Moments come from exact
    DECIMAL sums (s, ss per group; one partial+final agg over the fact),
    and the t statistic and Welch-Satterthwaite df are a handful of
    double ops on those identical exact operands — deterministic on both
    engines.  Output: one row (n/mean per arm, t_stat, df)."""
    load_tables(spark, sf_dir)
    e = spark.table("events").filter(F.col("event_type").isin(TT_A, TT_B))
    v = F.col("value").cast("decimal(18,6)")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s"),
        # (38,6), not (18,6): value² passes 1e13 at 1e6-scaled values
        # (r10 extreme-magnitude sweep) — the double product itself is
        # the shared deterministic quantity; only its decimal container
        # needed widening
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)")).alias(
            "ss"
        ),
    )
    a = g.filter(F.col("event_type") == TT_A).select(
        F.col("n").alias("n1"), F.col("s").alias("s1"), F.col("ss").alias("ss1")
    )
    b = g.filter(F.col("event_type") == TT_B).select(
        F.col("n").alias("n2"), F.col("s").alias("s2"), F.col("ss").alias("ss2")
    )
    j = a.crossJoin(b)  # 1x1
    m1 = F.col("s1").cast("double") / F.col("n1")
    m2 = F.col("s2").cast("double") / F.col("n2")
    # sample variance from the exact integer identity, one double cast
    v1 = (F.col("n1") * F.col("ss1") - F.col("s1") * F.col("s1")).cast(
        "double"
    ) / (F.col("n1") * (F.col("n1") - 1))
    v2 = (F.col("n2") * F.col("ss2") - F.col("s2") * F.col("s2")).cast(
        "double"
    ) / (F.col("n2") * (F.col("n2") - 1))
    se1 = v1 / F.col("n1")
    se2 = v2 / F.col("n2")
    t = (m1 - m2) / F.sqrt(se1 + se2)
    df = (se1 + se2) * (se1 + se2) / (
        se1 * se1 / (F.col("n1") - 1) + se2 * se2 / (F.col("n2") - 1)
    )
    return j.select(
        F.col("n1"),
        F.col("n2"),
        F.round(m1, 6).alias("mean1"),
        F.round(m2, 6).alias("mean2"),
        F.round(t, 6).alias("t_stat"),
        F.round(df, 4).alias("df"),
    )


def q_agg_chi_square(spark, sf_dir):
    """Chi-square independence cells for event_type x day-of-week: per
    cell the observed count, expected count e = row*col/N and the
    contribution (o-e)^2/e — the seasonality-independence audit.
    Per-cell output only (the keyspace is types x 7, bounded): summing
    the contributions would be an unordered float reduction, which is
    exactly the cross-engine trap; each cell's value is a deterministic
    expression of four exact integers.  The N/row/col marginals are
    window sums over the tiny cell table."""
    load_tables(spark, sf_dir)
    e = spark.table("events")
    cells = e.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("dow")
    wt = Window.partitionBy()
    scored = cells.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(wr).alias("r"),
        F.sum("o").over(wc).alias("c"),
        F.sum("o").over(wt).alias("n"),
    )
    exp = F.col("r") * F.col("c") / F.col("n").cast("double")
    return scored.select(
        "event_type",
        "dow",
        "o",
        F.round(exp, 6).alias("expected"),
        F.round((F.col("o") - exp) * (F.col("o") - exp) / exp, 6).alias(
            "contribution"
        ),
    )


def q_agg_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov between the click and purchase
    `value` distributions: D = max_v |F1(v) - F2(v)|, the
    distribution-shift detector behind data-drift monitoring.  Exact
    formulation: maximize |c1(v)*n2 - c2(v)*n1| in INTEGERS over the
    distinct-value spine (cumulative counts via the distributed
    chunked-offset prefix sum - the spine scales with data, so no
    unpartitioned window), one double division at the end.  Argmax ties
    break to the smallest value via a lexicographic min(struct).
    Output: one row (n1, n2, d_num, ks_d, at_value)."""
    from ..operators.ranking import global_running_sum

    load_tables(spark, sf_dir)
    # complete-case: NULL values cannot be ranked on the value spine
    # (engines' default NULL orders differ) — excluded on both sides
    e = spark.table("events").filter(
        F.col("event_type").isin(TT_A, TT_B) & F.col("value").isNotNull()
    )
    g = e.groupBy("value").agg(
        F.sum((F.col("event_type") == TT_A).cast("long")).alias("c1"),
        F.sum((F.col("event_type") == TT_B).cast("long")).alias("c2"),
    )
    pref = global_running_sum(g, ["value"], ["c1", "c2"])
    tot = g.agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    scored = pref.crossJoin(F.broadcast(tot)).select(
        "value",
        "n1",
        "n2",
        F.abs(
            F.col("cum_c1") * F.col("n2") - F.col("cum_c2") * F.col("n1")
        ).alias("score"),
    )
    best = scored.groupBy("n1", "n2").agg(
        F.min(F.struct((-F.col("score")).alias("ns"), F.col("value").alias("v"))).alias("m")
    )
    return best.select(
        "n1",
        "n2",
        (-F.col("m.ns")).alias("d_num"),
        F.round(
            (-F.col("m.ns")).cast("double") / (F.col("n1") * F.col("n2")), 6
        ).alias("ks_d"),
        F.col("m.v").alias("at_value"),
    )


def q_agg_mann_whitney(spark, sf_dir):
    """Mann-Whitney U (rank-sum) between click and purchase values with
    tie-corrected normal approximation — the non-parametric A/B test.
    All rank arithmetic in exact integers on the distinct-value spine:
    tied groups contribute c1·(a+b) to 2·R1 (twice the average rank is
    the integer a+b), U from 2U1 = 2R1 − n1(n1+1), tie term T = Σ(t³−t);
    prefix positions via the distributed chunked-offset sum.  The z
    statistic is a handful of double ops on those identical exact
    integers.  Output: one row (n1, n2, u1, z)."""
    from ..operators.ranking import global_running_sum

    load_tables(spark, sf_dir)
    # complete-case: NULL values cannot be ranked on the value spine
    # (engines' default NULL orders differ) — excluded on both sides
    e = spark.table("events").filter(
        F.col("event_type").isin(TT_A, TT_B) & F.col("value").isNotNull()
    )
    g = e.groupBy("value").agg(
        F.sum((F.col("event_type") == TT_A).cast("long")).alias("c1"),
        F.sum((F.col("event_type") == TT_B).cast("long")).alias("c2"),
    ).withColumn("t", F.col("c1") + F.col("c2"))
    pref = global_running_sum(g, ["value"], ["t"])
    terms = pref.select(
        "c1",
        "t",
        # tied group occupies ranks [cum_t - t + 1 .. cum_t]; a+b below
        (2 * F.col("cum_t") - F.col("t") + 1).alias("ab"),
    )
    agg = terms.agg(
        F.sum(F.col("c1") * F.col("ab")).alias("two_r1"),
        F.sum("c1").alias("n1"),
        F.sum(F.col("t") - F.col("c1")).alias("n2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie_t"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    nn = n1 + n2
    u1 = (F.col("two_r1") - n1 * (n1 + 1)) / 2.0
    mu = n1.cast("double") * n2 / 2.0
    var = (
        n1.cast("double") * n2 / 12.0
        * ((nn + 1) - F.col("tie_t").cast("double") / (nn * (nn - 1)))
    )
    return agg.select(
        "n1",
        "n2",
        u1.alias("u1"),
        F.round((u1 - mu) / F.sqrt(var), 6).alias("z"),
    )


# =================================================================
# Group D — mergeable summaries
# =================================================================
BLOOM_M = 1024  #: bits per nation filter
BLOOM_K = 3     #: hash functions


def q_agg_bloom_filter(spark, sf_dir):
    """Per-nation Bloom-filter build over supplier keys: k=3 portable
    md5 bucket positions in an m=1024-bit filter, reported as bits_set
    (the union of positions — a COUNT DISTINCT, i.e. the exact bitmap
    popcount), half-up per-mille fill, and the standard cardinality
    inversion est = −(m/k)·ln(1 − fill).  The filter is mergeable by
    construction (bit-OR == position-set union), which is what makes it
    a valid partial+final distributed summary at 100 TB; the estimate
    is one ln() over exact integers, so it hashes identically."""
    load_tables(spark, sf_dir)
    s = spark.table("supplier")
    key = F.col("s_suppkey").cast("string")
    pos = F.explode(
        F.array(
            *[
                (_md5_le(F.concat(key, F.lit(f"#{i}")), 4) % BLOOM_M).alias(
                    f"p{i}"
                )
                for i in range(BLOOM_K)
            ]
        )
    )
    exploded = s.select("s_nationkey", "s_suppkey", pos.alias("pos"))
    agg = exploded.groupBy("s_nationkey").agg(
        F.countDistinct("s_suppkey").alias("n_keys"),
        F.countDistinct("pos").alias("bits_set"),
    )
    fill_pm = F.expr(f"(2000 * bits_set + {BLOOM_M}) div {2 * BLOOM_M}")
    est = F.round(
        -(F.lit(BLOOM_M) / F.lit(BLOOM_K))
        * F.log(F.lit(1.0) - F.col("bits_set") / F.lit(float(BLOOM_M))),
        4,
    )
    return agg.select(
        "s_nationkey", "n_keys", "bits_set", fill_pm.alias("fill_pm"),
        est.alias("est_n"),
    )


def q_agg_kmv_jaccard(spark, sf_dir):
    """KMV (bottom-k minhash) Jaccard estimate between the click-user
    and purchase-user sets: hash every distinct user with the portable
    56-bit md5, keep the k=64 smallest hashes of the UNION (ties break
    on user id — a total order, so the sketch is deterministic), and
    estimate J = |sketch ∩ A ∩ B| / k.  The bottom-k survives as a
    distributed ORDER BY + LIMIT (TakeOrdered — per-partition top-k
    then a k-row merge, no global sort), and a bottom-k sketch is
    mergeable, which is the whole point at 100 TB.  Exact cohort sizes
    ride along for the error-vs-exact comparison."""
    load_tables(spark, sf_dir)
    e = spark.table("events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    flags = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "click").cast("int")).alias("in_a"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("in_b"),
    )
    hashed = flags.select(
        "user_id",
        "in_a",
        "in_b",
        _md5_le(F.col("user_id").cast("string"), 7).alias("h"),
    )
    sketch = hashed.orderBy("h", "user_id").limit(KMV_K)
    return sketch.agg(
        F.max(F.lit(KMV_K)).alias("k"),
        F.count(F.lit(1)).alias("sketch_n"),  # < k iff union smaller than k
        F.max("h").alias("kth_hash"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
        F.round(
            F.sum(F.col("in_a") * F.col("in_b"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("jaccard_est"),
        # an empty union has no sketch and no estimate — emit no row
        # (oracle mirrors with HAVING)
    ).filter(F.col("sketch_n") > 0)


def q_agg_decile_lift(spark, sf_dir):
    """Customer-value decile lift table: customers ranked by lifetime
    spend (exact integer cents, ties → customer key), cut into 10 equal
    ranks with the integer rule decile = ((rank−1)·10) div n + 1, then
    per decile the customer count, revenue, revenue share, and lift
    (share ÷ the 10% a uniform decile would hold).  The campaign-
    targeting primitive.  Ranking uses the distributed chunked-offset
    row_number (operators/ranking.py) — customers scale with SF, so no
    single-partition window; share/lift are single divisions of exact
    integer cents."""
    from ..operators.ranking import global_row_number

    load_tables(spark, sf_dir)
    o = spark.table("orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        ).alias("cents")
    )
    ranked = global_row_number(
        spend.withColumn("neg", -F.col("cents")), ["neg", "o_custkey"]
    )
    n_tot = ranked.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("tot")
    )
    dec = ranked.crossJoin(F.broadcast(n_tot)).select(
        F.expr("((i - 1) * 10) div n + 1").alias("decile"),
        "cents",
        "tot",
    )
    g = dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("cents").alias("dc"),
        F.max("tot").alias("tot"),
    )
    share = F.col("dc") / F.col("tot").cast("double")
    return g.select(
        "decile",
        "n_cust",
        (F.col("dc") / 100.0).alias("revenue"),
        F.round(share, 6).alias("rev_share"),
        F.round(share * 10, 4).alias("lift"),
    )


def q_agg_log_histogram(spark, sf_dir):
    """Power-of-two (log2) histogram of order totals in integer cents:
    bucket = bit-length − 1 via length(bin(x)) — pure string/bit
    arithmetic, NO floating log, so bucket edges can never flap on
    values sitting exactly at a power of two.  The long-tail profile
    (latencies, sizes, revenues) every monitoring system draws; one
    partial+final agg over the fact."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    b = o.select(
        cents.alias("cents"),
        (F.length(F.bin(cents)) - 1).alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )


_BLOOM_POS_SQL = " UNION ALL ".join(
    f"SELECT s_nationkey, s_suppkey, "
    + _md5_le_sql(f"CAST(s_suppkey AS VARCHAR) || '#{i}'", 4)
    + f" % {BLOOM_M} AS pos FROM supplier"
    for i in range(BLOOM_K)
)


def q_agg_rfm_segments(spark, sf_dir):
    """RFM segmentation: every customer scored 1-5 on Recency (days
    since last order, newest = 5), Frequency (order count) and Monetary
    (lifetime cents), each by the exact integer quintile rule over a
    distributed chunked-offset rank (ties -> customer key, so the cut
    is total-ordered and reproducible); output = the populated R-F-M
    cells with customer count and revenue share.  The classic CRM
    segmentation, built scale-first: three rank passes over the
    customer grain, no single-partition window."""
    from ..operators.ranking import global_row_number

    load_tables(spark, sf_dir)
    o = spark.table("orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_dt"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        ).alias("cents"),
    )
    # recency in days vs the corpus max date (1-row broadcast)
    mx = per_cust.agg(F.max("last_dt").alias("mx"))
    scored = per_cust.crossJoin(F.broadcast(mx)).select(
        "o_custkey",
        "freq",
        "cents",
        F.datediff("mx", "last_dt").alias("rec_days"),
    )
    # three quintile ranks; "better" sorts last so quintile 5 = best:
    # recency ascends by -rec_days, frequency/monetary ascend naturally
    ranked = scored
    for metric, col in [
        ("r", -F.col("rec_days")),
        ("f", F.col("freq")),
        ("m", F.col("cents")),
    ]:
        ranked = global_row_number(
            ranked.withColumn("_metric", col), ["_metric", "o_custkey"],
            out_col="i",
        )
        n = ranked.agg(F.count(F.lit(1)).alias("n"))
        ranked = (
            ranked.crossJoin(F.broadcast(n))
            .withColumn(metric, F.expr("((i - 1) * 5) div n + 1"))
            .drop("_metric", "i", "n")
        )
    tot = ranked.agg(F.sum("cents").alias("tot"))
    cells = ranked.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("cc"),
    )
    return cells.crossJoin(F.broadcast(tot)).select(
        F.concat_ws("-", "r", "f", "m").alias("rfm_cell"),
        "n_customers",
        (F.col("cc") / 100.0).alias("revenue"),
        F.round(F.col("cc") / F.col("tot").cast("double"), 6).alias(
            "rev_share"
        ),
    )


LTV_MAX_YEARS = 3  #: LTV horizon (years since first order)

PARETO_TARGET_PM = 800  #: the "80" of the 80/20 rule, in per-mille


def q_agg_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value curve: customers grouped by FIRST-ORDER
    YEAR, each cohort's cumulative revenue tracked by whole years since
    first order (horizon 3) — the 'how fast does a cohort pay back'
    curve under every acquisition decision.  Two windowless aggs (per-
    customer first date, then (cohort, age) cells) plus ONE ordered
    cumulative sum over the bounded cohort×age grain; revenue is exact
    integer cents, per-customer LTV one final double division."""
    load_tables(spark, sf_dir)
    o = spark.table("orders").select(
        "o_custkey",
        "o_orderdate",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias(
            "cents"
        ),
    )
    first = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_dt"))
    aged = o.join(first, "o_custkey").select(
        "o_custkey",
        "cents",
        F.year("first_dt").alias("cohort_year"),
        # (days*4) div 1461 == floor(days/365.25) in EXACT integers —
        # float-cast rounding differs per engine (DuckDB rounds, Spark
        # truncates), so the age bucket must never touch a double
        F.expr("(datediff(o_orderdate, first_dt) * 4) div 1461")
        .cast("int")
        .alias("age_years"),
    ).filter(F.col("age_years") <= LTV_MAX_YEARS)
    sizes = first.groupBy(F.year("first_dt").alias("cohort_year")).agg(
        F.countDistinct("o_custkey").alias("n_customers")
    )
    cells = aged.groupBy("cohort_year", "age_years").agg(
        F.sum("cents").alias("cc")
    )
    w = (
        Window.partitionBy("cohort_year")
        .orderBy("age_years")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cells.select(
        "cohort_year",
        "age_years",
        F.sum("cc").over(w).alias("cum_cents"),
    )
    return cum.join(sizes, "cohort_year").select(
        "cohort_year",
        "age_years",
        "n_customers",
        (F.col("cum_cents") / 100.0).alias("cum_revenue"),
        # half-up integer cents-per-customer: a float quotient can land
        # exactly on a 2dp tie and round differently per engine
        (
            F.expr("(2 * cum_cents + n_customers) div (2 * n_customers)")
            / 100.0
        ).alias("ltv_per_customer"),
    )


def q_agg_pareto_concentration(spark, sf_dir):
    """Pareto (80/20) revenue concentration: customers ranked by spend
    descending (distributed chunked-offset rank, custkey tiebreak), the
    running revenue share computed in exact integers, and ONE summary
    row: how many customers — and what fraction of the base — cover 80%
    of revenue, plus the top-10% cohort's revenue share.  The threshold
    test is cross-multiplied (1000·cum ≥ 800·total), no float compare;
    the curve never materializes to the driver."""
    from ..operators.ranking import global_row_number, global_running_sum

    load_tables(spark, sf_dir)
    o = spark.table("orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        ).alias("cents")
    )
    ranked = global_row_number(
        spend.withColumn("neg", -F.col("cents")), ["neg", "o_custkey"]
    )
    tot = ranked.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total")
    )
    # running revenue over the DISTRIBUTED chunked-offset prefix sum
    # (customers scale with SF — no single-partition window), then the
    # 80% crossing count: rows whose PREVIOUS cumulative share < 80%
    cum = global_running_sum(ranked, ["i"], ["cents"]).select(
        "i", "cents", F.col("cum_cents").alias("cum")
    )
    j = cum.crossJoin(F.broadcast(tot))
    # cross-multiply in DECIMAL(38,0) (r10): cum*1000 passes 1e19 at
    # hostile magnitudes — the no-float compare survives any cent scale
    k_row = j.agg(
        F.sum(
            (
                (F.col("cum") - F.col("cents")).cast("decimal(38,0)") * 1000
                < PARETO_TARGET_PM * F.col("total").cast("decimal(38,0)")
            ).cast("long")
        ).alias("k80"),
        F.max("n").alias("n"),
        F.max("total").alias("total"),
    )
    top10 = j.filter(F.col("i") * 10 <= F.col("n")).agg(
        F.sum("cents").alias("t10")
    )
    return k_row.crossJoin(F.broadcast(top10)).select(
        F.col("n").alias("n_customers"),
        F.col("k80").alias("customers_for_80pct"),
        F.expr("(2000 * k80 + n) div (2 * n)").alias("base_share_pm"),
        F.round(F.col("t10") / F.col("total").cast("double"), 6).alias(
            "top_decile_rev_share"
        ),
    )


def q_agg_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix of user event types: for
    every (from_type, to_type) pair, the transition count and the
    row-normalized probability — the session-modeling statistic under
    next-action prediction and anomaly scoring.

    One lead() over each user's (ts, event_id) order, one partial+final
    agg on the pair, one window sum per from-state (no join); the
    probability is a half-up x10^6 integer quotient.  The matrix is
    bounded by the event-type enum squared at any SF."""
    load_tables(spark, sf_dir)
    ev = spark.table("events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counted = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wf = Window.partitionBy("from_type")
    return counted.select(
        "from_type",
        "to_type",
        "n",
        (
            F.expr(
                "(2 * 1000000 * n + sum(n) OVER "
                "(PARTITION BY from_type)) div "
                "(2 * sum(n) OVER (PARTITION BY from_type))"
            )
            / 1000000.0
        ).alias("prob"),
        F.sum("n").over(wf).alias("from_total"),
    )


# =================================================================
# Group D — Kaplan-Meier survival (churn analysis)
# =================================================================
KM_CHURN_DAYS = 90  #: quiet for 90+ days before the dataset edge = churned


def q_agg_survival_km(spark, sf_dir):
    """Kaplan-Meier survival curve of customer lifetime: T = days
    between a customer's first and last order; the customer counts as a
    CHURN EVENT at T if their last order is 90+ days before the dataset
    edge, otherwise they are right-CENSORED (still alive when the data
    ends) — the product-limit estimator S(t) = Π_{t_i≤t} (1 − d_i/n_i)
    under every churn/retention model.

    Exactness: d_i and n_i are exact integers (at-risk via a cumulative
    window over the bounded lifetime grain); each factor is ONE IEEE
    division, and the running product folds the factor list in
    ascending-t frame order on BOTH engines (Spark `aggregate`, DuckDB
    scalar `list_reduce` — the struct in-place pitfall does not apply
    to scalar accumulators), so the doubles agree bit-for-bit before
    the final 6 dp rounding."""
    load_tables(spark, sf_dir)
    from pyspark.sql import Window as W

    o = spark.table("orders").select("o_custkey", "o_orderdate")
    span = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_dt"),
        F.max("o_orderdate").alias("last_dt"),
    )
    edge = o.agg(F.max("o_orderdate").alias("edge_dt"))
    life = span.crossJoin(F.broadcast(edge)).select(
        F.datediff("last_dt", "first_dt").alias("t"),
        (
            F.datediff("edge_dt", "last_dt") >= KM_CHURN_DAYS
        ).cast("int").alias("churned"),
    )
    grain = life.groupBy("t").agg(
        F.sum("churned").alias("d"),
        F.count(F.lit(1)).alias("c"),
    )
    total = grain.agg(F.sum("c").alias("n_total"))
    w = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    wf = W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    lined = grain.crossJoin(F.broadcast(total)).select(
        "t",
        "d",
        "c",
        (
            F.col("n_total") - F.coalesce(F.sum("c").over(w), F.lit(0))
        ).alias("n_risk"),
    )
    factored = lined.select(
        "t",
        "d",
        "n_risk",
        F.collect_list(
            F.lit(1.0) - F.col("d") / F.col("n_risk")
        ).over(wf).alias("fs"),
    )
    surv = F.expr(
        "aggregate(slice(fs, 2, size(fs) - 1), element_at(fs, 1), "
        "(acc, x) -> acc * x)"
    )
    return factored.select(
        "t",
        "d",
        "n_risk",
        F.round(surv, 6).alias("survival"),
    )


# =================================================================
# Group D — Poisson-bootstrap confidence interval
# =================================================================
BOOT_B = 200  #: bootstrap replicates

#: Poisson(1) inverse-CDF ladder: cumulative e^-1 * 1/k! thresholds.
#: The uniform is an exact md5-derived 56-bit integer scaled by 2^-56
#: (one IEEE multiply by a power of two — exact), so both engines step
#: the SAME ladder on the SAME doubles and draw identical weights.
_POIS_CUM = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
]
_BOOT_SCALE = float(2 ** 56)


def _pois_case(u_expr: str) -> str:
    """CASE ladder mapping a uniform to a Poisson(1) draw (capped at 8,
    cumulative tail mass < 1.1e-5) — identical SQL text both dialects."""
    branches = " ".join(
        f"WHEN {u_expr} < {t!r} THEN {k}" for k, t in enumerate(_POIS_CUM)
    )
    return f"(CASE {branches} ELSE 8 END)"


def q_agg_bootstrap_ci(spark, sf_dir):
    """95% bootstrap confidence interval for the mean order value via
    the POISSON BOOTSTRAP — the resampling scheme that actually scales:
    classic bootstrap resamples n rows with replacement (a global
    shuffle per replicate), while Poisson(1) weights are drawn
    INDEPENDENTLY per (row, replicate) map-side, so 200 replicates cost
    one generate + one partial+final agg to 200 rows, no data movement
    beyond the 200-row collapse.

    Determinism: weights come from the portable md5 coin (same 56-bit
    integer on both engines), the uniform scaling is an exact
    power-of-two multiply, and the ladder thresholds are shared
    literals — so every replicate's integer (Σw·cents, Σw) pair is
    identical cross-engine; the replicate means and the interpolated
    2.5/97.5 percentiles then agree bit-for-bit before rounding."""
    load_tables(spark, sf_dir)
    o = spark.table("orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    rep = o.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(1), F.lit(BOOT_B))).alias("b"),
    )
    u = (
        _md5_le(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit(":"),
                F.col("b").cast("string"),
            ),
            7,
        )
        / F.lit(_BOOT_SCALE)
    )
    weighted = (
        rep.withColumn("u", u)
        .select("b", "cents", F.expr(_pois_case("u")).alias("w"))
    )
    # try_divide: a tiny input can draw all-zero Poisson weights in a
    # replicate (sum w = 0) — that replicate's mean is NULL on both
    # engines (DuckDB x/0 is NULL)
    means = weighted.groupBy("b").agg(
        F.try_divide(F.sum(F.col("w") * F.col("cents")), F.sum("w")).alias("m")
    )
    point = o.agg((F.sum("cents") / F.count(F.lit(1))).alias("pm"))
    return means.crossJoin(F.broadcast(point)).agg(
        F.count(F.lit(1)).alias("n_replicates"),
        F.round(F.max("pm") / 100.0, 4).alias("point_mean"),
        F.round(F.expr("percentile(m, 0.025)") / 100.0, 4).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)") / 100.0, 4).alias("ci_hi"),
    )


def q_agg_cramers_v(spark, sf_dir):
    """Cramér's V — the effect size of the event_type × day-of-week
    association (the number a chi-square audit actually reports):
    V = sqrt(χ² / (N·min(r−1, c−1))).

    χ² is a sum of float cell terms — an UNORDERED float reduction is
    the cross-engine trap (agg_chi_square stops at per-cell output for
    exactly this reason) — so the cells collect into ONE list sorted by
    (type, dow) and fold-add in that fixed order on both engines (the
    agg_survival_km discipline, addition instead of multiplication).
    Marginals are exact integers; each term is a fixed-shape expression
    of four ints; the cell table is bounded by the enum grid."""
    load_tables(spark, sf_dir)
    e = spark.table("events")
    cells = e.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("dow")
    wt = Window.partitionBy()
    scored = cells.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(wr).alias("r"),
        F.sum("o").over(wc).alias("c"),
        F.sum("o").over(wt).alias("n"),
        F.count(F.lit(1)).over(wr).alias("n_cols_in_row"),
        F.size(F.collect_set("event_type").over(wt)).alias("n_rows"),
        F.size(F.collect_set("dow").over(wt)).alias("n_cols"),
    )
    term = (
        (F.col("o") - F.col("r") * F.col("c") / F.col("n").cast("double"))
        * (F.col("o") - F.col("r") * F.col("c") / F.col("n").cast("double"))
        / (F.col("r") * F.col("c") / F.col("n").cast("double"))
    )
    agg = scored.groupBy("n", "n_rows", "n_cols").agg(
        F.array_sort(
            F.collect_list(F.struct("event_type", "dow", term.alias("t")))
        ).alias("ts")
    )
    chi2 = F.expr(
        "aggregate(slice(ts, 2, size(ts) - 1), element_at(ts, 1).t, "
        "(acc, x) -> acc + x.t)"
    )
    return agg.select(
        F.col("n").alias("n_events"),
        "n_rows",
        "n_cols",
        F.round(chi2, 6).alias("chi2"),
        # try_divide: a 1x1 contingency grid has min(r-1,c-1) = 0 and no
        # association to normalize — NULL on both engines
        F.round(
            F.sqrt(
                F.try_divide(
                    chi2,
                    (
                        F.col("n")
                        * F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)
                    ).cast("double"),
                )
            ),
            6,
        ).alias("cramers_v"),
    )


#: chi-square critical value at alpha=0.05 for df=6 (7 weekday groups)
KW_CRIT_05_DF6 = 12.592


def _rank2(value_col: str) -> F.Column:
    """Twice the tie-averaged rank of `value_col` — exact integer:
    2*avg_rank = 2*rank() + count(ties) - 1.  Single-partition window is
    fine here: every caller ranks a pre-aggregated DAILY table, bounded
    at ~2,406 rows by the fixture's fixed 1992-1998 date span at any SF
    (same argument as the TA windows)."""
    return (
        2 * F.rank().over(Window.orderBy(value_col))
        + F.count(F.lit(1)).over(Window.partitionBy(value_col))
        - 1
    ).cast("long")


def q_agg_spearman_corr(spark, sf_dir):
    """Spearman rank correlation between daily order COUNT and daily
    REVENUE — the monotone-association measure that, unlike Pearson
    (agg_corr_covar), is robust to the heavy right tail of revenue.

    Exact arithmetic end to end: one partial+final agg to the bounded
    daily grain, tie-averaged ranks as exact integers (2*avg_rank =
    2*rank + ties - 1, the agg_mann_whitney identity), then Pearson on
    the integer rank pairs — every sum is an exact BIGINT (n<=2406,
    2r<=4812, n*Sxy ~ 1.3e14), so both engines feed IDENTICAL integers
    into the single final sqrt/divide.  Scale: the only unbounded work
    is the first agg; the rank window runs on <=2,406 rows at any SF."""
    load_tables(spark, sf_dir)
    # complete-case: unpriced orders carry no revenue signal, and a day
    # whose orders all lack a price would rank as NULL — where the
    # engines' default NULL sort orders differ; excluded on both sides
    o = spark.table("orders").filter(F.col("o_totalprice").isNotNull())
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").alias("revenue"),
    )
    ranked = daily.select(
        _rank2("n_orders").alias("rx2"), _rank2("revenue").alias("ry2")
    )
    a = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx2").alias("sx"),
        F.sum("ry2").alias("sy"),
        F.sum(F.col("rx2") * F.col("ry2")).alias("sxy"),
        F.sum(F.col("rx2") * F.col("rx2")).alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).alias("syy"),
    )
    n = F.col("n")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    # try_divide: a single day has zero rank variance and no defined
    # correlation — NULL on both engines (DuckDB x/0 is NULL)
    return a.select(
        n.alias("n_days"),
        F.round(F.try_divide(num, F.sqrt(dx * dy)), 6).alias("spearman_rho"),
    )


def q_agg_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H test: does daily revenue differ by day-of-week?
    The k-group generalization of Mann-Whitney — the non-parametric
    ANOVA every seasonality audit runs before trusting weekday splits.

    Rank arithmetic exact as in agg_spearman_corr; the per-group term
    R_j^2/n_j is a half-up x10^6 integer quotient (identical integer
    ops on both engines — the unordered 7-term float sum this replaces
    is exactly the cross-engine drift trap), and H folds those exact
    integers with one fixed-shape double expression.  Weekday id is
    (day - 1992-01-01) % 7, portable across engines (dayofweek
    anchors differ).  Uncorrected-for-ties form, documented: revenue is
    a DECIMAL sum, ties are structurally absent at every fixture SF."""
    load_tables(spark, sf_dir)
    # complete-case: see agg_spearman_corr — NULL-revenue days rank
    # differently across engines; excluded on both sides
    o = spark.table("orders").filter(F.col("o_totalprice").isNotNull())
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum("o_totalprice").alias("revenue")
    )
    ranked = daily.select(
        F.expr("datediff(day, DATE '1992-01-01') % 7").alias("g"),
        _rank2("revenue").alias("r2"),
    )
    grp = ranked.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_j"), F.sum("r2").alias("two_r")
    )
    # t_j = half-up(1e6 * (two_r/2)^2 / n_j) = half-up(1e6*two_r^2 / (4*n_j))
    term = F.expr("(2 * 1000000 * two_r * two_r + 4 * n_j) div (8 * n_j)")
    a = grp.agg(
        F.sum("n_j").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(term).alias("t"),
    )
    h = F.round(
        12.0 * F.col("t") / (F.col("n") * (F.col("n") + 1) * 1000000.0)
        - 3 * (F.col("n") + 1),
        6,
    )
    # no days -> no test (H is undefined); oracle mirrors with WHERE
    return a.filter(F.col("n").isNotNull()).select(
        F.col("n").alias("n_days"),
        (F.col("k") - 1).alias("df"),
        h.alias("h_stat"),
        (h > KW_CRIT_05_DF6).alias("reject_05"),
    )


TWO_PI = 6.283185307179586


def _trig_case(col: str, fn) -> str:
    """CASE mapping hour 0..23 -> sin/cos(2*pi*h/24) as full-precision
    PYTHON-COMPUTED literals, identical text in both dialects — keeps
    libm out of the query entirely (Java Math.sin and C libm may differ
    by an ulp on the same argument; a shared literal table cannot)."""
    arms = " ".join(
        f"WHEN {h} THEN {fn(TWO_PI * h / 24.0)!r}" for h in range(24)
    )
    return f"(CASE {col} {arms} END)"


def q_agg_circular_mean(spark, sf_dir):
    """Circular mean and resultant length of event HOUR-OF-DAY per event
    type — directional statistics, the correct 'average time of day'
    (the arithmetic mean of 23:00 and 01:00 is midnight, not noon).

    mean = atan2(sum sin, sum cos) mapped to [0, 24); r = |resultant|/n
    (r ~ 1 means concentrated, ~0 means uniform).  Cross-engine
    discipline: the 24 sin/cos values enter as PYTHON-GENERATED decimal
    literals (no libm sin/cos in either engine), weighted by exact
    integer hour counts and folded in fixed hour order, so both engines
    stream identical doubles into the single final atan2/sqrt."""
    load_tables(spark, sf_dir)
    e = spark.table("events")
    hist = e.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hod")
    ).agg(F.count(F.lit(1)).alias("c"))
    arr = hist.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("hod", "c"))).alias("a"),
        F.sum("c").alias("n"),
    )
    sin_case = _trig_case("x.hod", math.sin)
    cos_case = _trig_case("x.hod", math.cos)
    sx = F.expr(
        f"aggregate(a, cast(0.0 as double), (acc, x) -> acc + x.c * {sin_case})"
    )
    sy = F.expr(
        f"aggregate(a, cast(0.0 as double), (acc, x) -> acc + x.c * {cos_case})"
    )
    scored = arr.select(
        "event_type", "n", sx.alias("sx"), sy.alias("sy")
    )
    theta = F.atan2(F.col("sx"), F.col("sy"))
    theta = F.when(theta < 0, theta + TWO_PI).otherwise(theta)
    return scored.select(
        "event_type",
        "n",
        F.round(theta * 24.0 / TWO_PI, 6).alias("mean_hour"),
        F.round(
            F.sqrt(F.col("sx") * F.col("sx") + F.col("sy") * F.col("sy"))
            / F.col("n"),
            6,
        ).alias("resultant_r"),
    )


def q_agg_mutual_info(spark, sf_dir):
    """Mutual information (in nats) between event type and day-of-week
    — the information-theoretic association measure that, unlike
    chi-square (agg_chi_square / agg_cramers_v), is directly
    interpretable as bits-of-dependence and robust to cell count.
    MI = sum p_xy * ln(N*o_xy / (r_x*c_y)) over the bounded enum grid.

    Cross-engine discipline (agg_cramers_v convention): marginals are
    exact integers, each cell term is one fixed-shape expression of
    four ints, and the grid folds in sorted (type, dow) order so both
    engines stream identical doubles; MI is transcendental, 6dp
    rounding never lands on a tie."""
    load_tables(spark, sf_dir)
    from pyspark.sql import Window

    e = spark.table("events")
    cells = e.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("dow")
    wt = Window.partitionBy()
    scored = cells.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(wr).alias("r"),
        F.sum("o").over(wc).alias("c"),
        F.sum("o").over(wt).alias("n"),
    )
    term = (
        F.col("o")
        / F.col("n").cast("double")
        * F.log(
            F.col("n").cast("double")
            * F.col("o")
            / (F.col("r") * F.col("c")).cast("double")
        )
    )
    agg = scored.groupBy("n").agg(
        F.array_sort(
            F.collect_list(F.struct("event_type", "dow", term.alias("t")))
        ).alias("ts")
    )
    mi = F.expr(
        "aggregate(slice(ts, 2, size(ts) - 1), element_at(ts, 1).t, "
        "(acc, x) -> acc + x.t)"
    )
    return agg.select(
        F.col("n").alias("n_events"),
        F.round(mi, 6).alias("mi_nats"),
    )


#: winsorization percentile (per-mille, symmetric)
WINSOR_PM = 50          # clamp below p5 / above p95

#: Hill estimator: number of top order statistics
HILL_K = 100


def q_agg_winsorized_mean(spark, sf_dir):
    """Winsorized mean of order value: clamp everything below the 5th /
    above the 95th percentile to those boundaries, then average — the
    robust location estimate dashboards use when a handful of mega
    orders would drag the plain mean.

    Exact path: percentile boundaries are ORDER STATISTICS — the
    ceil(p*n)-th smallest under the distributed chunked-offset
    row_number (no single-partition sort, no interpolation ambiguity),
    extracted as exact integer cents; the clamp is least/greatest on
    integers; the mean is ONE half-up integer quotient of the clamped
    sum.  Both engines replay identical integer ops."""
    load_tables(spark, sf_dir)
    # complete-case: unpriced orders have no value to rank (the engines'
    # default NULL sort orders differ) — excluded on both sides
    o = spark.table("orders").filter(F.col("o_totalprice").isNotNull()).select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    ranked = global_row_number(o, ["cents", "o_orderkey"], "rk")
    n_row = ranked.agg(F.count(F.lit(1)).alias("n"))
    bounds = (
        ranked.crossJoin(F.broadcast(n_row))
        # ceil(p*n/1000) = (p*n + 999) div 1000 — positive operands only,
        # where Spark div (truncate) and DuckDB // (floor) agree
        .filter(
            (F.col("rk") == F.expr(f"({WINSOR_PM} * n + 999) div 1000"))
            | (
                F.col("rk")
                == F.expr(f"({1000 - WINSOR_PM} * n + 999) div 1000")
            )
        )
        .agg(
            F.min(F.struct("rk", "cents"))["cents"].alias("lo"),
            F.max(F.struct("rk", "cents"))["cents"].alias("hi"),
        )
    )
    clamped = ranked.crossJoin(F.broadcast(bounds)).select(
        F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("cents"))).alias(
            "w"
        ),
        "lo",
        "hi",
    )
    return clamped.groupBy("lo", "hi").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("w").alias("wsum"),
    ).select(
        F.col("n").alias("n_orders"),
        (F.col("lo") / 100.0).alias("p05"),
        (F.col("hi") / 100.0).alias("p95"),
        (
            F.expr("(2 * wsum + n) div (2 * n)") / 100.0
        ).alias("winsorized_mean"),
    )


def q_agg_hill_tail_index(spark, sf_dir):
    """Hill estimator of the order-value tail index: gamma =
    (1/k) * sum_{i<=k} ln(x_(i) / x_(k+1)) over the k largest values —
    the extreme-value-theory number that says whether the revenue tail
    is Pareto-heavy (alpha = 1/gamma < 2 means infinite variance:
    plan capacity by quantiles, not means).

    Plan: distributed top-(k+1) (sort+limit = TakeOrdered, no global
    sort), collected into ONE ordered array; the log-sum folds in rank
    order so both engines stream identical doubles.  The top-k CENTS
    multiset is deterministic regardless of how ties order, because
    only values enter the formula."""
    load_tables(spark, sf_dir)
    o = spark.table("orders").select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents")
    )
    top = o.orderBy(F.col("cents").desc()).limit(HILL_K + 1)
    arr = top.agg(
        F.reverse(F.array_sort(F.collect_list("cents"))).alias("a")
    )
    # gamma = mean of ln(x_i) - ln(x_{k+1}) over the k largest, folded
    # in rank order
    gamma = F.expr(
        f"aggregate(slice(a, 1, {HILL_K}), cast(0.0 as double), "
        f"(acc, x) -> acc + ln(x) - ln(element_at(a, {HILL_K + 1}))) "
        f"/ {HILL_K}"
    )
    # the estimator needs all k+1 order statistics: on a table with
    # fewer rows (empty slice, tiny shard) there is no tail to estimate
    # — no report row, mirrored by the oracle's WHERE len(a) filter
    return arr.filter(F.size("a") == HILL_K + 1).select(
        F.lit(HILL_K).alias("k"),
        (F.element_at("a", HILL_K + 1) / 100.0).alias("x_k1"),
        F.round(gamma, 6).alias("hill_gamma"),
        F.round(1.0 / gamma, 6).alias("tail_alpha"),
    )


def q_agg_cuped_adjustment(spark, sf_dir):
    """CUPED-adjusted experiment readout: treat user_id parity as the
    variant, odd-calendar-day spend as the experiment metric Y and
    even-day spend as the pre-period covariate X; report each variant's
    raw and CUPED-adjusted mean, Y_adj = Y - theta*(X - mean(X)) with
    theta = cov(X,Y)/var(X) pooled across users — the industry-standard
    variance-reduction every experimentation platform applies before
    the t-test.

    Exactness: per-user X/Y are exact integer cents; theta's numerator
    and denominator are the exact integer moment combinations
    n*Sxy - Sx*Sy and n*Sxx - Sx^2 (agg_linreg identity), so both
    engines feed identical integers into the final double expression.
    Two aggs (user roll-up, then variant roll-up via fixed-shape
    moments) — embarrassingly parallel over users."""
    load_tables(spark, sf_dir)
    e = spark.table("events")
    per_user = e.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.expr("datediff(CAST(ts AS DATE), DATE '2024-01-01') % 2")
                == 0,
                F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"),
            ).otherwise(F.lit(0))
        ).alias("x"),
        F.sum(
            F.when(
                F.expr("datediff(CAST(ts AS DATE), DATE '2024-01-01') % 2")
                == 1,
                F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"),
            ).otherwise(F.lit(0))
        ).alias("y"),
    )
    # cross-moments in DECIMAL(38,0) (r10 extreme-magnitude sweep):
    # per-user cents² passes 1e24 at hostile value scales
    mom = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).alias("sxx"),
    )
    per_variant = per_user.groupBy(
        (F.col("user_id") % 2).alias("variant")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").alias("vx"),
        F.sum("y").alias("vy"),
    )
    j = per_variant.crossJoin(F.broadcast(mom))
    # try_divide: with a single user the covariate variance is 0 and
    # theta is undefined — NULL on both engines (DuckDB x/0 is NULL)
    sxD = F.col("sx").cast("decimal(19,0)")
    theta = F.try_divide(
        (F.col("n") * F.col("sxy") - sxD * F.col("sy").cast("decimal(19,0)")).cast("double"),
        (F.col("n") * F.col("sxx") - sxD * sxD).cast("double"),
    )
    mean_y = F.col("vy") / F.col("n_users").cast("double")
    mean_x = F.col("vx") / F.col("n_users").cast("double")
    gmean_x = F.col("sx") / F.col("n").cast("double")
    return j.select(
        "variant",
        "n_users",
        F.round(mean_y / 100.0, 6).alias("raw_mean"),
        F.round(
            (mean_y - theta * (mean_x - gmean_x)) / 100.0, 6
        ).alias("cuped_mean"),
        F.round(theta, 6).alias("theta"),
    )


def q_agg_new_vs_returning(spark, sf_dir):
    """New-vs-returning monthly order split — the growth report every
    commerce dashboard leads with: per month, orders placed by
    first-time customers (order date equals the customer's first-ever
    order date) vs returning ones, plus the new share.  One
    co-partitioned window min per customer, one partial+final month
    agg; the share is a half-up per-mille integer quotient."""
    from pyspark.sql import Window

    load_tables(spark, sf_dir)
    o = spark.table("orders")
    w = Window.partitionBy("o_custkey")
    flagged = o.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        (F.col("o_orderdate") == F.min("o_orderdate").over(w)).alias(
            "is_new"
        ),
    )
    g = flagged.groupBy("month").agg(
        F.sum(F.col("is_new").cast("long")).alias("n_new"),
        F.sum((~F.col("is_new")).cast("long")).alias("n_returning"),
    )
    return g.select(
        "month",
        "n_new",
        "n_returning",
        F.expr(
            "(2 * 1000 * n_new + (n_new + n_returning)) "
            "div (2 * (n_new + n_returning))"
        ).alias("new_share_pm"),
    )


#: CVaR tail (per-mille): mean of the worst 5% largest order values
CVAR_PM = 50


def q_agg_cvar_expected_shortfall(spark, sf_dir):
    """Expected shortfall (CVaR) of order value at the 95% level: the
    MEAN of the worst 5% largest orders — the coherent tail-risk
    measure (VaR says where the tail starts; CVaR says how bad it is
    inside).  Tail membership by exact order statistics on the
    distributed chunked-offset rank; the tail mean is one half-up
    integer-cents quotient, so both engines replay identical integer
    ops."""
    load_tables(spark, sf_dir)
    # complete-case: unpriced orders carry no loss to rank (the engines'
    # default NULL sort orders differ) — excluded on both sides
    o = spark.table("orders").filter(F.col("o_totalprice").isNotNull()).select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    ranked = global_row_number(o, ["cents", "o_orderkey"], "rk")
    n_row = ranked.agg(F.count(F.lit(1)).alias("n"))
    tail = (
        ranked.crossJoin(F.broadcast(n_row))
        # tail_n = ceil(pm*n/1000); tail = ranks above n - tail_n
        .filter(
            F.col("rk") > F.col("n") - F.expr(f"({CVAR_PM} * n + 999) div 1000")
        )
    )
    return tail.agg(
        F.max("n").alias("n_orders"),
        F.count(F.lit(1)).alias("tail_n"),
        (F.min("cents") / 100.0).alias("var_95"),
        (
            F.expr("(2 * sum(cents) + count(*)) div (2 * count(*))") / 100.0
        ).alias("cvar_95"),
    )


#: power analysis: z(alpha/2=0.025) and z(power=0.80), python literals
Z_ALPHA = 1.959963984540054
Z_BETA = 0.8416212335729143
POWER_EFFECTS_PM = (10, 20, 50)   # relative MDE: 1%, 2%, 5% of the mean


def q_agg_power_sample_size(spark, sf_dir):
    """Pre-experiment POWER ANALYSIS: for relative minimum detectable
    effects of 1/2/5% of mean order value, the per-variant sample size
    n = ceil((z_a + z_b)^2 * 2 * s^2 / delta^2) at alpha 5% two-sided,
    power 80% — the calculator every A/B platform runs before assigning
    traffic (pairs with agg_cuped_adjustment downstream).

    Variance comes from exact integer-cents moments summed in
    DECIMAL(38)/HUGEINT (sum of squared cents leaves BIGINT near sf1),
    z constants enter as python literals, and the per-effect rows are a
    literal explode — both engines stream identical numbers into the
    final fixed-shape double expression."""
    load_tables(spark, sf_dir)
    o = spark.table("orders").select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents")
    )
    mom = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s1"),
        F.sum(
            (F.col("cents").cast("decimal(38,0)") * F.col("cents")).cast(
                "decimal(38,0)"
            )
        ).alias("s2"),
    )
    eff = mom.select(
        "n",
        "s1",
        "s2",
        F.explode(
            F.array(*[F.lit(e) for e in POWER_EFFECTS_PM])
        ).alias("effect_pm"),
    )
    # try_divide: with n <= 1 the sample variance is undefined — NULL
    # on both engines (DuckDB x/0 is NULL; Spark ANSI / would throw)
    mean = F.try_divide(F.col("s1").cast("double"), F.col("n"))
    var = F.try_divide(
        F.col("n").cast("double") * F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double"),
        F.col("n").cast("double") * (F.col("n") - 1),
    )
    delta = F.col("effect_pm") * mean / 1000.0
    zz = (Z_ALPHA + Z_BETA) ** 2
    return eff.select(
        "effect_pm",
        F.round(mean / 100.0, 6).alias("mean_value"),
        F.round(F.sqrt(var) / 100.0, 6).alias("sd_value"),
        F.ceil(zz * 2.0 * var / (delta * delta)).cast("long").alias(
            "n_per_variant"
        ),
    )


#: ABC bands: cumulative revenue share cut-offs (per-mille)
ABC_A_PM = 800
ABC_B_PM = 950


def q_agg_two_proportion_ztest(spark, sf_dir):
    """Two-proportion z-test on conversion: does the user_id-parity
    'variant' change the share of purchase events?  The categorical
    counterpart of agg_welch_ttest and the readout agg_power_sample_size
    plans for: z = (p1 - p2) / sqrt(p_pool (1 - p_pool) (1/n1 + 1/n2)).
    Every count is an exact integer from ONE partial+final agg; the z
    statistic is a single fixed-shape double expression of six exact
    integers, so both engines agree bit-for-bit."""
    load_tables(spark, sf_dir)
    e = spark.table("events")
    g = e.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("k"),
    )
    wide = g.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 0, F.col("k"))).alias("k1"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("variant") == 1, F.col("k"))).alias("k2"),
    )
    n1, k1 = F.col("n1").cast("double"), F.col("k1").cast("double")
    n2, k2 = F.col("n2").cast("double"), F.col("k2").cast("double")
    pp = (k1 + k2) / (n1 + n2)
    # try_divide: pooled p of 0 or 1 (no successes anywhere, or all
    # successes) makes the denominator 0 — Spark ANSI '/' would throw
    # DIVIDE_BY_ZERO where DuckDB's x/0 yields NULL; NULL z / NULL
    # verdict is the right undefined-test answer on both engines
    z = F.try_divide(
        k1 / n1 - k2 / n2, F.sqrt(pp * (1 - pp) * (1 / n1 + 1 / n2))
    )
    # the test needs BOTH variants observed; on empty/one-armed input
    # there is no comparison to report (oracle mirrors with WHERE)
    return wide.filter(
        F.col("n1").isNotNull() & F.col("n2").isNotNull()
    ).select(
        "n1",
        "k1",
        "n2",
        "k2",
        F.round(z, 6).alias("z_stat"),
        # coalesce: with z undefined (pooled p = 0 or 1) the test cannot
        # reject — and a NULL boolean renders engine-differently through
        # pandas (Spark None vs DuckDB NaN), so keep the verdict NOT NULL
        F.coalesce(
            F.abs(z) > 1.959963984540054, F.lit(False)
        ).alias("reject_05"),
    )


def q_agg_abc_classification(spark, sf_dir):
    """ABC inventory classification: rank parts by revenue, band them
    where cumulative revenue share crosses 80% (A) and 95% (B), rest C —
    the Pareto stock-control analysis behind every inventory policy.

    Plan: one partial+final agg to per-part revenue cents, then the
    DISTRIBUTED chunked-offset prefix sum over (revenue desc, partkey)
    (ranking.global_running_sum — no single-partition window), then the
    band test 1000 * cum <= pm * total in EXACT integers (no division
    at all), and a bounded 3-row roll-up."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    per_part = li.groupBy("l_partkey").agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("cents")
    )
    # order by revenue DESC via negated cents (exact integer key)
    keyed = per_part.select(
        "l_partkey", "cents", (-F.col("cents")).alias("neg")
    )
    cum = global_running_sum(keyed, ["neg", "l_partkey"], ["cents"])
    tot = cum.agg(F.max("cum_cents").alias("total"))
    # band test cross-multiplied in DECIMAL(38,0) (r10: 1000 x total
    # cents passes 1e19 at hostile magnitudes)
    cumD = F.col("cum_cents").cast("decimal(38,0)")
    totD = F.col("total").cast("decimal(38,0)")
    banded = cum.crossJoin(F.broadcast(tot)).select(
        "cents",
        F.when(1000 * cumD <= ABC_A_PM * totD, "A")
        .when(1000 * cumD <= ABC_B_PM * totD, "B")
        .otherwise("C")
        .alias("abc"),
    )
    return (
        banded.groupBy("abc")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("band_cents"),
        )
        .select(
            "abc",
            "n_parts",
            (F.col("band_cents") / 100.0).alias("band_revenue"),
        )
    )


def q_agg_grouped_linreg(spark, sf_dir):
    """GROUPED OLS — one price-on-quantity regression PER BRAND in a
    single partial+final aggregation (the per-key model-fitting shape:
    thousands of tiny models in one shuffle, no per-group loop).
    slope_b = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) with x = integer
    quantity, y = integer cents, so every group's five moments are
    EXACT BIGINTs and both engines feed identical integers into the
    final fixed-shape doubles.  The negative slope per brand is the
    quantity-discount signal."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem").join(
        spark.table("part"), F.col("l_partkey") == F.col("p_partkey")
    )
    base = li.select(
        "p_brand",
        F.col("l_quantity").cast("long").alias("x"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("y"),
    )
    # cross-moments in DECIMAL(38,0) (r10 extreme-magnitude sweep):
    # x·y per row passes 1e15 and the group sums 1e19 at hostile scales
    g = base.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # EXACT integer half-up quotients (r10 extreme-magnitude sweep):
    # slope and intercept are rational in the integer moments, and at
    # 1e10+ magnitudes a round(double, 6) output exceeds the ~15.9
    # significant digits a double carries — so the 6-dp decimals are
    # produced in DECIMAL(38,0) integer space (sign-decomposed half-up,
    # the theil_sen spelling) and only divided to display.  den = 0
    # (a brand with constant quantity) yields NULL on both engines.
    slope6 = (
        "CASE WHEN den = 0 THEN NULL "
        "WHEN num >= 0 THEN "
        "((2 * num * 1000000 + den * 100) "
        " - (2 * num * 1000000 + den * 100) % (2 * den * 100)) / (2 * den * 100) "
        "ELSE -(((-2) * num * 1000000 + den * 100 "
        " - ((-2) * num * 1000000 + den * 100) % (2 * den * 100)) / (2 * den * 100)) "
        "END"
    )
    icept6 = (
        "CASE WHEN den = 0 THEN NULL "
        "WHEN inum >= 0 THEN "
        "((2 * inum * 1000000 + iden) - (2 * inum * 1000000 + iden) % (2 * iden)) "
        "/ (2 * iden) "
        "ELSE -((((-2) * inum * 1000000 + iden) "
        " - ((-2) * inum * 1000000 + iden) % (2 * iden)) / (2 * iden)) END"
    )
    moments = g.select(
        "p_brand",
        "n",
        (
            F.col("n") * F.col("sxy")
            - F.col("sx").cast("decimal(19,0)") * F.col("sy").cast("decimal(19,0)")
        ).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("decimal(38,0)")
        .alias("den"),
        F.col("sy").cast("decimal(19,0)").alias("syD"),
        F.col("sx").cast("decimal(19,0)").alias("sxD"),
    ).selectExpr(
        "p_brand",
        "n",
        "num",
        "den",
        "syD * den - num * sxD AS inum",
        "n * den * 100 AS iden",
    )
    return moments.select(
        "p_brand",
        "n",
        (F.expr(slope6) / 1000000.0).alias("slope_per_unit"),
        (F.expr(icept6) / 1000000.0).alias("intercept_value"),
    )


#: Shapley channels (the grand coalition) and the conversion event
SHAP_CHANNELS = ("view", "click", "signup")


def q_agg_shapley_attribution(spark, sf_dir):
    """SHAPLEY channel attribution: each channel's marginal contribution
    to conversion, averaged over every coalition ordering — the
    game-theoretic attribution (Zhao et al. style) that last-touch and
    linear rules (window_attribution) approximate.  With 3 channels the
    2^3 coalition conversion rates come straight from data (one
    partial+final agg over exact-profile user groups), and the Shapley
    weights |S|!(n-|S|-1)!/n! are the literal fractions 1/3 and 1/6.
    Every rate is a ratio of two exact integers pivoted into one row;
    empty coalitions contribute rate 0 by declared convention."""
    load_tables(spark, sf_dir)
    e = spark.table("events")
    per_user = e.groupBy("user_id").agg(
        *[
            F.max((F.col("event_type") == c).cast("int")).alias(f"h{i}")
            for i, c in enumerate(SHAP_CHANNELS)
        ],
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv"),
    )
    prof = per_user.groupBy("h0", "h1", "h2").agg(
        F.count(F.lit(1)).alias("m"), F.sum("conv").alias("k")
    )

    def rate(bits):
        cond = (
            (F.col("h0") == bits[0])
            & (F.col("h1") == bits[1])
            & (F.col("h2") == bits[2])
        )
        k = F.sum(F.when(cond, F.col("k")).otherwise(0))
        m = F.sum(F.when(cond, F.col("m")).otherwise(0))
        return F.when(m > 0, k.cast("double") / m).otherwise(F.lit(0.0))

    def phi(i):
        total = F.lit(0.0)
        others = [j for j in range(3) if j != i]
        for b1 in (0, 1):
            for b2 in (0, 1):
                size = b1 + b2
                w = {0: 1.0 / 3, 1: 1.0 / 6, 2: 1.0 / 3}[size]
                with_i = [0, 0, 0]
                with_i[i] = 1
                with_i[others[0]] = b1
                with_i[others[1]] = b2
                without = list(with_i)
                without[i] = 0
                total = total + w * (rate(with_i) - rate(without))
        return total

    return prof.agg(
        F.sum("m").alias("n_users"),
        F.round(rate([0, 0, 0]), 6).alias("base_rate"),
        *[
            F.round(phi(i), 6).alias(f"shapley_{c}")
            for i, c in enumerate(SHAP_CHANNELS)
        ],
    )


def _shap_rate_sql(bits) -> str:
    cond = " AND ".join(f"h{i} = {bits[i]}" for i in range(3))
    return (
        f"(CASE WHEN sum(CASE WHEN {cond} THEN m ELSE 0 END) > 0 "
        f"THEN CAST(sum(CASE WHEN {cond} THEN k ELSE 0 END) AS DOUBLE) "
        f"/ sum(CASE WHEN {cond} THEN m ELSE 0 END) ELSE 0.0 END)"
    )


def _shap_phi_sql(i: int) -> str:
    others = [j for j in range(3) if j != i]
    terms = []
    for b1 in (0, 1):
        for b2 in (0, 1):
            w = {0: "1.0 / 3", 1: "1.0 / 6", 2: "1.0 / 3"}[b1 + b2]
            with_i = [0, 0, 0]
            with_i[i] = 1
            with_i[others[0]] = b1
            with_i[others[1]] = b2
            without = list(with_i)
            without[i] = 0
            terms.append(
                f"({w}) * ({_shap_rate_sql(with_i)} - "
                f"{_shap_rate_sql(without)})"
            )
    return "0.0 + " + " + ".join(terms)


def q_agg_eb_beta_binomial(spark, sf_dir):
    """Empirical-Bayes BETA-BINOMIAL smoothing of per-user purchase
    rates: fit a Beta(alpha, beta) prior to the population by method of
    moments, then shrink every user's k/n toward it via
    (k + alpha) / (n + alpha + beta) — the hierarchical smoothing that
    keeps a 1-event user from looking like a 100% converter (the
    Bayesian upgrade of pipeline_target_encode's fixed pseudo-count).

    Cross-engine discipline: per-user rates are first QUANTIZED to
    half-up x10^6 integers (declared semantics), so the population
    moments are exact BIGINT sums — the unordered float sum over
    thousands of users that a naive mean-of-rates would need is exactly
    the drift trap.  alpha/beta are then two fixed-shape doubles, and
    each user's smoothed rate is one more fixed-shape double of exact
    ints, rounded at 6dp (magnitude < 1, far inside double's safe
    digits)."""
    load_tables(spark, sf_dir)
    e = spark.table("events")
    pu = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("k"),
    )
    pu = pu.withColumn(
        "r6", F.expr("(2 * 1000000 * k + n) div (2 * n)")
    )
    mom = pu.agg(
        F.count(F.lit(1)).alias("u"),
        F.sum("r6").alias("s1"),
        F.sum(F.col("r6") * F.col("r6")).alias("s2"),
    )
    # method of moments on the quantized rates: m = mean, v = variance
    # try_divide throughout: with n<=1 users the prior moments are
    # undefined (zero count / zero variance) — NULL on both engines
    # (DuckDB x/0 is NULL; Spark ANSI / throws even for doubles)
    m = F.try_divide(F.col("s1").cast("double"), F.col("u")) / 1e6
    v = (
        F.try_divide(
            F.col("u").cast("double") * F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double"),
            F.col("u").cast("double") * F.col("u").cast("double"),
        )
        / 1e12
    )
    common = F.try_divide(m * (1 - m), v) - 1
    prior = mom.select(
        (m * common).alias("alpha"), ((1 - m) * common).alias("beta")
    )
    j = pu.crossJoin(F.broadcast(prior))
    return j.select(
        "user_id",
        "n",
        "k",
        F.round(
            (F.col("k") + F.col("alpha"))
            / (F.col("n") + F.col("alpha") + F.col("beta")),
            6,
        ).alias("smoothed_rate"),
    )


#: kappa annotator thresholds (near the fixture medians — 306 chars /
#: 56 tokens — so both labels genuinely split the corpus)
KAPPA_A_CHARS = 300
KAPPA_B_TOKENS = 50


def q_agg_cohens_kappa(spark, sf_dir):
    """COHEN'S KAPPA between two deterministic 'annotators' labeling
    documents as long-form (A: chars > 800; B: whitespace tokens > 150)
    — the chance-corrected agreement score every labeling pipeline
    gates on before trusting its annotations (raw agreement flatters
    imbalanced labels; kappa does not).

    kappa = (p_o - p_e) / (1 - p_e) from the exact 2x2 integer
    confusion counts in ONE partial+final agg; both engines stream
    identical integers into the single fixed-shape double."""
    load_tables(spark, sf_dir)
    # complete-case: annotators cannot label a missing document (rater B
    # would read a NULL token count) — excluded on both sides
    d = spark.table("documents").filter(F.col("text").isNotNull())
    lab = d.select(
        (F.col("n_chars") > KAPPA_A_CHARS).cast("int").alias("a"),
        (F.size(F.split("text", " ")) > KAPPA_B_TOKENS).cast("int").alias(
            "b"
        ),
    )
    c = lab.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("a * b")).alias("c11"),
        F.sum(F.expr("a * (1 - b)")).alias("c10"),
        F.sum(F.expr("(1 - a) * b")).alias("c01"),
        F.sum(F.expr("(1 - a) * (1 - b)")).alias("c00"),
    )
    n = F.col("n").cast("double")
    po = (F.col("c11") + F.col("c00")) / n
    pe = (
        (F.col("c11") + F.col("c10")) * (F.col("c11") + F.col("c01"))
        + (F.col("c01") + F.col("c00")) * (F.col("c10") + F.col("c00"))
    ) / (n * n)
    return c.select(
        "n",
        "c11",
        "c10",
        "c01",
        "c00",
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        # try_divide: perfect chance agreement (pe = 1, e.g. a single
        # rating pair) leaves kappa undefined — NULL on both engines
        F.round(F.try_divide(po - pe, 1 - pe), 6).alias("kappa"),
    )


#: index-number comparison years
IDX_BASE_Y, IDX_CURR_Y = 1993, 1997


def q_agg_price_index(spark, sf_dir):
    """LASPEYRES / PAASCHE / FISHER price indices between two years:
    did revenue move because PRICES changed or because the BASKET did?
    L weighs current prices by base-year quantities, P by current-year
    quantities, Fisher is their geometric mean — the index-number
    machinery behind every CPI-style dashboard.

    Exactness: per part-year unit values are QUANTIZED to half-up x10^4
    integers (declared semantics — cross-part sums of raw rationals
    have incompatible denominators), quantities are exact integers, so
    all four basket sums are exact BIGINTs and the indices are two
    fixed-shape double ratios plus one sqrt."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem").select(
        "l_partkey",
        F.year("l_shipdate").alias("y"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    ).filter(F.col("y").isin(IDX_BASE_Y, IDX_CURR_Y))
    py = li.groupBy("l_partkey", "y").agg(
        F.sum("cents").alias("e"), F.sum("qty").alias("q")
    )
    py = py.withColumn("p4", F.expr("(2 * 10000 * e + q) div (2 * q)"))
    wide = py.groupBy("l_partkey").agg(
        F.max(F.when(F.col("y") == IDX_BASE_Y, F.col("p4"))).alias("p0"),
        F.max(F.when(F.col("y") == IDX_BASE_Y, F.col("q"))).alias("q0"),
        F.max(F.when(F.col("y") == IDX_CURR_Y, F.col("p4"))).alias("p1"),
        F.max(F.when(F.col("y") == IDX_CURR_Y, F.col("q"))).alias("q1"),
    ).filter(
        F.col("p0").isNotNull() & F.col("p1").isNotNull()
    )
    s = wide.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.col("p1") * F.col("q0")).alias("l_num"),
        F.sum(F.col("p0") * F.col("q0")).alias("l_den"),
        F.sum(F.col("p1") * F.col("q1")).alias("p_num"),
        F.sum(F.col("p0") * F.col("q1")).alias("p_den"),
    )
    lasp = F.col("l_num").cast("double") / F.col("l_den").cast("double")
    paas = F.col("p_num").cast("double") / F.col("p_den").cast("double")
    return s.select(
        "n_parts",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    )


def q_agg_hhi_concentration(spark, sf_dir):
    """Herfindahl-Hirschman Index of supplier concentration per nation:
    HHI = 10000 * sum(share_i^2) over each supplier's revenue share —
    the antitrust screen (<1500 competitive, >2500 concentrated).
    Each nation's HHI is 10000 * sum(c_i^2) / (sum c_i)^2 where c_i are
    exact integer cents; the squared sums run in DECIMAL(38)/HUGEINT
    (c^2 leaves BIGINT near sf1), so both engines feed identical exact
    integers into one double ratio."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    sup = spark.table("supplier")
    n = spark.table("nation")
    rev = li.groupBy("l_suppkey").agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("c")
    )
    j = rev.join(sup, F.col("l_suppkey") == F.col("s_suppkey")).join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    g = j.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("s1"),
        F.sum(
            (F.col("c").cast("decimal(38,0)") * F.col("c")).cast(
                "decimal(38,0)"
            )
        ).alias("s2"),
    )
    return g.select(
        "n_name",
        "n_suppliers",
        F.round(
            10000.0
            * F.col("s2").cast("double")
            / (F.col("s1").cast("double") * F.col("s1").cast("double")),
            6,
        ).alias("hhi"),
    )


def q_agg_chain_ladder(spark, sf_dir):
    """CHAIN-LADDER development factors: orders cohorted by placement
    month, 'paid' amounts developing by months-to-ship — the cumulative
    triangle whose volume-weighted age-to-age factors
    f_d = sum_c C(c, d+1) / sum_c C(c, d) are the actuarial IBNR
    machinery (and in data engineering: cohort maturation curves).

    The triangle is one partial+final agg to (cohort, dev) integer
    cents, the cumulative runs over the tiny per-cohort dev axis, and
    each factor is ONE ratio of two exact BIGINT sums restricted to
    cohorts that have reached age d+1 (the standard all-available-
    cohorts estimator)."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem").join(
        spark.table("orders"), F.col("l_orderkey") == F.col("o_orderkey")
    )
    base = li.select(
        (
            (F.year("o_orderdate") - 1992) * 12
            + F.month("o_orderdate")
            - 1
        ).alias("cohort"),
        (
            (F.year("l_shipdate") - F.year("o_orderdate")) * 12
            + F.month("l_shipdate")
            - F.month("o_orderdate")
        ).alias("dev"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    tri = base.groupBy("cohort", "dev").agg(F.sum("cents").alias("inc"))
    wc = (
        Window.partitionBy("cohort")
        .orderBy("dev")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = tri.select(
        "cohort", "dev", F.sum("inc").over(wc).alias("c")
    )
    nxt = cum.select(
        F.col("cohort").alias("cohort2"),
        (F.col("dev") - 1).alias("dev"),
        F.col("c").alias("c_next"),
    )
    j = cum.join(
        nxt,
        (F.col("cohort") == F.col("cohort2"))
        & (cum.dev == nxt.dev),
    )
    g = j.groupBy(cum.dev.alias("dev")).agg(
        F.count(F.lit(1)).alias("n_cohorts"),
        F.sum("c").alias("den"),
        F.sum("c_next").alias("num"),
    )
    return g.select(
        "dev",
        "n_cohorts",
        F.round(
            F.col("num").cast("double") / F.col("den").cast("double"), 6
        ).alias("age_to_age_factor"),
    )


#: Oaxaca segment split
OAX_SEG = "BUILDING"


def q_agg_oaxaca_blinder(spark, sf_dir):
    """OAXACA-BLINDER decomposition of the order-value gap between
    BUILDING-segment customers and everyone else: how much of the mean
    difference is EXPLAINED by account balance (the covariate) at the
    reference group's coefficient, and how much is UNEXPLAINED
    (coefficient + intercept differences) — the econometric audit
    behind wage-gap and pricing-disparity studies.

    Per-group OLS of order cents on customer balance cents runs on
    exact DECIMAL(38)/HUGEINT moments (the xy product leaves BIGINT at
    fixture scale); the two-fold decomposition gap = beta_B*(xA - xB) +
    [(beta_A - beta_B)*xA + (alpha_A - alpha_B)] is a fixed-shape
    double expression and reconciles with the raw gap exactly (OLS
    passes through the means)."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    c = spark.table("customer")
    base = o.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
        (F.col("c_mktsegment") == OAX_SEG).cast("int").alias("g"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("y"),
        (F.col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("x"),
    )
    m = base.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(
            (F.col("x").cast("decimal(38,0)") * F.col("y")).cast(
                "decimal(38,0)"
            )
        ).alias("sxy"),
        F.sum(
            (F.col("x").cast("decimal(38,0)") * F.col("x")).cast(
                "decimal(38,0)"
            )
        ).alias("sxx"),
    )

    def grp(gv, col):
        return F.max(F.when(F.col("g") == gv, F.col(col)))

    wide = m.agg(
        *[
            grp(gv, cname).alias(f"{cname}{gv}")
            for gv in (1, 0)
            for cname in ("n", "sx", "sy", "sxy", "sxx")
        ]
    )

    def beta(tag):
        n, sx, sy = (
            F.col(f"n{tag}").cast("double"),
            F.col(f"sx{tag}").cast("double"),
            F.col(f"sy{tag}").cast("double"),
        )
        sxy, sxx = (
            F.col(f"sxy{tag}").cast("double"),
            F.col(f"sxx{tag}").cast("double"),
        )
        return (n * sxy - sx * sy) / (n * sxx - sx * sx)

    def mean(col, tag):
        return F.col(f"{col}{tag}").cast("double") / F.col(f"n{tag}")

    ba, bb = beta(1), beta(0)
    xa, xb = mean("sx", 1), mean("sx", 0)
    ya, yb = mean("sy", 1), mean("sy", 0)
    aa = ya - ba * xa
    ab = yb - bb * xb
    explained = bb * (xa - xb)
    unexplained = (ba - bb) * xa + (aa - ab)
    return wide.select(
        F.round((ya - yb) / 100.0, 6).alias("gap"),
        F.round(explained / 100.0, 6).alias("explained"),
        F.round(unexplained / 100.0, 6).alias("unexplained"),
        F.round(ba, 6).alias("beta_a"),
        F.round(bb, 6).alias("beta_b"),
    )


#: seasonal-naive forecast lag (days)
FCE_LAG = 7


def q_agg_forecast_eval(spark, sf_dir):
    """FORECAST EVALUATION of the seasonal-naive baseline (forecast =
    the value 7 days earlier) on daily revenue: MAPE, sMAPE and MASE —
    the scorecard that turns the repo's forecasting keys into graded
    models (MASE < 1 beats the one-step naive; Hyndman's scale-free
    standard).

    Exactness: per-day percentage terms are half-up x10^6 integers
    BEFORE averaging (mean-of-float-ratios is the drift trap), so MAPE/
    sMAPE are exact integer means; MASE is one ratio of two exact
    absolute-error cent sums."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    daily = o.groupBy(
        F.expr("datediff(o_orderdate, DATE '1991-12-30')").alias("x")
    ).agg(
        (F.sum("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("a")
    )
    w = Window.orderBy("x")
    j = daily.select(
        "x",
        "a",
        F.lag("a", FCE_LAG).over(w).alias("f"),
        F.lag("a", 1).over(w).alias("p1"),
    ).filter(F.col("f").isNotNull() & F.col("p1").isNotNull())
    ae = F.abs(F.col("a") - F.col("f"))
    terms = j.select(
        ae.alias("ae"),
        F.abs(F.col("a") - F.col("p1")).alias("nae"),
        # x1e6 products in DECIMAL(38,0) (r10: the absolute error passes
        # 1e13 at hostile magnitudes, so the scaled numerator overflows
        # int64); the percentage quotients stay small, so div's long
        # result is safe
        F.expr(
            "(2 * 1000000 * CAST(abs(a - f) AS DECIMAL(38,0)) + a) div (2 * a)"
        ).alias("ape6"),
        F.expr(
            "(2 * 2000000 * CAST(abs(a - f) AS DECIMAL(38,0)) + (a + f)) "
            "div (2 * (a + f))"
        ).alias("sape6"),
    )
    g = terms.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("(2 * sum(ape6) + count(*)) div (2 * count(*))").alias(
            "mape6"
        ),
        F.expr("(2 * sum(sape6) + count(*)) div (2 * count(*))").alias(
            "smape6"
        ),
        F.sum("ae").alias("sae"),
        F.sum("nae").alias("snae"),
    )
    return g.select(
        "n_days",
        (F.col("mape6") / 10000.0).alias("mape_pct"),
        (F.col("smape6") / 10000.0).alias("smape_pct"),
        F.round(
            F.col("sae").cast("double") / F.col("snae").cast("double"), 6
        ).alias("mase"),
    )


def q_agg_gini_by_segment(spark, sf_dir):
    """Gini coefficient of customer account balance WITHIN each market
    segment — inequality per group, where the global agg_gini cannot
    distinguish a segment of equals from a polarized one.  The rank
    runs in a window CO-PARTITIONED by segment (each group sorts
    independently — the scalable grouped-rank shape), balances shift by
    the global minimum so the Gini identity applies to non-negative
    integers, and G = (2*sum(i*x) - (n+1)*sum(x)) / (n*sum(x)) is one
    fixed-shape double of exact BIGINTs."""
    load_tables(spark, sf_dir)
    # complete-case: a balance-less customer has no wealth to rank (the
    # engines' default NULL sort orders differ) — excluded on both sides
    c = spark.table("customer").filter(F.col("c_acctbal").isNotNull())
    shifted = c.select(
        "c_mktsegment",
        "c_custkey",
        (F.col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cb"),
    )
    mn = shifted.agg(F.min("cb").alias("mn"))
    nn = shifted.crossJoin(F.broadcast(mn)).select(
        "c_mktsegment",
        "c_custkey",
        (F.col("cb") - F.col("mn")).alias("v"),
    )
    wseg = Window.partitionBy("c_mktsegment").orderBy("v", "c_custkey")
    ranked = nn.withColumn(
        "i", F.row_number().over(wseg).cast("long")
    )
    g = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("i") * F.col("v")).alias("siv"),
    )
    return g.select(
        "c_mktsegment",
        "n",
        # try_divide: a zero-spend segment (sv = 0) has no concentration
        # to measure — NULL on both engines (DuckDB x/0 is NULL)
        F.round(
            F.try_divide(
                2.0 * F.col("siv") - (F.col("n") + 1.0) * F.col("sv"),
                F.col("n").cast("double") * F.col("sv"),
            ),
            6,
        ).alias("gini"),
    )


#: ranking-eval cutoffs
PK_K = 500
NDCG_K = 20

#: calibration bins (score deciles)
CALIB_BINS = 10


def q_agg_auc_roc(spark, sf_dir):
    """ROC AUC of the value-predicts-purchase 'model' via the EXACT
    rank-sum identity AUC = (R1 - n1(n1+1)/2) / (n1*n0) — the
    probabilistic interpretation (chance a random positive outranks a
    random negative), which handles ties by average ranks with NO curve
    construction.  Rank arithmetic follows agg_mann_whitney: tie groups
    on the distinct-score spine contribute exact integers through the
    distributed chunked-offset prefix sum, and AUC is one double ratio
    of exact BIGINTs."""
    load_tables(spark, sf_dir)
    # complete-case: a NULL score cannot be ranked (and the engines'
    # default NULL sort orders differ — Spark ASC is NULLS FIRST, DuckDB
    # NULLS LAST); rows missing the metric are excluded on both sides
    e = spark.table("events").filter(F.col("value").isNotNull())
    scored = e.select(
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "s"
        ),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    g = scored.groupBy("s").agg(
        F.sum("y").alias("c1"),
        F.count(F.lit(1)).alias("t"),
    )
    pref = global_running_sum(g, ["s"], ["t"])
    terms = pref.select(
        "c1",
        "t",
        (2 * F.col("cum_t") - F.col("t") + 1).alias("ab"),  # 2*avg rank
    )
    a = terms.agg(
        F.sum(F.col("c1") * F.col("ab")).alias("two_r1"),
        F.sum("c1").alias("n1"),
        F.sum(F.col("t") - F.col("c1")).alias("n0"),
    )
    # try_divide: AUC needs BOTH classes present (n1*n0 > 0) — on a
    # one-class degenerate input it is NULL on both engines
    auc = F.try_divide(
        (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)).cast("double"),
        2.0 * F.col("n1") * F.col("n0"),
    )
    return a.select("n1", "n0", F.round(auc, 6).alias("auc"))


def q_agg_calibration_table(spark, sf_dir):
    """CALIBRATION (reliability) table: bucket events into score
    deciles by exact rank, and compare each bucket's implied confidence
    (its mean score percentile) with the ACTUAL purchase rate — the
    diagram that says whether a score of 0.9 means 90%.  Decile
    membership is ceil(rank*10/n) on the distributed rank (exact order
    statistics, no approx percentiles); every per-bin number is a
    half-up integer quotient."""
    load_tables(spark, sf_dir)
    # complete-case: NULL scores cannot be ranked into deciles (and the
    # engines' default NULL orders differ) — excluded on both sides
    e = spark.table("events").filter(F.col("value").isNotNull())
    scored = e.select(
        "event_id",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "s"
        ),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    ranked = global_row_number(scored, ["s", "event_id"], "rk")
    n_row = ranked.agg(F.count(F.lit(1)).alias("n"))
    binned = ranked.crossJoin(F.broadcast(n_row)).select(
        "s",
        "y",
        "rk",
        "n",
        F.expr(f"(rk * {CALIB_BINS} + n - 1) div n").alias("bin"),
    )
    g = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_bin"),
        F.sum("y").alias("n_pos"),
        F.sum("rk").alias("rk_sum"),
        F.max("n").alias("n"),
    )
    return g.select(
        "bin",
        "n_bin",
        "n_pos",
        F.expr("(2 * 1000 * n_pos + n_bin) div (2 * n_bin)").alias(
            "actual_rate_pm"
        ),
        # mean percentile of the bin: avg(rank)/n, half-up per-mille
        F.expr(
            "(2 * 1000 * rk_sum + n_bin * n) div (2 * n_bin * n)"
        ).alias("mean_score_pm"),
    )


def q_agg_precision_at_k(spark, sf_dir):
    """PRECISION@k and RECALL@k: take the k highest-scored events (exact
    distributed top-k under (score desc, id) — TakeOrdered, no global
    sort) and score them against the purchase label — the retrieval
    metrics for any ranked shortlist.  All counts exact integers;
    ratios are half-up per-mille quotients."""
    load_tables(spark, sf_dir)
    e = spark.table("events")
    scored = e.select(
        "event_id",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "s"
        ),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    topk = scored.orderBy(F.col("s").desc(), "event_id").limit(PK_K)
    hits = topk.agg(F.sum("y").alias("tp"))
    total = scored.agg(F.sum("y").alias("pos"))
    return hits.crossJoin(F.broadcast(total)).select(
        F.lit(PK_K).alias("k"),
        "tp",
        "pos",
        F.expr(f"(2 * 1000 * tp + {PK_K}) div (2 * {PK_K})").alias(
            "precision_pm"
        ),
        # zero-positives guard matches DuckDB (x // 0 is NULL): recall
        # over an input with no positive labels is undefined
        F.expr(
            "CASE WHEN pos = 0 THEN CAST(NULL AS BIGINT) "
            "ELSE (2 * 1000 * tp + pos) div (2 * pos) END"
        ).alias("recall_pm"),
    )


def q_agg_ndcg_at_k(spark, sf_dir):
    """NDCG@20 of the value ranking against the purchase label: DCG
    discounts each hit by 1/log2(position+1); the ideal DCG places all
    hits first.  The 20 discount weights enter as PYTHON-GENERATED
    literals (no in-engine log), the top-20 selection is the exact
    distributed TakeOrdered, and the 20-term sum folds in rank order so
    both engines stream identical doubles."""
    load_tables(spark, sf_dir)
    e = spark.table("events")
    scored = e.select(
        "event_id",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "s"
        ),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    topk = scored.orderBy(F.col("s").desc(), "event_id").limit(NDCG_K)
    import math

    w = [1.0 / math.log2(i + 2) for i in range(NDCG_K)]  # pos 1..k
    idcg = 0.0
    for x in w:
        idcg += x
    # sort key negates s so the array order is (s DESC, event_id ASC) —
    # reverse(array_sort(struct(s, id))) would flip the id tiebreak too
    arr = topk.agg(
        F.array_sort(
            F.collect_list(
                F.struct((-F.col("s")).alias("ns"), "event_id", "y")
            )
        ).alias("a")
    )
    case = " ".join(f"WHEN {i + 1} THEN {w[i]!r}" for i in range(NDCG_K))
    dcg = F.expr(
        "aggregate(sequence(1, size(a)), cast(0.0 as double), "
        f"(acc, i) -> acc + element_at(a, i).y * (CASE i {case} END))"
    )
    # no events -> no ranking to grade (also keeps sequence(1, size(a))
    # off its empty-array descending-[1,0] trap); oracle mirrors with
    # WHERE len(a) > 0
    return arr.filter(F.size("a") > 0).select(
        F.lit(NDCG_K).alias("k"),
        F.expr("aggregate(a, 0, (acc, x) -> acc + x.y)").alias("hits"),
        F.round(dcg, 6).alias("dcg"),
        F.round(dcg / idcg, 6).alias("ndcg"),
    )


def _ndcg_case() -> str:
    import math

    return " ".join(
        f"WHEN {i + 1} THEN {1.0 / math.log2(i + 2)!r}"
        for i in range(NDCG_K)
    )


def _ndcg_idcg() -> float:
    import math

    t = 0.0
    for i in range(NDCG_K):
        t += 1.0 / math.log2(i + 2)
    return t


#: jackknife buckets
JK_B = 20


def q_agg_jackknife_se(spark, sf_dir):
    """Delete-d JACKKNIFE standard error of mean order value over 20
    md5-hash buckets: each leave-one-bucket-out mean is an exact
    rational of integer totals, QUANTIZED to half-up x10^6 before the
    20-value variance (quantize-then-moment, the r6 discipline), so the
    SE is one fixed-shape double of exact integers — the resampling
    companion to agg_bootstrap_ci with deterministic group assignment
    instead of deterministic weights."""
    load_tables(spark, sf_dir)
    o = spark.table("orders").select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("c"),
        (
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4),
                16,
                10,
            ).cast("long")
            % JK_B
        ).alias("b"),
    )
    per = o.groupBy("b").agg(
        F.count(F.lit(1)).alias("nb"), F.sum("c").alias("tb")
    )
    tot = per.agg(
        F.sum("nb").alias("n"), F.sum("tb").alias("t")
    )
    # r10 extreme-magnitude sweep: the x1e6 leave-one-out means pass
    # 1e19 (so the product AND the div's long result overflow int64),
    # and their SQUARES pass even DECIMAL(38)/HUGEINT.  Variance is
    # translation-invariant, so each m6 is centered on the exact global
    # floor-mean K = (1e6*t) div n before the moments — deviations
    # carry the spread, not the magnitude, and their squares stay well
    # inside 38 digits at any cent scale.  All divides use the exact
    # (N - N % D) / D floor spelling (Spark `div` returns long).
    m6 = per.crossJoin(F.broadcast(tot)).select(
        # zero-remainder guard matches DuckDB (x // 0 is NULL): a block
        # holding EVERY row leaves no leave-one-out sample
        F.expr(
            "CASE WHEN n = nb THEN CAST(NULL AS DECIMAL(38,0)) "
            "ELSE CAST("
            "((2 * 1000000 * CAST(t - tb AS DECIMAL(38,0)) + (n - nb)) "
            " - (2 * 1000000 * CAST(t - tb AS DECIMAL(38,0)) + (n - nb)) "
            "   % (2 * (n - nb))) / (2 * (n - nb)) AS DECIMAL(38,0)) END"
        ).alias("m6"),
        F.expr(
            "CAST((1000000 * CAST(t AS DECIMAL(38,0)) "
            " - (1000000 * CAST(t AS DECIMAL(38,0))) % n) / n AS DECIMAL(38,0))"
        ).alias("k0"),
    )
    a = m6.agg(
        F.count(F.lit(1)).alias("bk"),
        F.sum(F.col("m6") - F.col("k0")).alias("s1"),
        F.sum((F.col("m6") - F.col("k0")) * (F.col("m6") - F.col("k0"))).alias("s2"),
    )
    var = (
        (
            F.col("bk").cast("double") * F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double")
        )
        / (F.col("bk").cast("double") * F.col("bk").cast("double"))
    )
    se = F.sqrt((F.col("bk") - 1.0) * var) / 1e6
    return a.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_orders"),
        F.col("bk").alias("n_buckets"),
        F.round(F.col("t").cast("double") / F.col("n") / 100.0, 6).alias(
            "mean_value"
        ),
        F.round(se / 100.0, 6).alias("jackknife_se"),
    )


#: classifier threshold (value cents) for the 2x2 confusion
MCC_CUTOFF = 30000


def q_agg_matthews_corr(spark, sf_dir):
    """Matthews correlation coefficient of the threshold classifier
    'value > 300 predicts purchase': MCC = (TP*TN - FP*FN) /
    sqrt((TP+FP)(TP+FN)(TN+FP)(TN+FN)) — the single-number score that,
    unlike accuracy or F1, stays honest on imbalanced labels.  The
    confusion quadrants are exact integers from ONE agg; the products
    run in DECIMAL(38)/HUGEINT (four ~1e5 counts multiply past BIGINT
    at sf1) and collapse to one double ratio."""
    load_tables(spark, sf_dir)
    # complete-case: an unscored row (NULL value) is neither a positive
    # nor a negative prediction — excluded on both sides (Spark's
    # boolean-cast would make it NULL, SQL's CASE-ELSE would make it 0:
    # the engines disagree unless the row is out)
    e = spark.table("events").filter(F.col("value").isNotNull())
    lab = e.select(
        (
            F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
            > MCC_CUTOFF
        )
        .cast("long")
        .alias("p"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    c = lab.agg(
        F.sum(F.expr("p * y")).alias("tp"),
        F.sum(F.expr("p * (1 - y)")).alias("fp"),
        F.sum(F.expr("(1 - p) * y")).alias("fn"),
        F.sum(F.expr("(1 - p) * (1 - y)")).alias("tn"),
    )
    num = F.expr(
        "CAST(tp AS DECIMAL(38,0)) * tn - CAST(fp AS DECIMAL(38,0)) * fn"
    ).cast("double")
    den = F.sqrt(
        F.expr(
            "CAST((tp + fp) AS DECIMAL(38,0)) * (tp + fn) * (tn + fp) "
            "* (tn + fn)"
        ).cast("double")
    )
    # try_divide: MCC is undefined when any margin is empty (den = 0) —
    # NULL on both engines (DuckDB x/0 is NULL)
    return c.select(
        "tp", "fp", "fn", "tn", F.round(F.try_divide(num, den), 6).alias("mcc")
    )


def q_agg_brier_score(spark, sf_dir):
    """BRIER SCORE of the rank-percentile 'probability' that an event is
    a purchase: mean((p - y)^2) — the proper scoring rule that rewards
    calibration AND sharpness (agg_calibration_table shows the diagram;
    this is its number).  p is the exact rank percentile quantized to
    half-up per-mille, so every squared term is an exact integer and
    the score is ONE half-up quotient of exact sums — no float mean."""
    load_tables(spark, sf_dir)
    # complete-case: NULL scores cannot be rank-percentiled (engines'
    # default NULL sort orders differ) — excluded on both sides
    e = spark.table("events").filter(F.col("value").isNotNull())
    scored = e.select(
        "event_id",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "s"
        ),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    ranked = global_row_number(scored, ["s", "event_id"], "rk")
    n_row = ranked.agg(F.count(F.lit(1)).alias("n"))
    t = ranked.crossJoin(F.broadcast(n_row)).select(
        "y",
        F.expr("(2 * 1000 * rk + n) div (2 * n)").alias("p3"),
    )
    # term = (p3 - 1000*y)^2 in per-mille^2, exact integers
    g = t.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            (F.col("p3") - 1000 * F.col("y"))
            * (F.col("p3") - 1000 * F.col("y"))
        ).alias("ss"),
    )
    return g.select(
        "n_events",
        (
            F.expr("(2 * ss + n_events) div (2 * n_events)") / 1000000.0
        ).alias("brier"),
    )


def q_agg_fleiss_kappa(spark, sf_dir):
    """FLEISS' KAPPA across THREE deterministic raters labeling each
    document long-form (chars > 300 / tokens > 50 / distinct words >
    28) — multi-rater chance-corrected agreement, which Cohen's kappa
    (two raters) cannot express.  With n=3 raters and 2 categories,
    P_i per item is (c*(c-1) + (3-c)*(2-c)) / 6 with c = positive
    votes — exact sixths, so P_bar and P_e come from exact integer
    sums and kappa is one fixed-shape double."""
    load_tables(spark, sf_dir)
    # complete-case: raters cannot label a missing document
    d = spark.table("documents").filter(F.col("text").isNotNull())
    votes = d.select(
        (
            (F.col("n_chars") > 300).cast("long")
            + (F.size(F.split("text", " ")) > 50).cast("long")
            + (F.size(F.array_distinct(F.split("text", " "))) > 28).cast(
                "long"
            )
        ).alias("c")
    )
    g = votes.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("pos_votes"),
        # 6 * sum(P_i): agreement pairs among 3 raters, exact integers
        F.sum(
            F.col("c") * (F.col("c") - 1)
            + (3 - F.col("c")) * (2 - F.col("c"))
        ).alias("agree6"),
    )
    n = F.col("n").cast("double")
    p_bar = F.col("agree6") / (6.0 * n)
    p_pos = F.col("pos_votes") / (3.0 * n)
    p_e = p_pos * p_pos + (1 - p_pos) * (1 - p_pos)
    return g.select(
        "n",
        "pos_votes",
        F.round(p_bar, 6).alias("p_bar"),
        F.round(p_e, 6).alias("p_expected"),
        # try_divide: unanimous chance agreement (p_e = 1) leaves kappa
        # undefined — NULL on both engines (DuckDB x/0 is NULL)
        F.round(F.try_divide(p_bar - p_e, 1 - p_e), 6).alias("fleiss_kappa"),
    )


#: ECE bins
ECE_BINS = 10


def q_agg_ece(spark, sf_dir):
    """EXPECTED CALIBRATION ERROR: the bin-weighted mean |confidence -
    accuracy| over the ten rank-percentile score bins — the single
    number behind agg_calibration_table's diagram (the metric every
    'is my model calibrated' gate thresholds).  Per-bin confidence and
    accuracy are half-up per-mille integers; the weighted absolute gap
    aggregates as exact integers and divides once."""
    load_tables(spark, sf_dir)
    # complete-case: NULL scores cannot be rank-binned (engines' default
    # NULL sort orders differ) — excluded on both sides
    e = spark.table("events").filter(F.col("value").isNotNull())
    scored = e.select(
        "event_id",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "s"
        ),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    ranked = global_row_number(scored, ["s", "event_id"], "rk")
    n_row = ranked.agg(F.count(F.lit(1)).alias("n"))
    binned = ranked.crossJoin(F.broadcast(n_row)).select(
        "y",
        "rk",
        "n",
        F.expr(f"(rk * {ECE_BINS} + n - 1) div n").alias("bin"),
    )
    g = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("y").alias("pos"),
        F.sum("rk").alias("rks"),
        F.max("n").alias("n"),
    )
    per = g.select(
        "nb",
        "n",
        F.expr("(2 * 1000 * pos + nb) div (2 * nb)").alias("acc_pm"),
        F.expr("(2 * 1000 * rks + nb * n) div (2 * nb * n)").alias(
            "conf_pm"
        ),
    )
    return per.agg(
        F.max("n").alias("n_events"),
        (
            F.expr(
                "(2 * sum(nb * abs(acc_pm - conf_pm)) + max(n)) "
                "div (2 * max(n))"
            )
            / 1000.0
        ).alias("ece"),
    )


def q_agg_growth_accounting(spark, sf_dir):
    """GROWTH ACCOUNTING of daily active users: each (day, user) is NEW
    (first day ever), RETAINED (also active yesterday) or RESURRECTED
    (active before, but not yesterday); users active yesterday but not
    today are CHURNED.  The ledger obeys DAU_t = new + retained +
    resurrected and DAU_{t-1} = retained + churned — the identity every
    growth team reports (and a pure-relational formulation: one
    distinct, two self-joins co-partitioned by user, one min window).
    All exact integer counts."""
    load_tables(spark, sf_dir)
    e = spark.table("events")
    au = e.select(
        F.expr("datediff(CAST(ts AS DATE), DATE '2024-01-01')").alias("d"),
        "user_id",
    ).distinct()
    wmin = Window.partitionBy("user_id")
    flagged = au.select(
        "d",
        "user_id",
        (F.col("d") == F.min("d").over(wmin)).alias("is_new"),
    )
    prev = au.select((F.col("d") + 1).alias("d"), F.col("user_id").alias("pu"))
    today = flagged.join(
        prev,
        (flagged.d == prev.d) & (flagged.user_id == prev.pu),
        "left",
    ).select(
        flagged.d.alias("day"),
        "is_new",
        F.col("pu").isNotNull().alias("was_active"),
    )
    per_day = today.groupBy("day").agg(
        F.sum(F.col("is_new").cast("long")).alias("new_users"),
        F.sum(
            ((~F.col("is_new")) & F.col("was_active")).cast("long")
        ).alias("retained"),
        F.sum(
            ((~F.col("is_new")) & (~F.col("was_active"))).cast("long")
        ).alias("resurrected"),
    )
    nxt = au.select(
        (F.col("d") - 1).alias("nd"), F.col("user_id").alias("nu")
    )
    churn = (
        au.join(
            nxt,
            (au.d == F.col("nd")) & (au.user_id == F.col("nu")),
            "left",
        )
        .filter(F.col("nu").isNull())
        .groupBy((au.d + 1).alias("day"))
        .agg(F.count(F.lit(1)).alias("churned"))
    )
    return (
        per_day.join(churn, "day", "left")
        .select(
            "day",
            "new_users",
            "retained",
            "resurrected",
            F.coalesce("churned", F.lit(0)).alias("churned"),
        )
    )


def q_agg_boxplot_stats(spark, sf_dir):
    """BOXPLOT five-number summary per order priority: min, Q1, median,
    Q3, max as EXACT order statistics (the ceil(p*n) element by
    co-partitioned rank — no interpolation ambiguity), plus the Tukey
    outlier count above Q3 + 1.5 IQR — the statistics every boxplot
    visualization is drawn from, per group in one pass family.
    Everything exact integer cents until display division."""
    load_tables(spark, sf_dir)
    # complete-case: unpriced orders have no value to rank (the engines'
    # default NULL sort orders differ) — excluded on both sides
    o = spark.table("orders").filter(F.col("o_totalprice").isNotNull()).select(
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("c"),
        "o_orderkey",
    )
    wg = Window.partitionBy("o_orderpriority").orderBy("c", "o_orderkey")
    ranked = o.withColumn("rk", F.row_number().over(wg).cast("long"))
    n = ranked.groupBy("o_orderpriority").agg(F.max("rk").alias("n"))
    j = ranked.join(n, "o_orderpriority")

    def at(pm):  # the ceil(pm*n/1000)-th smallest
        return F.max(
            F.when(
                F.col("rk") == F.expr(f"({pm} * n + 999) div 1000"),
                F.col("c"),
            )
        )

    g = j.groupBy("o_orderpriority").agg(
        F.max("n").alias("n"),
        F.min("c").alias("mn"),
        at(250).alias("q1"),
        at(500).alias("med"),
        at(750).alias("q3"),
        F.max("c").alias("mx"),
    )
    fenced = j.join(
        g.select(
            F.col("o_orderpriority").alias("p2"),
            F.col("q1"),
            F.col("q3"),
        ),
        F.col("o_orderpriority") == F.col("p2"),
    ).filter(
        # upper Tukey fence: c > q3 + 1.5*iqr  <=>  2c > 2*q3 + 3*(q3-q1)
        2 * F.col("c") > 2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1"))
    ).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_outliers")
    )
    return (
        g.join(fenced, "o_orderpriority", "left")
        .select(
            "o_orderpriority",
            "n",
            (F.col("mn") / 100.0).alias("min_v"),
            (F.col("q1") / 100.0).alias("q1"),
            (F.col("med") / 100.0).alias("median"),
            (F.col("q3") / 100.0).alias("q3"),
            (F.col("mx") / 100.0).alias("max_v"),
            F.coalesce("n_outliers", F.lit(0)).alias("n_outliers"),
        )
    )


def q_agg_dau_wau_mau(spark, sf_dir):
    """DAU / WAU / MAU and the DAU/MAU STICKINESS ratio per day —
    sliding-window DISTINCT user counts, which plain window frames
    cannot compute (count-distinct does not decompose); realized
    EXACTLY by joining the bounded day spine to the (day, user)
    activity set over the trailing 7/30-day ranges and counting
    distinct per anchor day.  The fixture's 30-day span keeps the
    expansion bounded; at 100 TB the same plan shards by anchor day.
    Stickiness is a half-up per-mille integer."""
    load_tables(spark, sf_dir)
    e = spark.table("events")
    au = e.select(
        F.expr("datediff(CAST(ts AS DATE), DATE '2024-01-01')").alias("d"),
        "user_id",
    ).distinct()
    days = au.select("d").distinct()
    wau = (
        days.alias("g")
        .join(
            au.alias("a"),
            (F.col("a.d") <= F.col("g.d"))
            & (F.col("a.d") > F.col("g.d") - 7),
        )
        .groupBy(F.col("g.d").alias("day"))
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    mau = (
        days.alias("g")
        .join(
            au.alias("a"),
            (F.col("a.d") <= F.col("g.d"))
            & (F.col("a.d") > F.col("g.d") - 30),
        )
        .groupBy(F.col("g.d").alias("day"))
        .agg(F.count_distinct("user_id").alias("mau"))
    )
    dau = au.groupBy(F.col("d").alias("day")).agg(
        F.count(F.lit(1)).alias("dau")
    )
    return (
        dau.join(wau, "day")
        .join(mau, "day")
        .select(
            "day",
            "dau",
            "wau",
            "mau",
            F.expr("(2 * 1000 * dau + mau) div (2 * mau)").alias(
                "stickiness_pm"
            ),
        )
    )


#: spec limits for order value (dollars) — the declared tolerance band
SPEC_LO, SPEC_HI = 1000.0, 450000.0


#: Little's law: order 'open' horizon (days), matches interval stabbing
LL_OPEN_DAYS = 30


def q_agg_process_capability(spark, sf_dir):
    """PROCESS CAPABILITY Cp / Cpk of order value against declared spec
    limits: Cp = (USL - LSL) / 6 sigma (potential), Cpk = min(USL - mu,
    mu - LSL) / 3 sigma (actual, penalizing off-center) — the
    manufacturing SPC indices applied to a value stream.  Moments are
    exact DECIMAL(38)/HUGEINT cent sums; Cp/Cpk are fixed-shape doubles
    of those identical integers."""
    load_tables(spark, sf_dir)
    o = spark.table("orders").select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("c")
    )
    m = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("s1"),
        F.sum(
            (F.col("c").cast("decimal(38,0)") * F.col("c")).cast(
                "decimal(38,0)"
            )
        ).alias("s2"),
    )
    n = F.col("n").cast("double")
    # try_divide: with n <= 1 the process spread is undefined — NULL on
    # both engines (DuckDB x/0 is NULL; Spark ANSI / would throw)
    mu = F.try_divide(F.col("s1").cast("double"), n)
    sd = F.sqrt(
        F.try_divide(
            n * F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double"),
            n * (n - 1),
        )
    )
    lo, hi = SPEC_LO * 100.0, SPEC_HI * 100.0
    cp = F.try_divide(F.lit(hi - lo), 6.0 * sd)
    cpk = F.try_divide(F.least(hi - mu, mu - lo), 3.0 * sd)
    return m.select(
        "n",
        F.round(mu / 100.0, 6).alias("mean_value"),
        F.round(sd / 100.0, 6).alias("sd_value"),
        F.round(cp, 6).alias("cp"),
        F.round(cpk, 6).alias("cpk"),
    )


def q_agg_littles_law(spark, sf_dir):
    """LITTLE'S LAW reconciliation over the open-order system: the
    time-average number of open orders (L, integrated from the
    interval-stabbing sweep) must equal the arrival rate (lambda,
    orders per day) times the fixed residence time (W = 30 days) —
    queueing theory's conservation identity as a data-quality check on
    the sweep itself.  L integrates EXACTLY: sum over orders of days
    open inside the horizon = n_orders * 30, divided by the observed
    span; every number is an exact integer ratio, and the ratio column
    proves the identity to within the boundary effect the output also
    quantifies."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    s = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.expr("datediff(o_orderdate, DATE '1991-12-30')")).alias(
            "d0"
        ),
        F.max(F.expr("datediff(o_orderdate, DATE '1991-12-30')")).alias(
            "d1"
        ),
    )
    span = F.col("d1") - F.col("d0") + 1
    # L = total open-order-days / span; open-order-days = n * W exactly
    l_x = F.expr(
        f"(2 * 1000 * n * {LL_OPEN_DAYS} + (d1 - d0 + 1)) "
        "div (2 * (d1 - d0 + 1))"
    )
    lam_x = F.expr("(2 * 1000 * n + (d1 - d0 + 1)) div (2 * (d1 - d0 + 1))")
    return s.select(
        "n",
        span.alias("span_days"),
        (l_x / 1000.0).alias("avg_open_l"),
        (lam_x / 1000.0).alias("arrival_rate"),
        F.lit(LL_OPEN_DAYS).alias("w_days"),
        # identity check: L / (lambda * W), per-mille (1000 = exact)
        F.expr(
            f"(2 * 1000 * (2 * 1000 * n * {LL_OPEN_DAYS} + (d1 - d0 + 1)) "
            f"+ {LL_OPEN_DAYS} * ((2 * 1000 * n + (d1 - d0 + 1)) "
            "div (2 * (d1 - d0 + 1))) * (2 * (d1 - d0 + 1))) "
            f"div (2 * {LL_OPEN_DAYS} * ((2 * 1000 * n + (d1 - d0 + 1)) "
            "div (2 * (d1 - d0 + 1))) * (2 * (d1 - d0 + 1)))"
        ).alias("identity_pm"),
    )


def q_agg_durbin_watson(spark, sf_dir):
    """DURBIN-WATSON statistic of the daily-revenue OLS residuals:
    DW = sum((e_t - e_{t-1})^2) / sum(e_t^2) — near 2 means independent
    residuals, toward 0 means positive autocorrelation (the diagnostic
    that says whether agg_linreg's trend line can be trusted).
    Residuals are QUANTIZED to half-up cents via sign-safe shifting
    (fitted values are rationals of exact OLS moments), so both sums
    are exact DECIMAL(38)/HUGEINT and DW is one double ratio."""
    load_tables(spark, sf_dir)
    from pyspark.sql import Window

    o = spark.table("orders")
    daily = o.groupBy(
        F.expr("datediff(o_orderdate, DATE '1991-12-30')").alias("x")
    ).agg(
        (F.sum("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("y")
    )
    m = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        # decimal sum (r10): x·y terms reach 1e17 at hostile magnitudes
        # and their 2400-day total passes 1e20 — Spark long sums throw
        # where DuckDB's HUGEINT sums absorb it
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    j = daily.crossJoin(F.broadcast(m))
    # residual e = y - (a + b*x) with b = bn/bd exact rationals; keep
    # exact: e_scaled = n*bd*y - n*bn*x - bd*sy + bn*sx, then quantize
    # to cents half-up with a denominator-multiple shift (e may be
    # negative).  EVERY product enters DECIMAL(38) before multiplying —
    # n*sxy alone leaves BIGINT at sf0.1 (Spark sums of long are long;
    # DuckDB's are HUGEINT, hence the asymmetric casts).
    _bn = "(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)"
    _bd = "(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)"
    _num = (
        f"(CAST(n AS DECIMAL(38,0)) * {_bd} * y "
        f"- CAST(n AS DECIMAL(38,0)) * {_bn} * x "
        f"- {_bd} * sy + {_bn} * sx)"
    )
    _den = f"(CAST(n AS DECIMAL(38,0)) * {_bd})"
    # zero-denominator guard matches DuckDB (x // 0 is NULL): a single
    # day has no regression line, hence no residuals
    ecents = F.expr(
        f"CAST(CASE WHEN {_den} = 0 THEN NULL "
        f"ELSE (2 * ({_num} + 100000 * {_den}) + {_den}) "
        f"div (2 * {_den}) - 100000 END AS BIGINT)"
    )
    res = j.select("x", ecents.alias("e"))
    w = Window.orderBy("x")
    lagd = res.select(
        "e", F.lag("e").over(w).alias("pe")
    ).filter(F.col("pe").isNotNull())
    s = lagd.agg(
        F.count(F.lit(1)).alias("n_resid"),
        F.sum(
            ((F.col("e") - F.col("pe")).cast("decimal(38,0)")
             * (F.col("e") - F.col("pe"))).cast("decimal(38,0)")
        ).alias("sdiff"),
        F.sum(
            (F.col("e").cast("decimal(38,0)") * F.col("e")).cast(
                "decimal(38,0)"
            )
        ).alias("ssq"),
    )
    return s.select(
        "n_resid",
        F.round(
            F.col("sdiff").cast("double") / F.col("ssq").cast("double"), 6
        ).alias("durbin_watson"),
    )


#: exposure split and z for the 95% CI
OR_CUTOFF = 30000     # value cents: 'exposed' = high-value event
Z95 = 1.959963984540054

#: bridge years
BR_Y0, BR_Y1 = 1995, 1996


def q_agg_odds_ratio(spark, sf_dir):
    """ODDS RATIO and RELATIVE RISK of purchase for high-value vs
    low-value events, with the 95% log-scale Woolf CI — the 2x2
    epidemiology toolkit (case-control reads OR, cohort reads RR).
    The four cells are exact integers from one agg; OR, RR and the CI
    bounds exp(ln OR ± z*sqrt(1/a+1/b+1/c+1/d)) are fixed-shape doubles
    of identical integers, z as a python literal."""
    load_tables(spark, sf_dir)
    # complete-case: an unvalued event is neither exposed nor unexposed
    # (Spark's boolean-cast yields NULL where SQL's CASE-ELSE yields 0)
    # — excluded on both sides
    e = spark.table("events").filter(F.col("value").isNotNull())
    lab = e.select(
        (
            F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
            > OR_CUTOFF
        )
        .cast("long")
        .alias("x"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    c = lab.agg(
        F.sum(F.expr("x * y")).alias("a"),
        F.sum(F.expr("x * (1 - y)")).alias("b"),
        F.sum(F.expr("(1 - x) * y")).alias("c"),
        F.sum(F.expr("(1 - x) * (1 - y)")).alias("d"),
    )
    # Haldane-Anscombe correction: +0.5 on every cell keeps the OR and
    # its CI finite when a cell is empty (measured: zero high-value
    # purchases at sf0.001) — the textbook fix, exact halves in double
    a = F.col("a").cast("double") + 0.5
    b = F.col("b").cast("double") + 0.5
    cc = F.col("c").cast("double") + 0.5
    d = F.col("d").cast("double") + 0.5
    orx = (a * d) / (b * cc)
    rr = (a / (a + b)) / (cc / (cc + d))
    se = F.sqrt(1 / a + 1 / b + 1 / cc + 1 / d)
    return c.select(
        "a",
        "b",
        "c",
        "d",
        F.round(orx, 6).alias("odds_ratio"),
        F.round(rr, 6).alias("relative_risk"),
        F.round(F.exp(F.log(orx) - Z95 * se), 6).alias("or_ci_lo"),
        F.round(F.exp(F.log(orx) + Z95 * se), 6).alias("or_ci_hi"),
    )


def q_agg_revenue_bridge(spark, sf_dir):
    """REVENUE BRIDGE (waterfall): attribute the 1995 -> 1996 total
    revenue change to market segments — each segment's delta, its sign,
    and its per-mille contribution to the absolute total change (the
    walk every executive review does from last year's bar to this
    year's).  One partial+final agg to (segment, year) exact cents,
    a two-column pivot, and half-up contribution quotients on a signed
    numerator via the sign-decomposed form."""
    load_tables(spark, sf_dir)
    o = spark.table("orders").join(
        spark.table("customer"), F.col("o_custkey") == F.col("c_custkey")
    )
    per = o.filter(
        F.year("o_orderdate").isin(BR_Y0, BR_Y1)
    ).groupBy("c_mktsegment", F.year("o_orderdate").alias("y")).agg(
        (F.sum("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents")
    )
    wide = per.groupBy("c_mktsegment").agg(
        F.max(F.when(F.col("y") == BR_Y0, F.col("cents"))).alias("r0"),
        F.max(F.when(F.col("y") == BR_Y1, F.col("cents"))).alias("r1"),
    )
    tot = wide.agg(
        F.sum(F.expr("abs(r1 - r0)")).alias("tabs")
    )
    j = wide.crossJoin(F.broadcast(tot))
    delta = F.col("r1") - F.col("r0")
    contrib = F.expr(
        "CASE WHEN r1 - r0 >= 0 THEN "
        "(2 * 1000 * (r1 - r0) + tabs) div (2 * tabs) "
        "ELSE -((2 * 1000 * (r0 - r1) + tabs) div (2 * tabs)) END"
    )
    return j.select(
        "c_mktsegment",
        (F.col("r0") / 100.0).alias("rev_y0"),
        (F.col("r1") / 100.0).alias("rev_y1"),
        (delta / 100.0).alias("delta"),
        contrib.alias("contribution_pm"),
    )


#: CR-k: how many top firms
CR_K = 4


def q_agg_cr4_concentration(spark, sf_dir):
    """FOUR-FIRM CONCENTRATION RATIO per nation: the top-4 suppliers'
    share of national revenue — the regulator's quick screen that reads
    the TOP of the distribution where HHI (agg_hhi_concentration) sums
    the whole of it.  Top-4 by co-partitioned rank (revenue desc, key),
    share as a half-up per-mille quotient of exact cents."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    sup = spark.table("supplier")
    n = spark.table("nation")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("c")
        )
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name", "l_suppkey", "c")
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("c").desc(), F.col("l_suppkey")
    )
    ranked = rev.withColumn("rk", F.row_number().over(w))
    g = ranked.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("c").alias("total"),
        F.sum(F.when(F.col("rk") <= CR_K, F.col("c")).otherwise(0)).alias(
            "top4"
        ),
    )
    return g.select(
        "n_name",
        "n_suppliers",
        F.expr("(2 * 1000 * top4 + total) div (2 * total)").alias(
            "cr4_pm"
        ),
    )


def q_agg_kendall_tau(spark, sf_dir):
    """KENDALL'S TAU-B between daily order count and daily revenue:
    concordant minus discordant pairs over the tie-adjusted pair count
    — the third rank-correlation (Pearson: agg_corr_covar, Spearman:
    agg_spearman_corr), preferred when ties matter because its tie
    treatment is exact, not averaged.

    Every quantity is an exact integer on the bounded ~2,406-day grain:
    C, D and the tie counts come from ONE pairwise self-join (bounded
    ~2.9M pairs at any SF) and tau-b = (C - D) / sqrt((n0 - n1)(n0 -
    n2)) is a single fixed-shape double of five exact BIGINTs."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    # per-row cents BEFORE the sum (repo discipline, cf. r7b/r7d): long
    # summation is exact and engine-order-independent, unlike summing
    # doubles then casting the total
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        ).alias("y"),
    )
    p = (
        daily.alias("a")
        .join(daily.alias("b"), F.col("a.day") < F.col("b.day"))
        .select(
            (F.col("b.x") - F.col("a.x")).alias("dx"),
            (F.col("b.y") - F.col("a.y")).alias("dy"),
        )
    )
    g = p.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(
            (
                ((F.col("dx") > 0) & (F.col("dy") > 0))
                | ((F.col("dx") < 0) & (F.col("dy") < 0))
            ).cast("long")
        ).alias("c"),
        F.sum(
            (
                ((F.col("dx") > 0) & (F.col("dy") < 0))
                | ((F.col("dx") < 0) & (F.col("dy") > 0))
            ).cast("long")
        ).alias("d"),
        F.sum(((F.col("dx") == 0) & (F.col("dy") != 0)).cast("long")).alias(
            "tx"
        ),
        F.sum(((F.col("dy") == 0) & (F.col("dx") != 0)).cast("long")).alias(
            "ty"
        ),
        F.sum(((F.col("dx") == 0) & (F.col("dy") == 0)).cast("long")).alias(
            "txy"
        ),
    )
    num = (F.col("c") - F.col("d")).cast("double")
    den = F.sqrt(
        (F.col("n0") - F.col("tx") - F.col("txy")).cast("double")
        * (F.col("n0") - F.col("ty") - F.col("txy")).cast("double")
    )
    return g.select(
        "n0",
        "c",
        "d",
        F.round(num / den, 6).alias("kendall_tau_b"),
    )


QUERIES = {
    "agg_hll_union": q_agg_hll_union,
    "agg_equidepth_histogram": q_agg_equidepth_histogram,
    "agg_freq_items": q_agg_freq_items,
    "agg_gini": q_agg_gini,
    "agg_approx_percentile": q_agg_approx_percentile,
    "agg_linreg": q_agg_linreg,
    "agg_mode": q_agg_mode,
    "agg_skew_kurt": q_agg_skew_kurt,
    "agg_weighted_median": q_agg_weighted_median,
    "agg_distinct_multi": q_agg_distinct_multi,
    "agg_decimal_exact": q_agg_decimal_exact,
    "agg_pricing_summary": q_agg_pricing_summary,
    "agg_global": q_agg_global,
    "agg_bitmap_distinct": q_agg_bitmap_distinct,
    "agg_distinct_count": q_agg_distinct_count,
    "agg_having": q_agg_having,
    "agg_rollup": q_agg_rollup,
    "agg_cube": q_agg_cube,
    "agg_grouping_sets": q_agg_grouping_sets,
    "agg_stats": q_agg_stats,
    "agg_approx_distinct": q_agg_approx_distinct,
    "agg_pivot": q_agg_pivot,
    "agg_unpivot": q_agg_unpivot,
    "agg_percentiles": q_agg_percentiles,
    "agg_minmax_by": q_agg_minmax_by,
    "agg_string_concat": q_agg_string_concat,
    "agg_corr_covar": q_agg_corr_covar,
    "agg_histogram_bins": q_agg_histogram_bins,
    "agg_filter_clause": q_agg_filter_clause,
    "agg_bool_bitwise": q_agg_bool_bitwise,
    "agg_count_min_sketch": q_agg_count_min_sketch,
    "agg_weighted_percentile": q_agg_weighted_percentile,
    "agg_welch_ttest": q_agg_welch_ttest,
    "agg_chi_square": q_agg_chi_square,
    "agg_ks_test": q_agg_ks_test,
    "agg_mann_whitney": q_agg_mann_whitney,
    "agg_bloom_filter": q_agg_bloom_filter,
    "agg_kmv_jaccard": q_agg_kmv_jaccard,
    "agg_decile_lift": q_agg_decile_lift,
    "agg_log_histogram": q_agg_log_histogram,
    "agg_rfm_segments": q_agg_rfm_segments,
    "agg_cohort_ltv": q_agg_cohort_ltv,
    "agg_pareto_concentration": q_agg_pareto_concentration,
    "agg_markov_transitions": q_agg_markov_transitions,
    "agg_survival_km": q_agg_survival_km,
    "agg_bootstrap_ci": q_agg_bootstrap_ci,
    "agg_cramers_v": q_agg_cramers_v,
    "agg_spearman_corr": q_agg_spearman_corr,
    "agg_kruskal_wallis": q_agg_kruskal_wallis,
    "agg_circular_mean": q_agg_circular_mean,
    "agg_mutual_info": q_agg_mutual_info,
    "agg_winsorized_mean": q_agg_winsorized_mean,
    "agg_hill_tail_index": q_agg_hill_tail_index,
    "agg_cuped_adjustment": q_agg_cuped_adjustment,
    "agg_new_vs_returning": q_agg_new_vs_returning,
    "agg_cvar_expected_shortfall": q_agg_cvar_expected_shortfall,
    "agg_power_sample_size": q_agg_power_sample_size,
    "agg_two_proportion_ztest": q_agg_two_proportion_ztest,
    "agg_abc_classification": q_agg_abc_classification,
    "agg_grouped_linreg": q_agg_grouped_linreg,
    "agg_shapley_attribution": q_agg_shapley_attribution,
    "agg_eb_beta_binomial": q_agg_eb_beta_binomial,
    "agg_cohens_kappa": q_agg_cohens_kappa,
    "agg_price_index": q_agg_price_index,
    "agg_hhi_concentration": q_agg_hhi_concentration,
    "agg_chain_ladder": q_agg_chain_ladder,
    "agg_oaxaca_blinder": q_agg_oaxaca_blinder,
    "agg_forecast_eval": q_agg_forecast_eval,
    "agg_gini_by_segment": q_agg_gini_by_segment,
    "agg_auc_roc": q_agg_auc_roc,
    "agg_calibration_table": q_agg_calibration_table,
    "agg_precision_at_k": q_agg_precision_at_k,
    "agg_ndcg_at_k": q_agg_ndcg_at_k,
    "agg_jackknife_se": q_agg_jackknife_se,
    "agg_matthews_corr": q_agg_matthews_corr,
    "agg_brier_score": q_agg_brier_score,
    "agg_fleiss_kappa": q_agg_fleiss_kappa,
    "agg_ece": q_agg_ece,
    "agg_growth_accounting": q_agg_growth_accounting,
    "agg_boxplot_stats": q_agg_boxplot_stats,
    "agg_dau_wau_mau": q_agg_dau_wau_mau,
    "agg_process_capability": q_agg_process_capability,
    "agg_littles_law": q_agg_littles_law,
    "agg_durbin_watson": q_agg_durbin_watson,
    "agg_odds_ratio": q_agg_odds_ratio,
    "agg_revenue_bridge": q_agg_revenue_bridge,
    "agg_cr4_concentration": q_agg_cr4_concentration,
    "agg_kendall_tau": q_agg_kendall_tau,
}

ORACLES = {
    "agg_equidepth_histogram": (
        "WITH e AS (SELECT o_orderstatus, "
        "quantile_cont(o_totalprice, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) "
        "AS edges FROM orders GROUP BY o_orderstatus) "
        "SELECT o_orderstatus, t.i AS decile, "
        "round(edges[t.i], 2) AS edge FROM e, "
        "LATERAL (SELECT unnest(range(1, 10)) AS i) t"
    ),
    "agg_gini": (
        "WITH rev AS (SELECT o_custkey, sum(o_totalprice) AS x FROM orders "
        "GROUP BY o_custkey), "
        "r AS (SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i FROM rev) "
        "SELECT count(*) AS n_customers, "
        "round(2 * sum(i * x) / (count(*) * sum(x)) "
        "- (count(*) + 1.0) / count(*), 6) AS gini FROM r"
    ),
    "agg_linreg": (
        "SELECT l_returnflag, "
        "round(regr_slope(l_extendedprice, l_quantity), 4) AS slope, "
        "round(regr_intercept(l_extendedprice, l_quantity), 4) + 0.0 AS intercept, "
        "round(regr_r2(l_extendedprice, l_quantity), 6) AS r2, "
        "regr_count(l_extendedprice, l_quantity) AS n FROM lineitem "
        "GROUP BY l_returnflag"
    ),
    "agg_mode": (
        "WITH cnt AS (SELECT o_orderstatus, o_orderpriority, count(*) AS c "
        "FROM orders GROUP BY 1, 2), "
        "rk AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus "
        "ORDER BY c DESC, o_orderpriority) AS rn FROM cnt) "
        "SELECT o_orderstatus, o_orderpriority AS mode_priority, c AS mode_count "
        "FROM rk WHERE rn = 1"
    ),
    "agg_skew_kurt": (
        "WITH stats AS (SELECT l_returnflag, avg(l_extendedprice) AS mu, "
        "stddev_pop(l_extendedprice) AS sd FROM lineitem GROUP BY 1) "
        "SELECT l.l_returnflag, count(*) AS n_rows, "
        "round(avg(pow((l_extendedprice - mu) / sd, 3)), 6) AS skew, "
        "round(avg(pow((l_extendedprice - mu) / sd, 4)), 6) AS kurt "
        "FROM lineitem l JOIN stats s ON l.l_returnflag = s.l_returnflag "
        "GROUP BY l.l_returnflag"
    ),
    "agg_weighted_median": (
        "WITH w AS (SELECT l_returnflag, l_extendedprice, "
        "CAST(l_quantity AS BIGINT) AS wt FROM lineitem), "
        "cum AS (SELECT l_returnflag, l_extendedprice, "
        "sum(wt) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw, "
        "sum(wt) OVER (PARTITION BY l_returnflag) AS tot FROM w) "
        "SELECT l_returnflag, min(l_extendedprice) AS weighted_median, "
        "CAST(max(tot) AS BIGINT) AS total_weight "
        "FROM cum WHERE cw * 2 >= tot GROUP BY l_returnflag"
    ),
    "agg_decimal_exact": (
        "SELECT l_returnflag, "
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, "
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) "
        "+ CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_price_tax, "
        "count(*) AS n_rows FROM lineitem GROUP BY l_returnflag"
    ),
    "agg_distinct_multi": (
        "SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_parts, "
        "count(DISTINCT l_suppkey) AS nd_supps, "
        "count(DISTINCT l_linestatus) AS nd_status, count(*) AS n_rows "
        "FROM lineitem GROUP BY l_returnflag"
    ),
    "agg_pricing_summary": (
        "SELECT l_returnflag, l_linestatus, "
        "round(sum(l_quantity), 2) AS sum_qty, "
        "round(sum(l_extendedprice), 2) AS sum_base_price, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
        "round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge, "
        "round(avg(l_quantity), 2) AS avg_qty, "
        "round(avg(l_extendedprice), 2) AS avg_price, "
        "round(avg(l_discount), 4) AS avg_disc, "
        "count(*) AS count_order "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus"
    ),
    "agg_global": (
        "SELECT count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price, "
        "round(avg(o_totalprice), 4) AS avg_price, "
        "round(min(o_totalprice), 2) AS min_price, "
        "round(max(o_totalprice), 2) AS max_price FROM orders"
    ),
    "agg_bitmap_distinct": (
        "SELECT l_returnflag, "
        "CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct_orders "
        "FROM lineitem GROUP BY l_returnflag"
    ),
    "agg_distinct_count": (
        "SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp, "
        "count(DISTINCT l_partkey) AS n_part FROM lineitem GROUP BY l_returnflag"
    ),
    "agg_having": (
        "SELECT n_name, count(*) AS n_cust FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey "
        "GROUP BY n_name HAVING count(*) > 60"
    ),
    "agg_rollup": (
        "SELECT r_name, n_name, "
        "CAST(grouping(r_name) AS INT) AS g_r, CAST(grouping(n_name) AS INT) AS g_n, "
        "count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY ROLLUP(r_name, n_name) "
        # declared semantics: grouping-set rows need >= 1 contributing
        # row.  Spark emits NO rows (not even the () grand total) for
        # ROLLUP/CUBE/GROUPING SETS over empty input, while DuckDB/
        # Postgres emit the SQL-standard count-0 grand-total row; the
        # HAVING (a no-op on any non-empty input) pins the engines to
        # the same — Spark's — behavior on empty slices
        "HAVING count(*) > 0"
    ),
    "agg_cube": (
        "SELECT event_type, day, "
        "CAST(grouping(event_type) AS INT) AS g_t, CAST(grouping(day) AS INT) AS g_d, "
        "count(*) AS n, round(sum(value), 2) AS sum_value "
        "FROM (SELECT event_type, date_trunc('day', ts) AS day, value FROM events) t "
        "GROUP BY CUBE(event_type, day) "
        "HAVING count(*) > 0"  # see agg_rollup: pin empty-input behavior
    ),
    "agg_grouping_sets": (
        "SELECT o_orderstatus, o_orderpriority, "
        "CAST(grouping(o_orderstatus) AS INT) AS g_s, "
        "CAST(grouping(o_orderpriority) AS INT) AS g_p, "
        "count(*) AS n, round(sum(o_totalprice), 2) AS sum_price "
        "FROM orders "
        "GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ()) "
        "HAVING count(*) > 0"  # see agg_rollup: pin empty-input behavior
    ),
    "agg_stats": (
        "SELECT c_mktsegment, round(stddev_samp(c_acctbal), 2) AS std_bal, "
        "round(var_samp(c_acctbal), 2) AS var_bal, "
        "round(min(c_acctbal), 2) AS min_bal, round(max(c_acctbal), 2) AS max_bal "
        "FROM customer GROUP BY c_mktsegment"
    ),
    # agg_approx_distinct: rows-only (approximate)
    "agg_percentiles": (
        "WITH o AS (SELECT o_orderstatus, "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "FROM orders) "
        "SELECT o_orderstatus, "
        "round(CAST(quantile_cont(cents, 0.25) AS DOUBLE) / 100.0, 2) AS p25, "
        "round(CAST(quantile_cont(cents, 0.5) AS DOUBLE) / 100.0, 2) AS p50, "
        "round(CAST(quantile_cont(cents, 0.75) AS DOUBLE) / 100.0, 2) AS p75 "
        "FROM o GROUP BY o_orderstatus"
    ),
    "agg_minmax_by": (
        "SELECT c_nationkey, max_by(c_name, c_custkey) AS latest_cust, "
        "min_by(c_name, c_custkey) AS earliest_cust "
        "FROM customer GROUP BY c_nationkey"
    ),
    "agg_string_concat": (
        "SELECT n_regionkey, "
        "string_agg(DISTINCT n_name, ',' ORDER BY n_name) AS nations "
        "FROM nation GROUP BY n_regionkey"
    ),
    "agg_corr_covar": (
        "SELECT l_returnflag, "
        "round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price, "
        "round(covar_samp(l_quantity, l_discount), 4) AS covar_qty_disc "
        "FROM lineitem GROUP BY l_returnflag"
    ),
    "agg_filter_clause": _FILTER_CLAUSE_SQL,
    "agg_bool_bitwise": (
        "SELECT o_orderstatus, "
        "bool_and(o_totalprice > 1000) AS all_over_1k, "
        "bool_or(o_totalprice > 500000) AS any_over_500k, "
        "bit_and(o_orderkey) AS key_band, "
        "bit_or(o_orderkey) AS key_bor, "
        "bit_xor(o_orderkey) AS key_bxor "
        "FROM orders GROUP BY o_orderstatus"
    ),
    "agg_histogram_bins": (
        "SELECT CAST(floor(o_totalprice / 100000.0) AS BIGINT) AS bin, "
        "count(*) AS n, round(avg(o_totalprice), 2) AS avg_price "
        "FROM orders GROUP BY 1"
    ),
    "agg_pivot": (
        "SELECT l_returnflag, "
        "coalesce(round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2), 0.0)"
        " AS qty_open, "
        "coalesce(round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2), 0.0)"
        " AS qty_filled "
        "FROM lineitem GROUP BY l_returnflag"
    ),
    "agg_unpivot": (
        "SELECT o_orderkey, 'o_totalprice' AS measure,"
        " CAST(o_totalprice AS DOUBLE) AS val FROM orders"
        " UNION ALL "
        "SELECT o_orderkey, 'o_custkey' AS measure,"
        " CAST(o_custkey AS DOUBLE) AS val FROM orders"
    ),
    "agg_count_min_sketch": (
        # bucket_i = byte i of md5's lower 8 bytes: md5_number_lower is
        # the little-endian integer of those bytes, so byte i is
        # (n // 256^i) % 256 — matches Spark's conv(substring(hex)) form
        "WITH cells AS ("
        + " UNION ALL ".join(
            f"SELECT {i} AS depth, "
            f"((md5_number_lower(CAST(l_partkey AS VARCHAR)) "
            f"// {256 ** i}) % 256) AS bucket, count(*) AS cnt "
            "FROM lineitem GROUP BY 2"
            for i in range(CMS_DEPTH)
        )
        + "), top AS (SELECT l_partkey, count(*) AS true_cnt, "
        "row_number() OVER (ORDER BY count(*) DESC, l_partkey) AS rn "
        f"FROM lineitem GROUP BY l_partkey QUALIFY rn <= {CMS_TOPK}), "
        "probes AS ("
        + " UNION ALL ".join(
            f"SELECT l_partkey, true_cnt, {i} AS depth, "
            f"((md5_number_lower(CAST(l_partkey AS VARCHAR)) "
            f"// {256 ** i}) % 256) AS bucket FROM top"
            for i in range(CMS_DEPTH)
        )
        + ") SELECT p.l_partkey, p.true_cnt, min(c.cnt) AS est_cnt "
        "FROM probes p JOIN cells c ON p.depth = c.depth AND p.bucket = c.bucket "
        "GROUP BY 1, 2"
    ),
    "agg_weighted_percentile": (
        "WITH g AS (SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) "
        "AS price, sum(CAST(CAST(l_quantity AS DECIMAL(9,0)) AS BIGINT)) AS qsum "
        "FROM lineitem GROUP BY 1, 2), "
        "cw AS (SELECT l_returnflag, price, "
        "sum(qsum) OVER (PARTITION BY l_returnflag ORDER BY price "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw, "
        "sum(qsum) OVER (PARTITION BY l_returnflag) AS totw FROM g) "
        + " UNION ALL ".join(
            f"SELECT l_returnflag, {pct} AS pct, "
            "CAST(min(price) AS DOUBLE) AS value FROM cw "
            f"WHERE 100 * cumw >= {pct} * totw GROUP BY l_returnflag"
            for pct in (25, 50, 75)
        )
    ),
    "agg_welch_ttest": (
        "WITH g AS (SELECT event_type, count(*) AS n, "
        "sum(CAST(value AS DECIMAL(18,6))) AS s, "
        "sum(CAST(value * value AS DECIMAL(25,6))) AS ss FROM events "
        f"WHERE event_type IN ('{TT_A}', '{TT_B}') GROUP BY 1), "
        f"a AS (SELECT n AS n1, s AS s1, ss AS ss1 FROM g WHERE event_type = '{TT_A}'), "
        f"b AS (SELECT n AS n2, s AS s2, ss AS ss2 FROM g WHERE event_type = '{TT_B}'), "
        "j AS (SELECT *, CAST(s1 AS DOUBLE) / n1 AS m1, "
        "CAST(s2 AS DOUBLE) / n2 AS m2, "
        "CAST(n1 * ss1 - s1 * s1 AS DOUBLE) / (n1 * (n1 - 1)) / n1 AS se1, "
        "CAST(n2 * ss2 - s2 * s2 AS DOUBLE) / (n2 * (n2 - 1)) / n2 AS se2 "
        "FROM a, b) "
        "SELECT n1, n2, round(m1, 6) AS mean1, round(m2, 6) AS mean2, "
        "round((m1 - m2) / sqrt(se1 + se2), 6) AS t_stat, "
        "round((se1 + se2) * (se1 + se2) / "
        "(se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 4) AS df FROM j"
    ),
    "agg_chi_square": (
        "WITH cells AS (SELECT event_type, dayofweek(ts) + 1 AS dow, "
        "count(*) AS o FROM events GROUP BY 1, 2), "
        "scored AS (SELECT event_type, dow, o, "
        "sum(o) OVER (PARTITION BY event_type) AS r, "
        "sum(o) OVER (PARTITION BY dow) AS c, "
        "sum(o) OVER () AS n FROM cells) "
        "SELECT event_type, dow, o, "
        "round(r * c / CAST(n AS DOUBLE), 6) AS expected, "
        "round((o - r * c / CAST(n AS DOUBLE)) * "
        "(o - r * c / CAST(n AS DOUBLE)) / (r * c / CAST(n AS DOUBLE)), 6) "
        "AS contribution FROM scored"
    ),
    "agg_ks_test": (
        "WITH g AS (SELECT value, "
        f"sum(CASE WHEN event_type = '{TT_A}' THEN 1 ELSE 0 END) AS c1, "
        f"sum(CASE WHEN event_type = '{TT_B}' THEN 1 ELSE 0 END) AS c2 "
        f"FROM events WHERE event_type IN ('{TT_A}', '{TT_B}') AND value IS NOT NULL GROUP BY 1), "
        "pref AS (SELECT value, "
        "sum(c1) OVER (ORDER BY value) AS cc1, sum(c2) OVER (ORDER BY value) AS cc2 "
        "FROM g), "
        "tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM g), "
        "scored AS (SELECT value, n1, n2, abs(cc1 * n2 - cc2 * n1) AS score "
        "FROM pref, tot) "
        "SELECT n1, n2, CAST(score AS BIGINT) AS d_num, "
        "round(CAST(score AS DOUBLE) / (n1 * n2), 6) AS ks_d, value AS at_value "
        "FROM scored ORDER BY score DESC, value LIMIT 1"
    ),
    "agg_mann_whitney": (
        "WITH g AS (SELECT value, "
        f"sum(CASE WHEN event_type = '{TT_A}' THEN 1 ELSE 0 END) AS c1, "
        f"sum(CASE WHEN event_type = '{TT_B}' THEN 1 ELSE 0 END) AS c2, "
        "count(*) AS t "
        f"FROM events WHERE event_type IN ('{TT_A}', '{TT_B}') AND value IS NOT NULL GROUP BY 1), "
        "pref AS (SELECT c1, t, 2 * sum(t) OVER (ORDER BY value) - t + 1 AS ab "
        "FROM g), "
        "agg AS (SELECT CAST(sum(c1 * ab) AS BIGINT) AS two_r1, "
        "CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(t - c1) AS BIGINT) AS n2, "
        "CAST(sum(t * t * t - t) AS BIGINT) AS tie_t FROM pref) "
        "SELECT n1, n2, (two_r1 - n1 * (n1 + 1)) / 2.0 AS u1, "
        "round(((two_r1 - n1 * (n1 + 1)) / 2.0 - CAST(n1 AS DOUBLE) * n2 / 2.0) / "
        "sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0 * ((n1 + n2 + 1) - "
        "CAST(tie_t AS DOUBLE) / ((n1 + n2) * (n1 + n2 - 1)))), 6) AS z "
        "FROM agg"
    ),
    "agg_bloom_filter": (
        f"WITH e AS ({_BLOOM_POS_SQL}), "
        "agg AS (SELECT s_nationkey, count(DISTINCT s_suppkey) AS n_keys, "
        "count(DISTINCT pos) AS bits_set FROM e GROUP BY 1) "
        "SELECT s_nationkey, n_keys, bits_set, "
        f"CAST((2000 * bits_set + {BLOOM_M}) // {2 * BLOOM_M} AS BIGINT) AS fill_pm, "
        f"round(-({BLOOM_M} / CAST({BLOOM_K} AS DOUBLE)) * "
        f"ln(1.0 - bits_set / {float(BLOOM_M)}), 4) AS est_n FROM agg"
    ),
    "agg_kmv_jaccard": (
        "WITH flags AS (SELECT user_id, "
        "max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a, "
        "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b "
        "FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1), "
        "hashed AS (SELECT user_id, in_a, in_b, "
        + _md5_le_sql("CAST(user_id AS VARCHAR)", 7)
        + " AS h FROM flags), "
        "sketch AS (SELECT * FROM hashed ORDER BY h, user_id LIMIT "
        f"{KMV_K}) "
        f"SELECT {KMV_K} AS k, count(*) AS sketch_n, "
        "CAST(max(h) AS BIGINT) AS kth_hash, "
        "CAST(sum(in_a * in_b) AS BIGINT) AS n_both, "
        "round(sum(in_a * in_b) / CAST(count(*) AS DOUBLE), 6) AS jaccard_est "
        "FROM sketch HAVING count(*) > 0"
    ),
    "agg_decile_lift": (
        "WITH spend AS (SELECT o_custkey, "
        "sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents "
        "FROM orders GROUP BY 1), "
        "ranked AS (SELECT cents, "
        "row_number() OVER (ORDER BY -cents, o_custkey) AS i FROM spend), "
        "nt AS (SELECT count(*) AS n, sum(cents) AS tot FROM ranked), "
        "dec AS (SELECT ((i - 1) * 10) // n + 1 AS decile, cents, tot "
        "FROM ranked, nt) "
        "SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_cust, "
        "CAST(sum(cents) AS BIGINT) / 100.0 AS revenue, "
        "round(CAST(sum(cents) AS BIGINT) / CAST(max(tot) AS DOUBLE), 6) AS rev_share, "
        "round(CAST(sum(cents) AS BIGINT) / CAST(max(tot) AS DOUBLE) * 10, 4) AS lift "
        "FROM dec GROUP BY 1"
    ),
    "agg_log_histogram": (
        "WITH b AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 "
        "AS BIGINT) AS cents FROM orders) "
        "SELECT CAST(length(bin(cents)) - 1 AS BIGINT) AS bucket, "
        "count(*) AS n_orders, min(cents) AS min_cents, "
        "max(cents) AS max_cents FROM b GROUP BY 1"
    ),
    "agg_rfm_segments": (
        "WITH pc AS (SELECT o_custkey, max(o_orderdate) AS last_dt, "
        "count(*) AS freq, "
        "sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents "
        "FROM orders GROUP BY 1), "
        "mx AS (SELECT max(last_dt) AS mx FROM pc), "
        "scored AS (SELECT o_custkey, freq, cents, "
        "datediff('day', last_dt, mx) AS rec_days FROM pc, mx), "
        "n AS (SELECT count(*) AS n FROM scored), "
        "ranked AS (SELECT o_custkey, freq, cents, "
        "row_number() OVER (ORDER BY -rec_days, o_custkey) AS ri, "
        "row_number() OVER (ORDER BY freq, o_custkey) AS fi, "
        "row_number() OVER (ORDER BY cents, o_custkey) AS mi FROM scored), "
        "quint AS (SELECT cents, ((ri - 1) * 5) // n + 1 AS r, "
        "((fi - 1) * 5) // n + 1 AS f, ((mi - 1) * 5) // n + 1 AS m "
        "FROM ranked, n), "
        "tot AS (SELECT sum(cents) AS tot FROM quint) "
        "SELECT CAST(r AS VARCHAR) || '-' || CAST(f AS VARCHAR) || '-' || "
        "CAST(m AS VARCHAR) AS rfm_cell, count(*) AS n_customers, "
        "CAST(sum(cents) AS BIGINT) / 100.0 AS revenue, "
        "round(CAST(sum(cents) AS BIGINT) / CAST(max(tot) AS DOUBLE), 6) "
        "AS rev_share FROM quint, tot GROUP BY 1"
    ),
    "agg_cohort_ltv": (
        "WITH o AS (SELECT o_custkey, o_orderdate, "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "FROM orders), "
        "f AS (SELECT o_custkey, min(o_orderdate) AS first_dt FROM o GROUP BY 1), "
        "aged AS (SELECT o.cents, year(f.first_dt) AS cohort_year, "
        "CAST((datediff('day', f.first_dt, o.o_orderdate) * 4) // 1461 AS INT) "
        "AS age_years FROM o JOIN f ON o.o_custkey = f.o_custkey), "
        "sizes AS (SELECT year(first_dt) AS cohort_year, "
        "count(DISTINCT o_custkey) AS n_customers FROM f GROUP BY 1), "
        "cells AS (SELECT cohort_year, age_years, sum(cents) AS cc "
        f"FROM aged WHERE age_years <= {LTV_MAX_YEARS} GROUP BY 1, 2), "
        "cum AS (SELECT cohort_year, age_years, "
        "CAST(sum(cc) OVER (PARTITION BY cohort_year ORDER BY age_years) "
        "AS BIGINT) AS cum_cents FROM cells) "
        "SELECT CAST(cum.cohort_year AS BIGINT) AS cohort_year, "
        "CAST(age_years AS INT) AS age_years, n_customers, "
        "cum_cents / 100.0 AS cum_revenue, "
        "((2 * cum_cents + n_customers) // (2 * n_customers)) / 100.0 "
        "AS ltv_per_customer FROM cum JOIN sizes USING (cohort_year)"
    ),
    "agg_pareto_concentration": (
        "WITH spend AS (SELECT o_custkey, "
        "sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents "
        "FROM orders GROUP BY 1), "
        "ranked AS (SELECT cents, "
        "row_number() OVER (ORDER BY -cents, o_custkey) AS i FROM spend), "
        "tot AS (SELECT count(*) AS n, sum(cents) AS total FROM ranked), "
        "cum AS (SELECT i, cents, CAST(sum(cents) OVER (ORDER BY i) AS BIGINT) "
        "AS cum FROM ranked), "
        "k AS (SELECT CAST(sum(CASE WHEN (cum - cents)::HUGEINT * 1000 < "
        f"{PARETO_TARGET_PM} * total::HUGEINT THEN 1 ELSE 0 END) AS BIGINT) AS k80, "
        "CAST(max(n) AS BIGINT) AS n, CAST(max(total) AS BIGINT) AS total "
        "FROM cum, tot), "
        "t10 AS (SELECT CAST(sum(cents) AS BIGINT) AS t10 FROM cum, tot "
        "WHERE i * 10 <= n) "
        "SELECT n AS n_customers, k80 AS customers_for_80pct, "
        "CAST((2000 * k80 + n) // (2 * n) AS BIGINT) AS base_share_pm, "
        "round(t10 / CAST(total AS DOUBLE), 6) AS top_decile_rev_share "
        "FROM k, t10"
    ),
    "agg_markov_transitions": (
        "WITH pairs AS (SELECT event_type AS from_type, "
        "lead(event_type) OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id) AS to_type FROM events), "
        "counted AS (SELECT from_type, to_type, count(*) AS n FROM pairs "
        "WHERE to_type IS NOT NULL GROUP BY 1, 2) "
        "SELECT from_type, to_type, n, "
        "((2 * 1000000 * n + sum(n) OVER (PARTITION BY from_type)) // "
        "(2 * sum(n) OVER (PARTITION BY from_type))) / 1000000.0 AS prob, "
        "CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS from_total "
        "FROM counted"
    ),
    "agg_survival_km": (
        "WITH span AS (SELECT o_custkey, min(o_orderdate) AS first_dt, "
        "max(o_orderdate) AS last_dt FROM orders GROUP BY 1), "
        "edge AS (SELECT max(o_orderdate) AS edge_dt FROM orders), "
        "life AS (SELECT date_diff('day', first_dt, last_dt) AS t, "
        f"CASE WHEN date_diff('day', last_dt, edge_dt) >= {KM_CHURN_DAYS} "
        "THEN 1 ELSE 0 END AS churned FROM span, edge), "
        "grain AS (SELECT t, sum(churned) AS d, count(*) AS c FROM life "
        "GROUP BY t), "
        "tot AS (SELECT sum(c) AS n_total FROM grain), "
        "lined AS (SELECT t, d, c, n_total - coalesce(sum(c) OVER "
        "(ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
        "AS n_risk FROM grain, tot), "
        "factored AS (SELECT t, d, n_risk, "
        "list(1.0 - CAST(d AS DOUBLE) / n_risk) OVER "
        "(ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fs "
        "FROM lined) "
        "SELECT t, CAST(d AS BIGINT) AS d, CAST(n_risk AS BIGINT) AS n_risk, "
        "round(list_reduce(fs, (acc, x) -> acc * x), 6) AS survival "
        "FROM factored"
    ),
    "agg_bootstrap_ci": (
        "WITH rep AS (SELECT o_orderkey, "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents, "
        f"b FROM orders, generate_series(1, {BOOT_B}) AS t(b)), "
        "u AS (SELECT b, cents, "
        + _md5_le_sql("CAST(o_orderkey AS VARCHAR) || ':' || CAST(b AS VARCHAR)", 7)
        + f" / {_BOOT_SCALE!r} AS u FROM rep), "
        f"w AS (SELECT b, cents, {_pois_case('u')} AS w FROM u), "
        "means AS (SELECT b, sum(w * cents) / CAST(sum(w) AS DOUBLE) AS m "
        "FROM w GROUP BY b), "
        "pt AS (SELECT sum(cents) / CAST(count(*) AS DOUBLE) AS pm FROM orders, "
        "LATERAL (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 "
        "AS BIGINT) AS cents) _) "
        "SELECT count(*) AS n_replicates, "
        "round(max(pm) / 100.0, 4) AS point_mean, "
        "round(quantile_cont(m, 0.025) / 100.0, 4) AS ci_lo, "
        "round(quantile_cont(m, 0.975) / 100.0, 4) AS ci_hi "
        "FROM means, pt"
    ),
    "agg_cramers_v": (
        "WITH cells AS (SELECT event_type, dayofweek(ts) + 1 AS dow, "
        "count(*) AS o FROM events GROUP BY 1, 2), "
        "scored AS (SELECT event_type, dow, o, "
        "sum(o) OVER (PARTITION BY event_type) AS r, "
        "sum(o) OVER (PARTITION BY dow) AS c, "
        "sum(o) OVER () AS n, "
        "(SELECT count(DISTINCT event_type) FROM cells) AS n_rows, "
        "(SELECT count(DISTINCT dow) FROM cells) AS n_cols FROM cells), "
        "terms AS (SELECT n, n_rows, n_cols, "
        "list({'event_type': event_type, 'dow': dow, "
        "'t': (o - r * c / CAST(n AS DOUBLE)) * "
        "(o - r * c / CAST(n AS DOUBLE)) / (r * c / CAST(n AS DOUBLE))} "
        "ORDER BY event_type, dow) AS ts "
        "FROM scored GROUP BY n, n_rows, n_cols) "
        "SELECT CAST(n AS BIGINT) AS n_events, "
        "CAST(n_rows AS INT) AS n_rows, CAST(n_cols AS INT) AS n_cols, "
        "round(list_reduce(list_transform(ts, z -> z.t), "
        "(acc, x) -> acc + x), 6) AS chi2, "
        "round(sqrt(list_reduce(list_transform(ts, z -> z.t), "
        "(acc, x) -> acc + x) / "
        "CAST(n * least(n_rows - 1, n_cols - 1) AS DOUBLE)), 6) "
        "AS cramers_v FROM terms"
    ),
    "agg_spearman_corr": (
        "WITH daily AS (SELECT o_orderdate AS day, count(*) AS n_orders, "
        "sum(o_totalprice) AS revenue FROM orders "
        "WHERE o_totalprice IS NOT NULL GROUP BY 1), "
        "ranked AS (SELECT "
        "2 * rank() OVER (ORDER BY n_orders) "
        "+ count(*) OVER (PARTITION BY n_orders) - 1 AS rx2, "
        "2 * rank() OVER (ORDER BY revenue) "
        "+ count(*) OVER (PARTITION BY revenue) - 1 AS ry2 FROM daily), "
        "a AS (SELECT count(*) AS n, sum(rx2) AS sx, sum(ry2) AS sy, "
        "sum(rx2 * ry2) AS sxy, sum(rx2 * rx2) AS sxx, "
        "sum(ry2 * ry2) AS syy FROM ranked) "
        "SELECT n AS n_days, "
        "round(CAST(n * sxy - sx * sy AS DOUBLE) / "
        "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * "
        "CAST(n * syy - sy * sy AS DOUBLE)), 6) AS spearman_rho FROM a"
    ),
    "agg_kruskal_wallis": (
        "WITH daily AS (SELECT o_orderdate AS day, "
        "sum(o_totalprice) AS revenue FROM orders "
        "WHERE o_totalprice IS NOT NULL GROUP BY 1), "
        "ranked AS (SELECT "
        "date_diff('day', DATE '1992-01-01', day) % 7 AS g, "
        "2 * rank() OVER (ORDER BY revenue) "
        "+ count(*) OVER (PARTITION BY revenue) - 1 AS r2 FROM daily), "
        "grp AS (SELECT g, count(*) AS n_j, sum(r2) AS two_r "
        "FROM ranked GROUP BY 1), "
        "a AS (SELECT sum(n_j) AS n, count(*) AS k, "
        "sum((2 * 1000000 * two_r * two_r + 4 * n_j) // (8 * n_j)) AS t "
        "FROM grp) "
        "SELECT CAST(n AS BIGINT) AS n_days, CAST(k - 1 AS INT) AS df, "
        "round(12.0 * t / (n * (n + 1) * 1000000.0) - 3 * (n + 1), 6) "
        "AS h_stat, "
        "round(12.0 * t / (n * (n + 1) * 1000000.0) - 3 * (n + 1), 6) "
        f"> {KW_CRIT_05_DF6} AS reject_05 FROM a "
        "WHERE n IS NOT NULL"
    ),
    "agg_circular_mean": (
        "WITH hist AS (SELECT event_type, CAST(hour(ts) AS INT) AS hod, "
        "count(*) AS c FROM events GROUP BY 1, 2), "
        "arr AS (SELECT event_type, "
        "list({'hod': hod, 'c': c} ORDER BY hod) AS a, "
        "CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY 1), "
        "scored AS (SELECT event_type, n, "
        "list_reduce(list_prepend(0.0, list_transform(a, x -> x.c * "
        + _trig_case("x.hod", math.sin)
        + ")), (acc, v) -> acc + v) AS sx, "
        "list_reduce(list_prepend(0.0, list_transform(a, x -> x.c * "
        + _trig_case("x.hod", math.cos)
        + ")), (acc, v) -> acc + v) AS sy FROM arr) "
        "SELECT event_type, n, "
        "round((CASE WHEN atan2(sx, sy) < 0 "
        f"THEN atan2(sx, sy) + {TWO_PI!r} ELSE atan2(sx, sy) END) "
        f"* 24.0 / {TWO_PI!r}, 6) AS mean_hour, "
        "round(sqrt(sx * sx + sy * sy) / n, 6) AS resultant_r FROM scored"
    ),
    "agg_mutual_info": (
        "WITH cells AS (SELECT event_type, dayofweek(ts) + 1 AS dow, "
        "count(*) AS o FROM events GROUP BY 1, 2), "
        "scored AS (SELECT event_type, dow, o, "
        "sum(o) OVER (PARTITION BY event_type) AS r, "
        "sum(o) OVER (PARTITION BY dow) AS c, "
        "sum(o) OVER () AS n FROM cells), "
        "terms AS (SELECT n, list({'event_type': event_type, 'dow': dow, "
        "'t': o / CAST(n AS DOUBLE) * "
        "ln(CAST(n AS DOUBLE) * o / CAST(r * c AS DOUBLE))} "
        "ORDER BY event_type, dow) AS ts FROM scored GROUP BY n) "
        "SELECT CAST(n AS BIGINT) AS n_events, "
        "round(list_reduce(list_transform(ts, z -> z.t), "
        "(acc, x) -> acc + x), 6) AS mi_nats FROM terms"
    ),
    "agg_winsorized_mean": (
        "WITH o AS (SELECT o_orderkey, "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "AS cents FROM orders WHERE o_totalprice IS NOT NULL), "
        "r AS (SELECT cents, row_number() OVER (ORDER BY cents, o_orderkey) "
        "AS rk FROM o), "
        "n AS (SELECT count(*) AS n FROM o), "
        "b AS (SELECT "
        f"max(CASE WHEN rk = ({WINSOR_PM} * n + 999) // 1000 "
        "THEN cents END) AS lo, "
        f"max(CASE WHEN rk = ({1000 - WINSOR_PM} * n + 999) // 1000 "
        "THEN cents END) AS hi FROM r, n), "
        "c AS (SELECT greatest(lo, least(hi, cents)) AS w, lo, hi "
        "FROM r, b) "
        "SELECT CAST(count(*) AS BIGINT) AS n_orders, lo / 100.0 AS p05, "
        "hi / 100.0 AS p95, "
        "(CAST((2 * sum(w) + count(*)) // (2 * count(*)) AS BIGINT)) "
        "/ 100.0 AS winsorized_mean FROM c GROUP BY lo, hi"
    ),
    "agg_hill_tail_index": (
        "WITH top AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) "
        "* 100 AS BIGINT) AS cents FROM orders "
        f"ORDER BY cents DESC LIMIT {HILL_K + 1}), "
        "arr AS (SELECT list(cents ORDER BY cents DESC) AS a FROM top), "
        "g AS (SELECT a, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(a[1:{HILL_K}], "
        f"x -> ln(x) - ln(a[{HILL_K + 1}]))), "
        f"(acc, v) -> acc + v) / {HILL_K} AS gamma FROM arr) "
        f"SELECT {HILL_K} AS k, a[{HILL_K + 1}] / 100.0 AS x_k1, "
        "round(gamma, 6) AS hill_gamma, "
        "round(1.0 / gamma, 6) AS tail_alpha FROM g "
        f"WHERE len(a) = {HILL_K + 1}"
    ),
    "agg_cuped_adjustment": (
        "WITH pu AS (SELECT user_id, "
        "sum(CASE WHEN date_diff('day', DATE '2024-01-01', "
        "CAST(ts AS DATE)) % 2 = 0 "
        "THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "ELSE 0 END) AS x, "
        "sum(CASE WHEN date_diff('day', DATE '2024-01-01', "
        "CAST(ts AS DATE)) % 2 = 1 "
        "THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "ELSE 0 END) AS y FROM events GROUP BY 1), "
        "mom AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, "
        "sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sxx FROM pu), "
        "pv AS (SELECT user_id % 2 AS variant, count(*) AS n_users, "
        "sum(x) AS vx, sum(y) AS vy FROM pu GROUP BY 1) "
        "SELECT variant, CAST(n_users AS BIGINT) AS n_users, "
        "round(vy / CAST(n_users AS DOUBLE) / 100.0, 6) AS raw_mean, "
        "round((vy / CAST(n_users AS DOUBLE) "
        "- CAST(n * sxy - sx * sy AS DOUBLE) "
        "/ CAST(n * sxx - sx * sx AS DOUBLE) "
        "* (vx / CAST(n_users AS DOUBLE) - sx / CAST(n AS DOUBLE))) "
        "/ 100.0, 6) AS cuped_mean, "
        "round(CAST(n * sxy - sx * sy AS DOUBLE) "
        "/ CAST(n * sxx - sx * sx AS DOUBLE), 6) AS theta "
        "FROM pv, mom"
    ),
    "agg_new_vs_returning": (
        "WITH f AS (SELECT strftime(o_orderdate, '%Y-%m') AS month, "
        "o_orderdate = min(o_orderdate) OVER (PARTITION BY o_custkey) "
        "AS is_new FROM orders), "
        "g AS (SELECT month, "
        "CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new, "
        "CAST(sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) "
        "AS n_returning FROM f GROUP BY 1) "
        "SELECT month, n_new, n_returning, "
        "(2 * 1000 * n_new + (n_new + n_returning)) "
        "// (2 * (n_new + n_returning)) AS new_share_pm FROM g"
    ),
    "agg_cvar_expected_shortfall": (
        "WITH o AS (SELECT o_orderkey, "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "AS cents FROM orders WHERE o_totalprice IS NOT NULL), "
        "r AS (SELECT cents, row_number() OVER (ORDER BY cents, o_orderkey) "
        "AS rk FROM o), n AS (SELECT count(*) AS n FROM o), "
        "tail AS (SELECT cents, n FROM r, n "
        f"WHERE rk > n - ({CVAR_PM} * n + 999) // 1000) "
        "SELECT CAST(max(n) AS BIGINT) AS n_orders, "
        "CAST(count(*) AS BIGINT) AS tail_n, "
        "min(cents) / 100.0 AS var_95, "
        "CAST((2 * sum(cents) + count(*)) // (2 * count(*)) AS BIGINT) "
        "/ 100.0 AS cvar_95 FROM tail"
    ),
    "agg_power_sample_size": (
        "WITH o AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 "
        "AS BIGINT) AS cents FROM orders), "
        "mom AS (SELECT count(*) AS n, sum(cents::HUGEINT) AS s1, "
        "sum(cents::HUGEINT * cents) AS s2 FROM o), "
        "eff AS (SELECT n, s1, s2, unnest(["
        + ", ".join(str(e) for e in POWER_EFFECTS_PM)
        + "]) AS effect_pm FROM mom) "
        "SELECT CAST(effect_pm AS INT) AS effect_pm, "
        "round(CAST(s1 AS DOUBLE) / n / 100.0, 6) AS mean_value, "
        "round(sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) "
        "- CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) "
        "/ (CAST(n AS DOUBLE) * (n - 1))) / 100.0, 6) AS sd_value, "
        f"CAST(ceil({(Z_ALPHA + Z_BETA) ** 2!r} * 2.0 * "
        "((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) "
        "- CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) "
        "/ (CAST(n AS DOUBLE) * (n - 1))) "
        "/ ((effect_pm * (CAST(s1 AS DOUBLE) / n) / 1000.0) "
        "* (effect_pm * (CAST(s1 AS DOUBLE) / n) / 1000.0))) AS BIGINT) "
        "AS n_per_variant FROM eff"
    ),
    "agg_two_proportion_ztest": (
        "WITH g AS (SELECT user_id % 2 AS variant, count(*) AS n, "
        "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k "
        "FROM events GROUP BY 1), "
        "w AS (SELECT "
        "CAST(max(CASE WHEN variant = 0 THEN n END) AS BIGINT) AS n1, "
        "CAST(max(CASE WHEN variant = 0 THEN k END) AS BIGINT) AS k1, "
        "CAST(max(CASE WHEN variant = 1 THEN n END) AS BIGINT) AS n2, "
        "CAST(max(CASE WHEN variant = 1 THEN k END) AS BIGINT) AS k2 "
        "FROM g) "
        "SELECT n1, k1, n2, k2, "
        "round((CAST(k1 AS DOUBLE) / n1 - CAST(k2 AS DOUBLE) / n2) / "
        "sqrt((CAST(k1 + k2 AS DOUBLE) / (n1 + n2)) "
        "* (1 - CAST(k1 + k2 AS DOUBLE) / (n1 + n2)) "
        "* (1.0 / n1 + 1.0 / n2)), 6) AS z_stat, "
        "coalesce(abs((CAST(k1 AS DOUBLE) / n1 - CAST(k2 AS DOUBLE) / n2) / "
        "sqrt((CAST(k1 + k2 AS DOUBLE) / (n1 + n2)) "
        "* (1 - CAST(k1 + k2 AS DOUBLE) / (n1 + n2)) "
        "* (1.0 / n1 + 1.0 / n2))) > 1.959963984540054, false) AS reject_05 "
        "FROM w WHERE n1 IS NOT NULL AND n2 IS NOT NULL"
    ),
    "agg_abc_classification": (
        "WITH pp AS (SELECT l_partkey, "
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) "
        "AS cents FROM lineitem GROUP BY 1), "
        "cum AS (SELECT cents, sum(cents) OVER (ORDER BY -cents, l_partkey "
        "ROWS UNBOUNDED PRECEDING) AS cum_cents FROM pp), "
        "tot AS (SELECT max(cum_cents) AS total FROM cum), "
        "banded AS (SELECT cents, CASE "
        f"WHEN 1000 * cum_cents::HUGEINT <= {ABC_A_PM} * total::HUGEINT THEN 'A' "
        f"WHEN 1000 * cum_cents::HUGEINT <= {ABC_B_PM} * total::HUGEINT THEN 'B' "
        "ELSE 'C' END AS abc FROM cum, tot) "
        "SELECT abc, CAST(count(*) AS BIGINT) AS n_parts, "
        "CAST(sum(cents) AS BIGINT) / 100.0 AS band_revenue "
        "FROM banded GROUP BY 1"
    ),
    "agg_grouped_linreg": (
        "WITH base AS (SELECT p_brand, CAST(l_quantity AS BIGINT) AS x, "
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y "
        "FROM lineitem JOIN part ON l_partkey = p_partkey), "
        "g AS (SELECT p_brand, count(*) AS n, sum(x) AS sx, sum(y) AS sy, "
        "sum(x::HUGEINT * y) AS sxy, sum(x * x) AS sxx FROM base GROUP BY 1), "
        "m AS (SELECT p_brand, n, n * sxy - sx::HUGEINT * sy AS num, "
        "(n * sxx - sx * sx)::HUGEINT AS den, sy, sx FROM g), "
        "m2 AS (SELECT p_brand, n, num, den, "
        "sy::HUGEINT * den - num * sx AS inum, n * den * 100 AS iden FROM m) "
        "SELECT p_brand, CAST(n AS BIGINT) AS n, "
        "(CASE WHEN den = 0 THEN NULL "
        "WHEN num >= 0 THEN (2 * num * 1000000 + den * 100) // (2 * den * 100) "
        "ELSE -(((-2) * num * 1000000 + den * 100) // (2 * den * 100)) END) "
        "/ 1000000.0 AS slope_per_unit, "
        "(CASE WHEN den = 0 THEN NULL "
        "WHEN inum >= 0 THEN (2 * inum * 1000000 + iden) // (2 * iden) "
        "ELSE -(((-2) * inum * 1000000 + iden) // (2 * iden)) END) "
        "/ 1000000.0 AS intercept_value FROM m2"
    ),
    "agg_shapley_attribution": (
        "WITH pu AS (SELECT user_id, "
        + ", ".join(
            f"max(CASE WHEN event_type = '{c}' THEN 1 ELSE 0 END) AS h{i}"
            for i, c in enumerate(SHAP_CHANNELS)
        )
        + ", max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) "
        "AS conv FROM events GROUP BY 1), "
        "prof AS (SELECT h0, h1, h2, count(*) AS m, sum(conv) AS k "
        "FROM pu GROUP BY 1, 2, 3) "
        "SELECT CAST(sum(m) AS BIGINT) AS n_users, "
        f"round({_shap_rate_sql([0, 0, 0])}, 6) AS base_rate, "
        + ", ".join(
            f"round({_shap_phi_sql(i)}, 6) AS shapley_{c}"
            for i, c in enumerate(SHAP_CHANNELS)
        )
        + " FROM prof"
    ),
    "agg_eb_beta_binomial": (
        "WITH pu AS (SELECT user_id, count(*) AS n, "
        "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k "
        "FROM events GROUP BY 1), "
        "q AS (SELECT user_id, n, k, "
        "(2 * 1000000 * k + n) // (2 * n) AS r6 FROM pu), "
        "mom AS (SELECT count(*) AS u, sum(r6) AS s1, "
        "sum(r6 * r6) AS s2 FROM q), "
        "prior AS (SELECT "
        "(CAST(s1 AS DOUBLE) / u / 1e6) "
        "* ((CAST(s1 AS DOUBLE) / u / 1e6) "
        "* (1 - CAST(s1 AS DOUBLE) / u / 1e6) "
        "/ ((CAST(u AS DOUBLE) * CAST(s2 AS DOUBLE) "
        "- CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) "
        "/ (CAST(u AS DOUBLE) * CAST(u AS DOUBLE)) / 1e12) - 1) AS alpha, "
        "(1 - CAST(s1 AS DOUBLE) / u / 1e6) "
        "* ((CAST(s1 AS DOUBLE) / u / 1e6) "
        "* (1 - CAST(s1 AS DOUBLE) / u / 1e6) "
        "/ ((CAST(u AS DOUBLE) * CAST(s2 AS DOUBLE) "
        "- CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) "
        "/ (CAST(u AS DOUBLE) * CAST(u AS DOUBLE)) / 1e12) - 1) AS beta "
        "FROM mom) "
        "SELECT user_id, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k, "
        "round((k + alpha) / (n + alpha + beta), 6) AS smoothed_rate "
        "FROM q, prior"
    ),
    "agg_cohens_kappa": (
        "WITH lab AS (SELECT "
        f"CASE WHEN n_chars > {KAPPA_A_CHARS} THEN 1 ELSE 0 END AS a, "
        f"CASE WHEN len(string_split(text, ' ')) > {KAPPA_B_TOKENS} "
        "THEN 1 ELSE 0 END AS b FROM documents WHERE text IS NOT NULL), "
        "c AS (SELECT count(*) AS n, "
        "CAST(sum(a * b) AS BIGINT) AS c11, "
        "CAST(sum(a * (1 - b)) AS BIGINT) AS c10, "
        "CAST(sum((1 - a) * b) AS BIGINT) AS c01, "
        "CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS c00 FROM lab) "
        "SELECT CAST(n AS BIGINT) AS n, c11, c10, c01, c00, "
        "round((c11 + c00) / CAST(n AS DOUBLE), 6) AS p_observed, "
        "round(((c11 + c10) * (c11 + c01) + (c01 + c00) * (c10 + c00)) "
        "/ (CAST(n AS DOUBLE) * n), 6) AS p_expected, "
        "round(((c11 + c00) / CAST(n AS DOUBLE) "
        "- ((c11 + c10) * (c11 + c01) + (c01 + c00) * (c10 + c00)) "
        "/ (CAST(n AS DOUBLE) * n)) "
        "/ (1 - ((c11 + c10) * (c11 + c01) + (c01 + c00) * (c10 + c00)) "
        "/ (CAST(n AS DOUBLE) * n)), 6) AS kappa FROM c"
    ),
    "agg_price_index": (
        "WITH li AS (SELECT l_partkey, year(l_shipdate) AS y, "
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "AS cents, CAST(l_quantity AS BIGINT) AS qty FROM lineitem "
        f"WHERE year(l_shipdate) IN ({IDX_BASE_Y}, {IDX_CURR_Y})), "
        "py AS (SELECT l_partkey, y, sum(cents) AS e, sum(qty) AS q "
        "FROM li GROUP BY 1, 2), "
        "q4 AS (SELECT l_partkey, y, q, "
        "(2 * 10000 * e + q) // (2 * q) AS p4 FROM py), "
        "wide AS (SELECT l_partkey, "
        f"max(CASE WHEN y = {IDX_BASE_Y} THEN p4 END) AS p0, "
        f"max(CASE WHEN y = {IDX_BASE_Y} THEN q END) AS q0, "
        f"max(CASE WHEN y = {IDX_CURR_Y} THEN p4 END) AS p1, "
        f"max(CASE WHEN y = {IDX_CURR_Y} THEN q END) AS q1 "
        "FROM q4 GROUP BY 1), "
        "m AS (SELECT * FROM wide WHERE p0 IS NOT NULL "
        "AND p1 IS NOT NULL), "
        "s AS (SELECT count(*) AS n_parts, "
        "CAST(sum(p1 * q0) AS BIGINT) AS l_num, "
        "CAST(sum(p0 * q0) AS BIGINT) AS l_den, "
        "CAST(sum(p1 * q1) AS BIGINT) AS p_num, "
        "CAST(sum(p0 * q1) AS BIGINT) AS p_den FROM m) "
        "SELECT CAST(n_parts AS BIGINT) AS n_parts, "
        "round(CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE), 6) "
        "AS laspeyres, "
        "round(CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE), 6) "
        "AS paasche, "
        "round(sqrt((CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE)) "
        "* (CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE))), 6) "
        "AS fisher FROM s"
    ),
    "agg_hhi_concentration": (
        "WITH rev AS (SELECT l_suppkey, "
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 "
        "AS BIGINT) AS c FROM lineitem GROUP BY 1), "
        "j AS (SELECT n_name, c FROM rev "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey), "
        "g AS (SELECT n_name, count(*) AS n_suppliers, sum(c) AS s1, "
        "sum(CAST(c AS HUGEINT) * c) AS s2 FROM j GROUP BY 1) "
        "SELECT n_name, CAST(n_suppliers AS BIGINT) AS n_suppliers, "
        "round(10000.0 * CAST(s2 AS DOUBLE) "
        "/ (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)), 6) AS hhi FROM g"
    ),
    "agg_chain_ladder": (
        "WITH base AS (SELECT "
        "(year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 "
        "AS cohort, "
        "(year(l_shipdate) - year(o_orderdate)) * 12 "
        "+ month(l_shipdate) - month(o_orderdate) AS dev, "
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "AS cents FROM lineitem JOIN orders ON l_orderkey = o_orderkey), "
        "tri AS (SELECT cohort, dev, sum(cents) AS inc "
        "FROM base GROUP BY 1, 2), "
        "cum AS (SELECT cohort, dev, sum(inc) OVER (PARTITION BY cohort "
        "ORDER BY dev ROWS UNBOUNDED PRECEDING) AS c FROM tri), "
        "j AS (SELECT a.dev, a.c AS c, b.c AS c_next FROM cum a "
        "JOIN cum b ON a.cohort = b.cohort AND b.dev = a.dev + 1) "
        "SELECT CAST(dev AS INT) AS dev, "
        "CAST(count(*) AS BIGINT) AS n_cohorts, "
        "round(CAST(sum(c_next) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) "
        "AS age_to_age_factor FROM j GROUP BY 1"
    ),
    "agg_oaxaca_blinder": (
        "WITH base AS (SELECT "
        f"CASE WHEN c_mktsegment = '{OAX_SEG}' THEN 1 ELSE 0 END AS g, "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y, "
        "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS x "
        "FROM orders JOIN customer ON o_custkey = c_custkey), "
        "m AS (SELECT g, count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx, "
        "sum(CAST(y AS HUGEINT)) AS sy, "
        "sum(CAST(x AS HUGEINT) * y) AS sxy, "
        "sum(CAST(x AS HUGEINT) * x) AS sxx FROM base GROUP BY 1), "
        "w AS (SELECT "
        + ", ".join(
            f"max(CASE WHEN g = {gv} THEN {c} END) AS {c}{gv}"
            for gv in (1, 0)
            for c in ("n", "sx", "sy", "sxy", "sxx")
        )
        + " FROM m), "
        "d AS (SELECT *, "
        "(CAST(n1 AS DOUBLE) * CAST(sxy1 AS DOUBLE) "
        "- CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE)) "
        "/ (CAST(n1 AS DOUBLE) * CAST(sxx1 AS DOUBLE) "
        "- CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE)) AS ba, "
        "(CAST(n0 AS DOUBLE) * CAST(sxy0 AS DOUBLE) "
        "- CAST(sx0 AS DOUBLE) * CAST(sy0 AS DOUBLE)) "
        "/ (CAST(n0 AS DOUBLE) * CAST(sxx0 AS DOUBLE) "
        "- CAST(sx0 AS DOUBLE) * CAST(sx0 AS DOUBLE)) AS bb, "
        "CAST(sx1 AS DOUBLE) / n1 AS xa, CAST(sx0 AS DOUBLE) / n0 AS xb, "
        "CAST(sy1 AS DOUBLE) / n1 AS ya, CAST(sy0 AS DOUBLE) / n0 AS yb "
        "FROM w) "
        "SELECT round((ya - yb) / 100.0, 6) AS gap, "
        "round(bb * (xa - xb) / 100.0, 6) AS explained, "
        "round(((ba - bb) * xa + ((ya - ba * xa) - (yb - bb * xb))) "
        "/ 100.0, 6) AS unexplained, "
        "round(ba, 6) AS beta_a, round(bb, 6) AS beta_b FROM d"
    ),
    "agg_forecast_eval": (
        "WITH daily AS (SELECT "
        "date_diff('day', DATE '1991-12-30', o_orderdate) AS x, "
        "CAST(CAST(sum(o_totalprice) AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "AS a FROM orders GROUP BY 1), "
        "j AS (SELECT x, a, "
        f"lag(a, {FCE_LAG}) OVER (ORDER BY x) AS f, "
        "lag(a, 1) OVER (ORDER BY x) AS p1 FROM daily), "
        "terms AS (SELECT abs(a - f) AS ae, abs(a - p1) AS nae, "
        "(2 * 1000000 * abs(a - f)::HUGEINT + a) // (2 * a) AS ape6, "
        "(2 * 2000000 * abs(a - f)::HUGEINT + (a + f)) // (2 * (a + f)) AS sape6 "
        "FROM j WHERE f IS NOT NULL AND p1 IS NOT NULL) "
        "SELECT CAST(count(*) AS BIGINT) AS n_days, "
        "CAST((2 * sum(ape6) + count(*)) // (2 * count(*)) AS BIGINT) "
        "/ 10000.0 AS mape_pct, "
        "CAST((2 * sum(sape6) + count(*)) // (2 * count(*)) AS BIGINT) "
        "/ 10000.0 AS smape_pct, "
        "round(CAST(sum(ae) AS DOUBLE) / CAST(sum(nae) AS DOUBLE), 6) "
        "AS mase FROM terms"
    ),
    "agg_gini_by_segment": (
        "WITH s AS (SELECT c_mktsegment, c_custkey, "
        "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cb "
        "FROM customer WHERE c_acctbal IS NOT NULL), "
        "mn AS (SELECT min(cb) AS mn FROM s), "
        "nn AS (SELECT c_mktsegment, c_custkey, cb - mn AS v FROM s, mn), "
        "r AS (SELECT c_mktsegment, v, CAST(row_number() OVER "
        "(PARTITION BY c_mktsegment ORDER BY v, c_custkey) AS BIGINT) "
        "AS i FROM nn), "
        "g AS (SELECT c_mktsegment, count(*) AS n, sum(v) AS sv, "
        "sum(i * v) AS siv FROM r GROUP BY 1) "
        "SELECT c_mktsegment, CAST(n AS BIGINT) AS n, "
        "round((2.0 * siv - (n + 1.0) * sv) "
        "/ (CAST(n AS DOUBLE) * sv), 6) AS gini FROM g"
    ),
    "agg_auc_roc": (
        "WITH s AS (SELECT "
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS s, "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y "
        "FROM events WHERE value IS NOT NULL), "
        "g AS (SELECT s, sum(y) AS c1, count(*) AS t FROM s GROUP BY 1), "
        "p AS (SELECT c1, t, 2 * sum(t) OVER (ORDER BY s "
        "ROWS UNBOUNDED PRECEDING) - t + 1 AS ab FROM g), "
        "a AS (SELECT sum(c1 * ab) AS two_r1, sum(c1) AS n1, "
        "sum(t - c1) AS n0 FROM p) "
        "SELECT CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0, "
        "round(CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) "
        "/ (2.0 * n1 * n0), 6) AS auc FROM a"
    ),
    "agg_calibration_table": (
        "WITH s AS (SELECT event_id, "
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS s, "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y "
        "FROM events WHERE value IS NOT NULL), "
        "r AS (SELECT s, y, CAST(row_number() OVER (ORDER BY s, event_id) "
        "AS BIGINT) AS rk FROM s), "
        "n AS (SELECT count(*) AS n FROM s), "
        f"b AS (SELECT y, rk, n, (rk * {CALIB_BINS} + n - 1) // n AS bin "
        "FROM r, n), "
        "g AS (SELECT bin, count(*) AS n_bin, sum(y) AS n_pos, "
        "sum(rk) AS rk_sum, max(n) AS n FROM b GROUP BY 1) "
        "SELECT CAST(bin AS BIGINT) AS bin, "
        "CAST(n_bin AS BIGINT) AS n_bin, CAST(n_pos AS BIGINT) AS n_pos, "
        "CAST((2 * 1000 * n_pos + n_bin) // (2 * n_bin) AS BIGINT) "
        "AS actual_rate_pm, "
        "CAST((2 * 1000 * rk_sum + n_bin * n) // (2 * n_bin * n) "
        "AS BIGINT) AS mean_score_pm FROM g"
    ),
    "agg_precision_at_k": (
        "WITH s AS (SELECT event_id, "
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS s, "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y "
        "FROM events), "
        f"topk AS (SELECT y FROM s ORDER BY s DESC, event_id "
        f"LIMIT {PK_K}), "
        "h AS (SELECT CAST(sum(y) AS BIGINT) AS tp FROM topk), "
        "t AS (SELECT CAST(sum(y) AS BIGINT) AS pos FROM s) "
        f"SELECT {PK_K} AS k, tp, pos, "
        f"(2 * 1000 * tp + {PK_K}) // (2 * {PK_K}) AS precision_pm, "
        "(2 * 1000 * tp + pos) // (2 * pos) AS recall_pm FROM h, t"
    ),
    "agg_ndcg_at_k": (
        "WITH s AS (SELECT event_id, "
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS s, "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y "
        "FROM events), "
        f"topk AS (SELECT s, event_id, y FROM s "
        f"ORDER BY s DESC, event_id LIMIT {NDCG_K}), "
        "arr AS (SELECT list({'s': s, 'event_id': event_id, 'y': y} "
        "ORDER BY s DESC, event_id) AS a FROM topk), "
        "d AS (SELECT a, list_reduce(list_prepend(0.0, "
        "list_transform(range(1, len(a) + 1), i -> "
        "a[CAST(i AS INT)].y * (CASE i " + _ndcg_case() + " END))), "
        "(acc, v) -> acc + v) AS dcg FROM arr) "
        f"SELECT {NDCG_K} AS k, "
        "CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(a, x -> CAST(x.y AS BIGINT))), "
        "(acc, v) -> acc + v) AS INT) AS hits, "
        "round(dcg, 6) AS dcg, "
        f"round(dcg / {_ndcg_idcg()!r}, 6) AS ndcg FROM d "
        "WHERE len(a) > 0"
    ),
    "agg_jackknife_se": (
        "WITH o AS (SELECT "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c, "
        "('0x' || substr(md5(o_orderkey::VARCHAR), 1, 4))::BIGINT "
        f"% {JK_B} AS b FROM orders), "
        "per AS (SELECT b, count(*) AS nb, sum(c) AS tb FROM o "
        "GROUP BY 1), "
        "tot AS (SELECT sum(nb) AS n, sum(tb) AS t FROM per), "
        "m6 AS (SELECT (2 * 1000000 * (t - tb)::HUGEINT + (n - nb)) "
        "// (2 * (n - nb)) AS m6, "
        "(1000000 * t::HUGEINT) // n AS k0 FROM per, tot), "
        "a AS (SELECT count(*) AS bk, sum(m6 - k0) AS s1, "
        "sum((m6 - k0) * (m6 - k0)) AS s2 FROM m6) "
        "SELECT CAST(n AS BIGINT) AS n_orders, "
        "CAST(bk AS BIGINT) AS n_buckets, "
        "round(CAST(t AS DOUBLE) / n / 100.0, 6) AS mean_value, "
        "round(sqrt((bk - 1.0) * ((CAST(bk AS DOUBLE) "
        "* CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) "
        "* CAST(s1 AS DOUBLE)) / (CAST(bk AS DOUBLE) "
        "* CAST(bk AS DOUBLE)))) / 1e6 / 100.0, 6) AS jackknife_se "
        "FROM a, tot"
    ),
    "agg_matthews_corr": (
        "WITH lab AS (SELECT CASE WHEN "
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) > "
        f"{MCC_CUTOFF} THEN 1 ELSE 0 END AS p, "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y "
        "FROM events WHERE value IS NOT NULL), "
        "c AS (SELECT CAST(sum(p * y) AS BIGINT) AS tp, "
        "CAST(sum(p * (1 - y)) AS BIGINT) AS fp, "
        "CAST(sum((1 - p) * y) AS BIGINT) AS fn, "
        "CAST(sum((1 - p) * (1 - y)) AS BIGINT) AS tn FROM lab) "
        "SELECT tp, fp, fn, tn, "
        "round(CAST(CAST(tp AS HUGEINT) * tn "
        "- CAST(fp AS HUGEINT) * fn AS DOUBLE) "
        "/ sqrt(CAST(CAST(tp + fp AS HUGEINT) * (tp + fn) * (tn + fp) "
        "* (tn + fn) AS DOUBLE)), 6) AS mcc FROM c"
    ),
    "agg_brier_score": (
        "WITH s AS (SELECT event_id, "
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS s, "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y "
        "FROM events WHERE value IS NOT NULL), "
        "r AS (SELECT y, CAST(row_number() OVER (ORDER BY s, event_id) "
        "AS BIGINT) AS rk FROM s), "
        "n AS (SELECT count(*) AS n FROM s), "
        "t AS (SELECT y, (2 * 1000 * rk + n) // (2 * n) AS p3 FROM r, n), "
        "g AS (SELECT count(*) AS n_events, "
        "sum((p3 - 1000 * y) * (p3 - 1000 * y)) AS ss FROM t) "
        "SELECT CAST(n_events AS BIGINT) AS n_events, "
        "CAST((2 * ss + n_events) // (2 * n_events) AS BIGINT) "
        "/ 1000000.0 AS brier FROM g"
    ),
    "agg_fleiss_kappa": (
        "WITH v AS (SELECT "
        "(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END) "
        "+ (CASE WHEN len(string_split(text, ' ')) > 50 THEN 1 ELSE 0 END) "
        "+ (CASE WHEN len(list_distinct(string_split(text, ' '))) > 28 "
        "THEN 1 ELSE 0 END) AS c FROM documents "
        "WHERE text IS NOT NULL), "
        "g AS (SELECT count(*) AS n, sum(c) AS pos_votes, "
        "sum(c * (c - 1) + (3 - c) * (2 - c)) AS agree6 FROM v) "
        "SELECT CAST(n AS BIGINT) AS n, "
        "CAST(pos_votes AS BIGINT) AS pos_votes, "
        "round(agree6 / (6.0 * n), 6) AS p_bar, "
        "round((pos_votes / (3.0 * n)) * (pos_votes / (3.0 * n)) "
        "+ (1 - pos_votes / (3.0 * n)) * (1 - pos_votes / (3.0 * n)), 6) "
        "AS p_expected, "
        "round((agree6 / (6.0 * n) "
        "- ((pos_votes / (3.0 * n)) * (pos_votes / (3.0 * n)) "
        "+ (1 - pos_votes / (3.0 * n)) * (1 - pos_votes / (3.0 * n)))) "
        "/ (1 - ((pos_votes / (3.0 * n)) * (pos_votes / (3.0 * n)) "
        "+ (1 - pos_votes / (3.0 * n)) * (1 - pos_votes / (3.0 * n)))), 6) "
        "AS fleiss_kappa FROM g"
    ),
    "agg_ece": (
        "WITH s AS (SELECT event_id, "
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS s, "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y "
        "FROM events WHERE value IS NOT NULL), "
        "r AS (SELECT y, CAST(row_number() OVER (ORDER BY s, event_id) "
        "AS BIGINT) AS rk FROM s), n AS (SELECT count(*) AS n FROM s), "
        f"b AS (SELECT y, rk, n, (rk * {ECE_BINS} + n - 1) // n AS bin "
        "FROM r, n), "
        "g AS (SELECT bin, count(*) AS nb, sum(y) AS pos, "
        "sum(rk) AS rks, max(n) AS n FROM b GROUP BY 1), "
        "per AS (SELECT nb, n, "
        "(2 * 1000 * pos + nb) // (2 * nb) AS acc_pm, "
        "(2 * 1000 * rks + nb * n) // (2 * nb * n) AS conf_pm FROM g) "
        "SELECT CAST(max(n) AS BIGINT) AS n_events, "
        "CAST((2 * sum(nb * abs(acc_pm - conf_pm)) + max(n)) "
        "// (2 * max(n)) AS BIGINT) / 1000.0 AS ece FROM per"
    ),
    "agg_growth_accounting": (
        "WITH au AS (SELECT DISTINCT "
        "date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d, "
        "user_id FROM events), "
        "f AS (SELECT d, user_id, "
        "d = min(d) OVER (PARTITION BY user_id) AS is_new FROM au), "
        "today AS (SELECT f.d AS day, is_new, "
        "p.user_id IS NOT NULL AS was_active FROM f "
        "LEFT JOIN au p ON p.d + 1 = f.d AND p.user_id = f.user_id), "
        "per AS (SELECT day, "
        "CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) "
        "AS new_users, "
        "CAST(sum(CASE WHEN NOT is_new AND was_active THEN 1 ELSE 0 END) "
        "AS BIGINT) AS retained, "
        "CAST(sum(CASE WHEN NOT is_new AND NOT was_active THEN 1 ELSE 0 "
        "END) AS BIGINT) AS resurrected FROM today GROUP BY 1), "
        "ch AS (SELECT a.d + 1 AS day, CAST(count(*) AS BIGINT) "
        "AS churned FROM au a LEFT JOIN au n "
        "ON n.d = a.d + 1 AND n.user_id = a.user_id "
        "WHERE n.user_id IS NULL GROUP BY 1) "
        "SELECT CAST(per.day AS INT) AS day, new_users, retained, "
        "resurrected, CAST(coalesce(churned, 0) AS BIGINT) AS churned "
        "FROM per LEFT JOIN ch ON per.day = ch.day"
    ),
    "agg_boxplot_stats": (
        "WITH o AS (SELECT o_orderpriority, "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c, "
        "o_orderkey FROM orders WHERE o_totalprice IS NOT NULL), "
        "r AS (SELECT o_orderpriority, c, CAST(row_number() OVER "
        "(PARTITION BY o_orderpriority ORDER BY c, o_orderkey) "
        "AS BIGINT) AS rk FROM o), "
        "n AS (SELECT o_orderpriority, max(rk) AS n FROM r GROUP BY 1), "
        "g AS (SELECT r.o_orderpriority, max(n.n) AS n, min(c) AS mn, "
        "max(CASE WHEN rk = (250 * n.n + 999) // 1000 THEN c END) AS q1, "
        "max(CASE WHEN rk = (500 * n.n + 999) // 1000 THEN c END) AS med, "
        "max(CASE WHEN rk = (750 * n.n + 999) // 1000 THEN c END) AS q3, "
        "max(c) AS mx FROM r JOIN n ON r.o_orderpriority = "
        "n.o_orderpriority GROUP BY 1), "
        "fen AS (SELECT r.o_orderpriority, count(*) AS n_outliers "
        "FROM r JOIN g ON r.o_orderpriority = g.o_orderpriority "
        "WHERE 2 * c > 2 * q3 + 3 * (q3 - q1) GROUP BY 1) "
        "SELECT g.o_orderpriority, CAST(n AS BIGINT) AS n, "
        "mn / 100.0 AS min_v, q1 / 100.0 AS q1, med / 100.0 AS median, "
        "q3 / 100.0 AS q3, mx / 100.0 AS max_v, "
        "CAST(coalesce(n_outliers, 0) AS BIGINT) AS n_outliers "
        "FROM g LEFT JOIN fen ON g.o_orderpriority = fen.o_orderpriority"
    ),
    "agg_dau_wau_mau": (
        "WITH au AS (SELECT DISTINCT "
        "date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d, "
        "user_id FROM events), "
        "days AS (SELECT DISTINCT d FROM au), "
        "wau AS (SELECT g.d AS day, count(DISTINCT user_id) AS wau "
        "FROM days g JOIN au a ON a.d <= g.d AND a.d > g.d - 7 "
        "GROUP BY 1), "
        "mau AS (SELECT g.d AS day, count(DISTINCT user_id) AS mau "
        "FROM days g JOIN au a ON a.d <= g.d AND a.d > g.d - 30 "
        "GROUP BY 1), "
        "dau AS (SELECT d AS day, count(*) AS dau FROM au GROUP BY 1) "
        "SELECT CAST(dau.day AS INT) AS day, CAST(dau AS BIGINT) AS dau, "
        "CAST(wau AS BIGINT) AS wau, CAST(mau AS BIGINT) AS mau, "
        "CAST((2 * 1000 * dau + mau) // (2 * mau) AS BIGINT) "
        "AS stickiness_pm "
        "FROM dau JOIN wau ON dau.day = wau.day "
        "JOIN mau ON dau.day = mau.day"
    ),
    "agg_process_capability": (
        "WITH o AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) "
        "* 100 AS BIGINT) AS c FROM orders), "
        "m AS (SELECT count(*) AS n, sum(c) AS s1, "
        "sum(CAST(c AS HUGEINT) * c) AS s2 FROM o) "
        "SELECT CAST(n AS BIGINT) AS n, "
        "round(CAST(s1 AS DOUBLE) / n / 100.0, 6) AS mean_value, "
        "round(sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) "
        "- CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) "
        "/ (CAST(n AS DOUBLE) * (n - 1))) / 100.0, 6) AS sd_value, "
        f"round(({SPEC_HI * 100.0!r} - {SPEC_LO * 100.0!r}) "
        "/ (6.0 * sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) "
        "- CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) "
        "/ (CAST(n AS DOUBLE) * (n - 1)))), 6) AS cp, "
        f"round(least({SPEC_HI * 100.0!r} - CAST(s1 AS DOUBLE) / n, "
        f"CAST(s1 AS DOUBLE) / n - {SPEC_LO * 100.0!r}) "
        "/ (3.0 * sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) "
        "- CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) "
        "/ (CAST(n AS DOUBLE) * (n - 1)))), 6) AS cpk FROM m"
    ),
    "agg_littles_law": (
        "WITH s AS (SELECT count(*) AS n, "
        "min(date_diff('day', DATE '1991-12-30', o_orderdate)) AS d0, "
        "max(date_diff('day', DATE '1991-12-30', o_orderdate)) AS d1 "
        "FROM orders) "
        "SELECT CAST(n AS BIGINT) AS n, "
        "CAST(d1 - d0 + 1 AS BIGINT) AS span_days, "
        f"CAST((2 * 1000 * n * {LL_OPEN_DAYS} + (d1 - d0 + 1)) "
        "// (2 * (d1 - d0 + 1)) AS BIGINT) / 1000.0 AS avg_open_l, "
        "CAST((2 * 1000 * n + (d1 - d0 + 1)) // (2 * (d1 - d0 + 1)) "
        "AS BIGINT) / 1000.0 AS arrival_rate, "
        f"{LL_OPEN_DAYS} AS w_days, "
        f"CAST((2 * 1000 * (2 * 1000 * n * {LL_OPEN_DAYS} "
        f"+ (d1 - d0 + 1)) + {LL_OPEN_DAYS} "
        "* ((2 * 1000 * n + (d1 - d0 + 1)) // (2 * (d1 - d0 + 1))) "
        f"* (2 * (d1 - d0 + 1))) // (2 * {LL_OPEN_DAYS} "
        "* ((2 * 1000 * n + (d1 - d0 + 1)) // (2 * (d1 - d0 + 1))) "
        "* (2 * (d1 - d0 + 1))) AS BIGINT) AS identity_pm FROM s"
    ),
    "agg_durbin_watson": (
        "WITH daily AS (SELECT "
        "date_diff('day', DATE '1991-12-30', o_orderdate) AS x, "
        "CAST(CAST(sum(o_totalprice) AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "AS y FROM orders GROUP BY 1), "
        "m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, "
        "sum(x * y) AS sxy, sum(x * x) AS sxx FROM daily), "
        "res AS (SELECT x, "
        "CAST((2 * (CAST(n AS HUGEINT) * (n * sxx - sx * sx) * y "
        "- CAST(n AS HUGEINT) * (n * sxy - sx * sy) * x "
        "- CAST(n * sxx - sx * sx AS HUGEINT) * sy "
        "+ CAST(n * sxy - sx * sy AS HUGEINT) * sx "
        "+ 100000 * CAST(n AS HUGEINT) * (n * sxx - sx * sx)) "
        "+ CAST(n AS HUGEINT) * (n * sxx - sx * sx)) "
        "// (2 * CAST(n AS HUGEINT) * (n * sxx - sx * sx)) "
        "- 100000 AS BIGINT) AS e FROM daily, m), "
        "lagd AS (SELECT e, lag(e) OVER (ORDER BY x) AS pe FROM res), "
        "s AS (SELECT count(*) AS n_resid, "
        "sum(CAST(e - pe AS HUGEINT) * (e - pe)) AS sdiff, "
        "sum(CAST(e AS HUGEINT) * e) AS ssq "
        "FROM lagd WHERE pe IS NOT NULL) "
        "SELECT CAST(n_resid AS BIGINT) AS n_resid, "
        "round(CAST(sdiff AS DOUBLE) / CAST(ssq AS DOUBLE), 6) "
        "AS durbin_watson FROM s"
    ),
    "agg_odds_ratio": (
        "WITH lab AS (SELECT CASE WHEN "
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) > "
        f"{OR_CUTOFF} THEN 1 ELSE 0 END AS x, "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y "
        "FROM events WHERE value IS NOT NULL), "
        "c AS (SELECT CAST(sum(x * y) AS BIGINT) AS a, "
        "CAST(sum(x * (1 - y)) AS BIGINT) AS b, "
        "CAST(sum((1 - x) * y) AS BIGINT) AS c, "
        "CAST(sum((1 - x) * (1 - y)) AS BIGINT) AS d FROM lab) "
        "SELECT a, b, c, d, "
        "round(((a + 0.5) * (d + 0.5)) / ((b + 0.5) * (c + 0.5)), 6) "
        "AS odds_ratio, "
        "round(((a + 0.5) / (a + b + 1.0)) "
        "/ ((c + 0.5) / (c + d + 1.0)), 6) AS relative_risk, "
        "round(exp(ln(((a + 0.5) * (d + 0.5)) / ((b + 0.5) * (c + 0.5))) "
        f"- {Z95!r} * sqrt(1.0 / (a + 0.5) + 1.0 / (b + 0.5) "
        "+ 1.0 / (c + 0.5) + 1.0 / (d + 0.5))), 6) AS or_ci_lo, "
        "round(exp(ln(((a + 0.5) * (d + 0.5)) / ((b + 0.5) * (c + 0.5))) "
        f"+ {Z95!r} * sqrt(1.0 / (a + 0.5) + 1.0 / (b + 0.5) "
        "+ 1.0 / (c + 0.5) + 1.0 / (d + 0.5))), 6) AS or_ci_hi FROM c"
    ),
    "agg_revenue_bridge": (
        "WITH per AS (SELECT c_mktsegment, year(o_orderdate) AS y, "
        "CAST(CAST(sum(o_totalprice) AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "AS cents FROM orders JOIN customer ON o_custkey = c_custkey "
        f"WHERE year(o_orderdate) IN ({BR_Y0}, {BR_Y1}) GROUP BY 1, 2), "
        "wide AS (SELECT c_mktsegment, "
        f"max(CASE WHEN y = {BR_Y0} THEN cents END) AS r0, "
        f"max(CASE WHEN y = {BR_Y1} THEN cents END) AS r1 "
        "FROM per GROUP BY 1), "
        "tot AS (SELECT CAST(sum(abs(r1 - r0)) AS BIGINT) AS tabs "
        "FROM wide) "
        "SELECT c_mktsegment, r0 / 100.0 AS rev_y0, r1 / 100.0 AS rev_y1, "
        "(r1 - r0) / 100.0 AS delta, "
        "CAST(CASE WHEN r1 - r0 >= 0 THEN "
        "(2 * 1000 * (r1 - r0) + tabs) // (2 * tabs) "
        "ELSE -((2 * 1000 * (r0 - r1) + tabs) // (2 * tabs)) END "
        "AS BIGINT) AS contribution_pm FROM wide, tot"
    ),
    "agg_cr4_concentration": (
        "WITH rev AS (SELECT n_name, l_suppkey, "
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 "
        "AS BIGINT) AS c FROM lineitem "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "GROUP BY 1, 2), "
        "r AS (SELECT n_name, c, row_number() OVER (PARTITION BY n_name "
        "ORDER BY c DESC, l_suppkey) AS rk FROM rev), "
        "g AS (SELECT n_name, count(*) AS n_suppliers, sum(c) AS total, "
        f"sum(CASE WHEN rk <= {CR_K} THEN c ELSE 0 END) AS top4 "
        "FROM r GROUP BY 1) "
        "SELECT n_name, CAST(n_suppliers AS BIGINT) AS n_suppliers, "
        "CAST((2 * 1000 * top4 + total) // (2 * total) AS BIGINT) "
        "AS cr4_pm FROM g"
    ),
    "agg_kendall_tau": (
        "WITH daily AS (SELECT o_orderdate AS day, count(*) AS x, "
        "sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) "
        "AS y FROM orders GROUP BY 1), "
        "p AS (SELECT b.x - a.x AS dx, b.y - a.y AS dy FROM daily a "
        "JOIN daily b ON a.day < b.day), "
        "g AS (SELECT count(*) AS n0, "
        "CAST(sum(CASE WHEN (dx > 0 AND dy > 0) OR (dx < 0 AND dy < 0) "
        "THEN 1 ELSE 0 END) AS BIGINT) AS c, "
        "CAST(sum(CASE WHEN (dx > 0 AND dy < 0) OR (dx < 0 AND dy > 0) "
        "THEN 1 ELSE 0 END) AS BIGINT) AS d, "
        "CAST(sum(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END) "
        "AS BIGINT) AS tx, "
        "CAST(sum(CASE WHEN dy = 0 AND dx <> 0 THEN 1 ELSE 0 END) "
        "AS BIGINT) AS ty, "
        "CAST(sum(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END) "
        "AS BIGINT) AS txy FROM p) "
        "SELECT CAST(n0 AS BIGINT) AS n0, c, d, "
        "round(CAST(c - d AS DOUBLE) / sqrt("
        "CAST(n0 - tx - txy AS DOUBLE) "
        "* CAST(n0 - ty - txy AS DOUBLE)), 6) AS kendall_tau_b FROM g"
    ),
}
