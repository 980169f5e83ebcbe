"""Group P — projection / filter / predicates (SURVEY §2B).

Reference analog: the body of a user map() function (ref op A1) — in
MapReduce every projection/filter is imperative Java inside the mapper.
Here they are Catalyst expressions: codegen'd, null-safe, and pushed down.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..catalog import load_tables
from ..operators.ranking import global_row_number
from .aggregates import _md5_le, _md5_le_sql


def q_project_expr(spark, sf_dir):
    """Arithmetic projection with alias (net price = extprice*(1-discount)).

    round(.,4) not 2: the product of two 2-decimal doubles has exactly 4
    decimal digits, so scale-4 rounding is the identity in both engines,
    while scale-2 hits decimal ties where Spark (HALF_UP) and DuckDB
    (HALF_EVEN) disagree (observed on 116/60000 rows).
    """
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(li.l_extendedprice * (1 - li.l_discount), 4).alias("net_price"),
    )


def q_filter_range_pred(spark, sf_dir):
    """TPC-H Q6 shape: date window + discount band + quantity bound.

    100TB note: all three predicates push to the parquet scan; the agg is a
    partial+final hash agg (map-side combine, ref op A2) — shuffle carries
    one row per partition.
    """
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    return (
        li.filter(
            (li.l_shipdate >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (li.l_shipdate < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (li.l_discount >= 0.05) & (li.l_discount <= 0.07)
            & (li.l_quantity < 24)
        )
        .agg(F.round(F.sum(li.l_extendedprice * li.l_discount), 2).alias("revenue"))
    )


def q_filter_in_like_null(spark, sf_dir):
    """IN-list + LIKE + explicit IS NULL arm (fixtures are null-free, the
    arm exercises null-handling without changing the result)."""
    load_tables(spark, sf_dir)
    p = spark.table("part")
    return p.filter(
        (p.p_brand.isin("Brand#1", "Brand#7", "Brand#13") & p.p_name.like("%key%"))
        | p.p_type.isNull()
    ).select("p_partkey", "p_name", "p_brand")


def q_case_coalesce_cast(spark, sf_dir):
    """CASE WHEN price bands, coalesce, cast chain int->double->string."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    return o.select(
        "o_orderkey",
        F.when(o.o_totalprice < 100000, "low")
        .when(o.o_totalprice < 300000, "mid")
        .otherwise("high")
        .alias("price_band"),
        F.coalesce(F.lit(None).cast("string"), o.o_orderstatus).alias("status_nn"),
        (o.o_orderkey % 1000).cast("double").cast("string").alias("key_dbl_str"),
    )


def q_sample_hash_bucket(spark, sf_dir):
    """Deterministic hash sampling (~25%): keep rows whose md5(key) starts
    with 0-3.  The training-data-pipeline sampling primitive — unlike
    TABLESAMPLE it is engine-independent, stable under re-runs and
    repartitioning, and pushes as a plain filter (no global pass)."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    bucket = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    return (
        o.filter(bucket.isin("0", "1", "2", "3"))
        .agg(
            F.count("*").alias("n_sampled"),
            F.round(F.sum("o_totalprice"), 2).alias("sampled_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


SAMPLE_PER_STRATUM = 10


def q_sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling: the first 10 documents per
    language under a content-hash order (md5(text), doc_id tiebreak) —
    the per-stratum cap a training-data mixer applies per language or
    source.  Hash-ordering makes the sample pseudo-random yet exactly
    reproducible in any engine; one window shuffle keyed by the stratum.
    """
    from pyspark.sql import Window

    load_tables(spark, sf_dir)
    # complete-case: no stratum without a language, no content-hash
    # order without content (and the engines' default NULL sort orders
    # differ) — excluded on both sides
    d = spark.table("documents").filter(
        F.col("lang").isNotNull() & F.col("text").isNotNull()
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("text").cast("binary")), "doc_id"
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_PER_STRATUM)
        .select("doc_id", "lang", "source", "rn")
    )


RESERVOIR_K = 200


def q_sample_reservoir(spark, sf_dir):
    """Deterministic fixed-size uniform sample: the 200 orders with the
    smallest md5(key) — a bottom-k (KMV) sketch, the reproducible stand-in
    for reservoir sampling (same marginal distribution, no RNG state).

    100TB note: Spark plans this as TakeOrderedAndProject — each partition
    keeps its local bottom-k and only k rows per partition reach the
    driver-side merge, so the global sort never materializes.  The same
    primitive gives fixed-size corpus samples for eval-set carving.
    """
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    h = F.md5(F.col("o_orderkey").cast("string")).alias("h")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice", h)
        .orderBy("h")
        .limit(RESERVOIR_K)
    )


RES_K = 50  #: weighted-reservoir sample size
RES_SCALE = float(2 ** 56)


def q_sample_weighted_reservoir(spark, sf_dir):
    """Weighted reservoir sample (Efraimidis-Spirakis A-Res) of 50 docs
    with probability ∝ token count: key_i = u_i^(1/w_i) ranked
    descending, realized as ln(u_i)/w_i with u_i = (md5_56(doc)+1)/2^56
    — the PORTABLE md5 makes the sample (and the reported keys)
    bit-reproducible across engines AND across runs, which uuid()/rand()
    sampling cannot be.  The top-k is a distributed TakeOrdered
    (per-partition heads + k-row merge); A-Res keys are mergeable, so
    the same construction shards at 100 TB."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    toks = d.select(
        "doc_id",
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda w: w != "")
        ).alias("w"),
    ).filter(F.col("w") > 0)
    h = _md5_le(F.col("doc_id").cast("string"), 7)
    scored = toks.select(
        "doc_id",
        "w",
        (F.log((h + 1) / F.lit(RES_SCALE)) / F.col("w")).alias("score"),
    )
    picked = scored.orderBy(F.col("score").desc(), "doc_id").limit(RES_K)
    return picked.select("doc_id", "w", F.round("score", 6).alias("score"))


#: systematic sampling interval
SYS_K = 40


def q_sample_systematic(spark, sf_dir):
    """SYSTEMATIC sample of orders: every SYS_K-th row under the unique
    total order (o_orderdate, o_orderkey) — the even-coverage design
    (stratifies implicitly over the sort dimension, here time) used
    when a uniform hash sample would leave date gaps.  The global rank
    comes from the distributed chunked-offset row_number
    (ranking.global_row_number), NOT a single-partition window; the
    filter is a pure modulus on that rank."""
    load_tables(spark, sf_dir)
    o = spark.table("orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    ranked = global_row_number(o, ["o_orderdate", "o_orderkey"], "rk")
    return ranked.filter(F.col("rk") % SYS_K == 1).select(
        "o_orderkey", "o_orderdate", "o_totalprice", "rk"
    )


#: Neyman: total sample budget to allocate across strata
NEYMAN_BUDGET = 1000


def q_sample_neyman_allocation(spark, sf_dir):
    """NEYMAN ALLOCATION — the optimal stratified-sampling design: given
    a total budget of n draws across strata (order priority), allocate
    n_h proportional to N_h * S_h (stratum size x stratum std dev),
    which minimizes the variance of the stratified mean — the planning
    step the sample_stratified operator should be fed with.

    Per-stratum moments are exact DECIMAL(38)/HUGEINT integer sums; the
    allocation weights become doubles in one fixed shape, and the final
    integer allocation uses the floor of the proportional share (the
    deterministic largest-remainder step is reported as the residual
    column rather than re-distributed, keeping every number a pure
    function of the exact moments)."""
    load_tables(spark, sf_dir)
    o = spark.table("orders").select(
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s1"),
        F.sum(
            (F.col("cents").cast("decimal(38,0)") * F.col("cents")).cast(
                "decimal(38,0)"
            )
        ).alias("s2"),
    )
    # try_divide: a 1-row stratum has no sample variance — NULL on both
    # engines (DuckDB x/0 is NULL; Spark ANSI / would throw)
    sd = F.sqrt(
        F.try_divide(
            F.col("n_h").cast("double") * F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double"),
            F.col("n_h").cast("double") * (F.col("n_h") - 1),
        )
    )
    weighted = g.select(
        "o_orderpriority", "n_h", (F.col("n_h") * sd).alias("w")
    )
    tot = weighted.agg(F.sum("w").alias("tw"))
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "o_orderpriority",
            "n_h",
            F.round(F.col("w") / F.col("tw"), 6).alias("weight"),
            F.floor(NEYMAN_BUDGET * F.col("w") / F.col("tw"))
            .cast("long")
            .alias("n_alloc"),
        )
    )


def q_sample_balanced_downsample(spark, sf_dir):
    """CLASS-BALANCED downsampling: keep exactly min-class-count rows of
    EVERY event type, chosen by deterministic md5 rank within the class
    — the majority-class subsample imbalanced training pipelines apply
    (and reproducibly: same data -> same sample, any partitioning).
    One per-class ranked window (co-partitioned by class), one bounded
    1-row minimum, and a rank filter; the output is the per-class
    before/after audit."""
    load_tables(spark, sf_dir)
    e = spark.table("events")
    wc = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    ranked = e.select(
        "event_type",
        "event_id",
        F.row_number().over(wc).cast("long").alias("rk"),
    )
    counts = ranked.groupBy("event_type").agg(F.max("rk").alias("n"))
    mn = counts.agg(F.min("n").alias("m"))
    kept = ranked.crossJoin(F.broadcast(mn)).filter(
        F.col("rk") <= F.col("m")
    )
    return (
        kept.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .join(counts, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_original"),
            "n_kept",
        )
    )


QUERIES = {
    "project_expr": q_project_expr,
    "sample_reservoir": q_sample_reservoir,
    "filter_range_pred": q_filter_range_pred,
    "filter_in_like_null": q_filter_in_like_null,
    "case_coalesce_cast": q_case_coalesce_cast,
    "sample_hash_bucket": q_sample_hash_bucket,
    "sample_stratified": q_sample_stratified,
    "sample_weighted_reservoir": q_sample_weighted_reservoir,
    "sample_systematic": q_sample_systematic,
    "sample_neyman_allocation": q_sample_neyman_allocation,
    "sample_balanced_downsample": q_sample_balanced_downsample,
}

ORACLES = {
    "sample_reservoir": (
        "SELECT o_orderkey, o_custkey, o_totalprice, "
        "md5(CAST(o_orderkey AS VARCHAR)) AS h FROM orders "
        f"ORDER BY h LIMIT {RESERVOIR_K}"
    ),
    "sample_stratified": (
        "SELECT doc_id, lang, source, rn FROM ("
        "SELECT doc_id, lang, source, row_number() OVER ("
        "PARTITION BY lang ORDER BY md5(text), doc_id) AS rn "
        "FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL) t "
        f"WHERE rn <= {SAMPLE_PER_STRATUM}"
    ),
    "sample_hash_bucket": (
        "SELECT count(*) AS n_sampled, "
        "round(sum(o_totalprice), 2) AS sampled_price, "
        "min(o_orderkey) AS min_key, max(o_orderkey) AS max_key "
        "FROM orders "
        "WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) "
        "IN ('0', '1', '2', '3')"
    ),
    "project_expr": (
        "SELECT l_orderkey, l_linenumber, "
        "round(l_extendedprice * (1 - l_discount), 4) AS net_price FROM lineitem"
    ),
    "filter_range_pred": (
        "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue "
        "FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' "
        "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"
    ),
    "filter_in_like_null": (
        "SELECT p_partkey, p_name, p_brand FROM part "
        "WHERE (p_brand IN ('Brand#1','Brand#7','Brand#13') "
        "AND p_name LIKE '%key%') OR p_type IS NULL"
    ),
    "case_coalesce_cast": (
        "SELECT o_orderkey, "
        "CASE WHEN o_totalprice < 100000 THEN 'low' "
        "WHEN o_totalprice < 300000 THEN 'mid' ELSE 'high' END AS price_band, "
        "coalesce(CAST(NULL AS VARCHAR), o_orderstatus) AS status_nn, "
        "CAST(CAST(o_orderkey % 1000 AS DOUBLE) AS VARCHAR) AS key_dbl_str "
        "FROM orders"
    ),
    "sample_weighted_reservoir": (
        "WITH toks AS (SELECT doc_id, "
        "len(list_filter(string_split(text, ' '), w -> w <> '')) AS w "
        "FROM documents), "
        "scored AS (SELECT doc_id, w, "
        "ln((" + _md5_le_sql("CAST(doc_id AS VARCHAR)", 7) + " + 1) / "
        f"{RES_SCALE!r}) / w AS score FROM toks WHERE w > 0) "
        f"SELECT doc_id, CAST(w AS BIGINT) AS w, round(score, 6) AS score "
        f"FROM scored ORDER BY score DESC, doc_id LIMIT {RES_K}"
    ),
    "sample_systematic": (
        "WITH r AS (SELECT o_orderkey, o_orderdate, o_totalprice, "
        "row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rk "
        "FROM orders) "
        "SELECT o_orderkey, o_orderdate, o_totalprice, rk FROM r "
        f"WHERE rk % {SYS_K} = 1"
    ),
    "sample_neyman_allocation": (
        "WITH o AS (SELECT o_orderpriority, "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "AS cents FROM orders), "
        "g AS (SELECT o_orderpriority, count(*) AS n_h, sum(cents::HUGEINT) AS s1, "
        "sum(cents::HUGEINT * cents) AS s2 FROM o GROUP BY 1), "
        "w AS (SELECT o_orderpriority, n_h, "
        "n_h * sqrt((CAST(n_h AS DOUBLE) * CAST(s2 AS DOUBLE) "
        "- CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) "
        "/ (CAST(n_h AS DOUBLE) * (n_h - 1))) AS wt FROM g), "
        "t AS (SELECT sum(wt) AS tw FROM w) "
        "SELECT o_orderpriority, CAST(n_h AS BIGINT) AS n_h, "
        "round(wt / tw, 6) AS weight, "
        f"CAST(floor({NEYMAN_BUDGET} * wt / tw) AS BIGINT) AS n_alloc "
        "FROM w, t"
    ),
    "sample_balanced_downsample": (
        "WITH ranked AS (SELECT event_type, event_id, "
        "CAST(row_number() OVER (PARTITION BY event_type "
        "ORDER BY md5(event_id::VARCHAR), event_id) AS BIGINT) AS rk "
        "FROM events), "
        "counts AS (SELECT event_type, max(rk) AS n FROM ranked "
        "GROUP BY 1), "
        "mn AS (SELECT min(n) AS m FROM counts) "
        "SELECT r.event_type, CAST(c.n AS BIGINT) AS n_original, "
        "CAST(count(*) AS BIGINT) AS n_kept "
        "FROM ranked r, mn JOIN counts c ON r.event_type = c.event_type "
        "WHERE r.rk <= mn.m GROUP BY 1, 2"
    ),
}
