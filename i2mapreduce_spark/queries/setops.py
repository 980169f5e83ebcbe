"""Group U — set operations (SURVEY §2B).

Reference analog: hand-written union/dedup jobs (a MapReduce engine has no
set-op primitives; UNION = concatenated inputs, DISTINCT/INTERSECT/EXCEPT
= reduce on the whole row as key).  Spark plans these natively: UNION ALL
is a no-shuffle concat; the distinct variants are hash aggregates on the
row key.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load_tables


def _cust_nations(spark):
    return spark.table("customer").select(F.col("c_nationkey").alias("nationkey"))


def _supp_nations(spark, max_suppkey=None):
    s = spark.table("supplier")
    if max_suppkey is not None:
        s = s.filter(F.col("s_suppkey") <= max_suppkey)
    return s.select(F.col("s_nationkey").alias("nationkey"))


def q_setop_symmetric_diff(spark, sf_dir):
    """Symmetric difference with provenance: nation keys reached by
    customers XOR by (the first 60) suppliers, each surviving key tagged
    with the side it came from.  (A EXCEPT B) ∪ (B EXCEPT A) — two hash
    anti-semi aggregates and a no-shuffle concat."""
    load_tables(spark, sf_dir)
    a = _cust_nations(spark).distinct()
    b = _supp_nations(spark, max_suppkey=60).distinct()
    only_a = a.exceptAll(b).select("nationkey", F.lit("customer_only").alias("side"))
    only_b = b.exceptAll(a).select("nationkey", F.lit("supplier_only").alias("side"))
    return only_a.unionAll(only_b)


def q_setop_union_all(spark, sf_dir):
    """Bag union (no dedup, no shuffle)."""
    load_tables(spark, sf_dir)
    return _cust_nations(spark).unionAll(_supp_nations(spark))


def q_setop_union_distinct(spark, sf_dir):
    load_tables(spark, sf_dir)
    return _cust_nations(spark).union(_supp_nations(spark)).distinct()


def q_setop_intersect(spark, sf_dir):
    load_tables(spark, sf_dir)
    return _cust_nations(spark).intersect(_supp_nations(spark))


def q_setop_except(spark, sf_dir):
    """Distinct EXCEPT (subtract == EXCEPT DISTINCT; exceptAll would be a
    bag-difference and only cancel per-copy).  Supplier side restricted to
    s_suppkey<=20 (14 of 25 nations) so the difference is non-empty."""
    load_tables(spark, sf_dir)
    return _cust_nations(spark).subtract(_supp_nations(spark, 20))


def q_setop_intersect_all(spark, sf_dir):
    """Bag INTERSECT ALL: multiplicity = min(copies left, copies right).
    Spark plans this as a hash agg of per-side counts, not a join of
    distinct rows — the bag semantics survive duplicates."""
    load_tables(spark, sf_dir)
    return _cust_nations(spark).intersectAll(_supp_nations(spark))


def q_setop_except_all(spark, sf_dir):
    """Bag EXCEPT ALL: each right copy cancels ONE left copy (vs
    setop_except which removes all).  Customer nations minus one copy per
    supplier occurrence."""
    load_tables(spark, sf_dir)
    return _cust_nations(spark).exceptAll(_supp_nations(spark))


def q_setop_division(spark, sf_dir):
    """Relational DIVISION — the textbook 'for all' operator: customers
    whose orders span EVERY priority class (rows related to every
    member of the divisor set), which no join alone expresses.  The
    standard set-cover rewrite: count DISTINCT divisor members per
    candidate and keep those matching the divisor's cardinality — one
    co-partitioned agg plus a 1-row divisor count, no double-negation
    NOT EXISTS pair.  Output is the qualifying set's bounded summary
    plus its exact membership count."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    divisor_n = o.select("o_orderpriority").distinct().count()
    per_cust = o.groupBy("o_custkey").agg(
        F.count_distinct("o_orderpriority").alias("n_prio"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    q = per_cust.filter(F.col("n_prio") == divisor_n)
    res = q.agg(
        F.lit(divisor_n).alias("divisor_size"),
        F.count(F.lit(1)).alias("n_qualifying"),
        F.min("o_custkey").alias("min_cust"),
        F.max("o_custkey").alias("max_cust"),
        F.sum("n_orders").alias("their_orders"),
    )
    # empty divisor set (empty input): division by the empty relation is
    # undefined — no summary row, matching the oracle's GROUP BY dn,
    # which grows no group when `per` is empty
    return res.limit(0) if divisor_n == 0 else res


QUERIES = {
    "setop_symmetric_diff": q_setop_symmetric_diff,
    "setop_union_all": q_setop_union_all,
    "setop_union_distinct": q_setop_union_distinct,
    "setop_intersect": q_setop_intersect,
    "setop_except": q_setop_except,
    "setop_intersect_all": q_setop_intersect_all,
    "setop_except_all": q_setop_except_all,
    "setop_division": q_setop_division,
}

ORACLES = {
    "setop_symmetric_diff": (
        "WITH a AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer), "
        "b AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier "
        "WHERE s_suppkey <= 60) "
        "SELECT nationkey, 'customer_only' AS side FROM (SELECT * FROM a EXCEPT SELECT * FROM b) "
        "UNION ALL "
        "SELECT nationkey, 'supplier_only' AS side FROM (SELECT * FROM b EXCEPT SELECT * FROM a)"
    ),
    "setop_union_all": (
        "SELECT c_nationkey AS nationkey FROM customer "
        "UNION ALL SELECT s_nationkey FROM supplier"
    ),
    "setop_union_distinct": (
        "SELECT c_nationkey AS nationkey FROM customer "
        "UNION SELECT s_nationkey FROM supplier"
    ),
    "setop_intersect": (
        "SELECT c_nationkey AS nationkey FROM customer "
        "INTERSECT SELECT s_nationkey FROM supplier"
    ),
    "setop_except": (
        "SELECT c_nationkey AS nationkey FROM customer "
        "EXCEPT SELECT s_nationkey FROM supplier WHERE s_suppkey <= 20"
    ),
    "setop_intersect_all": (
        "SELECT c_nationkey AS nationkey FROM customer "
        "INTERSECT ALL SELECT s_nationkey FROM supplier"
    ),
    "setop_except_all": (
        "SELECT c_nationkey AS nationkey FROM customer "
        "EXCEPT ALL SELECT s_nationkey FROM supplier"
    ),
    "setop_division": (
        "WITH per AS (SELECT o_custkey, "
        "count(DISTINCT o_orderpriority) AS n_prio, count(*) AS n_orders "
        "FROM orders GROUP BY 1), "
        "d AS (SELECT count(DISTINCT o_orderpriority) AS dn FROM orders) "
        "SELECT CAST(dn AS INT) AS divisor_size, "
        "CAST(count(*) AS BIGINT) AS n_qualifying, "
        "min(o_custkey) AS min_cust, max(o_custkey) AS max_cust, "
        "CAST(sum(n_orders) AS BIGINT) AS their_orders "
        "FROM per, d WHERE n_prio = dn GROUP BY dn"
    ),
}
