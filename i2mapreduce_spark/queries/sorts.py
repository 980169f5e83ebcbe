"""Group F — sort / limit / top-k (SURVEY §2B).

Reference analog: the shuffle's merge-sort (ref op A3) — MapReduce totally
orders within a partition for free; a global sort needs a custom
TotalOrderPartitioner.  Spark's orderBy does range partitioning with
sampled bounds; orderBy().limit(n) collapses to TakeOrderedAndProject
(no full sort materialized — per-partition top-n then merge on driver),
which is the 100TB-safe top-k.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load_tables
from ..operators.ranking import global_running_max_excl
from ..plans.iterate import checkpoint_without_stats


def q_sort_limit_topn(spark, sf_dir):
    """Global top-10 with a total order (unique-key tiebreak)."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_price"))
    )


def q_sort_multi_key(spark, sf_dir):
    """Full multi-key sort (range-partitioned). Hash check is order-
    insensitive; the point is exercising the sort executor path."""
    load_tables(spark, sf_dir)
    n = spark.table("nation")
    return n.orderBy(F.col("n_regionkey"), F.col("n_name").desc())


def q_sort_nulls_ordering(spark, sf_dir):
    """Explicit NULLS FIRST placement under LIMIT — a dialect trap pinned
    by content: Spark default is NULLS FIRST ASC, many engines default
    NULLS LAST, and with a LIMIT the placement decides WHICH rows
    survive, which the order-insensitive hash then verifies.  Nulls are
    manufactured with nullif (status 'O' -> NULL)."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return (
        o.select(
            "o_orderkey",
            status_or_null.alias("status_nullable"),
            F.round("o_totalprice", 2).alias("total_price"),
        )
        .orderBy(
            F.col("status_nullable").asc_nulls_first(),
            F.col("total_price").desc(),
            F.col("o_orderkey"),
        )
        .limit(50)
    )


def q_sort_skyline_pareto(spark, sf_dir):
    """Pareto SKYLINE of parts: cheapest-price / largest-size frontier —
    every part not DOMINATED by another (dominator: <= price, >= size,
    strictly better in one).  The multi-criteria shortlist operator
    (skyline / maximal-vector problem, Börzsönyi et al. ICDE'01).

    Plan — sort-based skyline, NO pairwise join: (1) one partial+final
    agg to per-price group max size; (2) EXCLUSIVE prefix max of group
    max over ascending price via the distributed chunked-offset scheme
    (ranking.global_running_max_excl — range partition, local window,
    one bounded per-partition collect; no single-partition window);
    (3) join back: a part survives iff its size equals its price
    group's max AND beats every strictly-cheaper group's max.  Two
    shuffles total, both on bounded-width keys.  The oracle is the
    O(n^2) NOT EXISTS dominance test — correct at fixture scale,
    impossible at 100 TB, which is exactly why the sort-based plan is
    the production path.  Equal (price, size) rows are mutually
    non-dominated and all kept, matching the oracle."""
    load_tables(spark, sf_dir)
    p = spark.table("part").select(
        "p_partkey",
        (F.col("p_retailprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("price_cents"),
        F.col("p_size").cast("int").alias("p_size"),
    )
    grp = p.groupBy("price_cents").agg(F.max("p_size").alias("mx"))
    pre = global_running_max_excl(grp, ["price_cents"], "mx")
    keep = pre.filter(
        F.col("pre_max").isNull() | (F.col("mx") > F.col("pre_max"))
    ).select("price_cents", "mx")
    # no forced broadcast: the frontier is usually tiny (O(log n) for
    # random data) but worst-case O(n) — AQE converts to broadcast from
    # runtime stats when it really is small (broadcast-governance rule)
    return (
        p.join(keep, ["price_cents"])
        .filter(F.col("p_size") == F.col("mx"))
        .select("p_partkey", "price_cents", "p_size")
    )


#: quickselect: which order statistic (fraction per-mille) and caps
QS_PM = 500          # the median
QS_SAMPLE = 101      # pivot sample size per round
QS_MAX_ROUNDS = 24  # safety cap: raises when exhausted


def q_sort_quickselect_kth(spark, sf_dir):
    """Distributed QUICKSELECT: the exact median order value found by
    iterative pivot partitioning — each round samples a bounded
    md5-ordered pivot set, takes its python median as the pivot, counts
    the three-way split with ONE aggregate, and recurses into the side
    holding rank k.  No global sort, no total rank: the surviving
    partition shrinks geometrically, so at 100 TB this is O(rounds)
    scans of ever-smaller slices where a rank-based median would
    shuffle everything once (global_row_number keys do that; this key
    is the SELECTION alternative).  Deterministic: pivots come from the
    md5 order, and the oracle is the plain row_number k-th element."""
    load_tables(spark, sf_dir)
    # complete-case: unpriced orders have no value to select (and a NULL
    # pivot sample would break the three-way split) — both sides rank
    # only priced orders
    o = spark.table("orders").filter(F.col("o_totalprice").isNotNull()).select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("c"),
        "o_orderkey",
    )
    n = o.count()
    k = (QS_PM * n + 999) // 1000  # ceil, 1-based rank
    if n == 0:
        # empty input: rank k=0 selects nothing; the oracle's scalar
        # subquery over the empty ranked set is NULL — match it
        return spark.createDataFrame(
            [(0, 0, None)], "n long, k long, kth_value double"
        )
    cur = o
    for _ in range(QS_MAX_ROUNDS):
        sample = [
            r["c"]
            for r in cur.orderBy(
                F.md5(F.col("o_orderkey").cast("string"))
            )
            .limit(QS_SAMPLE)
            .collect()
        ]
        sample.sort()
        pivot = sample[len(sample) // 2]
        split = cur.agg(
            F.sum((F.col("c") < pivot).cast("long")).alias("lt"),
            F.sum((F.col("c") == pivot).cast("long")).alias("eq"),
        ).collect()[0]
        lt, eq = split["lt"] or 0, split["eq"] or 0
        if k <= lt:
            cur = cur.filter(F.col("c") < pivot).transform(checkpoint_without_stats)
        elif k <= lt + eq:
            kth = pivot
            break
        else:
            cur = cur.filter(F.col("c") > pivot).transform(checkpoint_without_stats)
            k -= lt + eq
    else:
        raise RuntimeError(
            f"sort_quickselect_kth: QS_MAX_ROUNDS={QS_MAX_ROUNDS} exhausted "
            "before the pivot landed on rank k"
        )
    return spark.createDataFrame(
        [(n, (QS_PM * n + 999) // 1000, kth / 100.0)],
        "n long, k long, kth_value double",
    )


QUERIES = {
    "sort_limit_topn": q_sort_limit_topn,
    "sort_multi_key": q_sort_multi_key,
    "sort_nulls_ordering": q_sort_nulls_ordering,
    "sort_skyline_pareto": q_sort_skyline_pareto,
    "sort_quickselect_kth": q_sort_quickselect_kth,
}

ORACLES = {
    "sort_nulls_ordering": (
        "SELECT o_orderkey, nullif(o_orderstatus, 'O') AS status_nullable, "
        "round(o_totalprice, 2) AS total_price FROM orders "
        "ORDER BY nullif(o_orderstatus, 'O') ASC NULLS FIRST, "
        "round(o_totalprice, 2) DESC, o_orderkey LIMIT 50"
    ),
    "sort_limit_topn": (
        "SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price "
        "FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"
    ),
    "sort_multi_key": (
        "SELECT * FROM nation ORDER BY n_regionkey, n_name DESC"
    ),
    "sort_skyline_pareto": (
        "WITH p AS (SELECT p_partkey, "
        "CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) "
        "AS price_cents, CAST(p_size AS INT) AS p_size FROM part) "
        "SELECT p_partkey, price_cents, p_size FROM p a "
        "WHERE NOT EXISTS (SELECT 1 FROM p b "
        "WHERE b.price_cents <= a.price_cents AND b.p_size >= a.p_size "
        "AND (b.price_cents < a.price_cents OR b.p_size > a.p_size))"
    ),
    "sort_quickselect_kth": (
        "WITH o AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) "
        "* 100 AS BIGINT) AS c, o_orderkey FROM orders "
        "WHERE o_totalprice IS NOT NULL), "
        "n AS (SELECT count(*) AS n FROM o), "
        "r AS (SELECT c, row_number() OVER (ORDER BY c, o_orderkey) "
        "AS rk FROM o) "
        "SELECT CAST(n AS BIGINT) AS n, "
        f"CAST(({QS_PM} * n + 999) // 1000 AS BIGINT) AS k, "
        "(SELECT c FROM r, n "
        f"WHERE rk = ({QS_PM} * n + 999) // 1000) / 100.0 AS kth_value "
        "FROM n"
    ),
}
