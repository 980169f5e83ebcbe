"""Round-6 additions, batch 27: Sinkhorn-Knopp matrix scaling (the
optimal-transport / bias-correction normalization), expected shortfall
(CVaR — the tail-risk number regulators actually require, one rank
deeper than VaR), and the time-constrained funnel (ClickHouse-style
windowFunnel: each step must follow the previous within a deadline).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load_tables
from ..operators.ranking import global_row_number
from ..plans.iterate import iterate

#: Sinkhorn sweeps (each = one row-normalize + one col-normalize)
SINK_ITERS = 8

#: CVaR tail (per-mille): mean of the worst 5% largest order values
CVAR_PM = 50

#: funnel steps and per-step deadline (hours)
FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_WINDOW_H = 24


def _sinkhorn_sweep(arr: str, axis: str, dialect: str) -> str:
    """One Sinkhorn half-sweep (normalize along `axis`) over a sorted
    array of {r, d, v} cells named `arr`.  The row/col sum is an ORDERED
    fold over the array, so every float add happens in the same fixed
    order on both engines.  Each sweep is bound to its own column/CTE by
    the caller — inlining them would nest the array expression
    exponentially."""
    pred = f"y.{axis} = x.{axis}"
    if dialect == "spark":
        fold = (
            f"aggregate(filter({arr}, y -> {pred}), "
            "cast(0.0 as double), (acc, z) -> acc + z.v)"
        )
        return (
            f"transform({arr}, x -> named_struct('r', x.r, 'd', x.d, "
            f"'v', x.v / {fold}))"
        )
    fold = (
        f"list_reduce(list_prepend(0.0, list_transform("
        f"list_filter({arr}, y -> {pred}), z -> z.v)), "
        "(acc, w) -> acc + w)"
    )
    return (
        f"list_transform({arr}, x -> {{'r': x.r, 'd': x.d, "
        f"'v': x.v / {fold}}})"
    )


def q_iter_sinkhorn(spark, sf_dir):
    """Sinkhorn-Knopp scaling of the event_type x day-of-week count
    matrix to (nearly) doubly stochastic — the optimal-transport /
    rate-bias-correction workhorse: what remains after row and column
    effects are scaled away is the pure interaction structure.

    The grid is the bounded enum cross (5 types x 7 weekdays), so the
    whole matrix travels as ONE sorted array of {r, d, v} structs and
    the 8 sweeps run as 16 one-row `iterate()` half-sweeps; every
    row/column sum is an ORDERED fold over that array, so both engines
    stream identical doubles (the same generator emits both dialects).
    Output: the scaled matrix plus each cell's row/col id, 6dp."""
    load_tables(spark, sf_dir)
    e = spark.table("events")
    cells = e.groupBy(
        F.col("event_type").alias("r"), F.dayofweek("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    packed = cells.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("r", "d", "v"))).alias("a")
    )

    def half_sweep(state, i):
        axis = "r" if i % 2 else "d"  # odd: rows, even: columns
        return state.select(
            F.expr(_sinkhorn_sweep("a", axis, "spark")).alias("a")
        )

    # checkpoint per half-sweep: Catalyst's ProjectCollapse would
    # otherwise inline all 16 half-sweeps into ONE expression, and each
    # references its input array 3x -> a 3^16-node tree.  The
    # checkpointed frame is a single row (the bounded enum grid).
    res = iterate(packed, half_sweep, 2 * SINK_ITERS, checkpoint_every=1)
    out = res.state.select(F.explode("a").alias("c"))
    return out.select(
        F.col("c")["r"].alias("event_type"),
        F.col("c")["d"].alias("dow"),
        F.round(F.col("c")["v"], 6).alias("scaled"),
    )


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


def q_window_funnel_time_constrained(spark, sf_dir):
    """Time-constrained funnel (ClickHouse windowFunnel semantics,
    greedy-earliest variant): per user, step 1 anchors at the FIRST
    'view'; each later step must be the first matching event STRICTLY
    AFTER the previous step and within 24h of it.  Reports how many
    users reach each depth and the step conversion rates — the product
    funnel where an un-windowed version (window_funnel_stages) would
    count week-later conversions.

    Plan: one co-partitioned min per user for the anchor, then one
    conditional-min aggregation PER STEP, each a user-keyed join —
    depth-many bounded shuffles, all on user_id.  Timestamps stay in
    exact integer microseconds."""
    load_tables(spark, sf_dir)
    e = spark.table("events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    win_us = FUNNEL_WINDOW_H * 3600 * 1000000
    cur = e.filter(F.col("event_type") == FUNNEL_STEPS[0]).groupBy(
        "user_id"
    ).agg(F.min("us").alias("t"))
    reached = [cur.count()]
    for step in FUNNEL_STEPS[1:]:
        nxt = (
            e.filter(F.col("event_type") == step)
            .join(cur, "user_id")
            .filter(
                (F.col("us") > F.col("t"))
                & (F.col("us") <= F.col("t") + F.lit(win_us))
            )
            .groupBy("user_id")
            .agg(F.min("us").alias("t"))
        )
        cur = nxt
        reached.append(cur.count())
    spark_sess = spark
    rows = [
        (
            i + 1,
            FUNNEL_STEPS[i],
            reached[i],
            # conversion from previous step, half-up per-mille
            (2 * 1000 * reached[i] + reached[i - 1]) // (2 * reached[i - 1])
            if i > 0 and reached[i - 1] > 0
            else 1000,
        )
        for i in range(len(FUNNEL_STEPS))
    ]
    return spark_sess.createDataFrame(
        rows, "step int, event_type string, n_users long, conv_pm long"
    )


QUERIES = {
    "iter_sinkhorn": q_iter_sinkhorn,
    "agg_cvar_expected_shortfall": q_agg_cvar_expected_shortfall,
    "window_funnel_time_constrained": q_window_funnel_time_constrained,
}

ORACLES = {
    "iter_sinkhorn": (
        "WITH cells AS (SELECT event_type AS r, dayofweek(ts) + 1 AS d, "
        "CAST(count(*) AS DOUBLE) AS v FROM events GROUP BY 1, 2), "
        "t0 AS (SELECT list({'r': r, 'd': d, 'v': v} ORDER BY r, d) "
        "AS a0 FROM cells), "
        # MATERIALIZED: DuckDB inlines plain CTEs, and each sweep
        # references its input twice -> 2^16 copies of the seed array
        + ", ".join(
            f"tr{k} AS MATERIALIZED (SELECT "
            + _sinkhorn_sweep(f"a{k}", "r", "duckdb")
            + f" AS ar{k} FROM t{k}), "
            f"t{k + 1} AS MATERIALIZED (SELECT "
            + _sinkhorn_sweep(f"ar{k}", "d", "duckdb")
            + f" AS a{k + 1} FROM tr{k})"
            for k in range(SINK_ITERS)
        )
        + f", s AS (SELECT unnest(a{SINK_ITERS}) AS c FROM t{SINK_ITERS}) "
        "SELECT c.r AS event_type, CAST(c.d AS INT) AS dow, "
        "round(c.v, 6) AS scaled FROM s"
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
    "window_funnel_time_constrained": (
        "WITH e AS (SELECT user_id, event_type, "
        "epoch_us(ts) AS us FROM events), "
        f"s1 AS (SELECT user_id, min(us) AS t FROM e "
        f"WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY 1), "
        f"s2 AS (SELECT e.user_id, min(us) AS t FROM e JOIN s1 "
        "ON e.user_id = s1.user_id AND e.us > s1.t "
        f"AND e.us <= s1.t + {FUNNEL_WINDOW_H * 3600 * 1000000} "
        f"WHERE event_type = '{FUNNEL_STEPS[1]}' GROUP BY 1), "
        f"s3 AS (SELECT e.user_id, min(us) AS t FROM e JOIN s2 "
        "ON e.user_id = s2.user_id AND e.us > s2.t "
        f"AND e.us <= s2.t + {FUNNEL_WINDOW_H * 3600 * 1000000} "
        f"WHERE event_type = '{FUNNEL_STEPS[2]}' GROUP BY 1), "
        "c AS (SELECT (SELECT count(*) FROM s1) AS n1, "
        "(SELECT count(*) FROM s2) AS n2, "
        "(SELECT count(*) FROM s3) AS n3) "
        f"SELECT 1 AS step, '{FUNNEL_STEPS[0]}' AS event_type, "
        "CAST(n1 AS BIGINT) AS n_users, CAST(1000 AS BIGINT) AS conv_pm "
        "FROM c "
        f"UNION ALL SELECT 2, '{FUNNEL_STEPS[1]}', CAST(n2 AS BIGINT), "
        "CAST(CASE WHEN n1 > 0 THEN (2 * 1000 * n2 + n1) // (2 * n1) "
        "ELSE 1000 END AS BIGINT) FROM c "
        f"UNION ALL SELECT 3, '{FUNNEL_STEPS[2]}', CAST(n3 AS BIGINT), "
        "CAST(CASE WHEN n2 > 0 THEN (2 * 1000 * n3 + n2) // (2 * n2) "
        "ELSE 1000 END AS BIGINT) FROM c"
    ),
}
