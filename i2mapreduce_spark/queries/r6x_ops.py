"""Round-6 additions, batch 24: KAMA (the adaptive moving average — a
data-dependent recurrence, the hardest window class to keep
cross-engine exact), a rolling linear-regression channel (rolling OLS
from exact integer window sums), the 4-4-5 fiscal retail calendar (the
BI date primitive plain date functions can't express), and parallel
maximal matching (the handshake algorithm — a genuinely iterative
graph op verified by PROPERTY tests rather than a value oracle).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..catalog import load_tables
from ..plans.iterate import checkpoint_without_stats

#: KAMA parameters: efficiency-ratio lookback, fast/slow smoothing
KAMA_N = 10
KAMA_FAST = 2.0 / (2 + 1)
KAMA_SLOW = 2.0 / (30 + 1)

#: regression-channel lookback (days) and band width (sigmas)
LRC_N = 30
LRC_SIGMAS = 2.0

#: fiscal 4-4-5 calendar anchor: Monday starting FY1992 week 1
FISCAL_ANCHOR = "1991-12-30"

#: maximal matching: handshake round cap (loop exits when no active
#: edge remains — expected O(log E) rounds with hashed priorities); a
#: safety cap: exhausting it with edges left raises
MATCH_MAX_ROUNDS = 40


def q_window_kama(spark, sf_dir):
    """Kaufman's Adaptive Moving Average over daily close prices — the
    indicator whose smoothing constant CHANGES PER ROW (fast when the
    market trends, slow when it chops), making it a data-dependent
    recurrence kama_t = kama_{t-1} + sc_t*(close_t - kama_{t-1}) that
    no flat window can express.

    Cross-engine discipline: the efficiency ratio's inputs are exact
    integer cents (|10-day change| / sum of |1-day changes| via lag
    windows), sc is one fixed-shape double expression of those ints
    with python-literal fast/slow constants, and the recurrence folds
    with a SCALAR double accumulator — safe on both engines (DuckDB's
    in-place fold mutation bites STRUCT accumulators only; ts_holt's
    coupled recurrence needed a recursive CTE, this one does not).
    Single-partition window on the bounded daily grain (TA
    precedent)."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("day"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    wd = Window.partitionBy("day").orderBy(F.col("ok").desc(), F.col("ln").desc())
    r = li.withColumn("rn_d", F.row_number().over(wd))
    bars = r.groupBy("day").agg(
        F.max(F.when(F.col("rn_d") == 1, F.col("cents"))).alias("c")
    )
    w = Window.orderBy("day")
    diffed = bars.select(
        "day",
        "c",
        F.abs(F.col("c") - F.lag("c", KAMA_N).over(w)).alias("chg"),
        F.abs(F.col("c") - F.lag("c", 1).over(w)).alias("d1"),
    )
    wv = Window.orderBy("day").rowsBetween(-(KAMA_N - 1), 0)
    vol = diffed.select(
        "day",
        "c",
        "chg",
        F.sum("d1").over(wv).alias("vol"),
        F.count("d1").over(wv).alias("nv"),
    ).filter(F.col("chg").isNotNull() & (F.col("nv") == KAMA_N))
    er = F.when(F.col("vol") > 0, F.col("chg") / F.col("vol").cast("double")).otherwise(
        F.lit(0.0)
    )
    sc_expr = (
        (er * (KAMA_FAST - KAMA_SLOW) + KAMA_SLOW)
        * (er * (KAMA_FAST - KAMA_SLOW) + KAMA_SLOW)
    )
    scored = vol.select("day", "c", sc_expr.alias("sc"))

    # r12 (guide §2.3 / verdict item 5): the r6-r11 spelling collected
    # the FULL prefix per row (collect_list over an unbounded frame —
    # O(n^2) structs, ~2.9M copies on the 2.4k-day grain) and re-folded
    # it per row with an `aggregate` lambda whose generated code is the
    # reason the key read 45 s single-shot (codegen/JIT) vs 2.1 s warm.
    # The recurrence is sequential by definition, so compute it ONCE,
    # linearly, in an Arrow kernel over the single bounded group —
    # bit-identical arithmetic: the JVM fold evaluates
    # acc + sc * (double(c) - acc) as plain IEEE-754 double ops (Java
    # forbids FMA contraction), exactly what the Python float loop
    # does, in the same order, from the same init (first row's c).
    # Division by 100 and the 6dp HALF_UP round stay in Spark,
    # unchanged.  The daily grain is bounded (~2.4k rows at any SF), so
    # one group/task is the same single-partition shape the global
    # window already had.
    def _kama_fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values("day")
        c = pdf["c"].tolist()
        sc = pdf["sc"].tolist()
        k: list[float] = []
        acc = 0.0
        for i in range(len(c)):
            acc = float(c[0]) if i == 0 else acc + sc[i] * (float(c[i]) - acc)
            k.append(acc)
        return pd.DataFrame({"day": pdf["day"], "c": pdf["c"], "kama": k})

    folded = scored.groupBy(F.lit(1).alias("_g")).applyInPandas(
        _kama_fold, "day string, c long, kama double"
    )
    return folded.select(
        "day",
        (F.col("c") / 100.0).alias("close"),
        F.round(F.col("kama") / 100.0, 6).alias("kama"),
    )


def q_window_linreg_channel(spark, sf_dir):
    """Rolling linear-regression channel: per day, OLS of the last
    LRC_N daily closes on the day index, reporting the fitted value and
    the ±2-sigma channel — the drift-plus-band overlay (and the rolling
    twin of the global agg_linreg).

    Exact arithmetic: x is the integer day index and y integer cents,
    so every window statistic (n, Σx, Σy, Σxy, Σx², Σy²) is an EXACT
    integer window sum — no collect, no fold — and slope/intercept/
    sigma are fixed-shape double expressions of those identical ints:
    slope = Sxy/Sxx, sigma² = (Syy − Sxy²/Sxx)/(n(n−2)) with
    S__ = n·Σ__ − Σ_·Σ_.  Bounded daily grain window (TA precedent);
    at any SF the window sums stay far inside BIGINT."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem").select(
        F.expr(f"datediff(l_shipdate, DATE '{FISCAL_ANCHOR}')").alias("x"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    wd = Window.partitionBy("x").orderBy(
        F.col("l_orderkey").desc(), F.col("l_linenumber").desc()
    )
    bars = (
        li.withColumn("rn_d", F.row_number().over(wd))
        .groupBy("x")
        .agg(F.max(F.when(F.col("rn_d") == 1, F.col("cents"))).alias("y"))
    )
    # y² and the S__ cross-terms run in DECIMAL(38,0) (r10 extreme-
    # magnitude sweep): cents² alone is ~1e27 at hostile magnitudes —
    # "far inside BIGINT" only held for the original value range
    wf = Window.orderBy("x").rowsBetween(-(LRC_N - 1), 0)
    sums = bars.select(
        "x",
        "y",
        F.count(F.lit(1)).over(wf).alias("n"),
        F.sum("x").over(wf).alias("sx"),
        F.sum("y").over(wf).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).over(wf).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(wf).alias("sxx"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y")).over(wf).alias("syy"),
    ).filter(F.col("n") == LRC_N)
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    syD = sy.cast("decimal(19,0)")
    big_sxy = (n * F.col("sxy") - sx.cast("decimal(19,0)") * syD).cast("double")
    big_sxx = (n * F.col("sxx") - sx * sx).cast("double")
    big_syy = (n * F.col("syy") - syD * syD).cast("double")
    slope = big_sxy / big_sxx
    yhat = (sy.cast("double") - slope * sx) / n + slope * F.col("x")
    sigma = F.sqrt(
        (big_syy - big_sxy * big_sxy / big_sxx) / (n * (n - 2))
    )
    return sums.select(
        "x",
        (F.col("y") / 100.0).alias("close"),
        F.round(yhat / 100.0, 6).alias("mid"),
        F.round((yhat + LRC_SIGMAS * sigma) / 100.0, 6).alias("upper"),
        F.round((yhat - LRC_SIGMAS * sigma) / 100.0, 6).alias("lower"),
        F.round(slope, 6).alias("slope_cents_per_day"),
    )


def q_fn_fiscal_445(spark, sf_dir):
    """4-4-5 fiscal retail calendar mapping for every order date — the
    BI primitive plain date functions cannot express: 52-week fiscal
    years of 4-4-5-week periods (每 quarter = 13 weeks split 4+4+5), so
    every period contains whole weeks and same-period comparisons align
    by weekday.  Pure integer arithmetic from the anchor Monday: week =
    days div 7, fy = week div 52, quarter = (week mod 52) div 13,
    period-in-quarter by the 4/8 split.  All operands non-negative."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    x = f"datediff(o_orderdate, DATE '{FISCAL_ANCHOR}')"
    wk = f"(({x}) div 7)"
    wiy = f"({wk} % 52)"
    wiq = f"({wiy} % 13)"
    return o.select(
        "o_orderkey",
        "o_orderdate",
        F.expr(f"1992 + {wk} div 52").alias("fiscal_year"),
        F.expr(f"1 + {wiy} div 13").alias("fiscal_quarter"),
        F.expr(
            f"CASE WHEN {wiq} < 4 THEN 1 WHEN {wiq} < 8 THEN 2 ELSE 3 END"
        ).alias("period_in_quarter"),
        F.expr(f"1 + {wiy}").alias("fiscal_week"),
    )


def q_iter_maximal_matching(spark, sf_dir):
    """Parallel MAXIMAL MATCHING on the co-purchase graph by Luby-style
    rounds on the LINE GRAPH: give every active edge a per-round hashed
    priority (xxhash64(src, dst, round) with (src, dst) tiebreak — a
    deterministic stand-in for Luby randomness), select every edge that
    is the STRICT minimum among all edges touching either endpoint
    (locally-min edges are vertex-disjoint by construction), remove the
    matched vertices, repeat until NO active edge remains — so
    maximality holds by construction (an empty active set means every
    original edge touches a matched vertex).  Expected constant
    fraction of edges cleared per round => O(log E) rounds; per round
    one symmetrized incidence agg and one self-join, all co-partitioned
    by vertex; the only driver traffic is the per-round empty check.
    Deterministic, so the result is stable across partitionings.

    Rows-only key by design: a maximal matching is not unique SQL —
    correctness is the PROPERTY pair verified in pytest
    (tests/test_r6x_matching.py): (1) no vertex appears twice;
    (2) no edge has both endpoints unmatched (maximality)."""
    load_tables(spark, sf_dir)
    active = (
        spark.table("edges_pp")
        .filter(F.col("src") < F.col("dst"))
        .transform(checkpoint_without_stats)
    )
    # start from a zero-row frame with the edge schema so an empty graph
    # (the loop breaks before matching anything) returns empty, not None
    matched = active.select("src", "dst").limit(0)
    for rnd in range(MATCH_MAX_ROUNDS):
        if active.limit(1).count() == 0:
            break
        # r12: no checkpoint here — pri is a deterministic narrow map
        # (xxhash64 of the row + round literal) over the ALREADY
        # materialized `active`, so the three consumers below recompute
        # it from in-memory blocks for less than the full second copy
        # of the edge set the old per-round checkpoint wrote (one fewer
        # action and one fewer resident block set per round; identical
        # priorities, hence identical matching)
        e = active.withColumn(
            "pri",
            F.struct(
                F.xxhash64(F.col("src"), F.col("dst"), F.lit(rnd)),
                F.col("src"),
                F.col("dst"),
            ),
        )
        inc = e.select(F.col("src").alias("x"), "pri").unionAll(
            e.select(F.col("dst").alias("x"), "pri")
        )
        vmin = inc.groupBy("x").agg(F.min("pri").alias("m"))
        hands = (
            e.join(
                vmin.select(F.col("x").alias("u"), F.col("m").alias("mu")),
                (F.col("src") == F.col("u")) & (F.col("pri") == F.col("mu")),
            )
            .join(
                vmin.select(F.col("x").alias("v"), F.col("m").alias("mv")),
                (F.col("dst") == F.col("v")) & (F.col("pri") == F.col("mv")),
            )
            .select("src", "dst")
            .transform(checkpoint_without_stats)
        )
        matched = matched.unionAll(hands)
        gone = (
            hands.select(F.col("src").alias("g"))
            .unionAll(hands.select(F.col("dst").alias("g")))
            .distinct()
        )
        active = (
            active.join(gone, F.col("src") == F.col("g"), "left_anti")
            .join(gone, F.col("dst") == F.col("g"), "left_anti")
            .transform(checkpoint_without_stats)
        )
    else:
        if not active.isEmpty():
            raise RuntimeError(
                f"iter_maximal_matching: MATCH_MAX_ROUNDS={MATCH_MAX_ROUNDS} "
                "exhausted with active edges left; the matching would not "
                "be maximal"
            )
    return matched.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).orderBy("u")


QUERIES = {
    "window_kama": q_window_kama,
    "window_linreg_channel": q_window_linreg_channel,
    "fn_fiscal_445": q_fn_fiscal_445,
    "iter_maximal_matching": q_iter_maximal_matching,
}

ORACLES = {
    "window_kama": (
        "WITH li AS (SELECT l_orderkey AS ok, l_linenumber AS ln, "
        "strftime(l_shipdate, '%Y-%m-%d') AS day, "
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "AS cents FROM lineitem), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY day "
        "ORDER BY ok DESC, ln DESC) AS rn_d FROM li), "
        "bars AS (SELECT day, max(CASE WHEN rn_d = 1 THEN cents END) AS c "
        "FROM r GROUP BY 1), "
        "diffed AS (SELECT day, c, "
        f"abs(c - lag(c, {KAMA_N}) OVER (ORDER BY day)) AS chg, "
        "abs(c - lag(c, 1) OVER (ORDER BY day)) AS d1 FROM bars), "
        "vol AS (SELECT day, c, chg, "
        f"sum(d1) OVER (ORDER BY day ROWS BETWEEN {KAMA_N - 1} PRECEDING "
        "AND CURRENT ROW) AS vol, "
        f"count(d1) OVER (ORDER BY day ROWS BETWEEN {KAMA_N - 1} PRECEDING "
        "AND CURRENT ROW) AS nv FROM diffed), "
        "scored AS (SELECT day, c, "
        "(CASE WHEN vol > 0 THEN chg / CAST(vol AS DOUBLE) ELSE 0.0 END "
        f"* ({KAMA_FAST!r} - {KAMA_SLOW!r}) + {KAMA_SLOW!r}) "
        "* (CASE WHEN vol > 0 THEN chg / CAST(vol AS DOUBLE) ELSE 0.0 END "
        f"* ({KAMA_FAST!r} - {KAMA_SLOW!r}) + {KAMA_SLOW!r}) AS sc "
        f"FROM vol WHERE chg IS NOT NULL AND nv = {KAMA_N}), "
        "framed AS (SELECT day, "
        "list({'day': day, 'sc': sc, 'c': c}) OVER "
        "(ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "AS arr FROM scored) "
        # acc is a struct of the SAME shape as the elements; only .c
        # accumulates and it reads only its own slot, so DuckDB 1.0's
        # in-place field-by-field fold mutation is harmless here
        "SELECT day, arr[-1].c / 100.0 AS close, "
        "round(list_reduce(list_transform(arr, x -> "
        "{'sc': x.sc, 'c': CAST(x.c AS DOUBLE)}), "
        "(acc, x) -> {'sc': x.sc, 'c': acc.c + x.sc * (x.c - acc.c)}).c "
        "/ 100.0, 6) AS kama FROM framed"
    ),
    "window_linreg_channel": (
        "WITH li AS (SELECT "
        f"date_diff('day', DATE '{FISCAL_ANCHOR}', l_shipdate) AS x, "
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "AS cents, l_orderkey AS ok, l_linenumber AS ln FROM lineitem), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY x "
        "ORDER BY ok DESC, ln DESC) AS rn_d FROM li), "
        "bars AS (SELECT x, max(CASE WHEN rn_d = 1 THEN cents END) AS y "
        "FROM r GROUP BY 1), "
        "sums AS (SELECT x, y, "
        f"count(*) OVER w AS n, sum(x) OVER w AS sx, sum(y) OVER w AS sy, "
        "sum(x::HUGEINT * y) OVER w AS sxy, sum(x * x) OVER w AS sxx, "
        "sum(y::HUGEINT * y) OVER w AS syy FROM bars "
        f"WINDOW w AS (ORDER BY x ROWS BETWEEN {LRC_N - 1} PRECEDING "
        "AND CURRENT ROW)), "
        "s AS (SELECT x, y, n, "
        "CAST(n * sxy - sx::HUGEINT * sy AS DOUBLE) AS bsxy, "
        "CAST(n * sxx - sx * sx AS DOUBLE) AS bsxx, "
        "CAST(n * syy - sy::HUGEINT * sy AS DOUBLE) AS bsyy, sx, sy "
        f"FROM sums WHERE n = {LRC_N}) "
        "SELECT CAST(x AS INT) AS x, y / 100.0 AS close, "
        "round(((CAST(sy AS DOUBLE) - bsxy / bsxx * sx) / n "
        "+ bsxy / bsxx * x) / 100.0, 6) AS mid, "
        "round(((CAST(sy AS DOUBLE) - bsxy / bsxx * sx) / n "
        "+ bsxy / bsxx * x "
        f"+ {LRC_SIGMAS!r} * sqrt((bsyy - bsxy * bsxy / bsxx) "
        "/ (n * (n - 2)))) / 100.0, 6) AS upper, "
        "round(((CAST(sy AS DOUBLE) - bsxy / bsxx * sx) / n "
        "+ bsxy / bsxx * x "
        f"- {LRC_SIGMAS!r} * sqrt((bsyy - bsxy * bsxy / bsxx) "
        "/ (n * (n - 2)))) / 100.0, 6) AS lower, "
        "round(bsxy / bsxx, 6) AS slope_cents_per_day FROM s"
    ),
    "fn_fiscal_445": (
        "WITH d AS (SELECT o_orderkey, o_orderdate, "
        f"date_diff('day', DATE '{FISCAL_ANCHOR}', o_orderdate) AS x "
        "FROM orders) "
        "SELECT o_orderkey, o_orderdate, "
        "CAST(1992 + (x // 7) // 52 AS INT) AS fiscal_year, "
        "CAST(1 + ((x // 7) % 52) // 13 AS INT) AS fiscal_quarter, "
        "CAST(CASE WHEN ((x // 7) % 52) % 13 < 4 THEN 1 "
        "WHEN ((x // 7) % 52) % 13 < 8 THEN 2 ELSE 3 END AS INT) "
        "AS period_in_quarter, "
        "CAST(1 + (x // 7) % 52 AS INT) AS fiscal_week FROM d"
    ),
    # iter_maximal_matching: rows-only by design (matching is not unique
    # SQL); property-verified in tests/test_r6x_matching.py
}
