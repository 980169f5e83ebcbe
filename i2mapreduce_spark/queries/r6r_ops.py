"""Round-6 additions, batch 18: Cramér's V effect size (completing the
chi-square machinery with the statistic analysts actually report),
Supertrend (the ratcheting-band trend filter — a second, distinct
integer state machine), and Katz centrality in PURE INTEGER arithmetic
(order-free exact sums, no float in the iteration).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..catalog import cte, load_tables
from ..operators import algorithms
from ..plans.iterate import checkpoint_without_stats

#: Supertrend parameters
ST_ATR_N = 10     #: ATR lookback (days)
ST_MULT = 3       #: band multiplier

#: Katz centrality: alpha = 1/KATZ_DEN (exact rational), fixed sweeps
KATZ_DEN = 20
KATZ_ITERS = 4
KATZ_UNIT = 1_000_000  #: centrality fixed-point unit


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


def _st_step(fub: str, flb: str, t: str, pc: str, bu: str, bl: str, c: str,
             dialect: str) -> dict[str, str]:
    """One Supertrend transition over integer cents: the upper band only
    RATCHETS DOWN (and resets when the prior close broke above it), the
    lower band only ratchets up; trend flips when the close crosses the
    new opposite band.  All comparisons are exact integers."""
    nfub = (
        f"(CASE WHEN {bu} < {fub} OR {pc} > {fub} THEN {bu} "
        f"ELSE {fub} END)"
    )
    nflb = (
        f"(CASE WHEN {bl} > {flb} OR {pc} < {flb} THEN {bl} "
        f"ELSE {flb} END)"
    )
    nt = (
        f"(CASE WHEN {c} > {nfub} THEN 1 "
        f"WHEN {c} < {nflb} THEN -1 ELSE {t} END)"
    )
    return {"fub": nfub, "flb": nflb, "t": nt, "pc": c}


def q_window_supertrend(spark, sf_dir):
    """Supertrend(10, 3) over ship-day bars of lineitem prices — the
    ratcheting-band trend filter: basic bands mid ± 3·ATR-10, final
    bands that only tighten until price breaks them, trend from close
    vs the fresh opposite band, and the supertrend line = the active
    band.  A second nonlinear integer state machine alongside
    window_parabolic_sar — the band RATCHET (monotone clamps with
    breakout resets) is a different transition family from SAR's
    accelerating stop.

    Bands/ATR are exact integer cents (half-up ATR mean like Keltner);
    the state (fub, flb, trend, prev close) evolves from the series
    start — Spark prefix fold, recursive-CTE oracle, python replay in
    pytest."""
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
        F.max("cents").alias("h"),
        F.min("cents").alias("l"),
        F.max(F.when(F.col("rn_d") == 1, F.col("cents"))).alias("c"),
    )
    w = Window.orderBy("day")
    pc0 = F.lag("c").over(w)
    tr = F.when(pc0.isNull(), F.col("h") - F.col("l")).otherwise(
        F.greatest(
            F.col("h") - F.col("l"),
            F.abs(F.col("h") - pc0),
            F.abs(F.col("l") - pc0),
        )
    )
    wa = Window.orderBy("day").rowsBetween(-(ST_ATR_N - 1), 0)
    banded = (
        bars.select("day", "h", "l", "c", tr.alias("tr_c"))
        .select(
            "day",
            "h",
            "l",
            "c",
            F.sum("tr_c").over(wa).alias("trs"),
            F.count(F.lit(1)).over(wa).alias("na"),
        )
        .filter(F.col("na") == ST_ATR_N)
        .select(
            "day",
            "c",
            (
                F.expr("(h + l + 1) div 2")
                + ST_MULT * F.expr(f"(2 * trs + {ST_ATR_N}) div {2 * ST_ATR_N}")
            ).alias("bu"),
            (
                F.expr("(h + l + 1) div 2")
                - ST_MULT * F.expr(f"(2 * trs + {ST_ATR_N}) div {2 * ST_ATR_N}")
            ).alias("bl"),
        )
    )
    wf = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    framed = banded.select(
        "day",
        F.collect_list(F.struct("bu", "bl", "c")).over(wf).alias("arr"),
    )
    s = _st_step("acc.fub", "acc.flb", "acc.t", "acc.pc",
                 "x.bu", "x.bl", "x.c", "spark")
    fold = (
        "aggregate(slice(arr, 2, size(arr) - 1), "
        "named_struct('fub', element_at(arr, 1).bu, "
        "'flb', element_at(arr, 1).bl, 't', 1L, "
        "'pc', element_at(arr, 1).c), "
        f"(acc, x) -> named_struct('fub', {s['fub']}, 'flb', {s['flb']}, "
        f"'t', cast({s['t']} as bigint), 'pc', {s['pc']}))"
    )
    st = F.expr(fold)
    return framed.select(
        "day",
        st["t"].alias("trend"),
        (st["fub"] / 100.0).alias("upper_band"),
        (st["flb"] / 100.0).alias("lower_band"),
        (
            F.when(st["t"] == 1, st["flb"]).otherwise(st["fub"]) / 100.0
        ).alias("supertrend"),
    )


def q_iter_katz_centrality(spark, sf_dir):
    """Katz centrality over the co-purchase graph in PURE INTEGER
    fixed-point: x' = UNIT + (2·Σ_in x + DEN) div (2·DEN) per node
    (alpha = 1/20 exact), 4 synchronous sweeps from x = UNIT — integer
    sums are order-free-exact, so unlike float PageRank there is no
    reduction-order hazard anywhere.  Each sweep is one `algorithms.gimv`
    round (combine2 = neighbor value, combineAll = sum, assign = the
    fixed-point update): one co-partitioned join + hash agg.  The DuckDB
    oracle unrolls the same 4 sweeps."""
    load_tables(spark, sf_dir)
    edges = spark.table("edges_pp").transform(checkpoint_without_stats)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .transform(checkpoint_without_stats)
    )
    res = algorithms.gimv(
        edges,
        nodes.select("node", F.lit(KATZ_UNIT).cast("long").alias("val")),
        combine2=lambda _w, v: v,
        combine_all=F.sum,
        assign=lambda _v, agg: (
            F.lit(KATZ_UNIT)
            + F.call_function(
                "div", 2 * F.coalesce(agg, F.lit(0)) + KATZ_DEN,
                F.lit(2 * KATZ_DEN),
            )
        ).cast("long"),
        iters=KATZ_ITERS,
        checkpoint_every=1,
    )
    return res.state.select(
        "node",
        F.col("val").alias("x"),
        F.round(F.col("val") / KATZ_UNIT, 6).alias("katz"),
    )


QUERIES = {
    "agg_cramers_v": q_agg_cramers_v,
    "window_supertrend": q_window_supertrend,
    "iter_katz_centrality": q_iter_katz_centrality,
}

_ST_D = _st_step("w.fub", "w.flb", "w.t", "w.pc", "n.bu", "n.bl", "n.c",
                 "duckdb")


def _katz_unroll() -> str:
    """Unrolled 4-sweep integer Katz as chained CTEs."""
    out = (
        ", nodes AS (SELECT src AS node FROM edges_pp UNION "
        "SELECT dst FROM edges_pp), "
        f"x0 AS (SELECT node, CAST({KATZ_UNIT} AS BIGINT) AS x FROM nodes)"
    )
    for i in range(KATZ_ITERS):
        out += (
            f", m{i} AS (SELECT e.dst AS node, sum(x.x) AS s "
            f"FROM x{i} x JOIN edges_pp e ON e.src = x.node GROUP BY e.dst)"
            f", x{i + 1} AS (SELECT n.node, CAST({KATZ_UNIT} + "
            f"(2 * coalesce(m.s, 0) + {KATZ_DEN}) // {2 * KATZ_DEN} "
            f"AS BIGINT) AS x FROM nodes n LEFT JOIN m{i} m USING (node))"
        )
    return out


ORACLES = {
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
    "window_supertrend": (
        "WITH RECURSIVE li AS (SELECT l_orderkey AS ok, l_linenumber AS ln, "
        "strftime(l_shipdate, '%Y-%m-%d') AS day, "
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "FROM lineitem), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY day "
        "ORDER BY ok DESC, ln DESC) AS rn_d FROM li), "
        "bars AS (SELECT day, max(cents) AS h, min(cents) AS l, "
        "max(CASE WHEN rn_d = 1 THEN cents END) AS c FROM r GROUP BY 1), "
        "trd AS (SELECT day, h, l, c, CASE WHEN lag(c) OVER (ORDER BY day) "
        "IS NULL THEN h - l ELSE greatest(h - l, "
        "abs(h - lag(c) OVER (ORDER BY day)), "
        "abs(l - lag(c) OVER (ORDER BY day))) END AS tr_c FROM bars), "
        "banded AS (SELECT day, c, "
        f"(h + l + 1) // 2 + {ST_MULT} * ((2 * sum(tr_c) OVER wa + "
        f"{ST_ATR_N}) // {2 * ST_ATR_N}) AS bu, "
        f"(h + l + 1) // 2 - {ST_MULT} * ((2 * sum(tr_c) OVER wa + "
        f"{ST_ATR_N}) // {2 * ST_ATR_N}) AS bl, "
        "count(*) OVER wa AS na FROM trd "
        f"WINDOW wa AS (ORDER BY day ROWS BETWEEN {ST_ATR_N - 1} "
        "PRECEDING AND CURRENT ROW)), "
        f"idx AS MATERIALIZED (SELECT day, bu, bl, c, "
        f"row_number() OVER (ORDER BY day) AS i FROM banded "
        f"WHERE na = {ST_ATR_N}), "
        "walk(i, day, fub, flb, t, pc) AS ("
        "SELECT i, day, bu, bl, CAST(1 AS BIGINT), c FROM idx WHERE i = 1 "
        "UNION ALL SELECT n.i, n.day, "
        f"{_ST_D['fub']}, {_ST_D['flb']}, CAST({_ST_D['t']} AS BIGINT), "
        f"{_ST_D['pc']} "
        "FROM walk w JOIN idx n ON n.i = w.i + 1) "
        "SELECT day, t AS trend, fub / 100.0 AS upper_band, "
        "flb / 100.0 AS lower_band, "
        "(CASE WHEN t = 1 THEN flb ELSE fub END) / 100.0 AS supertrend "
        "FROM walk"
    ),
    "iter_katz_centrality": (
        cte("edges_pp")
        + _katz_unroll()
        + f" SELECT node, x, round(x / {KATZ_UNIT}.0, 6) AS katz "
        f"FROM x{KATZ_ITERS}"
    ),
}
