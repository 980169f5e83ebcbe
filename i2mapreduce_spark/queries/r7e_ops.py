"""Round-6 additions, batch 31: Shapley-value channel attribution (the
game-theoretic upgrade of window_attribution's last-touch/linear
rules), a Feistel format-preserving id permutation (deterministic,
INVERTIBLE obfuscation — roundtrip proven per row), absorbing-Markov
funnel iteration (iterating the matrix agg_markov_transitions only
reports), and a water-filling token-budget allocator (the
corpus-mixture scheduler that respects per-source supply caps).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load_tables
from ..plans.iterate import iterate

#: Shapley channels (the grand coalition) and the conversion event
SHAP_CHANNELS = ("view", "click", "signup")

#: Feistel: rounds and 16-bit half modulus
FEISTEL_ROUNDS = 4
FEISTEL_M = 65536

#: Markov absorption sweeps and the absorbing state
MARKOV_K = 12
MARKOV_ABSORB = "purchase"

#: token budget to allocate across documents.source groups
BUDGET_TOKENS = 100_000


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


def _feistel(key: str, dialect: str, inverse: bool = False) -> str:
    """Unrolled Feistel network with modular ADDITION (invertible like
    XOR but dialect-portable: DuckDB's ^ is power, Spark lacks xor()).
    Round function = 16 bits of md5(half || '|' || round).  Returns an
    expression for the permuted (or recovered) 32-bit id."""
    if dialect == "spark":
        def h2i(s):
            return f"CAST(conv(substring(md5({s}), 1, 4), 16, 10) AS BIGINT)"

        str_t = "STRING"
        div = "div"
    else:
        def h2i(s):
            return f"(('0x' || substr(md5({s}), 1, 4))::BIGINT)"

        str_t = "VARCHAR"
        div = "//"
    L = f"(({key}) {div} {FEISTEL_M})"
    R = f"(({key}) % {FEISTEL_M})"
    rounds = range(FEISTEL_ROUNDS)
    if not inverse:
        for r in rounds:
            arg = f"CAST({R} AS {str_t}) || '|{r}'"
            fr = f"({h2i(arg)} % {FEISTEL_M})"
            L, R = R, f"(({L} + {fr}) % {FEISTEL_M})"
    else:
        for r in reversed(rounds):
            arg = f"CAST({L} AS {str_t}) || '|{r}'"
            fr = f"({h2i(arg)} % {FEISTEL_M})"
            L, R = (
                f"((({R} - {fr}) % {FEISTEL_M} + {FEISTEL_M}) % {FEISTEL_M})",
                L,
            )
    return f"({L} * {FEISTEL_M} + {R})"


def q_fn_feistel_permute(spark, sf_dir):
    """Format-preserving PSEUDORANDOM PERMUTATION of order keys — a
    4-round Feistel network over 16-bit halves with md5 round functions
    and modular addition: deterministic, collision-free by construction,
    and INVERTIBLE — the decode chain runs the rounds backwards and the
    roundtrip equality ships as an output column.  The id-obfuscation
    primitive for sharing keyed data without leaking sequence order.
    Spark VARCHAR cast quirk avoided by casting halves to string before
    hashing; everything else is md5 + integer ops identical in both
    engines."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    enc = o.select(
        "o_orderkey",
        F.expr(_feistel("o_orderkey", "spark")).alias("permuted_id"),
    )
    return enc.select(
        "o_orderkey",
        "permuted_id",
        F.expr(_feistel("permuted_id", "spark", inverse=True)).alias(
            "recovered"
        ),
        (
            F.expr(_feistel("permuted_id", "spark", inverse=True))
            == F.col("o_orderkey")
        ).alias("roundtrip_ok"),
    )


def _markov_step(vp: str, tm: str, dialect: str) -> str:
    """One v' = vP sweep: for every state b, sum over incoming
    transitions of v[a] * k_ab / k_a, folded in the (sorted) transition
    array's fixed order — identical float sequences on both engines."""
    if dialect == "spark":
        look = f"element_at(filter({vp}, y -> y.s = x.a), 1).p"
        return (
            f"transform({vp}, vb -> named_struct('s', vb.s, 'p', "
            f"aggregate(filter({tm}, x -> x.b = vb.s), cast(0.0 as double), "
            f"(acc, x) -> acc + {look} * x.k / x.ka)))"
        )
    look = f"list_filter({vp}, y -> y.s = x.a)[1].p"
    return (
        f"list_transform({vp}, vb -> {{'s': vb.s, 'p': "
        f"list_reduce(list_prepend(0.0, list_transform("
        f"list_filter({tm}, x -> x.b = vb.s), "
        f"x -> {look} * x.k / x.ka)), (acc, w) -> acc + w)}})"
    )


def q_iter_markov_absorption(spark, sf_dir):
    """ABSORBING Markov funnel: iterate the per-user event-transition
    chain K=12 steps from a uniform start over non-purchase states, with
    'purchase' made absorbing — the probability mass absorbed by step K
    is the funnel's eventual-conversion estimate (the iteration on top
    of the matrix that agg_markov_transitions only reports).

    The state space is the bounded event-type enum, so the transition
    matrix and the state vector travel as two sorted struct arrays and
    each sweep is one ordered-fold transform, bound per iteration to a
    localCheckpoint / MATERIALIZED CTE (the Sinkhorn lesson: engines
    inline chained array expressions exponentially otherwise)."""
    load_tables(spark, sf_dir)
    from pyspark.sql import Window

    e = spark.table("events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    # absorbing: rewrite purchase's outgoing edges as a self-loop
    pairs = pairs.select(
        "a",
        F.when(F.col("a") == MARKOV_ABSORB, F.lit(MARKOV_ABSORB)).otherwise(
            F.col("b")
        ).alias("b"),
    )
    tm = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("k"))
        .withColumn(
            "ka", F.sum("k").over(Window.partitionBy("a"))
        )
    )
    states = tm.select(F.col("a").alias("s")).distinct()
    v0 = states.select(
        "s",
        F.when(F.col("s") == MARKOV_ABSORB, F.lit(0.0))
        .otherwise(F.lit(0.25))
        .alias("p"),
    )
    packed = tm.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("a", "b", "k", "ka"))).alias(
            "tm"
        )
    ).crossJoin(
        v0.groupBy().agg(
            F.array_sort(F.collect_list(F.struct("s", "p"))).alias("vp")
        )
    )

    def sweep(state, _i):
        return state.select(
            "tm", F.expr(_markov_step("vp", "tm", "spark")).alias("vp")
        )

    res = iterate(packed, sweep, MARKOV_K, checkpoint_every=1)
    out = res.state.select(F.explode("vp").alias("c"))
    return out.select(
        F.col("c")["s"].alias("state"),
        F.round(F.col("c")["p"], 6).alias("mass_after_k"),
    )


def q_pipeline_token_budget(spark, sf_dir):
    """WATER-FILLING token-budget allocation across corpus sources: give
    every source an equal share of the training-token budget, but a
    source can't supply more than it has — its surplus redistributes
    among the rest (the classic max-min fair allocator; the scheduler
    that turns pipeline_mixture_weights into an executable plan).

    Closed form over the bounded source enum: sort sources by available
    tokens ascending, then alloc_i = min(avail_i, floor(remaining /
    sources_left)) with `remaining` folded over the prefix — evaluated
    per source as an O(k^2) ordered fold over ONE sorted array, all
    exact integers (the fold accumulator is a single BIGINT slot, safe
    under DuckDB's in-place fold)."""
    load_tables(spark, sf_dir)
    # complete-case: a missing document supplies no tokens to budget
    d = spark.table("documents").filter(F.col("text").isNotNull())
    per = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("avail")
    )
    from pyspark.sql import Window

    per = per.withColumn(
        "idx",
        F.row_number().over(Window.orderBy("avail", "source")).cast("long"),
    )
    packed = per.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("idx", "source", "avail"))).alias(
            "arr"
        ),
        F.count(F.lit(1)).alias("k"),
    )
    # spent before element idx: fold the allocation rule over the prefix
    spent = (
        "aggregate(slice(arr, 1, CAST(x.idx - 1 AS INT)), 0L, (acc, y) -> "
        f"acc + least(y.avail, ({BUDGET_TOKENS} - acc) div (k - y.idx + 1)))"
    )
    rows = packed.select("k", F.explode("arr").alias("x"), F.col("arr"))
    alloc = F.expr(
        f"least(x.avail, ({BUDGET_TOKENS} - {spent}) div (k - x.idx + 1))"
    )
    return rows.select(
        F.col("x")["source"].alias("source"),
        F.col("x")["avail"].alias("avail_tokens"),
        alloc.cast("long").alias("alloc_tokens"),
        (F.col("x")["avail"] <= alloc).alias("supply_capped"),
    )


QUERIES = {
    "agg_shapley_attribution": q_agg_shapley_attribution,
    "fn_feistel_permute": q_fn_feistel_permute,
    "iter_markov_absorption": q_iter_markov_absorption,
    "pipeline_token_budget": q_pipeline_token_budget,
}


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


ORACLES = {
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
    "fn_feistel_permute": (
        "WITH enc AS (SELECT o_orderkey, "
        + _feistel("o_orderkey", "duckdb")
        + " AS permuted_id FROM orders) "
        "SELECT o_orderkey, permuted_id, "
        + _feistel("permuted_id", "duckdb", inverse=True)
        + " AS recovered, "
        + _feistel("permuted_id", "duckdb", inverse=True)
        + " = o_orderkey AS roundtrip_ok FROM enc"
    ),
    "iter_markov_absorption": (
        "WITH pairs0 AS (SELECT event_type AS a, "
        "lead(event_type) OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id) AS b FROM events), "
        f"pairs AS (SELECT a, CASE WHEN a = '{MARKOV_ABSORB}' "
        f"THEN '{MARKOV_ABSORB}' ELSE b END AS b FROM pairs0 "
        "WHERE b IS NOT NULL), "
        "tm0 AS (SELECT a, b, CAST(count(*) AS DOUBLE) AS k "
        "FROM pairs GROUP BY 1, 2), "
        "tmr AS (SELECT a, b, k, sum(k) OVER (PARTITION BY a) AS ka "
        "FROM tm0), "
        "t0 AS MATERIALIZED (SELECT "
        "(SELECT list({'a': a, 'b': b, 'k': k, 'ka': ka} "
        "ORDER BY a, b) FROM tmr) AS tm, "
        "(SELECT list({'s': s, 'p': CASE WHEN s = "
        f"'{MARKOV_ABSORB}' THEN 0.0 ELSE 0.25 END}} ORDER BY s) "
        "FROM (SELECT DISTINCT a AS s FROM tmr)) AS vp0), "
        + ", ".join(
            f"t{i + 1} AS MATERIALIZED (SELECT tm, "
            + _markov_step(f"vp{i}", "tm", "duckdb")
            + f" AS vp{i + 1} FROM t{i})"
            for i in range(MARKOV_K)
        )
        + f", s AS (SELECT unnest(vp{MARKOV_K}) AS c FROM t{MARKOV_K}) "
        "SELECT c.s AS state, round(c.p, 6) AS mass_after_k FROM s"
    ),
    # the prefix fold uses a UNIFORM struct list with a zero sentinel as
    # the init element (DuckDB 1.0 list_reduce has no explicit init and
    # rejects heterogeneous acc/element types); only the .sp slot
    # accumulates and it reads only itself -> in-place-fold safe
    "pipeline_token_budget": (
        "WITH per AS (SELECT source, "
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail "
        "FROM documents WHERE text IS NOT NULL GROUP BY 1), "
        "idxd AS (SELECT source, avail, CAST(row_number() OVER "
        "(ORDER BY avail, source) AS BIGINT) AS idx FROM per), "
        "packed AS (SELECT list({'idx': idx, 'source': source, "
        "'avail': avail} ORDER BY idx) AS arr, count(*) AS k FROM idxd), "
        "rows AS (SELECT k, unnest(arr) AS x, arr FROM packed), "
        "sp AS (SELECT k, x, list_reduce(list_prepend("
        "{'idx': CAST(0 AS BIGINT), 'avail': CAST(0 AS BIGINT), "
        "'sp': CAST(0 AS BIGINT)}, "
        "list_transform(arr[1:CAST(x.idx - 1 AS INT)], y -> "
        "{'idx': y.idx, 'avail': y.avail, 'sp': CAST(0 AS BIGINT)})), "
        "(acc, y) -> {'idx': y.idx, 'avail': y.avail, "
        f"'sp': acc.sp + least(y.avail, ({BUDGET_TOKENS} - acc.sp) "
        "// (k - y.idx + 1))}).sp AS spent FROM rows) "
        "SELECT x.source AS source, x.avail AS avail_tokens, "
        f"CAST(least(x.avail, ({BUDGET_TOKENS} - spent) "
        "// (k - x.idx + 1)) AS BIGINT) AS alloc_tokens, "
        f"x.avail <= least(x.avail, ({BUDGET_TOKENS} - spent) "
        "// (k - x.idx + 1)) AS supply_capped FROM sp"
    ),
}
