"""Group Q — data-quality operators (Deequ-style): column profiling,
referential-integrity audit, and declarative constraint checking.

A 100 TB corpus build runs these before anything else: a profile pass
(null rates / distinct counts / ranges per column), an FK-orphan audit
across the star schema, and a rule table of row-level constraints whose
violation counts gate the pipeline.  All three are single-pass
aggregations (the profile computes every column's metrics in ONE scan,
not one scan per column) so the cost at scale is one read of the table.

All hash-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..catalog import TABLES, load_tables

#: profiled lineitem columns: (name, is_numeric) — numeric min/max are cast
#: through DECIMAL(18,2) so both engines render identical varchar forms
_PROFILE_COLS = [
    ("l_quantity", True),
    ("l_extendedprice", True),
    ("l_discount", True),
    ("l_returnflag", False),
    ("l_linestatus", False),
]

#: (rule_name, table, SQL predicate that GOOD rows satisfy) — dialect-portable
_RULES = [
    ("quantity_1_50", "lineitem", "l_quantity BETWEEN 1 AND 50"),
    ("discount_0_10pct", "lineitem", "l_discount BETWEEN 0.0 AND 0.10"),
    ("extprice_positive", "lineitem", "l_extendedprice > 0"),
    ("shipdate_not_null", "lineitem", "l_shipdate IS NOT NULL"),
    ("returnflag_domain", "lineitem", "l_returnflag IN ('A', 'N', 'R')"),
    ("totalprice_positive", "orders", "o_totalprice > 0"),
    ("orderstatus_domain", "orders", "o_orderstatus IN ('O', 'F', 'P')"),
]

#: (fk_name, child table, child key, parent table, parent key)
_FKS = [
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier_nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
]


def _minmax_str(c: str, numeric: bool, agg: str):
    x = F.min(c) if agg == "min" else F.max(c)
    if numeric:
        return x.cast("decimal(18,2)").cast("string")
    return x.cast("string")


def q_dq_profile(spark, sf_dir):
    """Column profile of lineitem: rows / nulls / distinct / min / max per
    column, computed in ONE scan.

    Plan: all per-column aggregates land in a single Aggregate node (the
    multi-distinct is rewritten by Catalyst into one expand + two-phase
    agg), then the 1-row result is exploded into one row per column —
    exactly one pass over the table regardless of column count.  At
    100 TB this is the difference between a profile that costs one scan
    and one that costs #columns scans."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c, num in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            _minmax_str(c, num, "min").alias(f"{c}__min"),
            _minmax_str(c, num, "max").alias(f"{c}__max"),
        ]
    one = li.agg(*aggs)
    structs = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col("_n").alias("n_rows"),
            (F.col("_n") - F.col(f"{c}__nn")).alias("n_null"),
            F.col(f"{c}__nd").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_value"),
            F.col(f"{c}__max").alias("max_value"),
        )
        for c, _ in _PROFILE_COLS
    ])
    return one.select(F.explode(structs).alias("p")).select("p.*")


def q_dq_referential_integrity(spark, sf_dir):
    """FK-orphan audit over the star schema: for each declared FK edge,
    the child row count and the number of child rows whose key has no
    parent (NULL keys counted separately as n_null_key).

    Plan: each edge is a left-anti join; every parent key side here is a
    dimension (orders is the largest) so Spark broadcasts it under AQE —
    at 100 TB the fact-side scan stays shuffle-free for the true
    dimensions and shuffles once for lineitem→orders.  Edges are
    independent jobs; the union is a no-barrier concat."""
    load_tables(spark, sf_dir)
    parts = []
    for name, child, ck, parent, pk in _FKS:
        c = spark.table(child)
        p = spark.table(parent).select(F.col(pk).alias(ck)).distinct()
        orphans = (
            c.filter(F.col(ck).isNotNull())
            .join(p, ck, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphan"))
        )
        stats = c.agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.col(ck).isNull().cast("bigint")).alias("n_null_key"),
        )
        parts.append(
            stats.crossJoin(orphans).select(
                F.lit(name).alias("fk_name"), "n_child", "n_null_key", "n_orphan"
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionAll(x)
    return out


def q_dq_constraint_check(spark, sf_dir):
    """Declarative row-constraint audit: for each rule, rows checked,
    violations, and the violation rate.  The predicates are SQL strings
    shared verbatim with the oracle, so the semantics under NULL are
    identical by construction (a NULL predicate counts as a violation —
    unknown is not proof of validity).

    Plan: rules against the same table fuse into one conditional
    aggregation per table — one scan of lineitem, one of orders."""
    load_tables(spark, sf_dir)
    by_table: dict[str, list[tuple[str, str]]] = {}
    for rule, table, pred in _RULES:
        by_table.setdefault(table, []).append((rule, pred))
    parts = []
    for table, rules in by_table.items():
        t = spark.table(table)
        aggs = [F.count(F.lit(1)).alias("_n")]
        for rule, pred in rules:
            good = F.expr(pred)
            aggs.append(
                F.sum(F.when(good, 0).otherwise(1)).alias(f"{rule}__v")
            )
        one = t.agg(*aggs)
        structs = F.array(*[
            F.struct(
                F.lit(rule).alias("rule"),
                F.col("_n").alias("n_checked"),
                F.col(f"{rule}__v").alias("n_violations"),
                F.round(F.col(f"{rule}__v") / F.col("_n"), 6).alias("violation_rate"),
            )
            for rule, _ in rules
        ])
        parts.append(one.select(F.explode(structs).alias("r")).select("r.*"))
    out = parts[0]
    for x in parts[1:]:
        out = out.unionAll(x)
    return out


#: PSI bins and the day boundary splitting reference vs current windows
PSI_BINS = 10
PSI_SPLIT_DAY = 15
PSI_EPS = 1e-6


def q_dq_drift_psi(spark, sf_dir):
    """Distribution-drift audit via the population stability index: the
    events stream is split into a reference window (day of month ≤ 15)
    and a current window, values are bucketed into 10 equal-width bins
    over the GLOBAL min/max, and per event type
    PSI = Σ_bins (p_cur - p_ref)·ln(p_cur/p_ref) with ε-smoothing.
    PSI < 0.1 is stable, > 0.25 is actionable drift — the standard
    production-ML input-drift gate.

    Plan: two scans fuse into one (conditional aggregation over the
    window flag); bin edges are broadcast scalars; everything else is a
    10×5-row arithmetic — the audit costs one pass at any scale."""
    load_tables(spark, sf_dir)
    ev = spark.table("events").select(
        "event_type", "value", (F.dayofmonth("ts") <= PSI_SPLIT_DAY).alias("is_ref")
    )
    rng = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    binned = ev.crossJoin(F.broadcast(rng)).select(
        "event_type",
        "is_ref",
        # try_divide: a constant value column (hi = lo on a degenerate
        # slice) has one bin — NULL ratio on both engines, and least()
        # skips the NULL to land every row in the top bin either way
        F.least(
            F.lit(PSI_BINS - 1),
            F.floor(
                F.try_divide(
                    F.col("value") - F.col("lo"), F.col("hi") - F.col("lo")
                ) * PSI_BINS
            ),
        ).cast("int").alias("bin"),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum(F.col("is_ref").cast("long")).alias("n_ref"),
        F.sum((~F.col("is_ref")).cast("long")).alias("n_cur"),
    )
    tot = Window.partitionBy("event_type")
    # try_divide: a slice entirely before/after the split day has one
    # empty side — its distribution (and PSI) is NULL on both engines
    p_ref = F.try_divide("n_ref", F.sum("n_ref").over(tot)) + PSI_EPS
    p_cur = F.try_divide("n_cur", F.sum("n_cur").over(tot)) + PSI_EPS
    term = (p_cur - p_ref) * F.log(p_cur / p_ref)
    return (
        counts.select("event_type", term.alias("t"))
        .groupBy("event_type")
        .agg(F.round(F.sum("t"), 6).alias("psi"))
    )


#: declared candidate keys: (name, table, [key columns])
_UNIQUE_KEYS = [
    ("orders_pk", "orders", ["o_orderkey"]),
    ("lineitem_pk", "lineitem", ["l_orderkey", "l_linenumber"]),
    ("events_pk", "events", ["event_id"]),
    ("customer_pk", "customer", ["c_custkey"]),
    ("part_pk", "part", ["p_partkey"]),
]


def q_dq_uniqueness(spark, sf_dir):
    """Candidate-key uniqueness audit: for each declared key, total rows,
    distinct key values, duplicate-row count, and the pass flag — the
    primary-key contract a warehouse load verifies before publishing.

    Plan: one countDistinct aggregate per table (each an independent
    partial+final hash agg); nothing global.

    NULL join keys (r10): composite keys count distinct over a STRUCT —
    SQL row-value semantics, where (NULL, 2) is a countable key value —
    because Spark's variadic countDistinct(a, b) silently DROPS any
    tuple containing a NULL (it desugars to count(DISTINCT a, b)),
    undercounting n_keys by every half-NULL key and hiding exactly the
    violations a PK audit exists to surface.  Scalar keys keep plain
    countDistinct: both engines skip NULL scalars identically."""
    load_tables(spark, sf_dir)
    parts = []
    for name, table, cols in _UNIQUE_KEYS:
        t = spark.table(table)
        key = F.col(cols[0]) if len(cols) == 1 else F.struct(*[F.col(c) for c in cols])
        parts.append(
            t.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct(key).alias("n_keys"),
            ).select(
                F.lit(name).alias("key_name"),
                "n_rows",
                "n_keys",
                (F.col("n_rows") - F.col("n_keys")).alias("n_dup_rows"),
                (F.col("n_rows") == F.col("n_keys")).alias("is_unique"),
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionAll(x)
    return out


def q_dq_benford(spark, sf_dir):
    """Benford's-law audit of order totals — the classic fabricated-data
    detector: the observed first-significant-digit distribution of
    o_totalprice vs the Benford expectation log10(1 + 1/d), with the
    per-digit chi-square contribution.  First digits are taken from the
    EXACT integer cents (string head of a BIGINT), so no float-log
    knife-edges enter the hash survey.

    Plan: one scan, a 9-group aggregate, broadcast total."""
    load_tables(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    obs = (
        spark.table("orders")
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    tot = Window.partitionBy()
    expected = F.log10(1 + 1 / F.col("digit")) * F.sum("n_obs").over(tot)
    chi2 = (F.col("n_obs") - expected) * (F.col("n_obs") - expected) / expected
    return obs.select(
        "digit",
        "n_obs",
        F.round(expected, 2).alias("n_expected"),
        F.round(chi2, 4).alias("chi2_term"),
    )


def q_dq_iqr_outliers(spark, sf_dir):
    """Tukey-fence (IQR) outlier audit per event type — the quartile
    cousin of the z-score audits: points outside [q1 - 1.5*IQR,
    q3 + 1.5*IQR] are flagged, robust to the heavy tails that wreck a
    mean/stddev fence.

    Plan: one exact percentile agg per type (q1/q3 in a single pass),
    fences derived on the tiny aggregate, one broadcast join back for
    the flag counts.  `percentile` and `quantile_cont` share linear
    interpolation, so the fences match across engines (same parity
    agg_percentiles pins)."""
    load_tables(spark, sf_dir)
    e = spark.table("events")
    q = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    fenced = q.select(
        "event_type",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo_fence"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi_fence"),
    )
    joined = e.join(F.broadcast(fenced), "event_type")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") < F.col("lo_fence"), 1).otherwise(0)).alias(
            "n_low"
        ),
        F.sum(F.when(F.col("value") > F.col("hi_fence"), 1).otherwise(0)).alias(
            "n_high"
        ),
        F.round(F.first("lo_fence"), 4).alias("lo_fence"),
        F.round(F.first("hi_fence"), 4).alias("hi_fence"),
    )


# =================================================================
# Group Q — profiling audits
# =================================================================

#: lineitem numeric columns profiled by the correlation matrix
CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_dq_corr_matrix(spark, sf_dir):
    """Pearson correlation matrix cells across the lineitem numeric
    columns — the multicollinearity / redundant-column audit.  ONE
    partial+final agg computes every exact-DECIMAL moment (n, Sx, Sxx
    per column, Sxy per pair); each of the 6 upper-triangle cells is
    then one double expression over those identical exact operands —
    the same knife-edge-free recipe as ts_autocorr, generalized to a
    column matrix.  Output grain = column pairs (bounded), never an
    unordered float reduction."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    # integer CENTS moments (r10 extreme-magnitude sweep): the DECIMAL
    # value-unit form overflowed DuckDB's DECIMAL(18) multiply at
    # 1e6-scaled prices and its cross-products left exactness past
    # width 38; cents moments keep every term an exact integer
    # (cents^2 sums ~1e31 << DECIMAL(38,0)/HUGEINT range) and the
    # correlation ratio is unit-free, so cells are value-identical
    cen = {
        c: (F.col(c).cast("decimal(18,2)") * 100).cast("long")
        for c in CORR_COLS
    }
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in CORR_COLS:
        aggs.append(F.sum(cen[c].cast("decimal(38,0)")).alias(f"s_{c}"))
        aggs.append(
            F.sum(cen[c].cast("decimal(19,0)") * cen[c]).alias(f"ss_{c}")
        )
    pairs = [
        (a, b) for i, a in enumerate(CORR_COLS) for b in CORR_COLS[i + 1:]
    ]
    for a, b in pairs:
        aggs.append(
            F.sum(cen[a].cast("decimal(19,0)") * cen[b]).alias(f"sp_{a}_{b}")
        )
    row = li.agg(*aggs)
    cells = []
    for a, b in pairs:
        num = (
            F.col("n") * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        ).cast("double")
        da = (
            F.col("n") * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
        ).cast("double")
        db = (
            F.col("n") * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
        ).cast("double")
        cells.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                # try_divide: one row -> zero variance -> correlation
                # undefined, NULL on both engines (DuckDB x/0 is NULL)
                F.round(F.try_divide(num, F.sqrt(da * db)), 6).alias("corr"),
            )
        )
    return row.select(F.explode(F.array(*cells)).alias("c"), "n").select(
        F.col("c.col_a").alias("col_a"),
        F.col("c.col_b").alias("col_b"),
        F.col("c.corr").alias("corr"),
        F.col("n").alias("n_rows"),
    )


#: orders columns profiled for key candidacy
PK_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
           "o_orderdate", "o_orderpriority"]


def q_dq_pk_profile(spark, sf_dir):
    """Primary-key candidate discovery over `orders`: per column the
    row count, exact distinct count, null count and the PK verdict
    (distinct == rows AND no nulls) — the schema-inference audit every
    ingestion pipeline runs first.  One pass; exact count(distinct)
    per the repo's hash-key rule (never approx in checked keys)."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in PK_COLS:
        aggs.append(F.countDistinct(c).alias(f"d_{c}"))
        # coalesce: on a zero-row table the null COUNT is 0, not NULL
        # (sum over empty) — the PK verdict stays boolean
        aggs.append(
            F.coalesce(
                F.sum(F.col(c).isNull().cast("long")), F.lit(0)
            ).alias(f"z_{c}")
        )
    row = o.agg(*aggs)
    cells = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"d_{c}").alias("n_distinct"),
            F.col(f"z_{c}").alias("n_nulls"),
        )
        for c in PK_COLS
    ]
    return row.select(F.explode(F.array(*cells)).alias("c"), "n").select(
        F.col("c.col_name").alias("col_name"),
        F.col("n").alias("n_rows"),
        F.col("c.n_distinct").alias("n_distinct"),
        F.col("c.n_nulls").alias("n_nulls"),
        (
            (F.col("c.n_distinct") == F.col("n")) & (F.col("c.n_nulls") == 0)
        ).alias("pk_candidate"),
    )


def _corr_cell_sql(a: str, b: str) -> str:
    return (
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
        f"round(CAST(n * sp_{a}_{b} - s_{a} * s_{b} AS DOUBLE) / "
        f"sqrt(CAST(n * ss_{a} - s_{a} * s_{a} AS DOUBLE) * "
        f"CAST(n * ss_{b} - s_{b} * s_{b} AS DOUBLE)), 6) AS corr, "
        "n AS n_rows FROM moments"
    )


_CORR_PAIRS = [
    (a, b) for i, a in enumerate(CORR_COLS) for b in CORR_COLS[i + 1:]
]

_CORR_MOMENTS = ", ".join(
    ["count(*) AS n"]
    + [
        f"sum(CAST(CAST({c} AS DECIMAL(18,2)) * 100 AS BIGINT)::HUGEINT) "
        f"AS s_{c}, "
        f"sum(CAST(CAST({c} AS DECIMAL(18,2)) * 100 AS BIGINT)::HUGEINT * "
        f"CAST(CAST({c} AS DECIMAL(18,2)) * 100 AS BIGINT)) AS ss_{c}"
        for c in CORR_COLS
    ]
    + [
        f"sum(CAST(CAST({a} AS DECIMAL(18,2)) * 100 AS BIGINT)::HUGEINT * "
        f"CAST(CAST({b} AS DECIMAL(18,2)) * 100 AS BIGINT)) AS sp_{a}_{b}"
        for a, b in _CORR_PAIRS
    ]
)

_PK_CELLS = " UNION ALL ".join(
    f"SELECT '{c}' AS col_name, n AS n_rows, d_{c} AS n_distinct, "
    f"z_{c} AS n_nulls, d_{c} = n AND z_{c} = 0 AS pk_candidate FROM p"
    for c in PK_COLS
)


#: k-anonymity threshold under audit
K_ANON = 5


def q_dq_k_anonymity(spark, sf_dir):
    """k-anonymity audit of the customer projection (mktsegment,
    nation, acctbal sign) — the pre-release privacy check: for each
    quasi-identifier combination, its equivalence-class size; flagged
    when below k=5 (a released row in such a class re-identifies to ≤ 4
    candidates).  Reports per-class sizes plus each class's share of
    the table — the analyst's risk summary.

    One partial+final agg on the quasi-identifier tuple (a single
    shuffle at any scale; class count is bounded by the QI domain, not
    the row count), one broadcastable 1-row total for the share."""
    load_tables(spark, sf_dir)
    c = spark.table("customer")
    qi = c.select(
        "c_mktsegment",
        "c_nationkey",
        F.when(F.col("c_acctbal") < 0, "neg").otherwise("nonneg").alias(
            "bal_sign"
        ),
    )
    classes = qi.groupBy("c_mktsegment", "c_nationkey", "bal_sign").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    total = classes.agg(F.sum("class_size").alias("total"))
    return classes.crossJoin(F.broadcast(total)).select(
        "c_mktsegment",
        "c_nationkey",
        "bal_sign",
        "class_size",
        (F.col("class_size") < K_ANON).alias("violates_k"),
        F.expr("(2000 * class_size + total) div (2 * total)")
        .cast("long")
        .alias("share_pm"),
    )


def q_dq_freshness(spark, sf_dir):
    """Data-freshness audit per event type: last event timestamp, the
    integer lag in hours behind the NEWEST event anywhere in the table,
    and a staleness flag at > 24 h — the monitoring query under every
    "is this feed still alive" alert.  One partial+final agg plus a
    1-row global max joined back by cross-multiplication; lag stays in
    exact integer microseconds until the final integer-hours division."""
    load_tables(spark, sf_dir)
    ev = spark.table("events").select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    per_type = ev.groupBy("event_type").agg(
        F.max("us").alias("last_us"), F.count(F.lit(1)).alias("n_events")
    )
    glob = per_type.agg(F.max("last_us").alias("max_us"))
    return per_type.crossJoin(F.broadcast(glob)).select(
        "event_type",
        "n_events",
        F.timestamp_micros(F.col("last_us"))
        .cast("timestamp_ntz")
        .alias("last_event"),
        F.expr("(max_us - last_us) div 3600000000")
        .cast("long")
        .alias("lag_hours"),
        (F.col("max_us") - F.col("last_us") > 24 * 3600 * 1000000).alias(
            "is_stale"
        ),
    )


def q_dq_functional_dependency(spark, sf_dir):
    """Functional-dependency audit: does o_custkey -> o_orderpriority
    hold?  The TANE-style single-FD check behind schema-inference and
    key-discovery tools: per LHS value count DISTINCT RHS values, then
    report how many LHS keys violate (>1 RHS), the worst variant count,
    and the violation rate.  One partial+final agg pair, all integers;
    the per-mille is a half-up integer quotient."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    per = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("o_orderpriority").alias("n_rhs"),
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_lhs"),
        F.sum((F.col("n_rhs") > 1).cast("long")).alias("n_violating"),
        F.max("n_rhs").alias("max_variants"),
        F.expr(
            "(2 * 1000 * sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) "
            "+ count(*)) div (2 * count(*))"
        ).alias("violation_pm"),
    )


def q_dq_inclusion_dependency(spark, sf_dir):
    """Inclusion-dependency audit (Bellman-style FK discovery): for the
    candidate pair (lineitem.l_partkey, part.p_partkey), measure BOTH
    containment directions on distinct key sets — |A∩B|/|A| and
    |A∩B|/|B| — plus orphan counts.  Direction A⊆B at ~1000‰ nominates
    a foreign key; the reverse coefficient exposes unreferenced parent
    rows.  Two distinct-projections and one join on the key (all
    co-partitioned by the audited column); per-mille values are
    half-up integer quotients."""
    load_tables(spark, sf_dir)
    a = spark.table("lineitem").select(
        F.col("l_partkey").alias("k")
    ).distinct()
    b = spark.table("part").select(F.col("p_partkey").alias("k")).distinct()
    both = a.join(b, "k").agg(F.count(F.lit(1)).alias("n_both"))
    na = a.agg(F.count(F.lit(1)).alias("n_a"))
    nb = b.agg(F.count(F.lit(1)).alias("n_b"))
    return (
        both.crossJoin(na)
        .crossJoin(nb)
        .select(
            "n_a",
            "n_b",
            "n_both",
            (F.col("n_a") - F.col("n_both")).alias("orphans_a"),
            (F.col("n_b") - F.col("n_both")).alias("unreferenced_b"),
            # zero-denominator guards match DuckDB (x // 0 is NULL): the
            # containment of an empty key set is undefined, not an error
            F.expr(
                "CASE WHEN n_a = 0 THEN CAST(NULL AS BIGINT) "
                "ELSE (2 * 1000 * n_both + n_a) div (2 * n_a) END"
            ).alias("a_in_b_pm"),
            F.expr(
                "CASE WHEN n_b = 0 THEN CAST(NULL AS BIGINT) "
                "ELSE (2 * 1000 * n_both + n_b) div (2 * n_b) END"
            ).alias("b_in_a_pm"),
        )
    )


#: table checksum modulus (2^61 - 1, keeps the residue in BIGINT)
CKSUM_MOD = 2305843009213693951


def q_dq_table_checksum(spark, sf_dir):
    """Order-insensitive table CHECKSUM — the cross-system compare that
    validates a migration without moving the data twice: every row maps
    to a 60-bit integer (md5 of a canonical '|'-joined rendering, money
    as integer cents, dates as ISO strings), and the table fingerprint
    is the exact sum of those integers mod 2^61-1.  Commutative, so
    partitioning/row order is irrelevant; the sum runs in DECIMAL(38)
    (Spark) / HUGEINT (DuckDB) so it is EXACT at any row count, and
    only the bounded residue crosses engines."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    # canonical NULL rendering: the checksum must COVER missing values —
    # NULL price encodes as the empty field (see pipeline_shard_manifest)
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.coalesce(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .cast("string"),
            F.lit(""),
        ),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_orderpriority"),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast(
        "decimal(38,0)"
    )
    return o.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr(f"CAST(sum(h) % {CKSUM_MOD} AS BIGINT)").alias("checksum"),
    )


def q_dq_monotonic_violations(spark, sf_dir):
    """MONOTONICITY audit: within each priority stream, does key order
    track time order?  Counts adjacent inversions (previous key's date
    later than this one) under the (priority, key) order — the check
    that validates k-sortable id schemes (fn_snowflake_id's property)
    and append-only ingestion assumptions.  One co-partitioned lag
    window and a per-mille summary in exact integers."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
    lagged = o.select(
        "o_orderpriority",
        (F.col("o_orderdate") < F.lag("o_orderdate").over(w))
        .cast("long")
        .alias("inv"),
    ).filter(F.col("inv").isNotNull())
    g = lagged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("inv").alias("n_inversions"),
    )
    return g.select(
        "o_orderpriority",
        "n_pairs",
        "n_inversions",
        F.expr(
            "(2 * 1000 * n_inversions + n_pairs) div (2 * n_pairs)"
        ).alias("inversion_pm"),
    )


#: validation rules: (rule_id, column, op, threshold) over orders
RULES = (
    (1, "o_totalprice", "gt", 0),
    (2, "o_totalprice", "lt", 60000000),
    (3, "o_orderkey", "gt", 0),
    (4, "o_custkey", "gt", 0),
)


def q_dq_rules_engine(spark, sf_dir):
    """METADATA-DRIVEN validation: the rules live in a TABLE
    (rule_id, column, op, threshold), the engine cross-applies every
    rule to every row with one generic CASE dispatch, and reports per-
    rule violation counts — validation-as-data, so adding a rule is an
    INSERT, not a deploy (the dq_constraint_check keys hard-code their
    predicates; this one interprets them).

    Plan: orders x bounded literal rule table (auto-broadcast), one
    dispatch expression, one partial+final agg keyed by rule."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    rows = ", ".join(
        f"({rid}, '{col}', '{op}', {thr})" for rid, col, op, thr in RULES
    )
    rules = spark.sql(
        f"SELECT * FROM VALUES {rows} AS t(rule_id, col, op, thr)"
    )
    val = F.expr(
        "CASE col WHEN 'o_totalprice' THEN "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "WHEN 'o_orderkey' THEN o_orderkey "
        "WHEN 'o_custkey' THEN o_custkey END"
    )
    ok = F.expr(
        "CASE op WHEN 'gt' THEN v > thr WHEN 'lt' THEN v < thr END"
    )
    j = o.crossJoin(rules).select(
        "rule_id", "col", "op", "thr", val.alias("v")
    )
    return (
        j.select("rule_id", "col", "op", ok.alias("ok"))
        .groupBy("rule_id", "col", "op")
        .agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.sum((~F.col("ok")).cast("long")).alias("n_violations"),
        )
    )


_RULE_ROWS = ", ".join(
    f"({rid}, '{col}', '{op}', {thr})" for rid, col, op, thr in RULES
)


def q_dq_catalog_census(spark, sf_dir):
    """Whole-CATALOG census: one result with every fixture table's row
    count and its share of total rows — the first query anyone runs
    against a new warehouse, and the sanity anchor for every other
    count in the repo.  A union of ten 1-row aggregates (each a
    parallel scan-count with no shuffle beyond the final 10-row agg);
    shares are half-up per-mille integers."""
    load_tables(spark, sf_dir)
    counts = None
    for t in TABLES:
        c = spark.table(t).agg(
            F.lit(t).alias("tbl"), F.count(F.lit(1)).alias("n_rows")
        )
        counts = c if counts is None else counts.unionAll(c)
    tot = counts.agg(F.sum("n_rows").alias("total"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "tbl",
        "n_rows",
        # the zero-total guard matches DuckDB, where x // 0 is NULL (an
        # all-empty catalog has no shares); Spark ANSI div would throw
        F.expr(
            "CASE WHEN total = 0 THEN CAST(NULL AS BIGINT) "
            "ELSE (2 * 1000 * n_rows + total) div (2 * total) END"
        ).alias("share_pm"),
    )


#: shard count for the balance audit
SB_SHARDS = 16


def q_dq_shard_balance(spark, sf_dir):
    """SHARD-BALANCE entropy: the normalized Shannon entropy of the
    md5-shard size distribution — 1000 per-mille means perfectly
    uniform load, lower means the partitioner skews (the partition-
    grain companion to fn_hash_avalanche's bit-grain audit).  Shares
    quantize to exact per-million integers BEFORE the bounded 16-term
    entropy fold (sorted by shard id), so both engines stream identical
    doubles into the logs."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    shards = o.groupBy(
        (
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4),
                16,
                10,
            ).cast("long")
            % SB_SHARDS
        ).alias("shard")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = shards.agg(F.sum("n").alias("t"), F.count(F.lit(1)).alias("k"))
    q = shards.crossJoin(F.broadcast(tot)).select(
        "shard",
        "k",
        F.expr("(2 * 1000000 * n + t) div (2 * t)").alias("p6"),
    )
    arr = q.groupBy("k").agg(
        F.array_sort(F.collect_list(F.struct("shard", "p6"))).alias("a")
    )
    h = F.expr(
        "aggregate(a, cast(0.0 as double), (acc, x) -> "
        "acc + CASE WHEN x.p6 > 0 THEN "
        "-(x.p6 / 1e6) * ln(x.p6 / 1e6) ELSE 0.0 END)"
    )
    return arr.select(
        F.col("k").alias("n_shards"),
        F.round(h, 6).alias("entropy_nats"),
        # floor, not div: Spark's div rejects DOUBLE operands; floor of
        # the identical double is engine-identical
        # try_divide: a single occupied shard (k = 1, ln k = 0) has no
        # balance to normalize — NULL on both engines (DuckDB x/0 NULL)
        F.expr(
            "CAST(FLOOR(try_divide(2 * 1000 * aggregate(a, "
            "cast(0.0 as double), "
            "(acc, x) -> acc + CASE WHEN x.p6 > 0 THEN "
            "-(x.p6 / 1e6) * ln(x.p6 / 1e6) ELSE 0.0 END) "
            "+ ln(CAST(k AS DOUBLE)), 2 * ln(CAST(k AS DOUBLE)))) "
            "AS BIGINT)"
        ).alias("balance_pm"),
    )


QUERIES = {
    "dq_iqr_outliers": q_dq_iqr_outliers,
    "dq_uniqueness": q_dq_uniqueness,
    "dq_benford": q_dq_benford,
    "dq_drift_psi": q_dq_drift_psi,
    "dq_profile": q_dq_profile,
    "dq_referential_integrity": q_dq_referential_integrity,
    "dq_constraint_check": q_dq_constraint_check,
    "dq_corr_matrix": q_dq_corr_matrix,
    "dq_pk_profile": q_dq_pk_profile,
    "dq_k_anonymity": q_dq_k_anonymity,
    "dq_freshness": q_dq_freshness,
    "dq_functional_dependency": q_dq_functional_dependency,
    "dq_inclusion_dependency": q_dq_inclusion_dependency,
    "dq_table_checksum": q_dq_table_checksum,
    "dq_monotonic_violations": q_dq_monotonic_violations,
    "dq_rules_engine": q_dq_rules_engine,
    "dq_catalog_census": q_dq_catalog_census,
    "dq_shard_balance": q_dq_shard_balance,
}


def _profile_oracle() -> str:
    sels = []
    for c, num in _PROFILE_COLS:
        if num:
            mn = f"CAST(CAST(min({c}) AS DECIMAL(18,2)) AS VARCHAR)"
            mx = f"CAST(CAST(max({c}) AS DECIMAL(18,2)) AS VARCHAR)"
        else:
            mn, mx = f"CAST(min({c}) AS VARCHAR)", f"CAST(max({c}) AS VARCHAR)"
        sels.append(
            f"SELECT '{c}' AS column, count(*) AS n_rows, "
            f"count(*) - count({c}) AS n_null, "
            f"count(DISTINCT {c}) AS n_distinct, "
            f"{mn} AS min_value, {mx} AS max_value FROM lineitem"
        )
    return " UNION ALL ".join(sels)


def _ri_oracle() -> str:
    sels = []
    for name, child, ck, parent, pk in _FKS:
        sels.append(
            f"SELECT '{name}' AS fk_name, "
            f"(SELECT count(*) FROM {child}) AS n_child, "
            f"(SELECT CAST(sum(CASE WHEN {ck} IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
            f"FROM {child}) AS n_null_key, "
            f"(SELECT count(*) FROM {child} c WHERE c.{ck} IS NOT NULL AND "
            f"NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{ck})) AS n_orphan"
        )
    return " UNION ALL ".join(sels)


def _constraint_oracle() -> str:
    sels = []
    for rule, table, pred in _RULES:
        sels.append(
            f"SELECT '{rule}' AS rule, count(*) AS n_checked, "
            f"CAST(sum(CASE WHEN {pred} THEN 0 ELSE 1 END) AS BIGINT) AS n_violations, "
            f"round(CAST(sum(CASE WHEN {pred} THEN 0 ELSE 1 END) AS DOUBLE) / count(*), 6) "
            f"AS violation_rate FROM {table}"
        )
    return " UNION ALL ".join(sels)


ORACLES = {
    "dq_iqr_outliers": (
        "WITH q AS (SELECT event_type, "
        "quantile_cont(value, 0.25) AS q1, "
        "quantile_cont(value, 0.75) AS q3 FROM events GROUP BY event_type), "
        "f AS (SELECT event_type, q1 - 1.5 * (q3 - q1) AS lo_fence, "
        "q3 + 1.5 * (q3 - q1) AS hi_fence FROM q) "
        "SELECT e.event_type, count(*) AS n, "
        "CAST(sum(CASE WHEN e.value < f.lo_fence THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_low, "
        "CAST(sum(CASE WHEN e.value > f.hi_fence THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_high, "
        "round(any_value(f.lo_fence), 4) AS lo_fence, "
        "round(any_value(f.hi_fence), 4) AS hi_fence "
        "FROM events e JOIN f ON e.event_type = f.event_type "
        "GROUP BY e.event_type"
    ),
    "dq_uniqueness": "SELECT 'orders_pk' AS key_name, count(*) AS n_rows, count(DISTINCT (o_orderkey)) AS n_keys, count(*) - count(DISTINCT (o_orderkey)) AS n_dup_rows, count(*) = count(DISTINCT (o_orderkey)) AS is_unique FROM orders UNION ALL SELECT 'lineitem_pk' AS key_name, count(*) AS n_rows, count(DISTINCT (l_orderkey, l_linenumber)) AS n_keys, count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS n_dup_rows, count(*) = count(DISTINCT (l_orderkey, l_linenumber)) AS is_unique FROM lineitem UNION ALL SELECT 'events_pk' AS key_name, count(*) AS n_rows, count(DISTINCT (event_id)) AS n_keys, count(*) - count(DISTINCT (event_id)) AS n_dup_rows, count(*) = count(DISTINCT (event_id)) AS is_unique FROM events UNION ALL SELECT 'customer_pk' AS key_name, count(*) AS n_rows, count(DISTINCT (c_custkey)) AS n_keys, count(*) - count(DISTINCT (c_custkey)) AS n_dup_rows, count(*) = count(DISTINCT (c_custkey)) AS is_unique FROM customer UNION ALL SELECT 'part_pk' AS key_name, count(*) AS n_rows, count(DISTINCT (p_partkey)) AS n_keys, count(*) - count(DISTINCT (p_partkey)) AS n_dup_rows, count(*) = count(DISTINCT (p_partkey)) AS is_unique FROM part",
    "dq_benford": 'WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit FROM orders), obs AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY digit), t AS (SELECT sum(n_obs) AS n FROM obs) SELECT digit, n_obs, round(log10(1 + 1.0 / digit) * n, 2) AS n_expected, round((n_obs - log10(1 + 1.0 / digit) * n) ^ 2 / (log10(1 + 1.0 / digit) * n), 4) AS chi2_term FROM obs, t',
    "dq_drift_psi": (
        f"""WITH rng AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
        b AS (SELECT event_type, day(ts) <= {PSI_SPLIT_DAY} AS is_ref,
        CAST(least({PSI_BINS - 1}, floor((value - lo) / (hi - lo) * {PSI_BINS})) AS INT) AS bin
        FROM events, rng),
        c AS (SELECT event_type, bin,
        sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
        sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur FROM b GROUP BY 1, 2),
        p AS (SELECT event_type,
        CAST(n_ref AS DOUBLE) / sum(n_ref) OVER (PARTITION BY event_type) + {PSI_EPS} AS pr,
        CAST(n_cur AS DOUBLE) / sum(n_cur) OVER (PARTITION BY event_type) + {PSI_EPS} AS pc
        FROM c)
        SELECT event_type, round(sum((pc - pr) * ln(pc / pr)), 6) AS psi
        FROM p GROUP BY event_type"""
    ),
    "dq_profile": _profile_oracle(),
    "dq_referential_integrity": _ri_oracle(),
    "dq_constraint_check": _constraint_oracle(),
    "dq_corr_matrix": (
        f"WITH moments AS (SELECT {_CORR_MOMENTS} FROM lineitem) "
        + " UNION ALL ".join(_corr_cell_sql(a, b) for a, b in _CORR_PAIRS)
    ),
    "dq_pk_profile": (
        "WITH p AS (SELECT count(*) AS n, "
        + ", ".join(
            f"count(DISTINCT {c}) AS d_{c}, "
            # coalesce mirrors the Spark side: 0 nulls on a 0-row table
            f"CAST(coalesce(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END), 0) "
            f"AS BIGINT) AS z_{c}"
            for c in PK_COLS
        )
        + f" FROM orders) {_PK_CELLS}"
    ),
    "dq_k_anonymity": (
        "WITH qi AS (SELECT c_mktsegment, c_nationkey, "
        "CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'nonneg' END AS bal_sign "
        "FROM customer), "
        "classes AS (SELECT c_mktsegment, c_nationkey, bal_sign, "
        "count(*) AS class_size FROM qi GROUP BY 1, 2, 3), "
        "t AS (SELECT sum(class_size) AS total FROM classes) "
        "SELECT c_mktsegment, c_nationkey, bal_sign, class_size, "
        f"class_size < {K_ANON} AS violates_k, "
        "CAST((2000 * class_size + total) // (2 * total) AS BIGINT) "
        "AS share_pm FROM classes, t"
    ),
    "dq_freshness": (
        "WITH per_type AS (SELECT event_type, "
        "max(epoch_us(ts)) AS last_us, count(*) AS n_events "
        "FROM events GROUP BY 1), "
        "g AS (SELECT max(last_us) AS max_us FROM per_type) "
        "SELECT event_type, n_events, "
        "make_timestamp(last_us) AS last_event, "
        "CAST((max_us - last_us) // 3600000000 AS BIGINT) AS lag_hours, "
        "max_us - last_us > CAST(86400 AS BIGINT) * 1000000 AS is_stale "
        "FROM per_type, g"
    ),
    "dq_functional_dependency": (
        "WITH per AS (SELECT o_custkey, count(*) AS n_rows, "
        "count(DISTINCT o_orderpriority) AS n_rhs FROM orders GROUP BY 1) "
        "SELECT CAST(count(*) AS BIGINT) AS n_lhs, "
        "CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_violating, "
        "CAST(max(n_rhs) AS BIGINT) AS max_variants, "
        "CAST((2 * 1000 * sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) "
        "+ count(*)) // (2 * count(*)) AS BIGINT) AS violation_pm FROM per"
    ),
    "dq_inclusion_dependency": (
        "WITH a AS (SELECT DISTINCT l_partkey AS k FROM lineitem), "
        "b AS (SELECT DISTINCT p_partkey AS k FROM part), "
        "s AS (SELECT (SELECT count(*) FROM a) AS n_a, "
        "(SELECT count(*) FROM b) AS n_b, "
        "(SELECT count(*) FROM a JOIN b USING (k)) AS n_both) "
        "SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, "
        "CAST(n_both AS BIGINT) AS n_both, "
        "CAST(n_a - n_both AS BIGINT) AS orphans_a, "
        "CAST(n_b - n_both AS BIGINT) AS unreferenced_b, "
        "(2 * 1000 * n_both + n_a) // (2 * n_a) AS a_in_b_pm, "
        "(2 * 1000 * n_both + n_b) // (2 * n_b) AS b_in_a_pm FROM s"
    ),
    "dq_table_checksum": (
        "WITH h AS (SELECT ('0x' || substr(md5(o_orderkey::VARCHAR || '|' "
        "|| coalesce(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 "
        "AS BIGINT) AS VARCHAR), '') "
        "|| '|' || strftime(o_orderdate, '%Y-%m-%d') || '|' "
        "|| o_orderpriority), 1, 15))::BIGINT AS h FROM orders) "
        "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
        f"CAST(sum(h) % {CKSUM_MOD} AS BIGINT) AS checksum FROM h"
    ),
    "dq_monotonic_violations": (
        "WITH lagged AS (SELECT o_orderpriority, "
        "CASE WHEN o_orderdate < lag(o_orderdate) OVER "
        "(PARTITION BY o_orderpriority ORDER BY o_orderkey) "
        "THEN 1 ELSE 0 END AS inv, "
        "lag(o_orderdate) OVER (PARTITION BY o_orderpriority "
        "ORDER BY o_orderkey) AS prev FROM orders) "
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_pairs, "
        "CAST(sum(inv) AS BIGINT) AS n_inversions, "
        "CAST((2 * 1000 * sum(inv) + count(*)) // (2 * count(*)) "
        "AS BIGINT) AS inversion_pm "
        "FROM lagged WHERE prev IS NOT NULL GROUP BY 1"
    ),
    "dq_rules_engine": (
        f"WITH rules AS (SELECT * FROM (VALUES {_RULE_ROWS}) "
        "AS t(rule_id, col, op, thr)), "
        "j AS (SELECT rule_id, col, op, thr, "
        "CASE col WHEN 'o_totalprice' THEN "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "WHEN 'o_orderkey' THEN o_orderkey "
        "WHEN 'o_custkey' THEN o_custkey END AS v "
        "FROM orders CROSS JOIN rules) "
        "SELECT CAST(rule_id AS INT) AS rule_id, col, op, "
        "CAST(count(*) AS BIGINT) AS n_checked, "
        "CAST(sum(CASE WHEN NOT (CASE op WHEN 'gt' THEN v > thr "
        "WHEN 'lt' THEN v < thr END) THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_violations FROM j GROUP BY 1, 2, 3"
    ),
    "dq_catalog_census": (
        "WITH counts AS ("
        + " UNION ALL ".join(
            f"SELECT '{t}' AS tbl, count(*) AS n_rows FROM {t}"
            for t in TABLES
        )
        + "), t AS (SELECT sum(n_rows) AS total FROM counts) "
        "SELECT tbl, CAST(n_rows AS BIGINT) AS n_rows, "
        "CAST((2 * 1000 * n_rows + total) // (2 * total) AS BIGINT) "
        "AS share_pm FROM counts, t"
    ),
    "dq_shard_balance": (
        "WITH shards AS (SELECT "
        "('0x' || substr(md5(o_orderkey::VARCHAR), 1, 4))::BIGINT "
        f"% {SB_SHARDS} AS shard, count(*) AS n FROM orders GROUP BY 1), "
        "tot AS (SELECT CAST(sum(n) AS BIGINT) AS t, count(*) AS k "
        "FROM shards), "
        "q AS (SELECT shard, k, (2 * 1000000 * n + t) // (2 * t) AS p6 "
        "FROM shards, tot), "
        "arr AS (SELECT k, list({'shard': shard, 'p6': p6} "
        "ORDER BY shard) AS a FROM q GROUP BY 1), "
        "h AS (SELECT k, list_reduce(list_prepend(0.0, "
        "list_transform(a, x -> CASE WHEN x.p6 > 0 THEN "
        "-(x.p6 / 1e6) * ln(x.p6 / 1e6) ELSE 0.0 END)), "
        "(acc, v) -> acc + v) AS ent FROM arr) "
        "SELECT CAST(k AS BIGINT) AS n_shards, "
        "round(ent, 6) AS entropy_nats, "
        "CAST(FLOOR((2 * 1000 * ent + ln(CAST(k AS DOUBLE))) "
        "/ (2 * ln(CAST(k AS DOUBLE)))) AS BIGINT) AS balance_pm FROM h"
    ),
}
