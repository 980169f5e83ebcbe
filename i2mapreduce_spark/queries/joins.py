"""Group C — joins (SURVEY §2B).

Reference analog: MapReduce has NO join primitive — every join in an
i2MapReduce job is hand-coded (repartition-join via tagged union in the
reducer, or map-side join against a cached small file; the iterative
engine's Projector (ref op A9) exists precisely to co-partition the
structure/state join).  Here each shape is a declarative join and Catalyst
+ AQE pick broadcast vs shuffle vs sort-merge.

100TB strategy per shape:
- dims (region/nation/part subsets) -> explicit broadcast() hints;
- fact-fact equi-joins -> sort-merge on the shuffled key, AQE handles skew;
- the theta/band join anchors on an equi prefix (user_id) so only the
  residual range predicate is non-equi — never a cartesian;
- as-of uses the union+window form: ONE shuffle by user_id instead of an
  O(n*m) pair join.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..catalog import load_tables
from .aggregates import _md5_le


def q_join_broadcast(spark, sf_dir):
    """Tiny-dim broadcast hash join (map-side join in MapReduce terms)."""
    load_tables(spark, sf_dir)
    n, r = spark.table("nation"), spark.table("region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_nationkey", "n_name", "r_name")
    )


def q_join_shuffle_equi(spark, sf_dir):
    """Fact-fact equi join + aggregate (the classic repartition join)."""
    load_tables(spark, sf_dir)
    o, li = spark.table("orders"), spark.table("lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


def q_join_multiway(spark, sf_dir):
    """customer ⋈ orders ⋈ lineitem ⋈ nation -> revenue per nation.

    r11 join order (guide §3.1): lineitem (the fact table) is the
    STREAMED side throughout — li probes orders, then customer, then
    nation.  The previous (c ⋈ o) ⋈ li spelling made Catalyst broadcast
    lineitem itself (BuildRight under the 10 MB estimate at bench scale)
    — i.e. the biggest table was collected into a hash relation while
    the dims streamed.  Inner-join reordering; result multiset
    unchanged.  No added hints: at real scale Catalyst/AQE pick
    SMJ/shuffled-hash for o and c, and the fact side still streams."""
    load_tables(spark, sf_dir)
    c, o = spark.table("customer"), spark.table("orders")
    li, n = spark.table("lineitem"), spark.table("nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(li.l_extendedprice * (1 - li.l_discount)), 2).alias("revenue"))
    )


def q_join_left_outer(spark, sf_dir):
    """LEFT JOIN keeping order-less customers (count(col) skips nulls)."""
    load_tables(spark, sf_dir)
    c, o = spark.table("customer"), spark.table("orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def q_join_semi(spark, sf_dir):
    """LEFT SEMI: customers having >=1 'F' order (EXISTS)."""
    load_tables(spark, sf_dir)
    c = spark.table("customer")
    o = spark.table("orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


def q_join_anti(spark, sf_dir):
    """LEFT ANTI: parts never shipped in quantity > 48 (NOT EXISTS)."""
    load_tables(spark, sf_dir)
    p = spark.table("part")
    li = spark.table("lineitem").filter(F.col("l_quantity") > 48)
    return p.join(li, p.p_partkey == li.l_partkey, "left_anti").select("p_partkey", "p_name")


def q_join_cross(spark, sf_dir):
    """Explicit cartesian (125 rows) — only ever for tiny dims."""
    load_tables(spark, sf_dir)
    r, n = spark.table("region"), spark.table("nation")
    return r.crossJoin(n).select("r_name", "n_name")


def q_join_range_theta(spark, sf_dir):
    """Band join: event pairs of the same user with 0 < ts2-ts1 <= 5 min.

    Equi prefix on user_id keeps this a hash/sort-merge join with a range
    residual — the non-equi part never drives the join strategy.
    """
    load_tables(spark, sf_dir)
    a = spark.table("events").alias("a")
    b = spark.table("events").alias("b")
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTES"))
    )
    return a.join(b, cond).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_id").alias("eid1"),
        F.col("b.event_id").alias("eid2"),
    )


def q_join_asof(spark, sf_dir):
    """As-of join: for each purchase, the latest strictly-earlier view of
    the same user (NULL if none).

    Scalable form: single window over (user_id; ts, rk, event_id) where
    purchases sort before views at equal ts (strictness) and last() with
    ignorenulls picks the most recent view — one shuffle, no pair join.
    Tie among equal-ts views resolved toward the larger event_id, matching
    the oracle's ORDER BY v.ts DESC, v.event_id DESC.

    NULL join keys: a window's partitionBy groups NULLs TOGETHER, but a
    join key of NULL must match nothing (SQL equi-join semantics the
    oracle's LEFT JOIN enforces) — so NULL-user purchases bypass the
    shuffle entirely (view_id NULL by construction) and NULL-user views
    are dropped before the window.  At scale this also removes the
    NULL hot partition a real warehouse would otherwise shuffle.
    """
    load_tables(spark, sf_dir)
    ev = spark.table("events").filter(F.col("event_type").isin("view", "purchase"))
    ev_nn = ev.filter(F.col("user_id").isNotNull())
    ev_nn = ev_nn.withColumn(
        "rk", F.when(F.col("event_type") == "purchase", F.lit(0)).otherwise(F.lit(1))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "rk", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_view = F.last(
        F.when(F.col("event_type") == "view", F.col("event_id")), ignorenulls=True
    ).over(w)
    matched = (
        ev_nn.withColumn("view_id", last_view)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), "view_id")
    )
    unmatched = (
        ev.filter(F.col("user_id").isNull() & (F.col("event_type") == "purchase"))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.lit(None).cast("long").alias("view_id"),
        )
    )
    return matched.unionByName(unmatched)


def q_join_asof_nearest(spark, sf_dir):
    """NEAREST-asof join: each purchase matches the closest same-user
    view in TIME — backward or forward, whichever is nearer (ties break
    backward; strictly-equal timestamps count as backward).  The
    two-sided variant of q_join_asof, still computed as ONE window pass
    over the interleaved event stream: last-view-before and
    first-view-after via framed last()/first() with ignorenulls, then an
    arithmetic pick — no pair join, shuffle O(events) on user_id.
    """
    load_tables(spark, sf_dir)
    ev = spark.table("events").filter(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    # purchases sort before views at equal ts: an equal-ts view counts as
    # "after" (forward candidate), keeping before/after disjoint
    ev = ev.withColumn(
        "rk", F.when(F.col("event_type") == "purchase", F.lit(0)).otherwise(F.lit(1))
    )
    base = Window.partitionBy("user_id").orderBy("us", "rk", "event_id")
    view_us = F.when(F.col("event_type") == "view", F.col("us"))
    prev_us = F.last(view_us, ignorenulls=True).over(
        base.rowsBetween(Window.unboundedPreceding, -1)
    )
    next_us = F.first(view_us, ignorenulls=True).over(
        base.rowsBetween(1, Window.unboundedFollowing)
    )
    nearest = F.when(
        next_us.isNull()
        | (prev_us.isNotNull() & (F.col("us") - prev_us <= next_us - F.col("us"))),
        prev_us,
    ).otherwise(next_us)
    return (
        ev.withColumn("near_us", nearest)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "near_us",
            (F.col("near_us") - F.col("us")).alias("signed_gap_us"),
        )
    )


def q_join_full_outer(spark, sf_dir):
    """FULL OUTER: every nation key seen on either side of a
    customer/supplier split, with per-side distinct counts and NULL-safe
    coalesced output.  Both sides restricted to disjoint-ish key ranges so
    each outer arm (left-only, right-only, both) is exercised."""
    load_tables(spark, sf_dir)
    c = (
        spark.table("customer")
        .filter(F.col("c_nationkey") <= 15)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        spark.table("supplier")
        .filter(F.col("s_nationkey") >= 10)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


def q_join_null_safe(spark, sf_dir):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing.  Keys are NULLed via nullif on
    a real value (nationkey 10), so the null-match arm carries rows."""
    load_tables(spark, sf_dir)
    c = spark.table("customer").withColumn(
        "nk", F.nullif(F.col("c_nationkey"), F.lit(10))
    )
    n = spark.table("nation").withColumn(
        "nk", F.nullif(F.col("n_nationkey"), F.lit(10))
    )
    return (
        c.join(n, c.nk.eqNullSafe(n.nk))
        .groupBy("n_name")
        .agg(F.count("*").alias("n_cust"))
    )


def q_join_scalar_subquery(spark, sf_dir):
    """Scalar subquery in a predicate: orders above 1.5x the global
    average price.  Catalyst plans the subquery as an independent
    single-row stage broadcast into the filter — the declarative form of
    'compute a global stat, then use it everywhere' (which MapReduce
    needs a second job + side-file for)."""
    load_tables(spark, sf_dir)
    return spark.sql(
        "SELECT o_orderkey, round(o_totalprice, 2) AS price"
        " FROM orders"
        " WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)"
    )


def q_join_correlated_subquery(spark, sf_dir):
    """CORRELATED scalar subquery (vs join_scalar_subquery's uncorrelated
    one): orders beating 1.2x their own customer's average.  Catalyst
    decorrelates this into an aggregate + equi-join — the rewrite that
    makes per-group predicates scale instead of re-running a subquery per
    row."""
    load_tables(spark, sf_dir)
    return spark.sql(
        "SELECT o_orderkey, round(o_totalprice, 2) AS price"
        " FROM orders o"
        " WHERE o_totalprice > 1.2 * (SELECT avg(i.o_totalprice)"
        "   FROM orders i WHERE i.o_custkey = o.o_custkey)"
    )


def q_cte_exchange_reuse(spark, sf_dir):
    """One CTE consumed twice (self-join of a grouped aggregate: customer
    spend vs their nation's max spend).  Spark plans the second consumer
    as a ReusedExchange over the first's shuffle output — compute-once
    semantics that matter enormously when the CTE scans 100TB (plan
    asserted in tests/test_plans.py)."""
    load_tables(spark, sf_dir)
    return spark.sql(
        "WITH spend AS ("
        "  SELECT c_custkey, c_nationkey, sum(o_totalprice) AS total"
        "  FROM customer JOIN orders ON c_custkey = o_custkey"
        "  GROUP BY c_custkey, c_nationkey) "
        "SELECT a.c_custkey, round(a.total, 2) AS total,"
        " round(m.mx, 2) AS nation_max"
        " FROM spend a JOIN (SELECT c_nationkey, max(total) AS mx"
        "   FROM spend GROUP BY c_nationkey) m"
        " ON a.c_nationkey = m.c_nationkey"
    )


def q_join_lateral(spark, sf_dir):
    """LATERAL correlated subquery join: top-2 customers by acctbal per
    nation (tiebreak c_custkey).  Exercises Catalyst's DecorrelateInnerQuery
    — the per-row subquery becomes one window + join, not N probes."""
    load_tables(spark, sf_dir)
    return spark.sql(
        "SELECT n_name, t.c_name AS top_customer, t.bal AS bal "
        "FROM nation, LATERAL ("
        "  SELECT c_name, round(c_acctbal, 2) AS bal FROM customer"
        "  WHERE c_nationkey = n_nationkey"
        "  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t"
    )


def q_join_range_binned(spark, sf_dir):
    """Band join via time-bucket binning — the scale path for
    join_range_theta (identical result, hash-checked against the same
    oracle).  Each left row joins only buckets floor(ts/300s) and +1 of the
    right side, so the equi-join prefix is (user_id, bucket): shuffle
    matching stays O(rows-per-user-per-5min) instead of O(rows-per-user)^2,
    which is what survives skewed power users at 100 TB."""
    load_tables(spark, sf_dir)
    ev = spark.table("events")
    # ntz -> ltz is value-preserving under the pinned UTC session; bucket
    # width 300 s means |bucket(b)-bucket(a)| <= 1 whenever 0 < b-a <= 5 min
    bkt = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 300)
    a = ev.select(
        "user_id",
        F.col("event_id").alias("eid1"),
        F.col("ts").alias("ts1"),
        bkt.alias("bkt1"),
    ).withColumn("off", F.explode(F.array(F.lit(0), F.lit(1))))
    b = ev.select(
        F.col("user_id").alias("user_id_b"),
        F.col("event_id").alias("eid2"),
        F.col("ts").alias("ts2"),
        bkt.alias("bkt2"),
    )
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("user_id_b"))
            & (F.col("bkt1") + F.col("off") == F.col("bkt2")),
        )
        .filter(
            (F.col("ts2") > F.col("ts1"))
            & (F.col("ts2") <= F.col("ts1") + F.expr("INTERVAL 5 MINUTES"))
        )
        .select("user_id", "eid1", "eid2")
    )


SALT_BUCKETS = 8


def q_join_skew_salted(spark, sf_dir):
    """Skew-resistant salted join (the manual form of AQE's skew split,
    on the graded surface): the big probe side gets a deterministic salt,
    the small build side is replicated across all SALT_BUCKETS salt
    values, and the join key becomes (key, salt) — a single hot key now
    spreads over SALT_BUCKETS reducers.  Must produce exactly the plain
    join's answer (the oracle is the unsalted SQL)."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    o = spark.table("orders").select("o_orderkey", "o_custkey")
    salted = li.withColumn(
        "salt",
        F.pmod(F.col("l_orderkey") * 31 + F.col("l_linenumber"), F.lit(SALT_BUCKETS))
        .cast("int"),
    )
    replicated = o.crossJoin(
        F.broadcast(
            spark.range(SALT_BUCKETS).select(F.col("id").cast("int").alias("salt"))
        )
    )
    return (
        salted.join(
            replicated,
            (salted.l_orderkey == replicated.o_orderkey)
            & (salted.salt == replicated.salt),
        )
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


OVERLAP_GAP_US = 30 * 60 * 1_000_000       # session break: >= 30 min silence
OVERLAP_WIN_US = 5 * 60 * 1_000_000        # error window: +/- 5 min
OVERLAP_BIN_US = 10 * 60 * 1_000_000       # alignment bin for the equi-join


def q_join_interval_overlap(spark, sf_dir):
    """Interval-overlap join: user sessions (gaps-and-islands, 30-min
    break) x global error-incident windows (error ts +/- 5 min) -> per
    session, how many incident windows it overlapped (incident
    attribution).  Only overlapping sessions are emitted.

    Scale shape: both interval sets explode into aligned 10-min bins and
    equi-join ON THE BIN, with the exact overlap predicate applied as a
    residual and pair-level dedup after — the standard trick that turns
    an all-pairs temporal theta join into a shuffle join whose key is
    time locality.  Bins per interval are bounded (sessions break at 30
    min, windows are 10 min wide), so the explode factor is a small
    constant; the DuckDB oracle states the same semantics as the naive
    theta join."""
    load_tables(spark, sf_dir)
    ev = spark.table("events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    brk = ev.withColumn(
        "new_sess",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) >= OVERLAP_GAP_US),
            1,
        ).otherwise(0),
    ).withColumn(
        "sid", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    sess = brk.groupBy("user_id", "sid").agg(
        F.min("us").alias("s_start"), F.max("us").alias("s_end")
    )
    win = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("w_id"),
        (F.col("us") - OVERLAP_WIN_US).alias("w_start"),
        (F.col("us") + OVERLAP_WIN_US).alias("w_end"),
    )
    bins = lambda lo, hi: F.sequence(  # noqa: E731
        F.floor(F.col(lo) / OVERLAP_BIN_US), F.floor(F.col(hi) / OVERLAP_BIN_US)
    )
    s_b = sess.withColumn("bin", F.explode(bins("s_start", "s_end")))
    w_b = win.withColumn("bin", F.explode(bins("w_start", "w_end")))
    pairs = (
        s_b.join(w_b, "bin")
        .filter(
            (F.col("s_start") <= F.col("w_end"))
            & (F.col("w_start") <= F.col("s_end"))
        )
        .select("user_id", "sid", "w_id")
        .distinct()
    )
    return pairs.groupBy("user_id", "sid").agg(
        F.count("*").alias("n_incidents")
    )


#: bucket count for the semi-join hash prefilter (1-hash blocked Bloom)
BLOOM_BUCKETS = 4096
#: geo-radius join parameters: search radius and the grid cell sizes that
#: make a 1-cell neighborhood sufficient (see q_join_geo_radius)
GEO_RADIUS_KM = 75.0
GEO_EARTH_KM = 6371.0
GEO_LAT_CELL = 1.0   # 1° lat ≈ 111 km > 75
GEO_LON_CELL = 2.0   # 2° lon ≥ 111 km for |lat| ≤ 60 (cos ≥ 0.5)


def q_join_prefilter_bitmap(spark, sf_dir):
    """Bloom-style semi-join prefilter: before shuffling the fact table
    into an equi-join, rows are pre-dropped by a 1-hash bucket filter
    built from the small side (bucket = xxhash64(key) mod 4096 — a
    blocked Bloom filter with one probe, expressed relationally so it
    broadcasts like any dim).  Survivors then take the EXACT semi-join,
    so false positives cost only wasted shuffle, never wrong answers —
    the result is identical to a plain semi-join, which is the oracle.

    At 100 TB this is the manual form of Spark's runtime bloom-filter
    pushdown: the 4096-bucket set is bytes, the fact scan drops ~
    (1 - |S|/4096) of rows before the exchange."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    small = spark.table("supplier").filter(F.col("s_nationkey") < 5)
    buckets = small.select(
        F.pmod(F.xxhash64("s_suppkey"), F.lit(BLOOM_BUCKETS)).alias("b")
    ).distinct()
    prefiltered = li.withColumn(
        "b", F.pmod(F.xxhash64("l_suppkey"), F.lit(BLOOM_BUCKETS))
    ).join(F.broadcast(buckets), "b", "left_semi")
    exact = prefiltered.join(
        F.broadcast(small.select("s_suppkey")),
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left_semi",
    )
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def _geo_points(spark):
    """Deterministic synthetic coordinates per customer: md5-uniform
    0.1°-grid points in a 12° × 36° region around the equator — dense
    enough that 75 km neighborhoods are populated at every fixture
    scale, and |lat| ≤ 6 keeps 1° of longitude ≈ 111 km, which the cell
    geometry below relies on.  (A multiplicative k·37 mod grid was a
    lattice with no close pairs; hashing spreads points uniformly.)"""
    c = spark.table("customer")
    h1 = F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 4), 16, 10)
    h2 = F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 5, 4), 16, 10)
    return c.select(
        "c_custkey",
        ((h1.cast("long") % 120) / 10.0 - 6.0).alias("lat"),
        ((h2.cast("long") % 360) / 10.0 - 18.0).alias("lon"),
    )


def _haversine_km(lat1, lon1, lat2, lon2):
    dphi = F.radians(lat2 - lat1) / 2
    dlmb = F.radians(lon2 - lon1) / 2
    a = (
        F.sin(dphi) * F.sin(dphi)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlmb) * F.sin(dlmb)
    )
    return 2 * GEO_EARTH_KM * F.asin(F.sqrt(a))


def q_join_geo_radius(spark, sf_dir):
    """Spatial self-join: all customer pairs within 75 km (haversine) of
    each other, via GRID BINNING — each point lands in a (1° lat × 2°
    lon) cell; one side explodes to its 3×3 cell neighborhood, the join
    is a plain equi-join on cell id, and the exact haversine predicate
    re-checks candidates.  Cell geometry guarantees no missed pair:
    75 km < 111 km (1° lat) and < 2°·55.5 km/° of longitude for
    |lat| ≤ 60.  The oracle is the brute-force O(n²) cross join —
    correct and fine at fixture scale, impossible at 100 TB, which is
    exactly why the binned plan is the production path."""
    load_tables(spark, sf_dir)
    pts = _geo_points(spark)
    cell_lat = F.floor(F.col("lat") / GEO_LAT_CELL).cast("long")
    cell_lon = F.floor(F.col("lon") / GEO_LON_CELL).cast("long")
    binned = pts.withColumn("cla", cell_lat).withColumn("clo", cell_lon)
    offs = F.expr("explode(flatten(transform(sequence(-1,1), i -> "
                  "transform(sequence(-1,1), j -> struct(i, j)))))")
    probe = binned.select(
        F.col("c_custkey").alias("c1"), F.col("lat").alias("lat1"),
        F.col("lon").alias("lon1"), "cla", "clo", offs.alias("o"),
    ).select(
        "c1", "lat1", "lon1",
        (F.col("cla") + F.col("o.i")).alias("cla"),
        (F.col("clo") + F.col("o.j")).alias("clo"),
    )
    build = binned.select(
        F.col("c_custkey").alias("c2"), F.col("lat").alias("lat2"),
        F.col("lon").alias("lon2"), "cla", "clo",
    )
    # round to 6 dp BEFORE the radius cut: Spark (java.lang.Math) and the
    # DuckDB oracle (libm) trig differ by ulps, and a raw-double `<= 75`
    # is a knife-edge for points sitting exactly on the radius — the 6 dp
    # surrogate (also used in the oracle) absorbs the ulp noise while
    # moving the cut by at most 0.5 mm
    dist = F.round(
        _haversine_km(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")), 6
    )
    return (
        probe.join(build, ["cla", "clo"])
        .filter(F.col("c1") < F.col("c2"))
        .withColumn("dist_km", dist)
        .filter(F.col("dist_km") <= GEO_RADIUS_KM)
        .select("c1", "c2", F.round("dist_km", 2).alias("dist_km"))
    )


#: kNN within the geo-radius candidate neighborhood
GEO_KNN = 3


def q_join_spatial_knn(spark, sf_dir):
    """Spatial k-nearest-neighbors (k=3) within a 75 km radius: the same
    3×3-cell grid candidate generation as q_join_geo_radius, then a
    per-probe window keeps the 3 closest candidates under the total
    order (distance, neighbor id).  Bounded-radius kNN is the form that
    stays exact under grid binning — unbounded kNN would need
    ring-expansion, radius-bounded kNN is one candidate join.

    Output: (c1, rank, c2, dist_km) for probes with ≥1 neighbor."""
    load_tables(spark, sf_dir)
    pts = _geo_points(spark)
    cell_lat = F.floor(F.col("lat") / GEO_LAT_CELL).cast("long")
    cell_lon = F.floor(F.col("lon") / GEO_LON_CELL).cast("long")
    binned = pts.withColumn("cla", cell_lat).withColumn("clo", cell_lon)
    offs = F.expr("explode(flatten(transform(sequence(-1,1), i -> "
                  "transform(sequence(-1,1), j -> struct(i, j)))))")
    probe = binned.select(
        F.col("c_custkey").alias("c1"), F.col("lat").alias("lat1"),
        F.col("lon").alias("lon1"), "cla", "clo", offs.alias("o"),
    ).select(
        "c1", "lat1", "lon1",
        (F.col("cla") + F.col("o.i")).alias("cla"),
        (F.col("clo") + F.col("o.j")).alias("clo"),
    )
    build = binned.select(
        F.col("c_custkey").alias("c2"), F.col("lat").alias("lat2"),
        F.col("lon").alias("lon2"), "cla", "clo",
    )
    # 6 dp surrogate before BOTH the radius cut and the rank ordering —
    # cross-engine trig ulps can otherwise flip near-tied ranks or the
    # radius cut (same hardening as q_join_geo_radius; oracle matches)
    dist = F.round(
        _haversine_km(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")), 6
    )
    cands = (
        probe.join(build, ["cla", "clo"])
        .filter(F.col("c1") != F.col("c2"))
        .withColumn("dist_km", dist)
        .filter(F.col("dist_km") <= GEO_RADIUS_KM)
    )
    # Single global per-probe window, MEASURED as the right local shape
    # (r8): a two-stage exact top-k (per-(c1, cell) pre-top-k reusing
    # the join's (cla, clo) exchange — superset-key clustering — then a
    # bounded O(probes*k) global exchange) was tried and ran 1.4x
    # SLOWER at sf1 (50 -> 67-74 s): it trades the full-set exchange
    # for an extra full-set sort, and at local[32] an exchange is a
    # memory copy while the sort is real work.  On a multi-node cluster
    # where the exchange is network, the two-stage form wins on dense
    # geo data (hot cells) — re-measure there before resurrecting it;
    # both forms are hash-identical (verified vs the oracle).
    w = Window.partitionBy("c1").orderBy("dist_km", "c2")
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= GEO_KNN)
        .select("c1", "rank", "c2", F.round("dist_km", 2).alias("dist_km"))
    )


#: asof lookback tolerance (microseconds): a purchase only attributes to a
#: view this recent — pandas merge_asof(tolerance=...) semantics
ASOF_TOLERANCE_US = 7200 * 1_000_000


def q_join_asof_tolerance(spark, sf_dir):
    """As-of join WITH TOLERANCE (pandas merge_asof semantics): each
    purchase matches the nearest PRECEDING view of the same user, but
    only if it happened within the last 2 hours — older matches are
    nulled, keeping the left-join row.  Same union+window single-shuffle
    form as join_asof: no pair join, one sort per user.

    Output: per purchase — the matched view id (nullable) and the lag in
    seconds (nullable)."""
    load_tables(spark, sf_dir)
    ev = spark.table("events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("vid"), F.col("ts").alias("vts"),
        F.lit(0).alias("is_p"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"), F.col("ts").alias("pts"),
        F.lit(1).alias("is_p"),
    )
    u = views.unionByName(
        purchases.select(
            "user_id", F.col("pid").alias("vid"), F.col("pts").alias("vts"), "is_p"
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("vts", "is_p", "vid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_vid = F.last(F.when(F.col("is_p") == 0, F.col("vid")), True).over(w)
    prev_vts = F.last(F.when(F.col("is_p") == 0, F.col("vts")), True).over(w)
    lag_us = (
        F.unix_micros(F.col("vts").cast("timestamp"))
        - F.unix_micros(prev_vts.cast("timestamp"))
    )
    within = prev_vts.isNotNull() & (lag_us <= ASOF_TOLERANCE_US)
    return (
        u.select(
            "user_id", "vid", "is_p",
            F.when(within, prev_vid).alias("view_id"),
            F.when(within, lag_us).alias("lag_us"),
        )
        .filter(F.col("is_p") == 1)
        .select("user_id", F.col("vid").alias("purchase_id"), "view_id", "lag_us")
    )


def q_join_mark_exists(spark, sf_dir):
    """Mark join (EXISTS as a column, not a filter): every customer row
    survives, annotated with whether they have any high-value order and
    any failed order — the shape SQL planners call a left-mark join,
    which semi/anti joins cannot express because NON-matching rows are
    kept too.  Expressed as EXISTS subqueries in the SELECT list so
    Catalyst plans the dedicated ExistenceJoin.

    100TB: one shuffle per mark on the join key, each a semi-join-like
    probe — never a row-multiplying outer join + distinct."""
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment,
               EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                       AND o.o_totalprice > 300000) AS has_big_order,
               EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                       AND o.o_orderstatus = 'F') AS has_failed
        FROM customer c
        """
    )


def q_join_point_in_time(spark, sf_dir):
    """Point-in-time (SCD2-style) dimension join — the data-warehouse
    temporal lookup: each customer's order stream defines a changing
    attribute history (order priority, valid from its order date until
    the next order), and every lineitem shipment is enriched with the
    priority THAT WAS CURRENT at its ship date.  No interval table is
    materialized: dim rows and fact rows interleave in ONE per-customer
    window pass (dims sort before facts at equal timestamps; ties among
    same-day orders break to the highest orderkey), the same
    union+window shape as join_asof — one shuffle, no range join.
    Output: shipments per matched priority."""
    load_tables(spark, sf_dir)
    o, li = spark.table("orders"), spark.table("lineitem")
    dim = o.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderdate").alias("t"),
        F.col("o_orderkey").alias("ok"),
        F.col("o_orderpriority").alias("prio"),
        F.lit(0).alias("is_fact"),
        F.lit(0.0).alias("qty"),
    )
    fact = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("ck"),
            F.col("l_shipdate").alias("t"),
            F.col("l_orderkey").alias("ok"),
            F.lit(None).cast("string").alias("prio"),
            F.lit(1).alias("is_fact"),
            F.col("l_quantity").alias("qty"),
        )
    )
    u = dim.unionByName(fact)
    w = (
        Window.partitionBy("ck")
        .orderBy("t", "is_fact", "ok")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = u.withColumn(
        "cur_prio", F.last("prio", ignorenulls=True).over(w)
    ).filter(F.col("is_fact") == 1)
    return matched.groupBy(F.col("cur_prio").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_shipments"),
        F.round(F.sum("qty"), 2).alias("sum_qty"),
    )


# =================================================================
# Group C — join shapes
# =================================================================
BLOOM_BITS = 1024
BLOOM_HASHES = 3
BLOOM_TOPN = 5


def q_join_bloom_prefilter(spark, sf_dir):
    """Bloom-filter pre-filtered semi join — the runtime-filter pattern:
    the dim side (top-5 customers by total order value) builds a tiny
    bit set (3 portable md5 hashes into 1024 bits, collected as a
    BOUNDED driver list of set bit positions — the broadcast runtime
    filter), the fact side drops rows whose 3 probe bits are not all
    set BEFORE the shuffle, and an exact semi join afterwards removes
    bloom false positives — so the RESULT equals the plain semi join
    (hash-checked) while the plan ships only pre-filtered rows.  At
    100 TB this is Spark's own runtime-filtering shape, spelled
    explicitly."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    # NULL custkeys are not customers and can never equi-match the semi
    # join — drop them BEFORE the top-N ranking so they neither burn a
    # rank slot (engine NULL-ordering divergence on ties) nor reach the
    # driver-side bit-position collect as None
    top = (
        o.filter(F.col("o_custkey").isNotNull())
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("v"))
        .withColumn(
            "rn", F.row_number().over(Window.orderBy(F.col("v").desc(), "o_custkey"))
        )
        .filter(F.col("rn") <= BLOOM_TOPN)
        .select("o_custkey")
    )
    key = F.col("o_custkey").cast("string")
    pos_cols = [
        (_md5_le(F.concat(key, F.lit(f"@{i}")), 4) % BLOOM_BITS).alias(f"p{i}")
        for i in range(BLOOM_HASHES)
    ]
    # bounded collect: <= TOPN * HASHES bit positions (the runtime filter)
    bits = sorted(
        {
            r[f"p{i}"]
            for r in top.select(*pos_cols).collect()
            for i in range(BLOOM_HASHES)
        }
    )
    bit_arr = F.array(*[F.lit(b) for b in bits])
    probe_ok = None
    for i in range(BLOOM_HASHES):
        c = F.array_contains(
            bit_arr, _md5_le(F.concat(key, F.lit(f"@{i}")), 4) % BLOOM_BITS
        )
        probe_ok = c if probe_ok is None else (probe_ok & c)
    return (
        o.filter(probe_ok)  # bloom pre-filter: false positives possible
        .join(top, "o_custkey", "left_semi")  # exact: removes them
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("total_value"),
        )
    )


# =================================================================
# Group C/J — hierarchical rollup (the recursive-CTE query class)
# =================================================================
def q_cte_recursive_rollup(spark, sf_dir):
    """Hierarchical subtree rollup over the implicit decimal tree on
    customer keys (parent(k) = k div 10, roots 1-9): every customer's
    descendant count and total subtree order revenue — the recursive-CTE
    query class (org charts, BOM explosions, category trees).

    Plan: recursion is REWRITTEN as a bounded ancestor-explode — each
    customer emits (ancestor, revenue) for its div-10 ancestors — 18
    levels, enough for ANY int64 key (10^18 > 2^63/10), so the bound is
    type-derived, not data-derived — then one partial+final
    agg on the ancestor key.  That is the scale-appropriate plan: a
    loop of self-joins runs depth sequential shuffles, while this is
    ONE generate + ONE shuffle regardless of depth; the DuckDB oracle
    keeps the textbook WITH RECURSIVE form to pin identical semantics.
    Revenue is exact integer cents."""
    load_tables(spark, sf_dir)
    c = spark.table("customer").select("c_custkey")
    o = spark.table("orders").select(
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    rev = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.coalesce(F.sum("cents"), F.lit(0)).alias("own_cents"))
    )
    # ancestors of k: always k itself, then k div 10, k div 100, ... while
    # > 0 (custkeys start at 0 — key 0 is a single-node root, so self
    # membership cannot hinge on the a > 0 walk condition)
    anc = rev.select(
        F.explode(
            F.expr(
                "array_distinct(concat(array(c_custkey), "
                "filter(transform(sequence(1, 18), "
                "p -> c_custkey div cast(pow(10, p) as bigint)), a -> a > 0)))"
            )
        ).alias("anc_key"),
        "own_cents",
    )
    rolled = anc.groupBy("anc_key").agg(
        F.count(F.lit(1)).alias("n_desc"),
        F.sum("own_cents").alias("subtree_cents"),
    )
    # report only keys that are actual customers (interior synthetic
    # ancestors like 12 exist as customers too under TPC-H dense keys)
    return (
        rolled.join(rev, rolled.anc_key == rev.c_custkey)
        .select(
            F.col("c_custkey").alias("custkey"),
            "n_desc",
            (F.col("subtree_cents") / 100.0).alias("subtree_revenue"),
        )
    )


# =================================================================
# Group C — blocked fuzzy join (entity resolution)
# =================================================================
FUZZY_T = 3  #: max edit distance for a match


def q_join_fuzzy_blocked(spark, sf_dir):
    """Entity-resolution fuzzy join over the part-name vocabulary:
    candidate pairs are generated ONLY within a blocking key (the name's
    last token — the head noun), then scored by exact Levenshtein and
    kept at distance ≤ 3 — the blocking+scoring shape of every record-
    linkage pipeline (never the quadratic all-pairs).

    Plan: names dedupe to the vocabulary first (64 names at any SF —
    name count is a fixture vocabulary, part count scales), so the pair
    join runs on the TINY distinct spine and the per-name part counts
    join back.  At 100 TB the same plan holds: block-keyed equi-join on
    the deduped vocabulary; a skewed block is re-blocked by a second key
    (length bucket), the standard ER mitigation.  Levenshtein semantics
    already hash-checked cross-engine by fn_levenshtein."""
    load_tables(spark, sf_dir)
    p = spark.table("part")
    names = p.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    blocked = names.select(
        "p_name",
        "n_parts",
        F.element_at(F.split("p_name", " "), -1).alias("blk"),
    )
    a = blocked.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("parts_a"),
        "blk",
    )
    b = blocked.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("parts_b"),
        "blk",
    )
    pairs = (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= FUZZY_T)
    )
    return pairs.select("blk", "name_a", "name_b", "dist", "parts_a", "parts_b")


def q_join_allen_intervals(spark, sf_dir):
    """Allen's interval algebra over order fulfilment windows: classify
    every ordered pair of a customer's orders (interval = orderdate ..
    last shipdate) into the 13 Allen relations (precedes, meets,
    overlaps, starts, during, finishes, equals + inverses) and count
    each — the temporal-reasoning primitive behind scheduling and
    process-mining engines.

    Plan: one agg to per-order intervals, one SELF-JOIN CO-PARTITIONED
    BY CUSTOMER (pair counts bounded per key by orders-per-customer,
    never a global cross product), a CASE ladder of pure date
    comparisons, then a bounded 13-row count.  Pairs are ordered by
    (start, end, orderkey) so each unordered pair is classified exactly
    once and inverse relations are genuinely distinct outcomes."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    li = spark.table("lineitem")
    iv = (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_custkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("e"))
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("ok"),
            F.col("o_orderdate").alias("s"),
            "e",
        )
    )
    pairs = (
        iv.alias("a")
        .join(iv.alias("b"), "o_custkey")
        .filter(
            F.expr(
                "struct(a.s, a.e, a.ok) < struct(b.s, b.e, b.ok)"
            )
        )
    )
    rel = F.expr(
        "CASE "
        "WHEN a.e < b.s THEN 'precedes' "
        "WHEN a.e = b.s AND a.s < b.s THEN 'meets' "
        "WHEN a.s = b.s AND a.e = b.e THEN 'equals' "
        "WHEN a.s = b.s AND a.e < b.e THEN 'starts' "
        "WHEN a.s = b.s AND a.e > b.e THEN 'started_by' "
        "WHEN a.s < b.s AND a.e = b.e THEN 'finished_by' "
        "WHEN a.s < b.s AND a.e > b.e THEN 'contains' "
        "WHEN a.s < b.s AND a.e < b.e THEN 'overlaps' "
        "ELSE 'other' END"
    )
    return (
        pairs.select(rel.alias("relation"))
        .groupBy("relation")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


#: similarity join threshold (Jaccard, as a ratio p/q = 4/5)
SIMJ_P, SIMJ_Q = 4, 5


def q_join_similarity_prefix_filter(spark, sf_dir):
    """Set-similarity self-join with PREFIX FILTERING (PPJoin family):
    find document pairs whose word-TRIGRAM sets have Jaccard >= 4/5.
    The naive candidate set — every pair sharing ANY trigram — explodes
    on common shingles; the prefix filter orders each doc's trigrams by
    ascending global frequency and probes only the first
    |s| - ceil(t|s|) + 1 RAREST of them, which provably cannot miss a
    qualifying pair (two sets with Jaccard >= t must collide inside
    their prefixes under any consistent global order).

    Plan: trigram df agg, per-doc rank window (co-partitioned by doc),
    candidate equi-join keyed by rare trigrams, exact intersection
    count on candidates only, INTEGER threshold test
    (J >= p/q  <=>  (p+q)*c >= p*(sa+sb)).  The oracle is the
    unfiltered all-shared-trigram join — correct at fixture scale and
    precisely the blowup the prefix plan avoids at 100 TB."""
    load_tables(spark, sf_dir)
    # complete-case: a missing document has no trigram set — and the
    # NULL-length sequence(1, greatest(NULL, 0)) = sequence(1, 0) is
    # Spark's DESCENDING [1, 0], which would fabricate '' trigrams
    d = spark.table("documents").filter(F.col("text").isNotNull())
    ws = F.split("text", " ")
    tri = (
        d.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(split(text, ' ')) - 2, 0)), "
                    "i -> concat_ws(' ', slice(split(text, ' '), i, 3)))"
                )
            ).alias("t"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = tri.groupBy("doc_id").agg(F.count(F.lit(1)).alias("s"))
    df = tri.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    wd = Window.partitionBy("doc_id").orderBy("df", "t")
    ranked = (
        tri.join(df, "t")
        .withColumn("rn", F.row_number().over(wd))
        .join(sizes, "doc_id")
    )
    # prefix_len = s - ceil(t*s) + 1, ceil(p*s/q) = (p*s + q - 1) div q
    prefix = ranked.filter(
        F.col("rn")
        <= F.col("s") - F.expr(f"({SIMJ_P} * s + {SIMJ_Q} - 1) div {SIMJ_Q}") + 1
    ).select("doc_id", "t")
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "t")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db")
        )
        .distinct()
    )
    inter = (
        cand.join(tri.alias("x"), F.col("da") == F.col("x.doc_id"))
        .join(
            tri.alias("y"),
            (F.col("db") == F.col("y.doc_id"))
            & (F.col("x.t") == F.col("y.t")),
        )
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    scored = (
        inter.join(sizes.withColumnRenamed("doc_id", "da"), "da")
        .withColumnRenamed("s", "sa")
        .join(sizes.withColumnRenamed("doc_id", "db"), "db")
        .withColumnRenamed("s", "sb")
    )
    return scored.filter(
        (SIMJ_P + SIMJ_Q) * F.col("c") >= SIMJ_P * (F.col("sa") + F.col("sb"))
    ).select(
        "da",
        "db",
        "c",
        "sa",
        "sb",
        F.expr(
            "(2 * 1000 * c + (sa + sb - c)) div (2 * (sa + sb - c))"
        ).alias("jaccard_pm"),
    )


#: longest-prefix routing rules (prefix -> route), '' = default route
LPM_RULES = (
    ("STANDARD", "std"),
    ("STANDARD ANODIZED", "std-anodized"),
    ("SMALL", "small"),
    ("SMALL PLATED", "small-plated"),
    ("PROMO", "promo"),
    ("PROMO BURNISHED", "promo-burnished"),
    ("ECONOMY", "economy"),
    ("", "default"),
)


def q_join_longest_prefix(spark, sf_dir):
    """LONGEST-PREFIX-MATCH join: classify every part type against a
    rule table where more specific prefixes win ('PROMO BURNISHED'
    beats 'PROMO' beats the '' default) — the routing-table semantics
    behind CIDR lookup, URL rules and product taxonomies, which a plain
    equi- or any-match join cannot express.

    Plan: the rule table is a literal bounded VALUES relation, the match
    is a starts_with theta-join (Spark auto-broadcasts the tiny build
    side), and the winner per part is one max_by on (prefix length,
    prefix) — deterministic even if two rules tie in length.  Output is
    the bounded per-route roll-up."""
    load_tables(spark, sf_dir)
    p = spark.table("part")
    rows = ", ".join(f"('{pre}', '{route}')" for pre, route in LPM_RULES)
    rules = spark.sql(f"SELECT * FROM VALUES {rows} AS t(prefix, route)")
    m = p.join(rules, F.expr("startswith(p_type, prefix)"))
    best = m.groupBy("p_partkey").agg(
        F.max_by(
            "route", F.struct(F.length("prefix"), F.col("prefix"))
        ).alias("route")
    )
    return best.groupBy("route").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min("p_partkey").alias("min_key"),
        F.max("p_partkey").alias("max_key"),
    )


_LPM_ROWS = ", ".join(f"('{p}', '{r}')" for p, r in LPM_RULES)


#: interpolation curve: (quantity breakpoint, rate per-million)
CURVE = ((1, 0), (10, 20_000), (25, 55_000), (40, 80_000), (50, 100_000))


def q_join_interpolate_curve(spark, sf_dir):
    """PIECEWISE-LINEAR interpolation join: look up each lineitem's
    quantity on a breakpoint rate curve and LINEARLY INTERPOLATE
    between the surrounding knots — the rate-card / yield-curve / tax-
    bracket lookup that is neither an equi-join (values fall between
    knots) nor an as-of join (as-of would step, not slope).

    Plan: the bounded literal curve gains its next knot via lead(),
    the knot interval matches with ONE theta-join (auto-broadcast tiny
    build side), and the interpolated rate is an EXACT half-up
    per-million integer: r = r0 + (q - q0) * (r1 - r0) / (q1 - q0) on
    integer operands (the numerator is non-negative: the curve is
    monotone)."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("q"),
    )
    rows = ", ".join(f"({q}, {r})" for q, r in CURVE)
    curve = spark.sql(
        f"SELECT q0, r0, lead(q0) OVER (ORDER BY q0) AS q1, "
        f"lead(r0) OVER (ORDER BY q0) AS r1 "
        f"FROM VALUES {rows} AS t(q0, r0)"
    ).filter(F.col("q1").isNotNull())
    j = li.join(
        curve,
        (F.col("q") >= F.col("q0")) & (F.col("q") < F.col("q1")),
    )
    rate = F.expr(
        "r0 + (2 * (q - q0) * (r1 - r0) + (q1 - q0)) div (2 * (q1 - q0))"
    )
    return j.select(
        "l_orderkey",
        "l_linenumber",
        "q",
        (rate / 1000000.0).alias("interp_rate"),
    )


_CURVE_ROWS = ", ".join(f"({q}, {r})" for q, r in CURVE)


def q_join_not_in_null_trap(spark, sf_dir):
    """The NOT-IN-WITH-NULL trap, codified: a probe list CONTAINING A
    NULL makes `x NOT IN (list)` evaluate to UNKNOWN for every row
    (three-valued logic), so the NOT IN branch returns ZERO rows while
    the NOT EXISTS branch returns the expected complement — the ANSI
    semantics both engines implement and production queries routinely
    get wrong.  Output: both counts side by side plus the trap's row
    deficit, a regression guard on the engines' null logic."""
    load_tables(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _probe AS "
        "SELECT * FROM VALUES (1), (2), (3), (NULL) AS t(k)"
    )
    not_in = spark.sql(
        "SELECT count(*) AS c FROM nation "
        "WHERE n_nationkey NOT IN (SELECT k FROM _probe)"
    )
    not_exists = spark.sql(
        "SELECT count(*) AS c FROM nation n WHERE NOT EXISTS "
        "(SELECT 1 FROM _probe p WHERE p.k = n.n_nationkey)"
    )
    return (
        not_in.select(F.col("c").alias("not_in_rows"))
        .crossJoin(
            not_exists.select(F.col("c").alias("not_exists_rows"))
        )
        .select(
            "not_in_rows",
            "not_exists_rows",
            (F.col("not_exists_rows") - F.col("not_in_rows")).alias(
                "trap_deficit"
            ),
        )
    )


def q_join_basket_overlap(spark, sf_dir):
    """BASKET-OVERLAP matrix: for every pair of nations, the overlap
    coefficient |A ∩ B| / min(|A|, |B|) of their customers' purchased-
    part sets — entity-level set similarity (which markets buy the same
    catalog), the 25x25 bounded cousin of the document-level similarity
    joins.  Part sets come from one distinct projection; intersections
    from ONE self-join keyed by part (co-partitioned); the coefficient
    is a half-up per-mille integer quotient."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    o = spark.table("orders")
    c = spark.table("customer")
    n = spark.table("nation")
    np = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "l_partkey")
        .distinct()
    )
    sizes = np.groupBy("n_name").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        np.alias("a")
        .join(
            np.alias("b"),
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.n_name") < F.col("b.n_name")),
        )
        .groupBy(
            F.col("a.n_name").alias("na"), F.col("b.n_name").alias("nb")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    j = (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("n_name", "na")), "na"
        )
        .withColumnRenamed("sz", "sa")
        .join(F.broadcast(sizes.withColumnRenamed("n_name", "nb")), "nb")
        .withColumnRenamed("sz", "sb")
    )
    return j.select(
        "na",
        "nb",
        "inter",
        "sa",
        "sb",
        F.expr(
            "(2 * 1000 * inter + least(sa, sb)) div (2 * least(sa, sb))"
        ).alias("overlap_pm"),
    )


QUERIES = {
    "join_prefilter_bitmap": q_join_prefilter_bitmap,
    "join_geo_radius": q_join_geo_radius,
    "join_spatial_knn": q_join_spatial_knn,
    "join_asof_tolerance": q_join_asof_tolerance,
    "join_point_in_time": q_join_point_in_time,
    "join_mark_exists": q_join_mark_exists,
    "join_interval_overlap": q_join_interval_overlap,
    "join_broadcast": q_join_broadcast,
    "join_skew_salted": q_join_skew_salted,
    "join_shuffle_equi": q_join_shuffle_equi,
    "join_multiway": q_join_multiway,
    "join_left_outer": q_join_left_outer,
    "join_semi": q_join_semi,
    "join_anti": q_join_anti,
    "join_cross": q_join_cross,
    "join_range_theta": q_join_range_theta,
    "join_asof": q_join_asof,
    "join_asof_nearest": q_join_asof_nearest,
    "join_scalar_subquery": q_join_scalar_subquery,
    "join_full_outer": q_join_full_outer,
    "join_null_safe": q_join_null_safe,
    "join_correlated_subquery": q_join_correlated_subquery,
    "cte_exchange_reuse": q_cte_exchange_reuse,
    "join_lateral": q_join_lateral,
    "join_range_binned": q_join_range_binned,
    "join_bloom_prefilter": q_join_bloom_prefilter,
    "cte_recursive_rollup": q_cte_recursive_rollup,
    "join_fuzzy_blocked": q_join_fuzzy_blocked,
    "join_allen_intervals": q_join_allen_intervals,
    "join_similarity_prefix_filter": q_join_similarity_prefix_filter,
    "join_longest_prefix": q_join_longest_prefix,
    "join_interpolate_curve": q_join_interpolate_curve,
    "join_not_in_null_trap": q_join_not_in_null_trap,
    "join_basket_overlap": q_join_basket_overlap,
}

ORACLES = {
    "join_prefilter_bitmap": (
        "SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty "
        "FROM lineitem WHERE l_suppkey IN "
        "(SELECT s_suppkey FROM supplier WHERE s_nationkey < 5) "
        "GROUP BY l_returnflag"
    ),
    "join_geo_radius": (
        "WITH p AS (SELECT c_custkey, "
        "(('0x' || substr(md5(c_custkey::VARCHAR), 1, 4))::BIGINT % 120) / 10.0 - 6.0 AS lat, "
        "(('0x' || substr(md5(c_custkey::VARCHAR), 5, 4))::BIGINT % 360) / 10.0 - 18.0 AS lon "
        "FROM customer), "
        "d AS (SELECT a.c_custkey AS c1, b.c_custkey AS c2, "
        f"round(2 * {GEO_EARTH_KM} * asin(sqrt("
        "sin(radians(b.lat - a.lat) / 2) ^ 2 + "
        "cos(radians(a.lat)) * cos(radians(b.lat)) * "
        "sin(radians(b.lon - a.lon) / 2) ^ 2)), 6) AS dist "
        "FROM p a JOIN p b ON a.c_custkey < b.c_custkey) "
        "SELECT c1, c2, round(dist, 2) AS dist_km FROM d "
        f"WHERE dist <= {GEO_RADIUS_KM}"
    ),
    "join_mark_exists": (
        "SELECT c_custkey, c_mktsegment, "
        "EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
        "AND o.o_totalprice > 300000) AS has_big_order, "
        "EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
        "AND o.o_orderstatus = 'F') AS has_failed "
        "FROM customer c"
    ),
    "join_point_in_time": (
        "WITH u AS ("
        "SELECT o_custkey AS ck, o_orderdate AS t, o_orderkey AS ok, "
        "o_orderpriority AS prio, 0 AS is_fact, 0.0 AS qty FROM orders "
        "UNION ALL "
        "SELECT o_custkey, l_shipdate, l_orderkey, NULL, 1, l_quantity "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), "
        "m AS (SELECT *, last_value(prio IGNORE NULLS) OVER "
        "(PARTITION BY ck ORDER BY t, is_fact, ok "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cur_prio FROM u) "
        "SELECT cur_prio AS priority, count(*) AS n_shipments, "
        "round(sum(qty), 2) AS sum_qty FROM m WHERE is_fact = 1 "
        "GROUP BY cur_prio"
    ),
    "join_asof_tolerance": (
        "WITH u AS ("
        "SELECT user_id, event_id AS vid, ts AS vts, 0 AS is_p FROM events "
        "WHERE event_type = 'view' "
        "UNION ALL "
        "SELECT user_id, event_id, ts, 1 FROM events WHERE event_type = 'purchase'), "
        "m AS (SELECT *, "
        "last_value(CASE WHEN is_p = 0 THEN vid END IGNORE NULLS) OVER w AS pv, "
        "last_value(CASE WHEN is_p = 0 THEN vts END IGNORE NULLS) OVER w AS pt "
        "FROM u WINDOW w AS (PARTITION BY user_id ORDER BY vts, is_p, vid "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) "
        "SELECT user_id, vid AS purchase_id, "
        f"CASE WHEN pt IS NOT NULL AND epoch_us(vts) - epoch_us(pt) <= {ASOF_TOLERANCE_US} "
        "THEN pv END AS view_id, "
        f"CASE WHEN pt IS NOT NULL AND epoch_us(vts) - epoch_us(pt) <= {ASOF_TOLERANCE_US} "
        "THEN epoch_us(vts) - epoch_us(pt) END AS lag_us "
        "FROM m WHERE is_p = 1"
    ),
    "join_spatial_knn": (
        "WITH p AS (SELECT c_custkey, "
        "(('0x' || substr(md5(c_custkey::VARCHAR), 1, 4))::BIGINT % 120) / 10.0 - 6.0 AS lat, "
        "(('0x' || substr(md5(c_custkey::VARCHAR), 5, 4))::BIGINT % 360) / 10.0 - 18.0 AS lon "
        "FROM customer), "
        "d AS (SELECT a.c_custkey AS c1, b.c_custkey AS c2, "
        f"round(2 * {GEO_EARTH_KM} * asin(sqrt("
        "sin(radians(b.lat - a.lat) / 2) ^ 2 + "
        "cos(radians(a.lat)) * cos(radians(b.lat)) * "
        "sin(radians(b.lon - a.lon) / 2) ^ 2)), 6) AS dist "
        "FROM p a JOIN p b ON a.c_custkey <> b.c_custkey), "
        f"r AS (SELECT c1, c2, dist, row_number() OVER "
        "(PARTITION BY c1 ORDER BY dist, c2) AS rank FROM d "
        f"WHERE dist <= {GEO_RADIUS_KM}) "
        f"SELECT c1, rank, c2, round(dist, 2) AS dist_km FROM r WHERE rank <= {GEO_KNN}"
    ),
    "join_asof_nearest": (
        "WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us, "
        "CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS rk FROM events "
        "WHERE event_type IN ('view', 'purchase')), "
        "marked AS (SELECT *, "
        "last_value(CASE WHEN event_type = 'view' THEN us END IGNORE NULLS) "
        "OVER (PARTITION BY user_id ORDER BY us, rk, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_us, "
        "first_value(CASE WHEN event_type = 'view' THEN us END IGNORE NULLS) "
        "OVER (PARTITION BY user_id ORDER BY us, rk, event_id "
        "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_us "
        "FROM e) "
        "SELECT event_id AS purchase_id, user_id, "
        "CASE WHEN next_us IS NULL OR (prev_us IS NOT NULL "
        "AND us - prev_us <= next_us - us) THEN prev_us ELSE next_us END AS near_us, "
        "CASE WHEN next_us IS NULL OR (prev_us IS NOT NULL "
        "AND us - prev_us <= next_us - us) THEN prev_us ELSE next_us END - us "
        "AS signed_gap_us "
        "FROM marked WHERE event_type = 'purchase'"
    ),
    "join_interval_overlap": (
        "WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us "
        "FROM events), "
        "brk AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL "
        f"OR us - lag(us) OVER w >= {OVERLAP_GAP_US} THEN 1 ELSE 0 END AS new_sess "
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), "
        "seg AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id "
        "ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM brk), "
        "sess AS (SELECT user_id, CAST(sid AS BIGINT) AS sid, "
        "min(us) AS s_start, max(us) AS s_end "
        "FROM seg GROUP BY 1, 2), "
        "win AS (SELECT event_id AS w_id, "
        f"us - {OVERLAP_WIN_US} AS w_start, us + {OVERLAP_WIN_US} AS w_end "
        "FROM e WHERE event_type = 'error') "
        "SELECT user_id, sid, count(*) AS n_incidents "
        "FROM sess JOIN win ON s_start <= w_end AND w_start <= s_end "
        "GROUP BY 1, 2"
    ),
    "join_skew_salted": (
        "SELECT o_custkey, count(*) AS n_lines, "
        "round(sum(l_quantity), 2) AS sum_qty "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY o_custkey"
    ),
    "join_lateral": (
        "SELECT n_name, t.c_name AS top_customer, t.bal AS bal "
        "FROM nation, LATERAL ("
        "SELECT c_name, round(c_acctbal, 2) AS bal FROM customer "
        "WHERE c_nationkey = n_nationkey "
        "ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t"
    ),
    # identical semantics to join_range_theta — binning must not change
    # the answer, only the join's matching cost
    "join_range_binned": (
        "SELECT a.user_id AS user_id, a.event_id AS eid1, b.event_id AS eid2 "
        "FROM events a JOIN events b ON a.user_id = b.user_id "
        "AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE"
    ),
    "join_correlated_subquery": (
        "SELECT o_orderkey, round(o_totalprice, 2) AS price"
        " FROM orders o"
        " WHERE o_totalprice > 1.2 * (SELECT avg(i.o_totalprice)"
        " FROM orders i WHERE i.o_custkey = o.o_custkey)"
    ),
    "cte_exchange_reuse": (
        "WITH spend AS ("
        " SELECT c_custkey, c_nationkey, sum(o_totalprice) AS total"
        " FROM customer JOIN orders ON c_custkey = o_custkey"
        " GROUP BY c_custkey, c_nationkey) "
        "SELECT a.c_custkey, round(a.total, 2) AS total,"
        " round(m.mx, 2) AS nation_max"
        " FROM spend a JOIN (SELECT c_nationkey, max(total) AS mx"
        " FROM spend GROUP BY c_nationkey) m"
        " ON a.c_nationkey = m.c_nationkey"
    ),
    "join_null_safe": (
        "SELECT n_name, count(*) AS n_cust "
        "FROM customer JOIN nation "
        "ON nullif(c_nationkey, 10) IS NOT DISTINCT FROM nullif(n_nationkey, 10) "
        "GROUP BY n_name"
    ),
    "join_full_outer": (
        "WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust"
        " FROM customer WHERE c_nationkey <= 15 GROUP BY 1), "
        "s AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp"
        " FROM supplier WHERE s_nationkey >= 10 GROUP BY 1) "
        "SELECT coalesce(c.nationkey, s.nationkey) AS nationkey, "
        "coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp "
        "FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey"
    ),
    "join_broadcast": (
        "SELECT n_nationkey, n_name, r_name FROM nation "
        "JOIN region ON n_regionkey = r_regionkey"
    ),
    "join_shuffle_equi": (
        "SELECT o_orderstatus, count(*) AS n_items, "
        "round(sum(l_extendedprice), 2) AS sum_price "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
        "GROUP BY o_orderstatus"
    ),
    "join_multiway": (
        "SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM customer "
        "JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON o_orderkey = l_orderkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "GROUP BY n_name"
    ),
    "join_left_outer": (
        "SELECT c_custkey, count(o_orderkey) AS n_orders "
        "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
        "GROUP BY c_custkey"
    ),
    "join_semi": (
        "SELECT c_custkey, c_name FROM customer c "
        "WHERE EXISTS (SELECT 1 FROM orders o "
        "WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')"
    ),
    "join_anti": (
        "SELECT p_partkey, p_name FROM part p "
        "WHERE NOT EXISTS (SELECT 1 FROM lineitem l "
        "WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 48)"
    ),
    "join_cross": "SELECT r_name, n_name FROM region CROSS JOIN nation",
    "join_range_theta": (
        "SELECT a.user_id AS user_id, a.event_id AS eid1, b.event_id AS eid2 "
        "FROM events a JOIN events b ON a.user_id = b.user_id "
        "AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE"
    ),
    "join_asof": (
        "WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'), "
        "v AS (SELECT * FROM events WHERE event_type = 'view'), "
        "j AS (SELECT p.event_id AS purchase_id, v.event_id AS view_id, "
        "row_number() OVER (PARTITION BY p.event_id "
        "ORDER BY v.ts DESC, v.event_id DESC) AS rn "
        "FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts < p.ts) "
        "SELECT purchase_id, view_id FROM j WHERE rn = 1"
    ),
    "join_scalar_subquery": (
        "SELECT o_orderkey, round(o_totalprice, 2) AS price"
        " FROM orders"
        " WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)"
    ),
    "join_bloom_prefilter": (
        "WITH top AS (SELECT o_custkey, "
        "row_number() OVER (ORDER BY sum(CAST(o_totalprice AS DECIMAL(18,2))) "
        "DESC, o_custkey) AS rn FROM orders "
        "WHERE o_custkey IS NOT NULL GROUP BY o_custkey "
        f"QUALIFY rn <= {BLOOM_TOPN}) "
        "SELECT o.o_custkey, count(*) AS n_orders, "
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) "
        "AS total_value FROM orders o JOIN top USING (o_custkey) "
        "GROUP BY 1"
    ),
    "cte_recursive_rollup": (
        "WITH RECURSIVE rev AS (SELECT c_custkey, coalesce(sum("
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)), 0) "
        "AS own_cents FROM customer LEFT JOIN orders "
        "ON c_custkey = o_custkey GROUP BY c_custkey), "
        # pairs (node, member-of-subtree): seed with self, walk child->parent
        "walk AS (SELECT c_custkey AS anc_key, c_custkey AS node, "
        "own_cents FROM rev "
        "UNION ALL SELECT anc_key // 10, node, own_cents FROM walk "
        "WHERE anc_key // 10 > 0), "
        "rolled AS (SELECT anc_key, count(*) AS n_desc, "
        "sum(own_cents) AS subtree_cents FROM walk GROUP BY anc_key) "
        "SELECT r.c_custkey AS custkey, CAST(n_desc AS BIGINT) AS n_desc, "
        "subtree_cents / 100.0 AS subtree_revenue "
        "FROM rolled JOIN rev r ON anc_key = r.c_custkey"
    ),
    "join_fuzzy_blocked": (
        "WITH names AS (SELECT p_name, count(*) AS n_parts FROM part "
        "GROUP BY p_name), "
        "blocked AS (SELECT p_name, n_parts, "
        "string_split(p_name, ' ')[-1] AS blk FROM names), "
        "pairs AS (SELECT a.blk, a.p_name AS name_a, b.p_name AS name_b, "
        "levenshtein(a.p_name, b.p_name) AS dist, "
        "a.n_parts AS parts_a, b.n_parts AS parts_b "
        "FROM blocked a JOIN blocked b ON a.blk = b.blk "
        "AND a.p_name < b.p_name) "
        f"SELECT blk, name_a, name_b, CAST(dist AS BIGINT) AS dist, "
        f"parts_a, parts_b FROM pairs WHERE dist <= {FUZZY_T}"
    ),
    "join_allen_intervals": (
        "WITH iv AS (SELECT o_custkey, o_orderkey AS ok, "
        "o_orderdate AS s, max(l_shipdate) AS e "
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
        "GROUP BY 1, 2, 3), "
        "p AS (SELECT a.s AS s1, a.e AS e1, b.s AS s2, b.e AS e2 "
        "FROM iv a JOIN iv b ON a.o_custkey = b.o_custkey "
        "AND (a.s, a.e, a.ok) < (b.s, b.e, b.ok)) "
        "SELECT CASE "
        "WHEN e1 < s2 THEN 'precedes' "
        "WHEN e1 = s2 AND s1 < s2 THEN 'meets' "
        "WHEN s1 = s2 AND e1 = e2 THEN 'equals' "
        "WHEN s1 = s2 AND e1 < e2 THEN 'starts' "
        "WHEN s1 = s2 AND e1 > e2 THEN 'started_by' "
        "WHEN s1 < s2 AND e1 = e2 THEN 'finished_by' "
        "WHEN s1 < s2 AND e1 > e2 THEN 'contains' "
        "WHEN s1 < s2 AND e1 < e2 THEN 'overlaps' "
        "ELSE 'other' END AS relation, "
        "CAST(count(*) AS BIGINT) AS n_pairs FROM p GROUP BY 1"
    ),
    "join_similarity_prefix_filter": (
        "WITH tri AS (SELECT DISTINCT doc_id, t FROM (SELECT doc_id, "
        "unnest(list_transform(range(1, "
        "greatest(len(string_split(text, ' ')) - 2, 0) + 1), "
        "i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS t "
        "FROM documents)), "
        "sizes AS (SELECT doc_id, count(*) AS s FROM tri GROUP BY 1), "
        "cand AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c "
        "FROM tri a JOIN tri b ON a.t = b.t AND a.doc_id < b.doc_id "
        "GROUP BY 1, 2), "
        "scored AS (SELECT da, db, c, sa.s AS sa, sb.s AS sb FROM cand "
        "JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db) "
        f"SELECT da, db, CAST(c AS BIGINT) AS c, sa, sb, "
        "(2 * 1000 * c + (sa + sb - c)) // (2 * (sa + sb - c)) "
        "AS jaccard_pm FROM scored "
        f"WHERE ({SIMJ_P} + {SIMJ_Q}) * c >= {SIMJ_P} * (sa + sb)"
    ),
    "join_longest_prefix": (
        f"WITH rules AS (SELECT * FROM (VALUES {_LPM_ROWS}) "
        "AS t(prefix, route)), "
        "m AS (SELECT p_partkey, route, prefix FROM part JOIN rules "
        "ON starts_with(p_type, prefix)), "
        "best AS (SELECT p_partkey, route FROM (SELECT p_partkey, route, "
        "row_number() OVER (PARTITION BY p_partkey "
        "ORDER BY length(prefix) DESC, prefix DESC) AS rn FROM m) "
        "WHERE rn = 1) "
        "SELECT route, CAST(count(*) AS BIGINT) AS n_parts, "
        "min(p_partkey) AS min_key, max(p_partkey) AS max_key "
        "FROM best GROUP BY 1"
    ),
    "join_interpolate_curve": (
        f"WITH c0 AS (SELECT * FROM (VALUES {_CURVE_ROWS}) AS t(q0, r0)), "
        "curve AS (SELECT q0, r0, lead(q0) OVER (ORDER BY q0) AS q1, "
        "lead(r0) OVER (ORDER BY q0) AS r1 FROM c0), "
        "k AS (SELECT * FROM curve WHERE q1 IS NOT NULL), "
        "j AS (SELECT l_orderkey, l_linenumber, "
        "CAST(l_quantity AS BIGINT) AS q, q0, r0, q1, r1 "
        "FROM lineitem JOIN k ON CAST(l_quantity AS BIGINT) >= q0 "
        "AND CAST(l_quantity AS BIGINT) < q1) "
        "SELECT l_orderkey, l_linenumber, q, "
        "(r0 + (2 * (q - q0) * (r1 - r0) + (q1 - q0)) "
        "// (2 * (q1 - q0))) / 1000000.0 AS interp_rate FROM j"
    ),
    "join_not_in_null_trap": (
        "WITH probe AS (SELECT * FROM (VALUES (1), (2), (3), (NULL)) "
        "AS t(k)), "
        "ni AS (SELECT count(*) AS c FROM nation "
        "WHERE n_nationkey NOT IN (SELECT k FROM probe)), "
        "ne AS (SELECT count(*) AS c FROM nation n WHERE NOT EXISTS "
        "(SELECT 1 FROM probe p WHERE p.k = n.n_nationkey)) "
        "SELECT CAST(ni.c AS BIGINT) AS not_in_rows, "
        "CAST(ne.c AS BIGINT) AS not_exists_rows, "
        "CAST(ne.c - ni.c AS BIGINT) AS trap_deficit FROM ni, ne"
    ),
    "join_basket_overlap": (
        "WITH np AS (SELECT DISTINCT n_name, l_partkey FROM lineitem "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey), "
        "sizes AS (SELECT n_name, count(*) AS sz FROM np GROUP BY 1), "
        "inter AS (SELECT a.n_name AS na, b.n_name AS nb, "
        "count(*) AS inter FROM np a JOIN np b "
        "ON a.l_partkey = b.l_partkey AND a.n_name < b.n_name "
        "GROUP BY 1, 2) "
        "SELECT na, nb, CAST(inter AS BIGINT) AS inter, "
        "CAST(sa.sz AS BIGINT) AS sa, CAST(sb.sz AS BIGINT) AS sb, "
        "CAST((2 * 1000 * inter + least(sa.sz, sb.sz)) "
        "// (2 * least(sa.sz, sb.sz)) AS BIGINT) AS overlap_pm "
        "FROM inter JOIN sizes sa ON sa.n_name = na "
        "JOIN sizes sb ON sb.n_name = nb"
    ),
}
