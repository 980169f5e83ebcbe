"""Group T — time-series analytics over the events stream: gap-filling
resample with linear interpolation, rolling z-score anomaly detection,
and a moving median.

These are the standard observability / sensor-pipeline primitives the
reference's windowed aggregates feed into.  All three hash-check
against DuckDB (the z-score and median at 4 dp with the ±0.0 guard).

Scale notes: the per-user rolling windows partition by user_id (fully
parallel); the interpolation's ordered pass runs over the *daily
aggregate* (one row per day — thousands of rows even for years of
data), so its single-partition window costs nothing while the heavy
per-event aggregation underneath is a normal distributed groupBy.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..catalog import load_tables
from ..operators.ranking import global_row_number
from .scalar_fns import BD_ANCHOR

#: rolling frame length for the z-score (full windows only — stable stats)
ZS_LOOKBACK = 10
#: |z| above which a point is flagged
ZS_THRESH = 2.0
#: moving-median frame: current row + 4 preceding
MED_FRAME = 4
#: drop days where day-of-month % 3 == 0 to manufacture resample gaps
GAP_MOD = 3


def q_window_anomaly_zscore(spark, sf_dir):
    """Rolling z-score anomaly flags: for each event, z = (value - mean)
    / stddev over the user's previous 10 events (current row EXCLUDED —
    the detector may not see the point it scores).  Only full lookback
    windows are scored.  Output: one row per scored event with z at 4 dp
    (±0.0-normalized) and the |z| > 2 flag.

    Plan: one hash-partitioned sort per user (Window.partitionBy), all
    JVM expressions; no self-join — the frame is a running aggregate."""
    load_tables(spark, sf_dir)
    ev = spark.table("events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ZS_LOOKBACK, -1)
    )
    mean, sd = F.avg("value").over(w), F.stddev_samp("value").over(w)
    # explicit sd > 0 guard: constant history means an undefined z-score,
    # and under ANSI mode (Spark 4 default) a bare division would THROW
    # at runtime on such a window rather than yield NULL
    z_raw = F.when(sd > 0, (F.col("value") - mean) / sd)
    scored = ev.select(
        "user_id",
        "event_id",
        F.round("value", 4).alias("value"),
        F.count("value").over(w).alias("_n"),
        z_raw.alias("_z"),
    ).filter((F.col("_n") == ZS_LOOKBACK) & F.col("_z").isNotNull())
    z = F.round("_z", 4) + F.lit(0.0)  # IEEE: -0.0 + 0.0 = +0.0
    return scored.select(
        "user_id",
        "event_id",
        "value",
        z.alias("zscore"),
        (F.abs("_z") > ZS_THRESH).alias("is_anomaly"),
    )


def q_window_moving_median(spark, sf_dir):
    """Moving median of event value over each user's last 5 events
    (4 preceding + current), interpolated for even frame sizes exactly
    as DuckDB's windowed median: mean of the two middle order statistics.

    Spark has no percentile-over-frame, so the frame is materialized as
    a sorted array (bounded: ≤5 elements) and the median read from it —
    constant memory per row, no shuffle beyond the per-user sort."""
    load_tables(spark, sf_dir)
    ev = spark.table("events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-MED_FRAME, 0)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    # collect_list drops NULL values, exactly like DuckDB's windowed
    # median; an all-NULL frame (n = 0) has no median — the CASE also
    # keeps element_at off the invalid index 0
    med = F.when(n > 0, F.round((lo + hi) / 2.0, 4))
    return ev.select(
        "user_id",
        "event_id",
        F.round("value", 4).alias("value"),
        med.alias("moving_median"),
    )


def q_ts_resample_interpolate(spark, sf_dir):
    """Resample events to a daily grid and linearly interpolate gaps:
    the daily mean value is computed from events EXCLUDING days where
    day-of-month % 3 == 0 (manufactured sensor outages), then a complete
    day spine from the true min to max day is generated and missing days
    filled by linear interpolation between the nearest known neighbors
    (forward/back-fill at the edges).  Output: (day, value, is_gap).

    Plan: the heavy part — per-day mean over all events — is a normal
    distributed agg; the spine + interpolation run on the one-row-per-
    day aggregate, where last/first IGNORE NULLS over an ordered window
    do the neighbor search in one pass (no self-join, no explode of the
    gap ranges)."""
    load_tables(spark, sf_dir)
    ev = spark.table("events").select(
        F.col("ts").cast("date").alias("d"), "value"
    )
    daily = (
        ev.filter(F.dayofmonth("d") % GAP_MOD != 0)
        .groupBy("d")
        .agg(F.avg("value").alias("v"))
    )
    bounds = ev.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("d")
    )
    g = spine.join(daily, "d", "left")
    wp = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.orderBy("d").rowsBetween(0, Window.unboundedFollowing)
    prev_v = F.last("v", ignorenulls=True).over(wp)
    prev_d = F.last(F.when(F.col("v").isNotNull(), F.col("d")), True).over(wp)
    next_v = F.first("v", ignorenulls=True).over(wn)
    next_d = F.first(F.when(F.col("v").isNotNull(), F.col("d")), True).over(wn)
    span = F.datediff(next_d, prev_d)
    frac = F.datediff(F.col("d"), prev_d) / span
    interp = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.when(
            prev_v.isNotNull() & next_v.isNotNull(),
            prev_v + (next_v - prev_v) * frac,
        ).otherwise(F.coalesce(prev_v, next_v))
    )
    return g.select(
        F.col("d").cast("string").alias("day"),
        F.round(interp, 4).alias("value"),
        F.col("v").isNull().alias("is_gap"),
    )


def q_window_robust_zscore(spark, sf_dir):
    """Robust (MAD-based) outlier score — the median-family counterpart
    of q_window_anomaly_zscore, immune to the outliers it hunts:
    per user, med = median(value), MAD = median(|value - med|),
    rz = 0.6745·(value - med)/MAD (Iglewicz-Hoban modified z-score),
    flagged at |rz| > 3.5.  Users with MAD = 0 are skipped (guarded
    division, same ANSI rationale as the rolling z-score).

    Plan: two grouped exact medians (sort-based percentile per user) and
    two joins back — no window over raw events needed.  The med/MAD
    tables are per-USER aggregates (unbounded — user count grows with
    the data), so they carry no broadcast hint: AQE broadcasts them at
    small scale, and at 100 TB the joins shuffle on user_id like every
    other per-user stage."""
    load_tables(spark, sf_dir)
    # complete-case: a missing reading cannot be scored (its flag would
    # be a NULL boolean, which the engines normalize differently);
    # medians already ignore NULLs on both engines, so the filter only
    # removes unscorable rows
    ev = spark.table("events").filter(F.col("value").isNotNull())
    med = ev.groupBy("user_id").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    with_med = ev.join(med, "user_id")
    mad = with_med.groupBy("user_id").agg(
        F.expr("percentile(abs(value - med), 0.5)").alias("mad")
    )
    j = with_med.join(mad, "user_id").filter(F.col("mad") > 0)
    # Engine-exact scoring: value is cent-valued and medians are at
    # worst midpoints of midpoints, so value/med/mad are all exact
    # multiples of 1/400.  rz = 0.6745·(v-m)/mad then becomes the pure
    # integer ratio 6745·(v400-m400)/mad400 (already ×10^4), rounded
    # half-away-from-zero in integer space — round(double, 4) on the
    # raw quotient lands 1 ulp apart across engines at some SFs.
    j = (
        j.withColumn("v400", F.round(F.col("value") * 400).cast("long"))
        .withColumn("m400", F.round(F.col("med") * 400).cast("long"))
        .withColumn("mad400", F.round(F.col("mad") * 400).cast("long"))
        .withColumn("num", F.lit(6745) * (F.col("v400") - F.col("m400")))
    )
    rzx = F.expr(
        "CASE WHEN num < 0 THEN -((2 * -num + mad400) div (2 * mad400)) "
        "ELSE (2 * num + mad400) div (2 * mad400) END"
    )
    return j.select(
        "user_id",
        "event_id",
        F.round("value", 4).alias("value"),
        (rzx / F.lit(10000.0) + F.lit(0.0)).alias("robust_z"),
        # |rz| > 3.5  <=>  2·|num| > 7·10^4·mad400, exactly
        (2 * F.abs(F.col("num")) > 70000 * F.col("mad400")).alias("is_outlier"),
    )


def q_ts_time_weighted_avg(spark, sf_dir):
    """Time-weighted average per user — the IoT/finance aggregate where
    each reading holds until the next one: TWA = Σ value_i·Δt_i / Σ Δt_i
    with Δt_i the micros until the user's next event (last reading
    carries no weight).  A plain avg() over-weights burst periods; the
    TWA is invariant to sampling cadence.

    Plan: one lead() over the per-user sort, then one aggregate —
    weights are exact integer microseconds, and value·Δt sums are
    rounded only at the final division (6 dp)."""
    load_tables(spark, sf_dir)
    ev = spark.table("events").select(
        "user_id",
        "event_id",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    dt = (F.lead("us").over(w) - F.col("us")).alias("dt")
    seg = ev.select("user_id", "value", dt).filter(F.col("dt").isNotNull())
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.round(
            F.sum(F.col("value") * F.col("dt")) / F.sum("dt"), 6
        ).alias("twa"),
    )


def q_ts_ohlc_bars(spark, sf_dir):
    """OHLC candlestick bars — resample the event stream to hourly bars
    per event type: open/close are the first/last value in (ts,
    event_id) order, high/low the extremes, plus the event count.

    Plan: two ranked windows partitioned by (type, hour) mark the first
    and last row of each bar, then one partial+final agg collapses to
    bar granularity — no self-join, and every output is a PICKED or
    extreme value (never a float sum), so cross-engine hashing is
    knife-edge-free by construction."""
    load_tables(spark, sf_dir)
    e = spark.table("events").select(
        "event_id",
        "event_type",
        "value",
        "ts",
        F.date_trunc("hour", "ts").alias("bar"),
    )
    wa = Window.partitionBy("event_type", "bar").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "bar").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    r = e.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    return r.groupBy("event_type", "bar").agg(
        (F.round(F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 4) + F.lit(0.0)).alias("open_v"),
        (F.round(F.max("value"), 4) + F.lit(0.0)).alias("high_v"),
        (F.round(F.min("value"), 4) + F.lit(0.0)).alias("low_v"),
        (F.round(F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 4) + F.lit(0.0)).alias("close_v"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_ts_autocorr(spark, sf_dir):
    """Serial correlation of the hourly mean series per event type —
    lag-1 and lag-2 Pearson autocorrelation, the first question asked of
    any metric stream (is it momentum or noise?).

    Plan: the raw stream first collapses to one row per (type, hour)
    (partial+final agg — the only pass over the fact table); the lag
    pairing and corr then run over the tiny hourly series.  corr parity
    with DuckDB is the same moment arithmetic agg_corr_covar already
    hash-checks."""
    load_tables(spark, sf_dir)
    hourly = (
        spark.table("events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.avg("value").alias("m"))
    )
    w = Window.partitionBy("event_type").orderBy("h")
    lagged = hourly.select(
        "event_type",
        "m",
        F.lag("m", 1).over(w).alias("m1"),
        F.lag("m", 2).over(w).alias("m2"),
    )
    return lagged.groupBy("event_type").agg(
        (F.round(F.corr("m", "m1"), 4) + F.lit(0.0)).alias("acf1"),
        (F.round(F.corr("m", "m2"), 4) + F.lit(0.0)).alias("acf2"),
        F.count("m1").alias("n_lag1_pairs"),
    )


def q_ts_seasonal_profile(spark, sf_dir):
    """Hour-of-day seasonal profile per event type: mean value, event
    count, and each hour's share of the type's events — the additive
    seasonal component of a classic decomposition.

    Plan: one partial+final agg to (type, hour-of-day), then a window
    over the 24-row-per-type aggregate for the share.  Both 4-dp
    outputs are rounded HALF-UP in exact INTEGER arithmetic
    (floor((2a+b)/2b) over cent-scaled sums) — value is 2-dp currency,
    so mean = cents/100n is often an exact 5-dp decimal tie, where
    Spark (rounds the shortest decimal string) and DuckDB (rounds the
    binary double) disagree by one ulp; integer rounding makes both
    engines produce the identical exact 4-dp quotient."""
    load_tables(spark, sf_dir)
    by_hour = (
        spark.table("events")
        .groupBy("event_type", F.hour("ts").alias("hod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("value").cast("decimal(18,2)") * 100).cast("long")
            ).alias("cents"),
        )
    )
    w = Window.partitionBy("event_type")
    return (
        by_hour.withColumn("tot", F.sum("n").over(w))
        .withColumn(
            # mean = cents/(100*n); x10^4, round-half-up in integer space
            "mean_q", F.expr("(2 * cents * 100 + n) div (2 * n)")
        )
        .withColumn("share_q", F.expr("(2 * n * 10000 + tot) div (2 * tot)"))
        .select(
            "event_type",
            "hod",
            "n",
            (F.col("mean_q") / 10000.0).alias("mean_value"),
            (F.col("share_q") / 10000.0).alias("share_of_type"),
        )
    )


# =================================================================
# Group T — time-series statistics
# =================================================================
def q_ts_cusum_changepoint(spark, sf_dir):
    """CUSUM change-point detection per event type: over the daily value
    sums, the day k maximizing |S_k| where S_k = Σ_{i<=k}(x_i - mean).
    Exact-arithmetic formulation: x_i are DECIMAL(18,6) day sums (cast
    before summing — order-free), and S_k is compared via T_k =
    n·cumsum_k − k·total (all exact DECIMAL; the only double is the
    final reported statistic).  The day grain bounds the window input at
    any SF (span days, not fact rows)."""
    load_tables(spark, sf_dir)
    e = spark.table("events")
    daily = e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("x"))
    wtot = Window.partitionBy("event_type")
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scored = daily.select(
        "event_type",
        "day",
        (
            F.count(F.lit(1)).over(wtot) * F.sum("x").over(wcum)
            - F.row_number().over(Window.partitionBy("event_type").orderBy("day"))
            * F.sum("x").over(wtot)
        ).alias("t"),
        F.count(F.lit(1)).over(wtot).alias("n"),
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("t")).desc(), "day"
    )
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            F.round((F.col("t") / F.col("n")).cast("double"), 4).alias(
                "cusum_stat"
            ),
        )
    )


#: cross-correlation lags probed (hours)
XCORR_LAGS = [0, 1, 2, 3]


def q_ts_cross_correlation(spark, sf_dir):
    """Lagged cross-correlation between the hourly click and purchase
    count series: for lag k in 0..3, corr(x_t, y_{t+k}) from the
    integer-sum identity (n·Σxy − ΣxΣy over the sqrt product) — the
    lead/lag co-movement scan behind 'do clicks predict purchases k
    hours later'.  All operands are exact integers; one double division
    per lag.  The hourly spine bounds every window/join at any SF."""
    load_tables(spark, sf_dir)
    e = spark.table("events")
    hourly = (
        e.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(F.date_format("ts", "yyyy-MM-dd HH").alias("hr"))
        .agg(
            F.sum((F.col("event_type") == "click").cast("long")).alias("x"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias("y"),
        )
        .withColumn("idx", F.row_number().over(Window.orderBy("hr")))
    )
    a = hourly.select("idx", "x")
    out = None
    for k in XCORR_LAGS:
        b = hourly.select((F.col("idx") - k).alias("idx"), F.col("y").alias("yk"))
        j = a.join(b, "idx")
        stats = j.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("yk").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("yk") * F.col("yk")).alias("syy"),
            F.sum(F.col("x") * F.col("yk")).alias("sxy"),
        )
        num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
            "double"
        )
        vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
        vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
        r = stats.select(
            F.lit(k).alias("lag"),
            F.col("n").alias("n_pairs"),
            F.when(
                (vx > 0) & (vy > 0),
                F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6) + F.lit(0.0),
            ).alias("rho"),
        )
        out = r if out is None else out.unionByName(r)
    return out


def q_ts_mann_kendall(spark, sf_dir):
    """Mann-Kendall trend test per event type over the daily MEAN value:
    S = Σ_{i<j} sign(x_j − x_i), τ = S / (n(n-1)/2) — the standard
    nonparametric 'is this KPI trending' test.  Day means are compared
    via cross-multiplication of exact DECIMAL day sums (s_j·c_i vs
    s_i·c_j), so no float enters the comparison; the O(days²) self-join
    is bounded by the SPAN (31 days at any SF in this fixture; a year is
    ~133k pairs), never by fact rows."""
    load_tables(spark, sf_dir)
    e = spark.table("events")
    daily = e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    a = daily.select(
        "event_type",
        F.col("day").alias("di"),
        F.col("s").alias("si"),
        F.col("c").alias("ci"),
    )
    b = daily.select(
        "event_type",
        F.col("day").alias("dj"),
        F.col("s").alias("sj"),
        F.col("c").alias("cj"),
    )
    pairs = a.join(b, "event_type").filter(F.col("di") < F.col("dj"))
    lhs = F.col("sj") * F.col("ci")
    rhs = F.col("si") * F.col("cj")
    sgn = F.when(lhs > rhs, 1).when(lhs < rhs, -1).otherwise(0)
    return (
        pairs.groupBy("event_type")
        .agg(
            F.sum(sgn).alias("s_stat"),
            F.countDistinct("di").alias("nd"),
        )
        .select(
            "event_type",
            (F.col("nd") + 1).alias("n_days"),
            F.col("s_stat").cast("long").alias("s_stat"),
            F.round(
                F.col("s_stat")
                / ((F.col("nd") + 1) * F.col("nd") / 2.0),
                6,
            ).alias("tau"),
        )
    )


def q_ts_gap_stats(spark, sf_dir):
    """Inter-event gap distribution per event type: p50/p95 of the
    per-user gaps between consecutive events, in integer microseconds
    (exact lag diffs; the percentile interpolation is the engines'
    shared quantile_cont contract).  The session-cadence profile behind
    timeout tuning.  One window partitioned by (user, type) — fact-
    scale but perfectly partitionable — then a day-bounded aggregate."""
    load_tables(spark, sf_dir)
    e = spark.table("events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        e.select(
            "event_type",
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.lag(F.unix_micros(F.col("ts").cast("timestamp")), 1).over(w)
            ).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
    )
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.expr("percentile(gap_us, 0.5)").alias("p50_gap_us"),
        F.expr("percentile(gap_us, 0.95)").alias("p95_gap_us"),
    )


# =================================================================
# Group T — anomaly primitives
# =================================================================
def q_ts_peak_detection(spark, sf_dir):
    """Local-maximum days per event type in the daily count series: a
    peak strictly exceeds BOTH neighbors; prominence = count − the
    higher neighbor.  The spike-finder under every alerting rule — and
    all-integer (counts, lags, subtraction), so hash-exact trivially.
    Series edges (missing a neighbor) are excluded by definition."""
    load_tables(spark, sf_dir)
    e = spark.table("events")
    d = e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("day")
    nb = d.select(
        "event_type",
        "day",
        "cnt",
        F.lag("cnt").over(w).alias("pv"),
        F.lead("cnt").over(w).alias("nx"),
    )
    return nb.filter(
        F.col("pv").isNotNull()
        & F.col("nx").isNotNull()
        & (F.col("cnt") > F.col("pv"))
        & (F.col("cnt") > F.col("nx"))
    ).select(
        "event_type",
        "day",
        "cnt",
        (F.col("cnt") - F.greatest("pv", "nx")).alias("prominence"),
    )


def q_ts_burst_days(spark, sf_dir):
    """Burst days per event type: daily counts more than 1.5 population
    σ above that type's mean, decided ENTIRELY in integers via the
    identity  x > μ + 1.5σ  ⟺  t := n·x − S > 0  ∧  4·t² > 9·(n·SS − S²)
    (n days, S = Σcnt, SS = Σcnt²) — no sqrt, no float, no knife edge.
    The reported z-score is one final double division of those exact
    integers.  The burst detector behind rate-anomaly alerts."""
    load_tables(spark, sf_dir)
    e = spark.table("events")
    d = e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    m = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("ss"),
    )
    j = d.join(F.broadcast(m), "event_type")  # bounded: one row per type
    t = F.col("n") * F.col("cnt") - F.col("s")
    den = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    return (
        j.filter((t > 0) & (4 * t * t > 9 * den))
        .select(
            "event_type",
            "day",
            "cnt",
            F.round(t / F.sqrt(den.cast("double")), 6).alias("z"),
        )
    )


# =================================================================
# Group T — Holt linear-trend smoothing (coupled fixed-point fold)
# =================================================================

#: Holt smoothing: alpha = beta = 1/2 as EXACT rationals, so every
#: recurrence step is one signed half-up integer halving.
#:
#: CROSS-ENGINE PITFALL (measured, duckdb v1.0): ``list_reduce`` with a
#: STRUCT accumulator mutates the accumulator IN PLACE field-by-field —
#: the second field's expression already sees the first field
#: overwritten (a fold of {'l': f(acc.l, acc.b), 'b': g(acc.l, acc.b)}
#: computes g against the NEW l).  Folds whose fields each read only
#: their own slot (window_adx) are immune; Holt's coupled (level, trend)
#: recurrence is not, so its DuckDB oracle uses a RECURSIVE CTE (plain
#: functional projection) instead of a struct lambda.
def _half2(v: str, dialect: str) -> str:
    """Signed half-up (away-from-zero) integer halving of expression
    ``v`` — the alpha=1/2 smoothing step.  Float halving would be exact
    too, but the trend recurrence SUBTRACTS levels, and float
    sum-then-halve drifts across engines once values mix signs; integer
    div keeps every state transition identical everywhere."""
    d = "div" if dialect == "spark" else "//"
    return f"(CASE WHEN ({v}) < 0 THEN -((1 - ({v})) {d} 2) ELSE (({v}) + 1) {d} 2 END)"


def _holt_fold_spark(list_col: str) -> str:
    """Holt's linear trend as a LEFT fold with a STRUCT accumulator
    (level l, trend b), seeded (l=x_1, b=0):
        l' = half((x + l + b))          -- alpha = 1/2
        b' = half((l' - l) + b)         -- beta  = 1/2
    l' appears inside b' — HOF lambdas have no let-binding, so the l'
    expression is inlined twice (Spark's ``aggregate`` evaluates the
    merge lambda functionally, all fields against the OLD accumulator —
    verified against a python reference; see the module-level note on
    why DuckDB's list_reduce cannot run this shape)."""
    lp = _half2("x + acc.l + acc.b", "spark")
    return (
        f"aggregate(slice({list_col}, 2, size({list_col}) - 1), "
        f"named_struct('l', element_at({list_col}, 1), "
        "'b', cast(0 as bigint)), "
        f"(acc, x) -> named_struct('l', {lp}, "
        f"'b', {_half2(f'({lp} - acc.l) + acc.b', 'spark')}))"
    )


def q_ts_holt_linear(spark, sf_dir):
    """Holt's linear-trend smoothing of daily order revenue: level +
    trend state evolved from the series start by the coupled recurrence
    (alpha=beta=1/2), plus the one-step-ahead forecast l + b — the
    simplest trend-aware forecaster (one step up from the EMA family,
    which has no trend state).

    The recurrence is a FIXED-POINT STRUCT fold over the full day
    prefix: signed half-up integer halvings keep every state transition
    identical across engines.  The prefix frame is bounded by the
    CALENDAR, not the data volume (≈2.4k order days at any SF — the
    bollinger argument), so the per-row fold is O(days²) integer steps
    on a day-grain table, independent of fact-table size.  The DuckDB
    oracle evolves the same state with a RECURSIVE CTE."""
    load_tables(spark, sf_dir)
    # complete-case: a day whose orders all lack a price is a series gap,
    # same as a day with no orders (collect_list would skip the NULL
    # where DuckDB's list() keeps it)
    o = spark.table("orders").filter(F.col("o_totalprice").isNotNull())
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        ).alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    framed = daily.select(
        "day",
        F.collect_list("cents").over(w).alias("xs"),
    )
    st = F.expr(_holt_fold_spark("xs"))
    return framed.select(
        "day",
        (st["l"] / 100.0).alias("level"),
        (st["b"] / 100.0).alias("trend"),
        ((st["l"] + st["b"]) / 100.0).alias("forecast_next"),
    )


# =================================================================
# Group T — SAX symbolic series encoding (quartile variant)
# =================================================================
SAX_W = 8  #: PAA segments per user series (symbols per word)


def q_ts_sax_symbols(spark, sf_dir):
    """Symbolic Aggregate approXimation of each user's event-value
    series — the motif/novelty-mining preprocessing step: the series is
    piecewise-aggregated into 8 equal-count segments and each segment's
    MEAN is coded a/b/c/d against the user's own value QUARTILES
    (quartile breakpoints instead of the textbook Gaussian ones: the
    z-normalize step would put a cross-engine float boundary under
    every symbol).

    Exactness: values are integer cents; quartiles of n ints are
    multiples of 1/4 (linear interpolation at quarter positions), so
    q×4 is an exact BIGINT, and "segment mean vs quartile" compares as
    4·sum vs q4·len — pure integer cross-multiplication, no division
    anywhere.  One ranked window per user + two grouped aggs; per-user
    series bound the segment table, the word concat is per-user
    (SAX_W rows max)."""
    load_tables(spark, sf_dir)
    ev = spark.table("events").select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    qs = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.expr("percentile(cents, 0.25) * 4")).cast("long").alias("q1_4"),
        F.round(F.expr("percentile(cents, 0.5)  * 4")).cast("long").alias("q2_4"),
        F.round(F.expr("percentile(cents, 0.75) * 4")).cast("long").alias("q3_4"),
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    idx = ev.withColumn("i", F.row_number().over(wu))
    seg = (
        idx.join(qs.select("user_id", "n_events"), "user_id")
        .withColumn("seg", F.expr(f"((i - 1) * {SAX_W}) div n_events"))
        .groupBy("user_id", "seg")
        .agg(F.sum("cents").alias("s"), F.count(F.lit(1)).alias("m"))
    )
    sym = (
        seg.join(qs, "user_id")
        .select(
            "user_id",
            "seg",
            "n_events",
            F.when(4 * F.col("s") < F.col("q1_4") * F.col("m"), "a")
            .when(4 * F.col("s") < F.col("q2_4") * F.col("m"), "b")
            .when(4 * F.col("s") < F.col("q3_4") * F.col("m"), "c")
            .otherwise("d")
            .alias("sym"),
        )
    )
    return sym.groupBy("user_id", "n_events").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg", "sym"))),
                lambda st: st["sym"],
            ),
            "",
        ).alias("sax")
    )


def q_ts_spectral_peak(spark, sf_dir):
    """Dominant cycle detection per event type: the periodogram peak of
    each type's daily-count series (mean-removed real FFT, Arrow-batched
    numpy per group), reporting the dominant period in days and its
    share of total spectral power — the seasonality estimate under
    every capacity-planning decision.

    Scale shape: the heavy pass is the day-grain pre-aggregation (one
    shuffle); each FFT then runs on one bounded per-type day series
    (calendar-bounded at any SF) inside applyInPandas, series sorted by
    day so the transform is order-deterministic.  Rows-only key (FFT
    floats aren't SQL-replayable); pytest replays numpy and pins a
    planted-period fixture."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    load_tables(spark, sf_dir)
    ev = spark.table("events")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))

    schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("n_days", LongType()),
            StructField("dominant_period_days", DoubleType()),
            StructField("power_share", DoubleType()),
        ]
    )

    def spectral(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        x = pdf["n"].to_numpy(dtype=np.float64)
        x = x - x.mean()
        spec = np.abs(np.fft.rfft(x)) ** 2
        spec[0] = 0.0
        total = spec.sum()
        if total == 0 or len(x) < 4:
            per, share = float("nan"), 0.0
        else:
            k = int(spec.argmax())
            per = len(x) / k
            share = float(spec[k] / total)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [len(x)],
                "dominant_period_days": [round(per, 4)],
                "power_share": [round(share, 6)],
            }
        )

    return daily.groupBy("event_type").applyInPandas(spectral, schema)


# =================================================================
# Group T — Wald-Wolfowitz runs test (randomness diagnostic)
# =================================================================
def q_ts_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test on the daily-revenue series: each day
    codes above/below the series MEDIAN (median-valued days drop, the
    standard convention), runs = maximal same-sign stretches, and the
    z-score against the null of exchangeability — "is this series
    random or does it trend/oscillate", the diagnostic that decides
    whether the TA machinery upstream is even applicable.

    Exactness: the median is an exact multiple of 1/2 cent (x2 ints),
    signs and the run count come from integer comparisons and one lag,
    n1/n2/runs are exact integers, and the only floats are the final
    mean/variance/z expressions evaluated from those integers in one
    fixed shape on both engines."""
    from pyspark.sql import Window as W

    load_tables(spark, sf_dir)
    o = spark.table("orders")
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        ).alias("cents")
    )
    med = daily.agg(
        F.round(F.expr("percentile(cents, 0.5) * 2")).cast("long").alias("m2")
    )
    signed = (
        daily.crossJoin(F.broadcast(med))
        .filter(2 * F.col("cents") != F.col("m2"))
        .select(
            "day", (2 * F.col("cents") > F.col("m2")).cast("int").alias("s")
        )
    )
    w = W.orderBy("day")
    runs = signed.select(
        "s",
        F.when(
            F.lag("s").over(w).isNull() | (F.lag("s").over(w) != F.col("s")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum("s").alias("n1"),
        F.sum(F.lit(1) - F.col("s")).alias("n2"),
        F.sum("new_run").alias("r"),
        # the z statistic needs both sign classes (one-sided survivors
        # make var=0 -> ANSI DIVIDE_BY_ZERO where DuckDB yields NULL);
        # on a degenerate series there is no verdict row — mirrored by
        # the oracle's WHERE below
    ).filter((F.col("n1") > 0) & (F.col("n2") > 0))
    mu = F.lit(1.0) + 2.0 * F.col("n1") * F.col("n2") / (
        F.col("n1") + F.col("n2")
    )
    var = (
        2.0
        * F.col("n1")
        * F.col("n2")
        * (2.0 * F.col("n1") * F.col("n2") - F.col("n1") - F.col("n2"))
        / (
            (F.col("n1") + F.col("n2"))
            * (F.col("n1") + F.col("n2"))
            * (F.col("n1") + F.col("n2") - 1.0)
        )
    )
    return agg.select(
        "n1",
        "n2",
        "r",
        F.round((F.col("r") - mu) / F.sqrt(var), 4).alias("z"),
        (F.abs((F.col("r") - mu) / F.sqrt(var)) > 1.96).alias(
            "rejects_randomness"
        ),
    )


#: Theil-Sen int64-exact regime: |dc| <= this keeps 2e6*|dc|+dd below
#: 2^63 with headroom (see the in-plan proof comment).  Module-level so
#: the cross-branch equality test can force the DECIMAL plan on any
#: fixture by monkeypatching it to -1.
TS_INT64_DC_BOUND = 4_000_000_000_000


def q_ts_theil_sen(spark, sf_dir):
    """Theil-Sen estimator of the daily-revenue trend: the MEDIAN of all
    pairwise slopes — the robust slope whose breakdown point (29%) makes
    it the standard companion to the Mann-Kendall trend test
    (ts_mann_kendall), immune to the outlier days that wreck OLS.

    Exact path: daily revenue collapses to exact integer cents on the
    bounded ~2,406-day grain, every pairwise slope is a SIGN-DECOMPOSED
    half-up x10^6 integer (Spark `div` truncates while DuckDB `//`
    floors — they only agree on non-negative operands, so the quotient
    runs on |dc| and the sign is reapplied), and the median picks the
    middle rank(s) of the ~2.9M bounded pairs via the DISTRIBUTED
    chunked-offset row_number — no single-partition sort.  The median of
    an even count is the exact two-middle sum, divided once for
    display."""
    load_tables(spark, sf_dir)
    # complete-case: a day whose orders all lack a price is a series gap
    # (a NULL day would pair as NULL slopes, ranked differently by each
    # engine's default NULL order); excluded on both sides
    o = spark.table("orders").filter(F.col("o_totalprice").isNotNull())
    # materialize the ~2.4k-day grain ONCE (r11): the self-join below
    # used to duplicate the whole scan+agg subtree under its a/b
    # aliases, and the magnitude probe would add a third pass — the
    # eager checkpoint leaves one orders scan total at any scale
    daily = o.groupBy(
        F.expr(f"datediff(o_orderdate, DATE '{BD_ANCHOR}')").alias("di")
    ).agg(
        (F.sum("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("c")
    ).localCheckpoint(eager=True)
    pairs = (
        daily.alias("a")
        .join(daily.alias("b"), F.col("a.di") < F.col("b.di"))
        .select(
            F.col("a.di").alias("ai"),
            F.col("b.di").alias("bi"),
            (F.col("b.c") - F.col("a.c")).alias("dc"),
            (F.col("b.di") - F.col("a.di")).alias("dd"),
        )
    )
    # sx needs DECIMAL(38,0) headroom (r10 extreme-magnitude sweep): with
    # day cents ~1e13 the 2e6-scaled slope itself passes 1e19, so both
    # the product AND the quotient overflow int64.  Spark's `div` returns
    # LONG regardless of operand type, so the exact floor divide is
    # spelled (N - N % D) / D — the remainder and the exact-multiple
    # division are both exact in decimal space.
    #
    # r11 (guide §2.3 "narrower types"): decimal128 modulo/divide per
    # pair made this the registry's slowest key (the widening alone was
    # +80% wall on 2.9M pairs).  The guarded CASE below runs the SAME
    # floor-divide in pure BIGINT whenever 2e6*|dc|+dd provably fits
    # (|dc| <= 4e12 keeps N < 8.01e18 < 2^63), casting only the result
    # to decimal; the decimal spelling remains as the ELSE branch for
    # extreme magnitudes.  Codegen evaluates only the taken branch, so
    # the ANSI overflow the guard excludes can never fire.  Measured
    # interleaved at sf0.1: 16.8s -> 11.0s, bit-identical output; the
    # extreme leg still routes through the decimal branch.
    _dec = (
        "((2 * 1000000 * CAST({v} AS DECIMAL(38,0)) + dd) "
        " - (2 * 1000000 * CAST({v} AS DECIMAL(38,0)) + dd) % (2 * dd)) "
        "/ (2 * dd)"
    )
    _long = (
        "((2000000 * {v} + dd) - (2000000 * {v} + dd) % (2 * dd)) "
        "div (2 * dd)"
    )
    # r11 second pass (guide §2.2, narrower types THROUGH the shuffle):
    # the per-pair CASE guard above still yields DECIMAL(38,0) — both
    # branches must share a type — so the 2.9M-row rank sort, exchange
    # and median agg all ran on decimal128 even when every value fits
    # int64.  The magnitude test is a GLOBAL property of the daily
    # grain (|dc| <= max(c) - min(c)), so probe it ONCE on the ~2.4k
    # aggregated days and pick the sx type for the whole plan: pure
    # BIGINT end-to-end in the normal regime, the decimal spelling only
    # when the probe says int64 could overflow (the extreme-magnitude
    # leg).  Both plans produce bit-identical output: the same floor-
    # divided integer, and LONG->double vs DECIMAL->double of the same
    # integer are the same IEEE rounding, divided once for display.
    bound = daily.agg(F.max("c").alias("mx"), F.min("c").alias("mn")).first()
    fits_long = (
        bound is None
        or bound["mx"] is None
        or (bound["mx"] - bound["mn"]) <= TS_INT64_DC_BOUND
    )
    if fits_long:
        sx_expr = (
            f"CASE WHEN dc >= 0 THEN {_long.format(v='dc')} "
            f"ELSE -({_long.format(v='(-dc)')}) END"
        )
    else:
        sx_expr = (
            f"CASE WHEN dc >= 0 THEN {_dec.format(v='dc')} "
            f"ELSE -({_dec.format(v='(-dc)')}) END"
        )
    slopes = pairs.select("ai", "bi", F.expr(sx_expr).alias("sx"))
    ranked = global_row_number(slopes, ["sx", "ai", "bi"], "rk")
    tot = ranked.agg(
        F.count(F.lit(1)).alias("np"),
        F.count_distinct("ai").alias("nd_lo"),
    )
    # n_days = distinct ai + 1 (the max day never appears as a pair's left)
    r1 = F.expr("(np + 1) div 2")
    r2 = F.expr("(np + 2) div 2")
    med = (
        ranked.crossJoin(F.broadcast(tot))
        .filter((F.col("rk") == r1) | (F.col("rk") == r2))
        .agg(
            F.max("np").alias("n_pairs"),
            (F.max("nd_lo") + 1).alias("n_days"),
            (
                F.sum(F.when(F.col("rk") == r1, F.col("sx")).otherwise(0))
                + F.sum(F.when(F.col("rk") == r2, F.col("sx")).otherwise(0))
            ).alias("med2"),
        )
    )
    # fewer than two days -> no pairwise slopes, no median (the oracle's
    # `FROM r, t WHERE rk IN ...` likewise grows no row); drop the
    # NULL-aggregate row instead of reporting an undefined slope
    return med.filter(F.col("n_pairs").isNotNull()).select(
        "n_days",
        "n_pairs",
        (F.col("med2") / 2000000.0).alias("slope_cents_per_day"),
    )


def q_ts_seasonal_adjust(spark, sf_dir):
    """Ratio-to-average SEASONAL ADJUSTMENT of daily revenue: the
    weekday seasonal index is each weekday's mean revenue over the
    global mean, and the adjusted series divides every day by its
    weekday index — the classic deseasonalization step (the method,
    where ts_seasonal_profile only reports the profile).

    Exact path: daily revenue is integer cents; the index and the
    adjustment are built from FOUR exact integer sums (weekday cents,
    weekday days, total cents, total days) so the output double
    adjusted = raw * (wd_days * tot_cents) / (tot_days * wd_cents)
    is one fixed-shape expression of identical integers.  Weekday id is
    the portable days-since-anchor mod 7."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    daily = o.groupBy(
        F.expr("datediff(o_orderdate, DATE '1991-12-30')").alias("x")
    ).agg(
        (F.sum("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents")
    )
    wd = daily.select("x", "cents", (F.col("x") % 7).alias("g"))
    wgrp = Window.partitionBy("g")
    wtot = Window.partitionBy()
    scored = wd.select(
        "x",
        "g",
        "cents",
        F.sum("cents").over(wgrp).alias("gc"),
        F.count(F.lit(1)).over(wgrp).alias("gn"),
        F.sum("cents").over(wtot).alias("tc"),
        F.count(F.lit(1)).over(wtot).alias("tn"),
    )
    # index: ONE division of exact int64 products (gc*tn, gn*tc ~ 1e15
    # << 2^63).  adjusted: rounding a 14-significant-digit double at 6dp
    # diverged between the engines' round() implementations (measured at
    # sf0.1), so the adjusted value is an EXACT half-up cents quotient
    # computed in DECIMAL(38) (HUGEINT on the oracle side), divided once
    # for display.
    idx = F.expr("CAST(gc * tn AS DOUBLE) / CAST(gn * tc AS DOUBLE)")
    adj_cents = F.expr(
        "(CAST(2 AS DECIMAL(38,0)) * cents * gn * tc + "
        "CAST(gc AS DECIMAL(38,0)) * tn) "
        "div (CAST(2 AS DECIMAL(38,0)) * gc * tn)"
    )
    return scored.select(
        "x",
        "g",
        (F.col("cents") / 100.0).alias("revenue"),
        F.round(idx, 6).alias("weekday_index"),
        (adj_cents / 100.0).alias("adjusted_revenue"),
    )


#: trend window for the additive decomposition (centered, odd)
STL_W = 7


def q_ts_decompose_additive(spark, sf_dir):
    """Additive STL-lite DECOMPOSITION of daily revenue: value = trend
    (centered 7-day moving average) + weekday seasonal (mean detrended
    value per weekday) + remainder — the decomposition METHOD, where
    ts_seasonal_profile and ts_seasonal_adjust only report profiles.

    Exact path: daily cents are integers; the centered-MA trend is a
    half-up cents quotient of an exact 7-day window sum; detrended
    values are integer differences; the weekday seasonal is a half-up
    quotient of exact integer group sums; the remainder is pure integer
    subtraction.  value == trend + seasonal + remainder holds exactly
    in integer cents up to the two declared half-up roundings."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    daily = o.groupBy(
        F.expr("datediff(o_orderdate, DATE '1991-12-30')").alias("x")
    ).agg(
        (F.sum("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents")
    )
    half = STL_W // 2
    wt = Window.orderBy("x").rowsBetween(-half, half)
    trended = daily.select(
        "x",
        "cents",
        F.sum("cents").over(wt).alias("ws"),
        F.count(F.lit(1)).over(wt).alias("wn"),
    ).filter(F.col("wn") == STL_W)
    trended = trended.select(
        "x",
        "cents",
        F.expr(f"(2 * ws + {STL_W}) div {2 * STL_W}").alias("trend_c"),
    )
    det = trended.select(
        "x",
        "cents",
        "trend_c",
        (F.col("x") % 7).alias("g"),
        (F.col("cents") - F.col("trend_c")).alias("det_c"),
    )
    wg = Window.partitionBy("g")
    out = det.select(
        "x",
        "g",
        "cents",
        "trend_c",
        F.sum("det_c").over(wg).alias("gs"),
        F.count(F.lit(1)).over(wg).alias("gn"),
    )
    # half-up for possibly NEGATIVE numerators: shift by a multiple of
    # the denominator to stay non-negative (div/ // agree only there)
    seas = F.expr(
        "(2 * (gs + 1000000000000 * gn) + gn) div (2 * gn) - 1000000000000"
    )
    return out.select(
        "x",
        "g",
        (F.col("cents") / 100.0).alias("value"),
        (F.col("trend_c") / 100.0).alias("trend"),
        (seas / 100.0).alias("seasonal"),
        ((F.col("cents") - F.col("trend_c") - seas) / 100.0).alias(
            "remainder"
        ),
    )


def q_ts_seasonal_strength(spark, sf_dir):
    """SEASONAL STRENGTH of daily revenue: 1 - var(remainder) /
    var(detrended), the Hyndman decomposition-strength number that says
    how much of the (detrended) series the weekday pattern explains —
    the go/no-go for ts_seasonal_adjust.  Detrended values and weekday
    seasonal means reuse the ts_decompose_additive arithmetic (exact
    integer cents, shifted half-up for signed numerators); both
    variances are exact DECIMAL(38)/HUGEINT moment combinations and the
    strength is one double ratio."""
    load_tables(spark, sf_dir)
    from pyspark.sql import Window

    o = spark.table("orders")
    daily = o.groupBy(
        F.expr("datediff(o_orderdate, DATE '1991-12-30')").alias("x")
    ).agg(
        (F.sum("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents")
    )
    half = 3
    wt = Window.orderBy("x").rowsBetween(-half, half)
    tr = daily.select(
        "x",
        "cents",
        F.sum("cents").over(wt).alias("ws"),
        F.count(F.lit(1)).over(wt).alias("wn"),
    ).filter(F.col("wn") == 7)
    det = tr.select(
        "x",
        (F.col("cents") - F.expr("(2 * ws + 7) div 14")).alias("d"),
        (F.col("x") % 7).alias("g"),
    )
    wg = Window.partitionBy("g")
    summed = det.select(
        "d",
        F.sum("d").over(wg).alias("gs"),
        F.count(F.lit(1)).over(wg).alias("gn"),
    )
    # signed half-up mean via denominator-multiple shift, then r = d - mean
    seas = summed.select(
        "d",
        (
            F.col("d")
            - (
                F.expr(
                    "(2 * (gs + 1000000000000 * gn) + gn) div (2 * gn)"
                )
                - 1000000000000
            )
        ).alias("r"),
    )
    m = seas.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("d").cast("decimal(38,0)")).alias("sd1"),
        F.sum(
            (F.col("d").cast("decimal(38,0)") * F.col("d")).cast(
                "decimal(38,0)"
            )
        ).alias("sd2"),
        F.sum(F.col("r").cast("decimal(38,0)")).alias("sr1"),
        F.sum(
            (F.col("r").cast("decimal(38,0)") * F.col("r")).cast(
                "decimal(38,0)"
            )
        ).alias("sr2"),
    )
    n = F.col("n").cast("double")
    var_d = (
        n * F.col("sd2").cast("double")
        - F.col("sd1").cast("double") * F.col("sd1").cast("double")
    )
    var_r = (
        n * F.col("sr2").cast("double")
        - F.col("sr1").cast("double") * F.col("sr1").cast("double")
    )
    return m.select(
        F.col("n").alias("n_days"),
        F.round(F.greatest(F.lit(0.0), 1.0 - var_r / var_d), 6).alias(
            "seasonal_strength"
        ),
    )


QUERIES = {
    "ts_autocorr": q_ts_autocorr,
    "ts_seasonal_profile": q_ts_seasonal_profile,
    "ts_ohlc_bars": q_ts_ohlc_bars,
    "ts_time_weighted_avg": q_ts_time_weighted_avg,
    "window_robust_zscore": q_window_robust_zscore,
    "window_anomaly_zscore": q_window_anomaly_zscore,
    "window_moving_median": q_window_moving_median,
    "ts_resample_interpolate": q_ts_resample_interpolate,
    "ts_cusum_changepoint": q_ts_cusum_changepoint,
    "ts_cross_correlation": q_ts_cross_correlation,
    "ts_mann_kendall": q_ts_mann_kendall,
    "ts_gap_stats": q_ts_gap_stats,
    "ts_peak_detection": q_ts_peak_detection,
    "ts_burst_days": q_ts_burst_days,
    "ts_holt_linear": q_ts_holt_linear,
    "ts_sax_symbols": q_ts_sax_symbols,
    "ts_spectral_peak": q_ts_spectral_peak,
    "ts_runs_test": q_ts_runs_test,
    "ts_theil_sen": q_ts_theil_sen,
    "ts_seasonal_adjust": q_ts_seasonal_adjust,
    "ts_decompose_additive": q_ts_decompose_additive,
    "ts_seasonal_strength": q_ts_seasonal_strength,
}

ORACLES = {
    "ts_autocorr": (
        "WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h, "
        "avg(value) AS m FROM events GROUP BY event_type, h), "
        "lagged AS (SELECT event_type, m, "
        "lag(m, 1) OVER (PARTITION BY event_type ORDER BY h) AS m1, "
        "lag(m, 2) OVER (PARTITION BY event_type ORDER BY h) AS m2 "
        "FROM hourly) "
        "SELECT event_type, "
        "round(corr(m, m1), 4) + 0.0 AS acf1, "
        "round(corr(m, m2), 4) + 0.0 AS acf2, "
        "count(m1) AS n_lag1_pairs "
        "FROM lagged GROUP BY event_type"
    ),
    "ts_seasonal_profile": (
        "WITH bh AS (SELECT event_type, "
        "CAST(hour(ts) AS INT) AS hod, count(*) AS n, "
        "sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents "
        "FROM events GROUP BY event_type, hod), "
        "t AS (SELECT *, sum(n) OVER (PARTITION BY event_type) AS tot "
        "FROM bh) "
        "SELECT event_type, hod, n, "
        "((2 * cents * 100 + n) // (2 * n)) / 10000.0 AS mean_value, "
        "((2 * n * 10000 + tot) // (2 * tot)) / 10000.0 AS share_of_type "
        "FROM t"
    ),
    "ts_ohlc_bars": (
        "WITH e AS (SELECT event_id, event_type, value, ts, "
        "date_trunc('hour', ts) AS bar FROM events), "
        "r AS (SELECT *, "
        "row_number() OVER (PARTITION BY event_type, bar "
        "ORDER BY ts, event_id) AS rn_a, "
        "row_number() OVER (PARTITION BY event_type, bar "
        "ORDER BY ts DESC, event_id DESC) AS rn_d FROM e) "
        "SELECT event_type, bar, "
        "round(max(CASE WHEN rn_a = 1 THEN value END), 4) + 0.0 AS open_v, "
        "round(max(value), 4) + 0.0 AS high_v, "
        "round(min(value), 4) + 0.0 AS low_v, "
        "round(max(CASE WHEN rn_d = 1 THEN value END), 4) + 0.0 AS close_v, "
        "count(*) AS n_events "
        "FROM r GROUP BY event_type, bar"
    ),
    "ts_time_weighted_avg": (
        "WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS us "
        "FROM events), "
        "seg AS (SELECT user_id, value, "
        "lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS dt "
        "FROM e) "
        "SELECT user_id, count(*) AS n_segments, "
        "round(sum(value * dt) / sum(dt), 6) AS twa "
        "FROM seg WHERE dt IS NOT NULL GROUP BY user_id"
    ),
    "window_robust_zscore": (
        "WITH ev AS (SELECT * FROM events WHERE value IS NOT NULL), med AS (SELECT user_id, median(value) AS med FROM ev "
        "GROUP BY user_id), "
        "mad AS (SELECT e.user_id, median(abs(e.value - m.med)) AS mad "
        "FROM ev e JOIN med m ON e.user_id = m.user_id GROUP BY e.user_id), "
        "fx AS (SELECT e.user_id, e.event_id, e.value, "
        "6745 * (CAST(round(e.value * 400) AS BIGINT) "
        "- CAST(round(m.med * 400) AS BIGINT)) AS num, "
        "CAST(round(d.mad * 400) AS BIGINT) AS mad400 "
        "FROM ev e JOIN med m ON e.user_id = m.user_id "
        "JOIN mad d ON e.user_id = d.user_id WHERE d.mad > 0) "
        "SELECT user_id, event_id, round(value, 4) AS value, "
        "(CASE WHEN num < 0 THEN -((2 * -num + mad400) // (2 * mad400)) "
        "ELSE (2 * num + mad400) // (2 * mad400) END) / 10000.0 + 0.0 "
        "AS robust_z, "
        "2 * abs(num) > 70000 * mad400 AS is_outlier FROM fx"
    ),
    "window_anomaly_zscore": (
        f"WITH s AS (SELECT user_id, event_id, value, "
        f"count(value) OVER w AS n, "
        f"CASE WHEN stddev_samp(value) OVER w > 0 THEN "
        f"(value - avg(value) OVER w) / (stddev_samp(value) OVER w) END AS z "
        f"FROM events "
        f"WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id "
        f"ROWS BETWEEN {ZS_LOOKBACK} PRECEDING AND 1 PRECEDING)) "
        f"SELECT user_id, event_id, round(value, 4) AS value, "
        f"round(z, 4) + 0.0 AS zscore, abs(z) > {ZS_THRESH} AS is_anomaly "
        f"FROM s WHERE n = {ZS_LOOKBACK} AND z IS NOT NULL"
    ),
    "window_moving_median": (
        f"SELECT user_id, event_id, round(value, 4) AS value, "
        f"round(median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        f"ROWS BETWEEN {MED_FRAME} PRECEDING AND CURRENT ROW), 4) AS moving_median "
        f"FROM events"
    ),
    "ts_resample_interpolate": (
        f"WITH ev AS (SELECT CAST(ts AS DATE) AS d, value FROM events), "
        f"daily AS (SELECT d, avg(value) AS v FROM ev "
        f"WHERE day(d) % {GAP_MOD} <> 0 GROUP BY d), "
        f"spine AS (SELECT unnest(generate_series(CAST((SELECT min(d) FROM ev) AS DATE), "
        f"CAST((SELECT max(d) FROM ev) AS DATE), INTERVAL 1 DAY))::DATE AS d), "
        f"g AS (SELECT s.d, daily.v, "
        f"last_value(daily.v IGNORE NULLS) OVER "
        f"(ORDER BY s.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v, "
        f"last_value(CASE WHEN daily.v IS NOT NULL THEN s.d END IGNORE NULLS) OVER "
        f"(ORDER BY s.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d, "
        f"first_value(daily.v IGNORE NULLS) OVER "
        f"(ORDER BY s.d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v, "
        f"first_value(CASE WHEN daily.v IS NOT NULL THEN s.d END IGNORE NULLS) OVER "
        f"(ORDER BY s.d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d "
        f"FROM spine s LEFT JOIN daily ON s.d = daily.d) "
        f"SELECT CAST(d AS VARCHAR) AS day, "
        f"round(CASE WHEN v IS NOT NULL THEN v "
        f"WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN "
        f"prev_v + (next_v - prev_v) * (date_diff('day', prev_d, d) * 1.0 / "
        f"date_diff('day', prev_d, next_d)) "
        f"ELSE coalesce(prev_v, next_v) END, 4) AS value, "
        f"v IS NULL AS is_gap FROM g"
    ),
    "ts_cusum_changepoint": (
        "WITH daily AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, "
        "sum(CAST(value AS DECIMAL(18,6))) AS x FROM events GROUP BY 1, 2), "
        "scored AS (SELECT event_type, day, "
        "count(*) OVER (PARTITION BY event_type) * "
        "sum(x) OVER (PARTITION BY event_type ORDER BY day "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "- row_number() OVER (PARTITION BY event_type ORDER BY day) * "
        "sum(x) OVER (PARTITION BY event_type) AS t, "
        "count(*) OVER (PARTITION BY event_type) AS n FROM daily), "
        "pick AS (SELECT *, row_number() OVER (PARTITION BY event_type "
        "ORDER BY abs(t) DESC, day) AS rn FROM scored) "
        "SELECT event_type, day AS change_day, "
        "round(CAST(t AS DOUBLE) / n, 4) AS cusum_stat FROM pick WHERE rn = 1"
    ),
    "ts_cross_correlation": (
        "WITH hourly AS (SELECT strftime(ts, '%Y-%m-%d %H') AS hr, "
        "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x, "
        "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y "
        "FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1), "
        "idxd AS (SELECT row_number() OVER (ORDER BY hr) AS idx, x, y "
        "FROM hourly) "
        + " UNION ALL ".join(
            f"SELECT {k} AS lag, count(*) AS n_pairs, "
            "CASE WHEN count(*) * sum(a.x * a.x) - sum(a.x) * sum(a.x) > 0 "
            "AND count(*) * sum(b.y * b.y) - sum(b.y) * sum(b.y) > 0 THEN "
            "round(CAST(count(*) * sum(a.x * b.y) - sum(a.x) * sum(b.y) AS DOUBLE) / "
            "(sqrt(CAST(count(*) * sum(a.x * a.x) - sum(a.x) * sum(a.x) AS DOUBLE)) * "
            "sqrt(CAST(count(*) * sum(b.y * b.y) - sum(b.y) * sum(b.y) AS DOUBLE))), 6) "
            "+ 0.0 END AS rho "
            f"FROM idxd a JOIN idxd b ON b.idx = a.idx + {k}"
            for k in XCORR_LAGS
        )
    ),
    "ts_mann_kendall": (
        "WITH daily AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, "
        "sum(CAST(value AS DECIMAL(18,6))) AS s, count(*) AS c "
        "FROM events GROUP BY 1, 2) "
        "SELECT a.event_type, count(DISTINCT a.day) + 1 AS n_days, "
        "CAST(sum(CASE WHEN b.s * a.c > a.s * b.c THEN 1 "
        "WHEN b.s * a.c < a.s * b.c THEN -1 ELSE 0 END) AS BIGINT) AS s_stat, "
        "round(sum(CASE WHEN b.s * a.c > a.s * b.c THEN 1 "
        "WHEN b.s * a.c < a.s * b.c THEN -1 ELSE 0 END) / "
        "((count(DISTINCT a.day) + 1) * count(DISTINCT a.day) / 2.0), 6) AS tau "
        "FROM daily a JOIN daily b ON a.event_type = b.event_type "
        "AND a.day < b.day GROUP BY 1"
    ),
    "ts_gap_stats": (
        "WITH g AS (SELECT event_type, epoch_us(ts) - lag(epoch_us(ts), 1) "
        "OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us "
        "FROM events) "
        "SELECT event_type, count(*) AS n_gaps, "
        "quantile_cont(gap_us, 0.5) AS p50_gap_us, "
        "quantile_cont(gap_us, 0.95) AS p95_gap_us "
        "FROM g WHERE gap_us IS NOT NULL GROUP BY 1"
    ),
    "ts_peak_detection": (
        "WITH d AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, "
        "count(*) AS cnt FROM events GROUP BY 1, 2), "
        "nb AS (SELECT event_type, day, cnt, "
        "lag(cnt) OVER (PARTITION BY event_type ORDER BY day) AS pv, "
        "lead(cnt) OVER (PARTITION BY event_type ORDER BY day) AS nx FROM d) "
        "SELECT event_type, day, cnt, cnt - greatest(pv, nx) AS prominence "
        "FROM nb WHERE pv IS NOT NULL AND nx IS NOT NULL "
        "AND cnt > pv AND cnt > nx"
    ),
    "ts_burst_days": (
        "WITH d AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, "
        "count(*) AS cnt FROM events GROUP BY 1, 2), "
        "m AS (SELECT event_type, count(*) AS n, sum(cnt) AS s, "
        "sum(cnt * cnt) AS ss FROM d GROUP BY 1) "
        "SELECT d.event_type, d.day, d.cnt, "
        "round((m.n * d.cnt - m.s) / sqrt(CAST(m.n * m.ss - m.s * m.s AS DOUBLE)), 6) AS z "
        "FROM d JOIN m ON d.event_type = m.event_type "
        "WHERE m.n * d.cnt - m.s > 0 "
        "AND 4 * (m.n * d.cnt - m.s) * (m.n * d.cnt - m.s) > 9 * (m.n * m.ss - m.s * m.s)"
    ),
    "ts_holt_linear": (
            "WITH RECURSIVE daily AS (SELECT "
            "strftime(o_orderdate, '%Y-%m-%d') AS day, "
            "sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) "
            "AS cents FROM orders WHERE o_totalprice IS NOT NULL "
            "GROUP BY 1), "
            "idx AS MATERIALIZED (SELECT day, cents, "
            "row_number() OVER (ORDER BY day) AS i FROM daily), "
            # walk carries (l, b); lp must appear twice (no let-binding in
            # SQL), a plain functional projection per recursion step
            "walk(i, day, l, b) AS ("
            "SELECT i, day, cents, CAST(0 AS BIGINT) FROM idx WHERE i = 1 "
            "UNION ALL SELECT n.i, n.day, "
            f"{_half2('n.cents + w.l + w.b', 'duckdb')}, "
            + _half2(
                f"({_half2('n.cents + w.l + w.b', 'duckdb')} - w.l) + w.b",
                "duckdb",
            )
            + " FROM walk w JOIN idx n ON n.i = w.i + 1) "
            "SELECT day, l / 100.0 AS level, b / 100.0 AS trend, "
            "(l + b) / 100.0 AS forecast_next FROM walk"
        ),
    "ts_sax_symbols": (
        "WITH ev AS (SELECT user_id, event_id, ts, "
        "CAST(round(value * 100) AS BIGINT) AS cents FROM events), "
        "qs AS (SELECT user_id, count(*) AS n_events, "
        "CAST(round(quantile_cont(cents, 0.25) * 4) AS BIGINT) AS q1_4, "
        "CAST(round(quantile_cont(cents, 0.5)  * 4) AS BIGINT) AS q2_4, "
        "CAST(round(quantile_cont(cents, 0.75) * 4) AS BIGINT) AS q3_4 "
        "FROM ev GROUP BY user_id), "
        "idx AS (SELECT e.*, q.n_events, row_number() OVER "
        "(PARTITION BY e.user_id ORDER BY ts, event_id) AS i "
        "FROM ev e JOIN qs q USING (user_id)), "
        f"seg AS (SELECT user_id, ((i - 1) * {SAX_W}) // n_events AS seg, "
        "sum(cents) AS s, count(*) AS m FROM idx GROUP BY 1, 2), "
        "sym AS (SELECT g.user_id, seg, q.n_events, "
        "CASE WHEN 4 * s < q1_4 * m THEN 'a' "
        "WHEN 4 * s < q2_4 * m THEN 'b' "
        "WHEN 4 * s < q3_4 * m THEN 'c' ELSE 'd' END AS sym "
        "FROM seg g JOIN qs q USING (user_id)) "
        "SELECT user_id, n_events, string_agg(sym, '' ORDER BY seg) AS sax "
        "FROM sym GROUP BY user_id, n_events"
    ),
    "ts_runs_test": (
        "WITH daily AS (SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, "
        "sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) "
        "AS cents FROM orders GROUP BY 1), "
        "med AS (SELECT CAST(round(quantile_cont(cents, 0.5) * 2) AS BIGINT) "
        "AS m2 FROM daily), "
        "signed AS (SELECT day, CAST(2 * cents > m2 AS INT) AS s "
        "FROM daily, med WHERE 2 * cents <> m2), "
        "runs AS (SELECT s, CASE WHEN lag(s) OVER (ORDER BY day) IS NULL "
        "OR lag(s) OVER (ORDER BY day) <> s THEN 1 ELSE 0 END AS new_run "
        "FROM signed), "
        "agg AS (SELECT CAST(sum(s) AS BIGINT) AS n1, "
        "CAST(sum(1 - s) AS BIGINT) AS n2, CAST(sum(new_run) AS BIGINT) AS r "
        "FROM runs) "
        "SELECT n1, n2, r, "
        "round((r - (1.0 + 2.0 * n1 * n2 / (n1 + n2))) / "
        "sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) / "
        "((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 4) AS z, "
        "abs((r - (1.0 + 2.0 * n1 * n2 / (n1 + n2))) / "
        "sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) / "
        "((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)))) > 1.96 "
        "AS rejects_randomness FROM agg "
        "WHERE n1 > 0 AND n2 > 0"
    ),
    "ts_theil_sen": (
        "WITH daily AS (SELECT "
        f"date_diff('day', DATE '{BD_ANCHOR}', o_orderdate) AS di, "
        "CAST(CAST(sum(o_totalprice) AS DECIMAL(18,2)) * 100 AS BIGINT) AS c "
        "FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1), "
        "p AS (SELECT a.di AS ai, b.di AS bi, b.c - a.c AS dc, "
        "b.di - a.di AS dd FROM daily a JOIN daily b ON a.di < b.di), "
        "s AS (SELECT ai, bi, CASE WHEN dc >= 0 "
        "THEN (2 * 1000000 * dc::HUGEINT + dd) // (2 * dd) "
        "ELSE -((2 * 1000000 * -(dc::HUGEINT) + dd) // (2 * dd)) END AS sx FROM p), "
        "r AS (SELECT sx, row_number() OVER (ORDER BY sx, ai, bi) AS rk "
        "FROM s), "
        "t AS (SELECT count(*) AS np, count(DISTINCT ai) + 1 AS nd FROM s) "
        "SELECT CAST(nd AS BIGINT) AS n_days, CAST(np AS BIGINT) AS n_pairs, "
        "(sum(CASE WHEN rk = (np + 1) // 2 THEN sx ELSE 0 END) "
        "+ sum(CASE WHEN rk = (np + 2) // 2 THEN sx ELSE 0 END)) "
        "/ 2000000.0 AS slope_cents_per_day "
        "FROM r, t WHERE rk IN ((np + 1) // 2, (np + 2) // 2) "
        "GROUP BY nd, np"
    ),
    "ts_seasonal_adjust": (
        "WITH daily AS (SELECT "
        "date_diff('day', DATE '1991-12-30', o_orderdate) AS x, "
        "CAST(CAST(sum(o_totalprice) AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "AS cents FROM orders GROUP BY 1), "
        "scored AS (SELECT x, x % 7 AS g, cents, "
        "sum(cents) OVER (PARTITION BY x % 7) AS gc, "
        "count(*) OVER (PARTITION BY x % 7) AS gn, "
        "sum(cents) OVER () AS tc, count(*) OVER () AS tn FROM daily) "
        "SELECT CAST(x AS INT) AS x, CAST(g AS INT) AS g, "
        "cents / 100.0 AS revenue, "
        "round(CAST(CAST(gc * tn AS BIGINT) AS DOUBLE) "
        "/ CAST(CAST(gn * tc AS BIGINT) AS DOUBLE), 6) AS weekday_index, "
        "CAST((CAST(2 AS HUGEINT) * cents * gn * tc "
        "+ CAST(gc AS HUGEINT) * tn) "
        "// (CAST(2 AS HUGEINT) * gc * tn) AS BIGINT) / 100.0 "
        "AS adjusted_revenue FROM scored"
    ),
    "ts_decompose_additive": (
        "WITH daily AS (SELECT "
        "date_diff('day', DATE '1991-12-30', o_orderdate) AS x, "
        "CAST(CAST(sum(o_totalprice) AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "AS cents FROM orders GROUP BY 1), "
        "tr AS (SELECT x, cents, "
        f"sum(cents) OVER w AS ws, count(*) OVER w AS wn FROM daily "
        f"WINDOW w AS (ORDER BY x ROWS BETWEEN {STL_W // 2} PRECEDING "
        f"AND {STL_W // 2} FOLLOWING)), "
        "t2 AS (SELECT x, cents, "
        f"(2 * ws + {STL_W}) // {2 * STL_W} AS trend_c "
        f"FROM tr WHERE wn = {STL_W}), "
        "det AS (SELECT x, cents, trend_c, x % 7 AS g, "
        "cents - trend_c AS det_c FROM t2), "
        "o AS (SELECT x, g, cents, trend_c, "
        "sum(det_c) OVER (PARTITION BY g) AS gs, "
        "count(*) OVER (PARTITION BY g) AS gn FROM det) "
        "SELECT CAST(x AS INT) AS x, CAST(g AS INT) AS g, "
        "cents / 100.0 AS value, trend_c / 100.0 AS trend, "
        "((2 * (gs + 1000000000000 * gn) + gn) // (2 * gn) "
        "- 1000000000000) / 100.0 AS seasonal, "
        "(cents - trend_c - ((2 * (gs + 1000000000000 * gn) + gn) "
        "// (2 * gn) - 1000000000000)) / 100.0 AS remainder FROM o"
    ),
    "ts_seasonal_strength": (
        "WITH daily AS (SELECT "
        "date_diff('day', DATE '1991-12-30', o_orderdate) AS x, "
        "CAST(CAST(sum(o_totalprice) AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "AS cents FROM orders GROUP BY 1), "
        "tr AS (SELECT x, cents, sum(cents) OVER w AS ws, "
        "count(*) OVER w AS wn FROM daily "
        "WINDOW w AS (ORDER BY x ROWS BETWEEN 3 PRECEDING "
        "AND 3 FOLLOWING)), "
        "det AS (SELECT x, cents - (2 * ws + 7) // 14 AS d, x % 7 AS g "
        "FROM tr WHERE wn = 7), "
        "seas AS (SELECT d, d - ((2 * (sum(d) OVER (PARTITION BY g) "
        "+ 1000000000000 * count(*) OVER (PARTITION BY g)) "
        "+ count(*) OVER (PARTITION BY g)) "
        "// (2 * count(*) OVER (PARTITION BY g)) - 1000000000000) AS r "
        "FROM det), "
        "m AS (SELECT count(*) AS n, sum(d) AS sd1, "
        "sum(CAST(d AS HUGEINT) * d) AS sd2, sum(r) AS sr1, "
        "sum(CAST(r AS HUGEINT) * r) AS sr2 FROM seas) "
        "SELECT CAST(n AS BIGINT) AS n_days, "
        "round(greatest(0.0, 1.0 "
        "- (CAST(n AS DOUBLE) * CAST(sr2 AS DOUBLE) "
        "- CAST(sr1 AS DOUBLE) * CAST(sr1 AS DOUBLE)) "
        "/ (CAST(n AS DOUBLE) * CAST(sd2 AS DOUBLE) "
        "- CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE))), 6) "
        "AS seasonal_strength FROM m"
    ),
    # ts_spectral_peak: rows-only (FFT floats) — numpy golden in pytest
}
