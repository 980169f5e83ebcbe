"""Group K — incremental / streaming over the events table (SURVEY §2B),
the idiomatic-Spark realization of the reference's incremental engine
(ref ops A11-A13: MRBG-Store merge, delta inputs, incremental restart).

Batch-mode forms are hash-checked against DuckDB here; the SAME transforms
run through Structured Streaming in tests/test_streaming.py
(stream-batch equivalence, SURVEY §5.2).  `stream_stateful_running` and
`stream_late_watermark` exercise the incremental machinery directly in
their driver entries.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType
from pyspark.sql.window import Window

from ..catalog import load_tables
from ..plans.iterate import checkpoint_without_stats, iterate
from ..streaming.incremental import (
    MRBGStore,
    chunk_events,
    fold_delta,
    fold_delta_ops,
    stream_over_chunks,
)
from .windows_q import ATTR_WINDOW_H, ORACLES as _WINDOW_ORACLES

SESSION_GAP = "30 minutes"
N_DELTA_BATCHES = 3
LATE_EVERY = 50          # event_id % 50 == 0 rows of chunk 0 arrive last
WATERMARK = "10 minutes"


def tumbling_transform(ev):
    """Shared by the batch query and the streaming equivalence test."""
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "total")
    )


def q_stream_tumbling_window(spark, sf_dir):
    """Per 1-hour tumbling window x event_type: count + rounded sum.
    `window()` is the streaming-native tumbling assignment; batch-mode it
    is a plain hash aggregate on the truncated hour."""
    load_tables(spark, sf_dir)
    return tumbling_transform(spark.table("events"))


#: per-window leaderboard depth
STREAM_TOPK = 3


def q_stream_windowed_topk(spark, sf_dir):
    """Streaming leaderboard — top-3 event types per 1-hour tumbling
    window by event count (ties -> event_type asc).  The canonical
    two-stage streaming pattern: the WINDOWED AGGREGATE is the streaming
    stateful stage (same state as stream_tumbling_window — ranks are not
    state), and the per-window rank runs downstream on each emitted
    window's closed aggregate, here expressed batch-equivalently.

    100 TB/streaming note: rank-over-window-results costs one window
    function over #windows × #types rows — thousands of rows per hour
    regardless of event volume; the event stream itself only ever feeds
    the incremental count state."""
    load_tables(spark, sf_dir)
    per_window = (
        spark.table("events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    rk = Window.partitionBy("ws").orderBy(F.col("n").desc(), F.col("event_type"))
    return (
        per_window.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= STREAM_TOPK)
    )


def q_stream_sliding_window(spark, sf_dir):
    """1-hour windows sliding every 30 min: each event lands in exactly 2
    windows; count per window start."""
    load_tables(spark, sf_dir)
    return (
        spark.table("events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )


def q_stream_session_window(spark, sf_dir):
    """30-min-gap sessions per user via `session_window` (the stateful
    streaming operator, run batch-mode): start = first event, end = last
    event + gap (end-exclusive).  Oracle: gaps-and-islands with the same
    >= gap break rule."""
    load_tables(spark, sf_dir)
    return (
        spark.table("events")
        .groupBy("user_id", F.session_window("ts", SESSION_GAP).alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
        )
    )


def dedup_transform(ev):
    return ev.dropDuplicates(["event_id"]).select(
        "event_id", "user_id", "event_type", "ts"
    )


def q_stream_dedup_exact(spark, sf_dir):
    """Exactly-once repair: drop duplicate event_ids from a doubled feed
    (`dropDuplicates` is the streaming dedup-with-state operator)."""
    load_tables(spark, sf_dir)
    ev = spark.table("events")
    return dedup_transform(ev.unionAll(ev))


def q_stream_stateful_running(spark, sf_dir):
    """Running per-user totals maintained across 3 chronological delta
    batches via fold_delta — the MRBG-Store preserve/merge cycle (A11/A12)
    in batch form: each fold partially aggregates one delta and merges it
    key-locally into the preserved state.  The final state must equal the
    from-scratch batch recompute (that is the oracle)."""
    load_tables(spark, sf_dir)
    chunks = chunk_events(spark, spark.table("events"), n=N_DELTA_BATCHES)

    def fold(state, i):
        return fold_delta(
            state, chunks[i], ["user_id"], {"total_value": "value"}, count_col="n_events"
        )

    state = iterate(fold(None, 0), fold, len(chunks) - 1, checkpoint_every=1).state
    return state.select(
        "user_id", "n_events", F.round("total_value", 2).alias("total_value")
    )


RETRACT_EVERY = 37  # event_id % 37 == 0 rows get deleted in batch 2


def wordcount_map(docs):
    """doc record -> intermediate (word, doc_id, tf) edges (ref op A1)."""
    words = docs.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("word"),
    )
    return words.groupBy("word", "doc_id").agg(F.count("*").alias("tf"))


def wordcount_reduce(edges):
    """Per word: total occurrences, doc count, and the doc with the max
    tf (tie -> lowest doc_id) — an order statistic, NOT an additive
    aggregate, so only edge-level preservation can recompute it
    incrementally."""
    mx = F.max("tf").over(Window.partitionBy("word"))
    return (
        edges.withColumn("mx", mx)
        .groupBy("word")
        .agg(
            F.sum("tf").alias("n_occ"),
            F.count("*").alias("n_docs"),
            F.min(F.when(F.col("tf") == F.col("mx"), F.col("doc_id"))).alias("top_doc"),
        )
    )


def q_inc_mapreduce_wordcount(spark, sf_dir):
    """The MRBG-Store cycle end-to-end (A11, PAPER §4-5): initial
    wordcount on 90% of documents, then an INSERT delta (the other 10%),
    then a DELETE delta (every 7th doc) — each delta re-reduces only
    affected words at the preserved-edge level.  Final result must equal
    a from-scratch run over the surviving documents (the oracle), and the
    reduce includes a non-additive order statistic to prove the merge is
    edge-level, not aggregate-level."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    store = MRBGStore(wordcount_map, wordcount_reduce, key="word")
    store.initial(d.filter(F.col("doc_id") % 10 != 0))
    store.apply_delta(inserts=d.filter(F.col("doc_id") % 10 == 0))
    store.apply_delta(deletes=d.filter(F.col("doc_id") % 7 == 0))
    return store.results


def q_inc_delta_retract(spark, sf_dir):
    """A12's (K,V,±) delta contract end-to-end: batch 1 inserts every
    event, batch 2 DELETES a deterministic slice; the per-user state after
    the signed merge must equal a from-scratch aggregate over the
    surviving events (the oracle).  Keys retracted to zero leave the
    state entirely."""
    load_tables(spark, sf_dir)
    ev = spark.table("events")
    inserts = ev.withColumn("op", F.lit("+"))
    deletes = ev.filter(F.col("event_id") % RETRACT_EVERY == 0).withColumn(
        "op", F.lit("-")
    )
    state = fold_delta_ops(
        None, inserts, ["user_id"], {"total_value": "value"}, count_col="n_events"
    ).transform(checkpoint_without_stats)
    state = fold_delta_ops(
        state, deletes, ["user_id"], {"total_value": "value"}, count_col="n_events"
    )
    return state.select(
        "user_id", "n_events", F.round("total_value", 2).alias("total_value")
    )


JOIN_WINDOW = "4 hours"             # purchase attributes to views this recent
JOIN_WATERMARK = "12 hours"         # state eviction bound (> JOIN_WINDOW)


def _views_purchases(spark):
    ev = spark.table("events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("vts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    return views, purchases


def interval_join_transform(views, purchases):
    """Stream-stream inner interval join: every (view, purchase) pair of
    the same user with vts <= pts <= vts + JOIN_WINDOW.  Both sides are
    watermarked (state eviction: a buffered view can be dropped once the
    purchase watermark passes vts + window) — the canonical two-feed
    correlation the reference would need two MRBG-keyed jobs for.
    Works identically on batch DataFrames, which is what the hash-checked
    driver entry runs; tests replay it as two real file-source streams."""
    v = views.withColumn("vts", F.col("vts").cast("timestamp")).withWatermark(
        "vts", JOIN_WATERMARK
    )
    p = purchases.withColumn("pts", F.col("pts").cast("timestamp")).withWatermark(
        "pts", JOIN_WATERMARK
    )
    cond = (
        (v.user_id == p.user_id)
        & (p.pts >= v.vts)
        & (p.pts <= v.vts + F.expr(f"INTERVAL {JOIN_WINDOW}"))
    )
    us = F.unix_micros
    return v.join(p, cond).select(
        v.user_id.alias("user_id"),
        "view_id",
        "purchase_id",
        (us(p.pts) - us(v.vts)).alias("lag_us"),
    )


def q_stream_stream_join(spark, sf_dir):
    """Batch surface of the stream-stream interval join (hash-checked);
    tests/test_streaming.py runs the SAME transform over two live
    file-source streams and asserts equality."""
    load_tables(spark, sf_dir)
    views, purchases = _views_purchases(spark)
    return interval_join_transform(views, purchases)


def left_outer_join_transform(views, purchases):
    """LEFT OUTER stream-stream interval join — the attribution query
    that must also report the views that converted to NOTHING: matched
    pairs emit like the inner join; an unmatched view emits once, with
    null purchase, after the purchase-side watermark passes vts + window
    (that deferred null emission is the whole point of the outer
    streaming join, and why both watermarks are mandatory).  Works
    identically on batch frames — the hash-checked surface — while
    tests replay it over two live file-source streams."""
    v = views.withColumn("vts", F.col("vts").cast("timestamp")).withWatermark(
        "vts", JOIN_WATERMARK
    )
    p = purchases.withColumn("pts", F.col("pts").cast("timestamp")).withWatermark(
        "pts", JOIN_WATERMARK
    )
    cond = (
        (v.user_id == p.user_id)
        & (p.pts >= v.vts)
        & (p.pts <= v.vts + F.expr(f"INTERVAL {JOIN_WINDOW}"))
    )
    us = F.unix_micros
    return v.join(p, cond, "leftOuter").select(
        v.user_id.alias("user_id"),
        "view_id",
        "purchase_id",
        F.col("purchase_id").isNotNull().alias("matched"),
        (us(p.pts) - us(v.vts)).alias("lag_us"),
    )


def q_stream_left_outer_join(spark, sf_dir):
    """Batch surface of the LEFT OUTER stream-stream interval join
    (hash-checked); tests/test_streaming.py replays it over two live
    file-source streams and asserts the matched pairs are identical and
    the null-emissions appear exactly for the views the final watermark
    has sealed."""
    load_tables(spark, sf_dir)
    views, purchases = _views_purchases(spark)
    return left_outer_join_transform(views, purchases)


#: dedup-within-watermark state bound (>= the duplicate arrival spread)
DEDUP_WM = "2 hours"


def dedup_minute_transform(ev, streaming: bool = False):
    """Idempotent-ingestion dedup with BOUNDED state: collapse repeated
    (user_id, event_type) arrivals within the same minute to one row.
    Batch picks the earliest (ts, event_id) deterministically; the
    streaming twin uses dropDuplicatesWithinWatermark, whose state
    evicts after DEDUP_WM — the operational difference from plain
    dropDuplicates, whose state grows forever at 100 TB."""
    e = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("ts2"),
    ).withColumn("minute", F.date_trunc("minute", F.col("ts2")))
    if streaming:
        return (
            e.withWatermark("ts2", DEDUP_WM)
            .dropDuplicatesWithinWatermark(["user_id", "event_type", "minute"])
            .select("event_id", "user_id", "event_type", "minute")
        )
    w = Window.partitionBy("user_id", "event_type", "minute").orderBy(
        "ts2", "event_id"
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "minute")
    )


def q_stream_dedup_watermark(spark, sf_dir):
    """Batch surface of the bounded-state minute-bucket dedup
    (hash-checked: deterministic earliest-arrival pick per bucket);
    tests/test_streaming.py runs the dropDuplicatesWithinWatermark twin
    over live chunks and asserts it keeps exactly one row per bucket."""
    load_tables(spark, sf_dir)
    return dedup_minute_transform(spark.table("events"))


def q_stream_static_join(spark, sf_dir):
    """Stream-static dimension enrichment: each event joined against a
    small static per-user dim (first-seen timestamp) to emit the event's
    age in integer microseconds.  In Structured Streaming this exact
    transform is a static-side join evaluated per micro-batch with NO
    state store (tests/test_streaming.py runs it through the chunked
    stream harness).  No broadcast hint: this fixture derives the dim
    from the stream itself, so it is per-user — unbounded — and a forced
    broadcast would OOM at 100 TB; Spark auto-broadcasts static sides
    under the size threshold, and a larger dim shuffles on user_id."""
    load_tables(spark, sf_dir)
    ev = spark.table("events")
    dim = ev.groupBy("user_id").agg(F.min("ts").alias("first_seen"))
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return ev.join(dim, "user_id").select(
        "user_id", "event_id", (us("ts") - us("first_seen")).alias("age_us")
    )


def q_stream_complete_totals(spark, sf_dir):
    """A real Structured Streaming run in COMPLETE output mode: per-type
    running totals re-emitted whole every micro-batch over 3 delta
    chunks.  The memory sink holds exactly the final state after the last
    batch, which must equal the from-scratch batch aggregate (the
    oracle) — the stream-batch equivalence contract on the graded
    surface, complementing stream_late_watermark's append-mode run."""
    load_tables(spark, sf_dir)
    chunks = chunk_events(spark, spark.table("events"), n=N_DELTA_BATCHES)

    def transform(stream):
        return stream.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )

    return stream_over_chunks(
        spark, chunks, transform, "complete", "complete_totals_sink"
    )


def q_stream_late_watermark(spark, sf_dir):
    """A real Structured Streaming run: tumbling per-hour counts in append
    mode with a 10-min watermark, fed 3 delta chunks in which a slice of
    the oldest data arrives LAST.  Those late rows land behind the
    watermark and are dropped; append mode also withholds the final
    unfinalized windows.  Rows-only check (watermark semantics are not
    SQL-expressible); tests/test_streaming.py asserts the exact drop."""
    load_tables(spark, sf_dir)
    chunks = chunk_events(
        spark, spark.table("events"), n=N_DELTA_BATCHES, late_every=LATE_EVERY
    )

    return stream_over_chunks(
        spark, chunks, late_tumbling_transform, "append", "late_watermark_sink"
    )


def late_tumbling_transform(stream):
    """Watermarked tumbling count.  Watermarks require TIMESTAMP (LTZ);
    with session tz pinned to UTC the ntz->ltz->ntz casts are
    value-preserving (SURVEY Appendix A.3)."""
    return (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("ws"), "n")
    )


_SESSIONIZE = (
    "WITH brk AS ("
    " SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL"
    "   OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_sess"
    " FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
    "sess AS ("
    " SELECT user_id, ts, sum(new_sess) OVER"
    "   (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid"
    " FROM brk) "
)

def q_stream_scd2_compact(spark, sf_dir):
    """CDC change feed -> slowly-changing-dimension type-2 history: each
    user's event_type stream is run-length compacted into validity
    intervals (valid_from = first ts of a run of equal values, valid_to =
    start of the next run, NULL while current) — the standard sink shape
    for upserting dimension tables from a change stream (the batch twin
    of A12 delta folding: the same intervals fall out of replaying the
    deltas in order).

    Plan: one window partition per user (lag -> change flag -> running
    sum segments), one per-segment aggregation, one lead for valid_to —
    three stages co-keyed on user_id, nothing global."""
    load_tables(spark, sf_dir)
    ev = spark.table("events").select(
        "user_id",
        "event_id",
        F.col("event_type").alias("val"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seg = ev.withColumn(
        "chg",
        F.when(
            F.lag("val").over(w).isNull() | (F.lag("val").over(w) != F.col("val")),
            1,
        ).otherwise(0),
    ).withColumn("seg", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    runs = seg.groupBy("user_id", "seg").agg(
        F.min("val").alias("val"),  # all equal within a run; min = deterministic
        F.min("us").alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    return runs.select(
        "user_id",
        "val",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


def q_stream_foreachbatch_upsert(spark, sf_dir):
    """Streaming MERGE into a keyed sink via a REAL foreachBatch query —
    the lakehouse upsert loop (ref A11's preserve/merge at the SINK
    layer): events arrive in 3 chronological delta micro-batches through
    a file-source stream; each batch folds "latest event per user" into
    a versioned parquet state table (read state_v{i-1}, union, per-key
    argmax, write state_v{i} — versioned writes keep every file
    immutable, no read-overwrite races).  The final state must equal the
    batch argmax over ALL events — replay independence, hash-checked.

    100TB: per-batch work is O(delta + touched keys) after the per-key
    window; the state table is keyed/compactable; versioned dirs are the
    poor-man's transaction log (a real deployment swaps in Delta/Iceberg
    MERGE inside the same foreachBatch hook)."""
    import shutil
    import tempfile

    from ..streaming.incremental import stream_over_chunks_foreach

    load_tables(spark, sf_dir)
    ev = spark.table("events").select(
        "user_id",
        "event_id",
        "ts",  # chunk_events ranges on (ts, event_id); dropped in merge
        F.col("event_type").alias("last_type"),
        F.round("value", 2).alias("last_value"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("last_us"),
    )
    chunks = chunk_events(spark, ev, n=N_DELTA_BATCHES)
    root = tempfile.mkdtemp(prefix="i2mr-upsert-")
    w = Window.partitionBy("user_id").orderBy(
        F.col("last_us").desc(), F.col("event_id").desc()
    )
    versions: list[str] = []

    def merge(batch_df, batch_id):
        delta = batch_df.drop("ts")  # ts only ordered the chunking
        merged = (
            delta
            if not versions
            else batch_df.sparkSession.read.parquet(versions[-1]).unionByName(delta)
        )
        state = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        path = f"{root}/state_v{batch_id}"
        state.write.parquet(path)
        versions.append(path)

    try:
        stream_over_chunks_foreach(spark, chunks, merge, "foreachbatch_upsert")
        # final state, materialized off the temp dir before cleanup
        return spark.read.parquet(versions[-1]).transform(checkpoint_without_stats)
    finally:
        shutil.rmtree(root, ignore_errors=True)


#: delta membership: orders with o_orderkey % 10 == 0 / lineitem with
#: l_orderkey % 7 == 0 arrive as the increment; the rest are the base
DELTA_A_MOD = 10
DELTA_B_MOD = 7


def q_inc_join_delta(spark, sf_dir):
    """One-step incremental JOIN maintenance (the i2MapReduce core move
    applied to a binary operator): given base relations A, B with a
    preserved prior result R_old = A⋈B, and deltas ΔA, ΔB, the new
    result is R_old ⊎ ΔA⋈B ⊎ A⋈ΔB ⊎ ΔA⋈ΔB — the full join is never
    recomputed.  Here A = orders, B = lineitem (split deterministically
    into base + delta), the join key is the orderkey, and the maintained
    result is revenue per order priority.  The returned state is the
    MERGED partial aggregates of the four contributions; the oracle is
    the from-scratch join over the combined relations.

    Plan: each contribution aggregates down to (priority, n, rev)
    partials BEFORE the merge, so the combine step shuffles a handful of
    rows regardless of data size.  At 100 TB, R_old's partials are the
    preserved MRBG state (a few KB) and only the delta joins touch new
    data — the whole update costs O(Δ), not O(|A|+|B|)."""
    load_tables(spark, sf_dir)
    o, li = spark.table("orders"), spark.table("lineitem")
    a_old = o.filter(F.col("o_orderkey") % DELTA_A_MOD != 0)
    a_new = o.filter(F.col("o_orderkey") % DELTA_A_MOD == 0)
    b_old = li.filter(F.col("l_orderkey") % DELTA_B_MOD != 0)
    b_new = li.filter(F.col("l_orderkey") % DELTA_B_MOD == 0)

    def contrib(a, b):
        return (
            a.join(b, a["o_orderkey"] == b["l_orderkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
            )
        )

    # preserved prior state (in production: read back from the MRBG store)
    r_old = contrib(a_old, b_old).transform(checkpoint_without_stats)
    delta = (
        contrib(a_new, b_old)
        .unionByName(contrib(a_old, b_new))
        .unionByName(contrib(a_new, b_new))
    )
    return (
        r_old.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("n").alias("n_rows"), F.round(F.sum("rev"), 2).alias("revenue"))
    )


def q_stream_cdc_apply(spark, sf_dir):
    """Change-data-capture apply: the events stream is read as an ops log
    (signup→INSERT, error→DELETE, anything else→UPDATE, ordered by ts
    with event_id as tiebreak) and folded onto a keyed snapshot — the
    final state keeps, per user, the payload of the LAST op unless that
    op is a DELETE, in which case the key is absent.  Output:
    (user_id, op count, last op type, last value).

    Plan: a per-key ordered window (hash partition by user_id) picks the
    last op; no state larger than one row per key survives — the exact
    shape `applyInPandasWithState` holds on a live stream, expressed
    relationally for the batch-equivalence check."""
    load_tables(spark, sf_dir)
    op = (
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
    )
    log = spark.table("events").select(
        "user_id", "event_id", "ts", "value", op.alias("op")
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_ops", F.count(F.lit(1)).over(Window.partitionBy("user_id")))
        .filter((F.col("_rn") == 1) & (F.col("op") != "D"))
        .select(
            "user_id",
            "n_ops",
            F.col("op").alias("last_op"),
            F.round("value", 2).alias("last_value"),
        )
    )


_ATTR_STATE = StructType([StructField("last_click_us", LongType())])
_ATTR_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("day", StringType()),
        StructField("cents", LongType()),
        StructField("attr", IntegerType()),
    ]
)
_ATTR_US = ATTR_WINDOW_H * 3600 * 1_000_000


def _attr_fn(key, pdf_iter, state: GroupState):
    """Per-user keyed state = the latest click timestamp (µs).  Each
    micro-batch is sorted on (ts, event_id) and the carry-forward is a
    VECTORIZED cummax of click timestamps seeded from preserved state —
    no per-row python; purchases emit (day, cents, attributed)."""
    last = state.get[0] if state.exists else None
    for pdf in pdf_iter:
        if len(pdf) == 0:
            continue
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        us = pdf["ts"].astype("int64") // 1000  # ns -> µs, tz-less
        clicks = us.where(pdf["event_type"] == "click").astype("float64")
        # strictly-before semantics: shift(1) excludes the current row
        # (its position 0 is always NaN, so the preserved cross-batch
        # state seeds it), then ffill carries the latest click forward —
        # rows are ts-sorted, so last-click == max-click, and ffill is
        # the correct carry (pandas cummax(skipna=True) yields NaN AT
        # NaN positions, which silently dropped attributions here)
        carried = clicks.shift(1)
        if last is not None:
            carried.iloc[0] = float(last)
        carried = carried.ffill()
        is_p = (pdf["event_type"] == "purchase").to_numpy()
        if is_p.any():
            p_us = us[is_p]
            p_carried = carried[is_p]
            attr = (
                p_carried.notna()
                & ((p_us - p_carried) <= _ATTR_US)
            ).astype("int32")
            yield pd.DataFrame(
                {
                    # nullable Int64: the NULL-user group is a real keyed
                    # group here (window PARTITION BY semantics in the
                    # batch oracle group NULLs together), and its user_id
                    # arrives as NaN — plain int64 astype would throw
                    "user_id": pdf["user_id"][is_p].astype("Int64"),
                    "day": pdf["ts"][is_p].dt.strftime("%Y-%m-%d"),
                    # nullable Int64: a purchase with no recorded value
                    # still counts, its cents stay NULL (plain int64
                    # astype would throw on the NaN) — the downstream
                    # sum skips NULLs exactly like the batch oracle's
                    # CASE/sum
                    "cents": pdf["cents"][is_p].astype("Int64"),
                    "attr": attr,
                }
            )
        mx = clicks.max()
        if pd.notna(mx):
            last = int(mx) if last is None else max(last, int(mx))
    state.update((last,))


def q_stream_attribution(spark, sf_dir):
    """Streaming last-touch attribution: events arrive in 3
    chronological micro-batches; per-user keyed state preserves the
    latest click across batches (applyInPandasWithState — the
    MRBG-style read-merge-write cycle), purchases are credited within
    the 24 h lookback as they arrive, and the memory-sink rows roll up
    to the same daily attach table as the batch key.  The oracle IS the
    batch oracle — stream and batch must hash identically."""
    load_tables(spark, sf_dir)
    e = spark.table("events").select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    chunks = chunk_events(spark, e, n=3)

    def transform(stream):
        return stream.groupBy("user_id").applyInPandasWithState(
            _attr_fn,
            outputStructType=_ATTR_OUT,
            stateStructType=_ATTR_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    sink = stream_over_chunks(
        spark, chunks, transform, "update", "stream_attr_sink"
    )
    daily = sink.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("attr").alias("n_attributed"),
        F.sum(F.when(F.col("attr") == 1, F.col("cents")).otherwise(0)).alias(
            "ac"
        ),
    )
    return daily.select(
        "day",
        "n_purchases",
        F.col("n_attributed").cast("long").alias("n_attributed"),
        (F.col("ac") / 100.0).alias("attributed_revenue"),
        F.expr(
            "(2000 * n_attributed + n_purchases) div (2 * n_purchases)"
        ).alias("attach_pm"),
    )


#: snapshot-diff simulation rules (deterministic, SF-independent)
DIFF_DEL_MOD = 7        # v1 drops orderkeys divisible by 7
DIFF_UPD_MOD = 5        # v1 rewrites priority where orderkey % 5 == 0
DIFF_ADD_MOD = 97       # v1 inserts a shifted clone where key % 97 == 0
DIFF_ADD_OFFSET = 1_000_000_000


def q_inc_snapshot_diff(spark, sf_dir):
    """Snapshot diff — the CDC table-compare validating every migration
    / time-travel pair: given version v0 and version v1 of the orders
    table (v1 deterministically drops keys divisible by 7 and rewrites
    the priority where key % 5 == 0), a FULL OUTER join on the primary
    key classifies every row as added / removed / changed / unchanged
    and returns the reconciliation counts.  One co-partitioned
    full-outer join on the key; the compared payload is hashed
    column-wise, never collected."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    v0 = o.select("o_orderkey", "o_totalprice", "o_orderpriority")
    v1 = (
        o.filter(F.col("o_orderkey") % DIFF_DEL_MOD != 0)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % DIFF_UPD_MOD == 0, F.lit("0-REWRITTEN")
            )
            .otherwise(F.col("o_orderpriority"))
            .alias("o_orderpriority"),
        )
        .unionAll(
            o.filter(F.col("o_orderkey") % DIFF_ADD_MOD == 0).select(
                (F.col("o_orderkey") + DIFF_ADD_OFFSET).alias("o_orderkey"),
                "o_totalprice",
                "o_orderpriority",
            )
        )
    )
    j = v0.alias("x").join(
        v1.alias("y"), F.col("x.o_orderkey") == F.col("y.o_orderkey"), "full"
    )
    status = (
        F.when(F.col("x.o_orderkey").isNull(), "added")
        .when(F.col("y.o_orderkey").isNull(), "removed")
        .when(
            (F.col("x.o_totalprice") == F.col("y.o_totalprice"))
            & (F.col("x.o_orderpriority") == F.col("y.o_orderpriority")),
            "unchanged",
        )
        .otherwise("changed")
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


#: bitemporal probe: transaction-time version and valid date
BT_TX_PROBE = 1
BT_VALID_PROBE = "1995-06-15"


def q_inc_bitemporal_asof(spark, sf_dir):
    """BITEMPORAL as-of query: rows carry BOTH a valid-time interval
    (when the fact was true in the world) and a transaction-time
    version (when the warehouse learned it); the probe asks 'as the
    table stood at transaction version T, what was valid on date V?' —
    the audit/backdating semantics SQL:2011 temporal tables implement
    and join_point_in_time (valid time only) cannot answer.

    The bitemporal store is built deterministically from orders: tx 0
    records each order valid [orderdate, orderdate+90d) with its
    original priority; tx 1 RESTATES orders with key % 5 == 0 (new
    priority, validity extended to +180d).  The probe takes the highest
    tx <= T per key (one co-partitioned window), then filters the valid
    interval — two narrow passes, no self-join."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    v0 = o.select(
        "o_orderkey",
        F.lit(0).alias("tx"),
        F.col("o_orderdate").alias("valid_from"),
        F.date_add("o_orderdate", 90).alias("valid_to"),
        F.col("o_orderpriority").alias("prio"),
    )
    v1 = o.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        F.lit(1).alias("tx"),
        F.col("o_orderdate").alias("valid_from"),
        F.date_add("o_orderdate", 180).alias("valid_to"),
        F.lit("0-RESTATED").alias("prio"),
    )
    bt = v0.unionAll(v1).filter(F.col("tx") <= BT_TX_PROBE)
    w = Window.partitionBy("o_orderkey").orderBy(F.col("tx").desc())
    latest = bt.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    probe = latest.filter(
        (F.col("valid_from") <= F.lit(BT_VALID_PROBE))
        & (F.col("valid_to") > F.lit(BT_VALID_PROBE))
    )
    return probe.groupBy("prio").agg(
        F.count(F.lit(1)).alias("n_valid"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


QUERIES = {
    "inc_join_delta": q_inc_join_delta,
    "stream_cdc_apply": q_stream_cdc_apply,
    "stream_foreachbatch_upsert": q_stream_foreachbatch_upsert,
    "stream_scd2_compact": q_stream_scd2_compact,
    "stream_windowed_topk": q_stream_windowed_topk,
    "stream_tumbling_window": q_stream_tumbling_window,
    "stream_sliding_window": q_stream_sliding_window,
    "stream_session_window": q_stream_session_window,
    "stream_dedup_exact": q_stream_dedup_exact,
    "stream_stateful_running": q_stream_stateful_running,
    "inc_delta_retract": q_inc_delta_retract,
    "inc_mapreduce_wordcount": q_inc_mapreduce_wordcount,
    "stream_static_join": q_stream_static_join,
    "stream_stream_join": q_stream_stream_join,
    "stream_left_outer_join": q_stream_left_outer_join,
    "stream_dedup_watermark": q_stream_dedup_watermark,
    "stream_late_watermark": q_stream_late_watermark,
    "stream_complete_totals": q_stream_complete_totals,
    "stream_attribution": q_stream_attribution,
    "inc_snapshot_diff": q_inc_snapshot_diff,
    "inc_bitemporal_asof": q_inc_bitemporal_asof,
}

ORACLES = {
    "inc_join_delta": (
        "SELECT o_orderpriority, count(*) AS n_rows, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
        "GROUP BY o_orderpriority"
    ),
    "stream_cdc_apply": (
        "WITH log AS (SELECT user_id, event_id, ts, value, "
        "CASE WHEN event_type = 'signup' THEN 'I' "
        "WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op FROM events), "
        "last AS (SELECT *, row_number() OVER "
        "(PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn, "
        "count(*) OVER (PARTITION BY user_id) AS n_ops FROM log) "
        "SELECT user_id, n_ops, op AS last_op, round(value, 2) AS last_value "
        "FROM last WHERE rn = 1 AND op <> 'D'"
    ),
    "stream_foreachbatch_upsert": (
        "SELECT user_id, event_id, event_type AS last_type, "
        "round(value, 2) AS last_value, epoch_us(ts) AS last_us "
        "FROM events "
        "QUALIFY row_number() OVER (PARTITION BY user_id "
        "ORDER BY epoch_us(ts) DESC, event_id DESC) = 1"
    ),
    "stream_scd2_compact": (
        "WITH e AS (SELECT user_id, event_id, event_type AS val, "
        "epoch_us(ts) AS us FROM events), "
        "seg0 AS (SELECT *, CASE WHEN lag(val) OVER w IS NULL "
        "OR lag(val) OVER w <> val THEN 1 ELSE 0 END AS chg FROM e "
        "WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), "
        "seg AS (SELECT *, sum(chg) OVER (PARTITION BY user_id "
        "ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS seg FROM seg0), "
        "runs AS (SELECT user_id, seg, min(val) AS val, min(us) AS valid_from, "
        "count(*) AS n_events FROM seg GROUP BY 1, 2) "
        "SELECT user_id, val, valid_from, "
        "lead(valid_from) OVER w2 AS valid_to, n_events, "
        "lead(valid_from) OVER w2 IS NULL AS is_current FROM runs "
        "WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from)"
    ),
    "stream_complete_totals": (
        "SELECT event_type, count(*) AS n, round(sum(value), 2) AS total "
        "FROM events GROUP BY event_type"
    ),
    "stream_static_join": (
        "WITH dim AS (SELECT user_id, min(ts) AS first_seen"
        " FROM events GROUP BY user_id) "
        "SELECT e.user_id, e.event_id,"
        " epoch_us(e.ts) - epoch_us(d.first_seen) AS age_us"
        " FROM events e JOIN dim d ON e.user_id = d.user_id"
    ),
    "stream_left_outer_join": (
        "WITH v AS (SELECT user_id, event_id AS view_id, ts AS vts"
        " FROM events WHERE event_type = 'view'),"
        " p AS (SELECT user_id, event_id AS purchase_id, ts AS pts"
        " FROM events WHERE event_type = 'purchase')"
        " SELECT v.user_id, v.view_id, p.purchase_id,"
        " p.purchase_id IS NOT NULL AS matched,"
        " epoch_us(p.pts) - epoch_us(v.vts) AS lag_us"
        " FROM v LEFT JOIN p ON v.user_id = p.user_id"
        " AND p.pts >= v.vts AND p.pts <= v.vts + INTERVAL '4 hours'"
    ),
    "stream_dedup_watermark": (
        "WITH r AS (SELECT event_id, user_id, event_type,"
        " date_trunc('minute', ts) AS minute,"
        " row_number() OVER (PARTITION BY user_id, event_type,"
        " date_trunc('minute', ts) ORDER BY ts, event_id) AS rn"
        " FROM events)"
        " SELECT event_id, user_id, event_type, minute FROM r WHERE rn = 1"
    ),
    "stream_stream_join": (
        "SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,"
        " epoch_us(p.ts) - epoch_us(v.ts) AS lag_us"
        " FROM events v JOIN events p ON v.user_id = p.user_id"
        " AND v.event_type = 'view' AND p.event_type = 'purchase'"
        " AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '4 hours'"
    ),
    "stream_tumbling_window": (
        "SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n,"
        " round(sum(value), 2) AS total FROM events GROUP BY 1, 2"
    ),
    "stream_windowed_topk": (
        "WITH pw AS (SELECT date_trunc('hour', ts) AS ws, event_type,"
        " count(*) AS n FROM events GROUP BY 1, 2)"
        " SELECT ws, event_type, n, rank FROM ("
        " SELECT *, row_number() OVER (PARTITION BY ws ORDER BY n DESC,"
        " event_type) AS rank FROM pw) WHERE rank <= 3"
    ),
    "stream_sliding_window": (
        "SELECT ws, count(*) AS n FROM ("
        " SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws FROM events"
        " UNION ALL"
        " SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS ws"
        " FROM events) GROUP BY ws"
    ),
    "stream_session_window": (
        _SESSIONIZE
        + "SELECT user_id, min(ts) AS session_start,"
        " max(ts) + INTERVAL '30 minutes' AS session_end, count(*) AS n"
        " FROM sess GROUP BY user_id, sid"
    ),
    "stream_dedup_exact": (
        "SELECT event_id, user_id, event_type, ts FROM ("
        " SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts) AS rn"
        " FROM (SELECT * FROM events UNION ALL SELECT * FROM events)) WHERE rn = 1"
    ),
    "stream_stateful_running": (
        "SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value"
        " FROM events GROUP BY user_id"
    ),
    "inc_delta_retract": (
        "SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value"
        f" FROM events WHERE event_id % {RETRACT_EVERY} <> 0 GROUP BY user_id"
    ),
    "inc_mapreduce_wordcount": (
        "WITH tok AS (SELECT doc_id,"
        " unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w"
        " FROM documents WHERE doc_id % 7 <> 0), "
        "tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w), "
        "mx AS (SELECT *, max(tf) OVER (PARTITION BY w) AS m FROM tf) "
        "SELECT w AS word, CAST(sum(tf) AS BIGINT) AS n_occ, count(*) AS n_docs,"
        " min(CASE WHEN tf = m THEN doc_id END) AS top_doc FROM mx GROUP BY w"
    ),
    # Deterministic reconstruction of the append-mode watermark run:
    # batches = the ntile chunks with the displaced rows moved to batch 3;
    # a displaced row survives unless its window expired under the
    # watermark in force during batch 3 (max ts of batches 1-2 minus the
    # delay); the final emission keeps windows closed under the final
    # watermark.  Validated against the live streaming output at
    # sf0.001/0.01/0.1; fixture timestamps never land exactly on a
    # watermark boundary, so the <=/< choice at the boundary is not
    # load-bearing.
    "stream_late_watermark": (
        "WITH t AS (SELECT ts, event_id, "
        "ntile(3) OVER (ORDER BY ts, event_id) AS c FROM events), "
        "b AS (SELECT ts, date_trunc('hour', ts) AS ws, "
        "CASE WHEN c = 1 AND event_id % 50 = 0 THEN 3 ELSE c END AS batch "
        "FROM t), "
        "wm2 AS (SELECT max(ts) - INTERVAL 10 MINUTE AS v FROM b WHERE batch <= 2), "
        "fwm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS v FROM b), "
        "kept AS (SELECT * FROM b WHERE batch <= 2 "
        "OR ws + INTERVAL 1 HOUR > (SELECT v FROM wm2)) "
        "SELECT ws, count(*) AS n FROM kept "
        "WHERE ws + INTERVAL 1 HOUR <= (SELECT v FROM fwm) GROUP BY ws"
    ),
    #: stream-batch equivalence: the ORACLE is the batch query's oracle.
    "stream_attribution": _WINDOW_ORACLES["window_attribution"],
    "inc_snapshot_diff": (
        "WITH v0 AS (SELECT o_orderkey, o_totalprice, o_orderpriority "
        "FROM orders), "
        f"v1 AS (SELECT o_orderkey, o_totalprice, "
        f"CASE WHEN o_orderkey % {DIFF_UPD_MOD} = 0 THEN '0-REWRITTEN' "
        "ELSE o_orderpriority END AS o_orderpriority FROM orders "
        f"WHERE o_orderkey % {DIFF_DEL_MOD} <> 0 "
        f"UNION ALL SELECT o_orderkey + {DIFF_ADD_OFFSET}, o_totalprice, "
        f"o_orderpriority FROM orders WHERE o_orderkey % {DIFF_ADD_MOD} = 0) "
        "SELECT CASE WHEN x.o_orderkey IS NULL THEN 'added' "
        "WHEN y.o_orderkey IS NULL THEN 'removed' "
        "WHEN x.o_totalprice = y.o_totalprice "
        "AND x.o_orderpriority = y.o_orderpriority THEN 'unchanged' "
        "ELSE 'changed' END AS status, "
        "CAST(count(*) AS BIGINT) AS n_rows "
        "FROM v0 x FULL OUTER JOIN v1 y ON x.o_orderkey = y.o_orderkey "
        "GROUP BY 1"
    ),
    "inc_bitemporal_asof": (
        "WITH v0 AS (SELECT o_orderkey, 0 AS tx, "
        "CAST(o_orderdate AS DATE) AS valid_from, "
        "CAST(o_orderdate AS DATE) + 90 AS valid_to, "
        "o_orderpriority AS prio FROM orders), "
        "v1 AS (SELECT o_orderkey, 1 AS tx, "
        "CAST(o_orderdate AS DATE) AS valid_from, "
        "CAST(o_orderdate AS DATE) + 180 AS valid_to, "
        "'0-RESTATED' AS prio FROM orders WHERE o_orderkey % 5 = 0), "
        "bt AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1), "
        "latest AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey "
        "ORDER BY tx DESC) AS rn FROM bt "
        f"WHERE tx <= {BT_TX_PROBE}), "
        "probe AS (SELECT * FROM latest WHERE rn = 1 "
        f"AND valid_from <= DATE '{BT_VALID_PROBE}' "
        f"AND valid_to > DATE '{BT_VALID_PROBE}') "
        "SELECT prio, CAST(count(*) AS BIGINT) AS n_valid, "
        "min(o_orderkey) AS min_key, max(o_orderkey) AS max_key "
        "FROM probe GROUP BY 1"
    ),
}
