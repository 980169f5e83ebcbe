"""Stream-batch equivalence tests (SURVEY §5.2): the group-K transforms
run through REAL Structured Streaming (file source fed one delta chunk per
micro-batch, memory sink) must produce the batch query's answer — plus the
watermark test, which asserts the exact late-drop behavior.
"""

from __future__ import annotations

import random
import warnings
from collections import Counter

import pytest
from pyspark.sql import functions as F

from i2mapreduce_spark.catalog import load_tables
from i2mapreduce_spark.queries.streaming_q import (
    LATE_EVERY,
    _views_purchases,
    dedup_transform,
    interval_join_transform,
    late_tumbling_transform,
    tumbling_transform,
)
from i2mapreduce_spark.streaming.incremental import (
    MRBGStore,
    chunk_events,
    fold_delta,
    fold_delta_ops,
    stream_over_chunks,
    stream_over_two_sources,
)


def test_mrbg_store_rereduces_only_affected_keys(spark):
    """PAPER §4-5 in miniature: a delta touching one doc's words must
    re-reduce exactly those words, leave every other group untouched, and
    still agree with a full recompute — including after deletes."""
    from i2mapreduce_spark.queries.streaming_q import wordcount_map, wordcount_reduce

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "c d"), (3, "e f e")], "doc_id long, text string"
    )
    store = MRBGStore(wordcount_map, wordcount_reduce, key="word")
    store.initial(docs)

    delta = spark.createDataFrame([(4, "a e")], "doc_id long, text string")
    store.apply_delta(inserts=delta)
    assert store.last_affected_keys == 2  # only 'a' and 'e'
    got = {r.word: (r.n_occ, r.n_docs, r.top_doc) for r in store.results.collect()}
    full = wordcount_reduce(wordcount_map(docs.unionAll(delta)))
    want = {r.word: (r.n_occ, r.n_docs, r.top_doc) for r in full.collect()}
    assert got == want

    # delete doc 3 entirely: 'e' and 'f' re-reduce; 'f' vanishes
    store.apply_delta(deletes=docs.filter("doc_id = 3"))
    assert store.last_affected_keys == 2
    got = {r.word: (r.n_occ, r.n_docs, r.top_doc) for r in store.results.collect()}
    remaining = docs.filter("doc_id <> 3").unionAll(delta)
    want = {
        r.word: (r.n_occ, r.n_docs, r.top_doc)
        for r in wordcount_reduce(wordcount_map(remaining)).collect()
    }
    assert got == want and "f" not in got


KV = "k long, v long"


def _kv_map(records):
    return records.select("k", "v")


def _kv_reduce(edges):
    return edges.groupBy("k").agg(F.count("*").alias("n"), F.sum("v").alias("s"))


def _kv_store(spark, base):
    store = MRBGStore(_kv_map, _kv_reduce, key="k")
    store.initial(spark.createDataFrame(base, KV))
    return store


def _assert_recompute(spark, store, live):
    """The store's results equal a from-scratch reduce over the live
    records (a bag), row for row and with no duplicate key rows."""
    want = _kv_reduce(_kv_map(spark.createDataFrame(list(live.elements()), KV)))
    got = store.results.collect()
    assert Counter(got) == Counter(want.collect())
    assert len({r.k for r in got}) == len(got)


# (base records, inserts, deletes): every case must agree with a
# recompute over (base - deletes) + inserts in bag semantics
BAG_CASES = {
    "duplicate_edge_deletes_one_for_one":
        ([(1, 5), (1, 5), (1, 5), (2, 1)], [], [(1, 5)]),
    "absent_delete_is_noop":
        ([(1, 5), (2, 1)], [], [(1, 6), (3, 1)]),
    "insert_and_delete_same_new_record_keeps_it":
        ([(1, 5)], [(1, 7)], [(1, 7)]),
    "deleting_every_edge_removes_the_key":
        ([(1, 5), (1, 6), (2, 1)], [], [(1, 5), (1, 6)]),
    "null_key_insert_joins_the_null_group":
        ([(None, 3), (1, 5)], [(None, 8)], []),
    "null_key_delete":
        ([(None, 3), (None, 4), (1, 5)], [], [(None, 3)]),
    "delete_of_edge_with_null_column":
        ([(1, None), (1, 2), (1, 3)], [], [(1, None)]),
    "empty_store_takes_inserts":
        ([], [(1, 5), (1, 5)], []),
    "mixed_delta":
        ([(1, 1), (1, 1), (2, 2), (None, None), (3, 3)],
         [(1, 1), (4, 4), (None, None)], [(1, 1), (2, 2), (None, None), (5, 5)]),
}


@pytest.mark.parametrize("case", sorted(BAG_CASES))
def test_mrbg_store_bag_semantics(spark, case):
    base, inserts, deletes = BAG_CASES[case]
    store = _kv_store(spark, base)
    store.apply_delta(
        inserts=spark.createDataFrame(inserts, KV) if inserts else None,
        deletes=spark.createDataFrame(deletes, KV) if deletes else None,
    )
    _assert_recompute(spark, store, Counter(base) - Counter(deletes) + Counter(inserts))
    assert store.last_affected_keys == len({k for k, _ in inserts + deletes})


def test_mrbg_store_empty_delta_keeps_results(spark):
    store = _kv_store(spark, [(1, 5), (2, 1)])
    before = store.results
    assert store.apply_delta() is before
    assert store.last_affected_keys == 0
    empty = spark.createDataFrame([], KV)
    assert store.apply_delta(inserts=empty, deletes=empty) is before
    assert store.last_affected_keys == 0
    assert Counter(store.results.collect()) == Counter(before.collect())


def _deltas(spark):
    """Three deltas over keys 0..9: inserts, deletes (one absent), both."""
    base = [(i % 10, i) for i in range(40)] + [(None, 1), (3, None)]
    steps = [
        ([(i % 10, 100 + i) for i in range(0, 30, 3)], []),
        ([], [(1, 1), (3, None), (None, 1), (7, 999)]),
        ([(None, 2), (2, 2)], [(2, 2), (4, 4), (4, 14)]),
    ]
    return base, [
        (spark.createDataFrame(i, KV) if i else None,
         spark.createDataFrame(d, KV) if d else None) for i, d in steps
    ], steps


def _run_deltas(spark):
    base, frames, steps = _deltas(spark)
    store = _kv_store(spark, base)
    live = Counter(base)
    seen = []
    for (ins, dels), (i, d) in zip(frames, steps):
        store.apply_delta(inserts=ins, deletes=dels)
        live = live - Counter(d) + Counter(i)
        seen.append((Counter(store.results.collect()), store.last_affected_keys))
        _assert_recompute(spark, store, live)
    return seen


def test_mrbg_store_collected_and_distributed_paths_agree(spark, monkeypatch):
    """The driver-collected delta (default) and the distributed fallback
    (I2MR_MRBG_DELTA_MAX=0, and a cap the delta exceeds) give the same
    results and affected-key counts after every delta; only the
    exceeded cap warns."""
    collected = _run_deltas(spark)
    monkeypatch.setenv("I2MR_MRBG_DELTA_MAX", "0")
    assert _run_deltas(spark) == collected
    monkeypatch.setenv("I2MR_MRBG_DELTA_MAX", "2")
    with pytest.warns(RuntimeWarning, match="I2MR_MRBG_DELTA_MAX"):
        assert _run_deltas(spark) == collected


def _ckpt_rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def test_mrbg_store_releases_old_edges_but_not_results(spark, monkeypatch):
    """Over the cap (I2MR_MRBG_LOCAL_MAX=0) the store lives in local
    checkpoints, and each delta releases the superseded edges checkpoint.
    Under the cap a delta pins and releases nothing.  On both paths a
    results frame handed out earlier stays readable."""
    base, frames, steps = _deltas(spark)

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    def assert_readable(handed_out):
        live = Counter(base)
        for df, (i, d) in zip(handed_out, [([], [])] + steps):
            live = live - Counter(d) + Counter(i)
            want = _kv_reduce(_kv_map(spark.createDataFrame(list(live.elements()), KV)))
            assert Counter(df.collect()) == Counter(want.collect())

    monkeypatch.setenv("I2MR_MRBG_LOCAL_MAX", "0")
    store = _kv_store(spark, base)
    handed_out = [store.results]
    for ins, dels in frames:
        old_edges = store.edges
        handed_out.append(store.apply_delta(inserts=ins, deletes=dels))
        assert _ckpt_rdd_id(old_edges) not in persisted()
        assert _ckpt_rdd_id(store.edges) in persisted()
    assert_readable(handed_out)

    monkeypatch.delenv("I2MR_MRBG_LOCAL_MAX")
    store = _kv_store(spark, base)
    handed_out = [store.results]
    for ins, dels in frames:
        before = persisted()
        handed_out.append(store.apply_delta(inserts=ins, deletes=dels))
        assert persisted() == before
    assert_readable(handed_out)


#: a shared NaN: a bag of tuples counts equal NaN edges only through
#: object identity
NAN = float("nan")
DV = "k double, v double"


def _dv_map(records):
    return records.select("k", "v")


def _dv_reduce(edges):
    return edges.groupBy("k").agg(
        F.count("*").alias("n"), F.count("v").alias("nv"), F.sum("v").alias("s"),
        F.min("v").alias("lo"), F.max("v").alias("hi"),
        F.count_distinct("v").alias("nd"),
    )


def _canon(rows) -> Counter:
    """Rows as a bag in which every NaN is one value (-0.0 already
    equals 0.0)."""
    return Counter(
        tuple("NaN" if isinstance(x, float) and x != x else x for x in r) for r in rows
    )


def _dv_sequence(seed: int, n_deltas: int = 24):
    """A seeded base and delta sequence over keys and values that
    Spark's grouping folds together: NULL with NULL, every NaN with NaN,
    -0.0 with 0.0.  Inserts outnumber deletes, so the store grows; some
    deletes name absent edges."""
    rng = random.Random(seed)
    keys = [0.0, -0.0, 1.0, 2.5, NAN, None]
    vals = [0.0, -0.0, NAN, None, 1.5, -3.0]

    def rec():
        return (rng.choice(keys), rng.choice(vals))

    base = [rec() for _ in range(30)]
    live, steps = Counter(base), []
    for _ in range(n_deltas):
        present = list(live.elements())
        dels = rng.sample(present, min(len(present), rng.randint(0, 3)))
        dels += [rec() for _ in range(rng.randint(0, 1))]
        ins = [rec() for _ in range(rng.randint(0, 5))]
        steps.append((ins, dels))
        live = live - Counter(dels) + Counter(ins)
    return base, steps


def _run_dv_sequence(spark, base, steps, wants):
    """Apply every delta, checking the store against the from-scratch
    result after each; returns the affected-key counts it saw."""
    frame = lambda rows: spark.createDataFrame(rows, DV) if rows else None  # noqa: E731
    store = MRBGStore(_dv_map, _dv_reduce, key="k")
    store.initial(spark.createDataFrame(base, DV))
    seen = []
    for (ins, dels), want in zip(steps, wants):
        store.apply_delta(inserts=frame(ins), deletes=frame(dels))
        assert _canon(store.results.collect()) == want
        seen.append(store.last_affected_keys)
    return seen


def test_mrbg_store_long_sequence_matches_recompute_on_every_path(spark, monkeypatch):
    """24 seeded deltas with NULL keys, duplicate edges, NaN and -0.0
    beside 0.0: after every delta the driver-resident store, the
    distributed store (I2MR_MRBG_LOCAL_MAX=0) and a store whose cap an
    insert crosses mid-sequence each equal a from-scratch reduce over the
    live records, and affect the same keys; only the crossing warns."""
    base, steps = _dv_sequence(seed=7)
    live, sizes, wants = Counter(base), [len(base)], []
    for ins, dels in steps:
        live = live - Counter(dels) + Counter(ins)
        sizes.append(sum(live.values()))
        records = spark.createDataFrame(list(live.elements()), DV)
        wants.append(_canon(_dv_reduce(_dv_map(records)).collect()))
    # strictly inside the sizes the store passes through
    cap = (sizes[0] + max(sizes)) // 2
    assert sizes[0] < cap < max(sizes)

    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        local = _run_dv_sequence(spark, base, steps, wants)
    monkeypatch.setenv("I2MR_MRBG_LOCAL_MAX", "0")
    assert _run_dv_sequence(spark, base, steps, wants) == local
    monkeypatch.setenv("I2MR_MRBG_LOCAL_MAX", str(cap))
    with pytest.warns(RuntimeWarning, match="I2MR_MRBG_LOCAL_MAX"):
        assert _run_dv_sequence(spark, base, steps, wants) == local


def test_fold_delta_ops_retracts_to_nothing(spark):
    """A fully-deleted key must vanish from the state — indistinguishable
    from never-seen (A12 delete semantics)."""
    ins = spark.createDataFrame(
        [(1, 10.0, "+"), (1, 5.0, "+"), (2, 7.0, "+")], "k long, v double, op string"
    )
    state = fold_delta_ops(None, ins, ["k"], {"total": "v"})
    dels = spark.createDataFrame(
        [(1, 10.0, "-"), (1, 5.0, "-")], "k long, v double, op string"
    )
    state = fold_delta_ops(state, dels, ["k"], {"total": "v"})
    rows = {r.k: (r.n, r.total) for r in state.collect()}
    assert rows == {2: (1, 7.0)}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, sf_dir):
    load_tables(spark, sf_dir)
    ev = spark.table("events")
    chunks = chunk_events(spark, ev, n=3)
    streamed = stream_over_chunks(
        spark, chunks, tumbling_transform, "complete", "tumbling_sink"
    )
    assert _rows(streamed) == _rows(tumbling_transform(ev))


def test_dedup_stream_equals_batch(spark, sf_dir):
    load_tables(spark, sf_dir)
    ev = spark.table("events")
    # duplicate every chunk: the stateful dedup must drop the copies even
    # across micro-batch boundaries
    chunks = [c.unionAll(c) for c in chunk_events(spark, ev, n=3)]
    streamed = stream_over_chunks(
        spark, chunks, dedup_transform, "append", "dedup_sink"
    )
    assert _rows(streamed) == _rows(dedup_transform(ev))


def _chunk_by(df, ts_col, n=3):
    """Chronological n-way split on (ts_col, id) — like chunk_events but
    for the renamed view/purchase frames."""
    from pyspark.sql.window import Window

    w = Window.orderBy(ts_col, df.columns[1])
    tiled = df.withColumn("_c", F.ntile(n).over(w) - 1).localCheckpoint(eager=True)
    return [tiled.filter(F.col("_c") == i).drop("_c") for i in range(n)]


def test_stream_stream_join_equals_batch(spark, sf_dir):
    """The interval join over two REAL file-source streams advancing in
    lockstep must emit exactly the batch join's pairs: chronological
    arrival keeps every buffered view inside the watermark bound, so
    state eviction never drops a matchable row."""
    load_tables(spark, sf_dir)
    views, purchases = _views_purchases(spark)
    streamed = stream_over_two_sources(
        spark,
        _chunk_by(views, "vts"),
        _chunk_by(purchases, "pts"),
        interval_join_transform,
        "append",
        "ssjoin_sink",
    )
    assert _rows(streamed) == _rows(interval_join_transform(views, purchases))


def test_stream_static_join_equals_batch(spark, sf_dir):
    """Stream-static enrichment: a static dim broadcast-joined inside each
    micro-batch (no state store) must enrich exactly as the batch join."""
    load_tables(spark, sf_dir)
    ev = spark.table("events")
    dim = ev.groupBy("user_id").agg(F.min("ts").alias("first_seen"))
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731

    def enrich(df):
        return df.join(F.broadcast(dim), "user_id").select(
            "user_id", "event_id", (us("ts") - us("first_seen")).alias("age_us")
        )

    chunks = chunk_events(spark, ev, n=3)
    streamed = stream_over_chunks(spark, chunks, enrich, "append", "enrich_sink")
    assert _rows(streamed) == _rows(enrich(ev))


def test_stateful_stream_on_rocksdb_state_store(spark, sf_dir):
    """The 100TB state path: the same stateful dedup runs unchanged on the
    RocksDB state-store provider (bounded memory per executor, vs the
    default in-memory HDFS-backed map) and produces identical output."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        load_tables(spark, sf_dir)
        ev = spark.table("events")
        chunks = [c.unionAll(c) for c in chunk_events(spark, ev, n=3)]
        streamed = stream_over_chunks(
            spark, chunks, dedup_transform, "append", "rocksdb_dedup_sink"
        )
        assert _rows(streamed) == _rows(dedup_transform(ev))
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_fold_delta_equals_batch_recompute(spark, sf_dir):
    """A11/A13: folding 3 delta batches into preserved state == batch
    recompute, and each fold touches only partial aggregates."""
    load_tables(spark, sf_dir)
    ev = spark.table("events")
    state = None
    for chunk in chunk_events(spark, ev, n=3):
        state = fold_delta(
            state, chunk, ["user_id"], {"total": "value"}
        ).localCheckpoint(eager=True)
    got = {
        r.user_id: (r.n, round(r.total, 2)) for r in state.collect()
    }
    want = {
        r.user_id: (r.n, round(r.total, 2))
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == want


def test_stateful_stream_equals_batch(spark, sf_dir):
    """applyInPandasWithState custom keyed state across 3 micro-batches
    must equal the batch recompute (the streaming realization of A11).
    Update mode emits a refreshed row per touched user per batch; the
    final state is each user's LAST emission (max n_events — monotone)."""
    from i2mapreduce_spark.streaming.stateful import running_totals_transform

    load_tables(spark, sf_dir)
    ev = spark.table("events").select("user_id", "value")
    chunks = [
        c.select("user_id", "value")
        for c in chunk_events(spark, spark.table("events"), n=3)
    ]
    streamed = stream_over_chunks(
        spark, chunks, running_totals_transform, "update", "stateful_sink"
    )
    latest = {}
    for r in streamed.collect():
        if r.user_id not in latest or r.n_events > latest[r.user_id][0]:
            latest[r.user_id] = (r.n_events, round(r.total_value, 2))
    want = {
        r.user_id: (r.n, round(r.total, 2))
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert latest == want


def test_watermark_drops_late_rows(spark, sf_dir):
    """Late rows (old data arriving in the last chunk) fall behind the
    10-min watermark and are excluded; windows not yet finalized are
    withheld in append mode."""
    load_tables(spark, sf_dir)
    ev = spark.table("events")
    chunks = chunk_events(spark, ev, n=3, late_every=LATE_EVERY)
    # the displaced rows are chunk 0's id%LATE_EVERY slice — recompute from
    # the undisplaced chunking (chunk 2 also has natural id%LATE_EVERY rows,
    # which are on time)
    late = chunk_events(spark, ev, n=3)[0].filter(
        F.col("event_id") % LATE_EVERY == 0
    )
    n_late = late.count()
    assert n_late > 0, "fixture produced no late rows"

    streamed = stream_over_chunks(
        spark, chunks, late_tumbling_transform, "append", "late_sink"
    )
    got = {r.ws: r.n for r in streamed.collect()}

    # ground truth WITHOUT the late rows, restricted to windows the sink
    # actually finalized (append mode withholds the trailing ones)
    on_time = ev.join(late.select("event_id"), "event_id", "left_anti")
    want_all = {
        r.ws: r.n
        for r in on_time.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
        .collect()
    }
    assert got, "append sink emitted nothing"
    assert set(got) <= set(want_all)
    mismatched = {w for w in got if got[w] != want_all[w]}
    assert not mismatched, f"late rows leaked into {len(mismatched)} windows"
    # the late rows' own windows were finalized before the late chunk
    # arrived — their counts must show the on-time value, proving the drop
    late_windows = {
        r.ws
        for r in late.select(
            F.window("ts", "1 hour").start.alias("ws")
        ).distinct().collect()
    }
    covered = late_windows & set(got)
    assert covered, "no late window was finalized — test exercises nothing"


def test_checkpoint_restart_preserves_state(spark, sf_dir):
    """The persistence half of A11: a stateful aggregation is STOPPED
    mid-stream and a NEW query restarts from the same checkpoint — the
    preserved state store must carry chunk 1's counts into the restarted
    run, so the final answer equals the batch recompute over everything.
    This is the property that makes incremental processing survive
    process death at 100 TB (state lives in the checkpoint, not the
    query object)."""
    import shutil
    import tempfile

    load_tables(spark, sf_dir)
    ev = spark.table("events")
    chunks = chunk_events(spark, ev, n=2)
    src = tempfile.mkdtemp(prefix="i2mr-ckpt-src-")
    ckpt = tempfile.mkdtemp(prefix="i2mr-ckpt-state-")
    schema = chunks[0].schema

    def start(name):
        stream = spark.readStream.schema(schema).parquet(src)
        agg = stream.groupBy("event_type").agg(F.count("*").alias("n"))
        return (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )

    try:
        chunks[0].write.mode("append").parquet(src)
        q = start("ckpt_restart_a")
        q.processAllAvailable()
        q.stop()  # process "dies" here

        chunks[1].write.mode("append").parquet(src)
        q2 = start("ckpt_restart_b")  # fresh query, same checkpoint
        q2.processAllAvailable()
        q2.stop()

        got = {r.event_type: r.n for r in spark.table("ckpt_restart_b").collect()}
        want = {
            r.event_type: r.n
            for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
        }
        assert got == want, (got, want)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_session_timeout_evicts_state_and_matches_batch(spark, sf_dir):
    """applyInPandasWithState with EventTimeTimeout: idle sessions are
    closed BY THE WATERMARK (state removed), and every closed session
    must exactly match a session from the batch gaps-and-islands
    computation with the same 30-min gap (SURVEY A11 state eviction)."""
    from i2mapreduce_spark.streaming.stateful import (
        SESSION_GAP_MS,
        session_timeout_transform,
    )

    load_tables(spark, sf_dir)
    ev = spark.table("events")
    chunks = [
        c.select("user_id", "ts") for c in chunk_events(spark, ev, n=3)
    ]
    streamed = stream_over_chunks(
        spark, chunks, session_timeout_transform, "append", "session_timeout_sink"
    )
    from pyspark.sql.window import Window

    closed = {
        (r.user_id, r.start_us, r.end_us, r.n) for r in streamed.collect()
    }
    assert len(closed) > 0, "watermark never closed any session"
    # batch truth: gaps-and-islands sessions over the full event stream
    w = Window.partitionBy("user_id").orderBy("us")
    gap = F.col("us") - F.lag("us").over(w)
    sess = (
        ev.select("user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
        .withColumn("new_s", (gap.isNull() | (gap >= SESSION_GAP_MS * 1000)).cast("int"))
        .withColumn("sid", F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    batch = {
        (r.user_id, r.s, r.e, r.n)
        for r in sess.groupBy("user_id", "sid")
        .agg(F.min("us").alias("s"), F.max("us").alias("e"), F.count("*").alias("n"))
        .collect()
    }
    # every stream-closed session is exactly a batch session (the open
    # tails the watermark never passed are the only ones missing)
    assert closed <= batch
    missing = batch - closed
    # at most one unclosed (tail) session per user
    from collections import Counter

    per_user = Counter(u for u, *_ in missing)
    assert all(v <= 1 for v in per_user.values())


def test_windowed_topk_stream_equals_batch(spark, sf_dir):
    """stream_windowed_topk's claim: the windowed COUNT is the streaming
    stateful stage and the rank runs downstream of each closed window.
    Prove it — stream the per-window counts through the chunk harness in
    complete mode, rank the sink table, and the leaderboard must equal
    the batch key's output exactly."""
    from pyspark.sql.window import Window

    from i2mapreduce_spark.queries.streaming_q import (
        STREAM_TOPK,
        q_stream_windowed_topk,
    )

    load_tables(spark, sf_dir)
    ev = spark.table("events")
    chunks = chunk_events(spark, ev, n=3)

    def per_window_counts(stream):
        return (
            stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "event_type", "n")
        )

    streamed = stream_over_chunks(
        spark, chunks, per_window_counts, "complete", "wtopk_sink"
    )
    rk = Window.partitionBy("ws").orderBy(F.col("n").desc(), F.col("event_type"))
    ranked = (
        streamed.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= STREAM_TOPK)
    )
    assert _rows(ranked) == _rows(q_stream_windowed_topk(spark, sf_dir))


def test_stream_left_outer_join_matches_and_seals_nulls(spark, sf_dir):
    """LEFT OUTER stream-stream join over two live file-source streams:
    the matched pairs must equal the batch join exactly (chronological
    arrival keeps matchable views in state, as in the inner-join test),
    and the null emissions must be a non-empty subset of the batch
    unmatched views — exactly the ones whose vts + window the final
    purchase-side watermark passed (the tail stays buffered when the
    finite stream ends, which is correct streaming semantics, not loss)."""
    from i2mapreduce_spark.queries.streaming_q import left_outer_join_transform

    load_tables(spark, sf_dir)
    views, purchases = _views_purchases(spark)
    streamed = stream_over_two_sources(
        spark,
        _chunk_by(views, "vts"),
        _chunk_by(purchases, "pts"),
        left_outer_join_transform,
        "append",
        "lojoin_sink",
    )
    batch = left_outer_join_transform(views, purchases)
    s_matched = {tuple(r) for r in streamed.filter("matched").collect()}
    b_matched = {tuple(r) for r in batch.filter("matched").collect()}
    assert s_matched == b_matched
    s_null = {r.view_id for r in streamed.filter("NOT matched").collect()}
    b_null = {r.view_id for r in batch.filter("NOT matched").collect()}
    assert s_null, "watermark never sealed any unmatched view"
    assert s_null <= b_null


def test_dedup_within_watermark_keeps_one_row_per_bucket(spark, sf_dir):
    """dropDuplicatesWithinWatermark over live chunks must keep exactly
    one row per (user, type, minute) bucket — the same bucket SET as the
    deterministic batch pick (the kept event_id may differ: streaming
    keeps the first ARRIVAL, batch the earliest timestamp)."""
    from i2mapreduce_spark.queries.streaming_q import dedup_minute_transform

    load_tables(spark, sf_dir)
    ev = spark.table("events")
    chunks = chunk_events(spark, ev, n=3)
    streamed = stream_over_chunks(
        spark,
        chunks,
        lambda df: dedup_minute_transform(df, streaming=True),
        "append",
        "dedupwm_sink",
    )
    skeys = [
        (r.user_id, r.event_type, r.minute) for r in streamed.collect()
    ]
    bkeys = {
        (r.user_id, r.event_type, r.minute)
        for r in dedup_minute_transform(ev).collect()
    }
    assert len(skeys) == len(set(skeys))  # exactly one per bucket
    assert set(skeys) == bkeys
