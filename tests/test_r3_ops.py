"""Semantic unit tests for the round-3 operators, on handmade inputs
(the oracle-parity suite covers them against DuckDB on the fixtures;
these pin the intended behavior on cases small enough to verify by hand).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from i2mapreduce_spark.operators import algorithms


def test_label_propagation_majority_and_ties(spark):
    # star: node 0 has neighbors 1,2,3 labeled 1,1,2 -> majority label 1.
    # node 4 is isolated (no in-edges) -> keeps its own label 3.
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (0, 1), (0, 2), (0, 3)], "src long, dst long"
    )
    labels0 = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 1), (3, 2), (4, 3)], "node long, label long"
    )
    out = dict(
        algorithms.label_propagation(edges, labels0, iters=1)
        .collect()
    )
    assert out[0] == 1          # majority of {1,1,2}
    assert out[4] == 3          # isolated keeps its label
    # ties break toward the SMALLEST label: two neighbors, labels {0, 2}
    edges2 = spark.createDataFrame([(1, 9), (2, 9)], "src long, dst long")
    labels2 = spark.createDataFrame(
        [(9, 5), (1, 2), (2, 0)], "node long, label long"
    )
    out2 = dict(algorithms.label_propagation(edges2, labels2, iters=1).collect())
    assert out2[9] == 0


def test_label_propagation_takes_any_label_value(spark):
    # labels need no bound: in-neighbor labels {1500, 1500, 3} -> 1500
    edges = spark.createDataFrame([(1, 0), (2, 0), (3, 0)], "src long, dst long")
    labels0 = spark.createDataFrame(
        [(0, 7), (1, 1500), (2, 1500), (3, 3)], "node long, label long"
    )
    out = dict(algorithms.label_propagation(edges, labels0, iters=1).collect())
    assert out == {0: 1500, 1: 1500, 2: 1500, 3: 3}


def test_funnel_stage_semantics(spark, sf_dir):
    """Stage is the longest ORDERED prefix: a click before the first view
    must not count, and every staged timestamp is strictly increasing."""
    from i2mapreduce_spark.queries.windows_q import q_window_funnel_stages

    rows = q_window_funnel_stages(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.stage == 1 + (r.t_click is not None) + (r.t_purchase is not None)
        if r.t_click is not None:
            assert r.t_click > r.t_view
        if r.t_purchase is not None:
            assert r.t_purchase > r.t_click


def test_scd2_intervals_partition_time(spark, sf_dir):
    """Per user: exactly one current row, intervals chain exactly
    (valid_to == next valid_from), and n_events sums to the user's
    event count."""
    from i2mapreduce_spark.queries.streaming_q import q_stream_scd2_compact

    pdf = q_stream_scd2_compact(spark, sf_dir).toPandas()
    ev = spark.table("events").groupBy("user_id").count().toPandas()
    ev_counts = dict(zip(ev.user_id, ev["count"]))
    for uid, grp in pdf.groupby("user_id"):
        grp = grp.sort_values("valid_from")
        assert int(grp.is_current.sum()) == 1
        assert grp.iloc[-1].is_current  # the last interval is the open one
        starts = grp.valid_from.tolist()
        ends = grp.valid_to.tolist()
        assert ends[:-1] == starts[1:]
        assert grp.n_events.sum() == ev_counts[uid]


def test_entropy_uniform_doc(spark):
    """A doc of n distinct tokens has entropy exactly log2(n)."""
    from i2mapreduce_spark.catalog import configure_session

    configure_session(spark)
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "x x x x")], "doc_id long, text string"
    )
    df.createOrReplaceTempView("ent_docs")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    cnt = (
        df.select("doc_id", F.explode(toks).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    from pyspark.sql import Window

    tot = cnt.withColumn("tot", F.sum("c").over(Window.partitionBy("doc_id")))
    p = F.col("c").cast("double") / F.col("tot")
    ent = dict(
        tot.groupBy("doc_id")
        .agg(F.round(-F.sum(p * F.log2(p)), 4).alias("h"))
        .collect()
    )
    assert math.isclose(ent[1], 2.0)   # 4 distinct tokens -> log2(4)
    assert ent[2] == 0.0               # constant doc -> zero entropy


def test_ewma_matches_recursive_replica(spark, sf_dir):
    """The closed-form window EWMA equals the textbook recursion
    ema_i = a*x_i + (1-a)*ema_(i-1), computed in python per user."""
    from i2mapreduce_spark.queries.windows_q import (
        EWMA_ALPHA,
        EWMA_LAST_N,
        q_window_ewma,
    )
    from i2mapreduce_spark.catalog import load_tables

    got = {r.user_id: (r.n_used, r.ema) for r in q_window_ewma(spark, sf_dir).collect()}
    load_tables(spark, sf_dir)
    rows = (
        spark.table("events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_id, r.value))
    for uid, evs in by_user.items():
        evs.sort()
        last = evs[-EWMA_LAST_N:]
        ema = last[0][2]
        for _, _, x in last[1:]:
            ema = EWMA_ALPHA * x + (1 - EWMA_ALPHA) * ema
        n_used, got_ema = got[uid]
        assert n_used == len(last)
        assert math.isclose(got_ema, ema, abs_tol=1e-5), uid


def test_weighted_median_handmade(spark):
    """weights 1,1,10 on values 1,2,3 -> half-total 6 first reached at 3;
    symmetric weights -> middle value."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [("g", 1.0, 1), ("g", 2.0, 1), ("g", 3.0, 10),
         ("h", 1.0, 2), ("h", 2.0, 2), ("h", 3.0, 2)],
        "k string, v double, wt long",
    )
    w_cum = (
        Window.partitionBy("k").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = df.withColumn("cw", F.sum("wt").over(w_cum)).withColumn(
        "tot", F.sum("wt").over(Window.partitionBy("k"))
    )
    med = dict(
        cum.filter(F.col("cw") * 2 >= F.col("tot"))
        .groupBy("k").agg(F.min("v"))
        .collect()
    )
    assert med["g"] == 3.0
    assert med["h"] == 2.0


def test_retention_cohort_week_zero_covers_cohort(spark, sf_dir):
    """Offset-0 count per cohort == cohort size (everyone is active in
    their own first week), and offsets are non-negative."""
    from i2mapreduce_spark.queries.windows_q import q_window_retention_cohort

    rows = q_window_retention_cohort(spark, sf_dir).collect()
    assert all(r.week_offset >= 0 for r in rows)
    week0 = {r.cohort_week: r.n_users for r in rows if r.week_offset == 0}
    later = {}
    for r in rows:
        later.setdefault(r.cohort_week, 0)
        later[r.cohort_week] = max(later[r.cohort_week], r.n_users)
    # week 0 is the cohort's maximum retention cell
    for ck, n in later.items():
        assert week0[ck] == n


def test_hits_matches_numpy_replica(spark):
    """4-iteration L1-normalized HITS on a handmade bipartite graph vs a
    numpy power-iteration replica."""
    edges = spark.createDataFrame(
        [(1, 101), (1, 102), (2, 101), (3, 103), (3, 101)], "src long, dst long"
    )
    got = {
        (r.side, r.node): r.score
        for r in algorithms.hits(spark, edges, iters=4).collect()
    }
    import numpy as np

    srcs, dsts = [1, 2, 3], [101, 102, 103]
    A = np.zeros((3, 3))
    for s, d in [(1, 101), (1, 102), (2, 101), (3, 103), (3, 101)]:
        A[srcs.index(s), dsts.index(d)] = 1.0
    h = np.ones(3)
    for _ in range(4):
        a = A.T @ h
        a /= a.sum()
        h = A @ a
        h /= h.sum()
    a = A.T @ h
    a /= a.sum()
    for i, s in enumerate(srcs):
        assert math.isclose(got[("hub", s)], h[i], abs_tol=1e-5)
    for i, d in enumerate(dsts):
        assert math.isclose(got[("auth", d)], a[i], abs_tol=1e-5)


def test_foreachbatch_upsert_chunk_invariance(spark, sf_dir):
    """The upsert fold must be replay-independent: final state equals the
    one-shot batch argmax regardless of how the stream was chunked."""
    from i2mapreduce_spark.catalog import load_tables
    from i2mapreduce_spark.queries.streaming_q import q_stream_foreachbatch_upsert

    got = {
        r.user_id: (r.event_id, r.last_us)
        for r in q_stream_foreachbatch_upsert(spark, sf_dir).collect()
    }
    load_tables(spark, sf_dir)
    rows = spark.table("events").collect()
    want = {}
    for r in rows:
        key = r.user_id
        cand = (r.ts, r.event_id)
        if key not in want or cand > want[key]:
            want[key] = cand
    assert set(got) == set(want)
    for uid, (eid, _us) in got.items():
        assert eid == want[uid][1]


def test_asof_nearest_picks_closer_side(spark):
    """Forward view closer -> forward; exact tie -> backward; no views
    -> NULL."""
    from pyspark.sql import Window

    rows = [
        # user 1: view @100, purchase @180, view @200 -> forward (200) closer
        (1, 1, "view", 100), (1, 2, "purchase", 180), (1, 3, "view", 200),
        # user 2: view @100, purchase @150, view @200 -> tie -> backward
        (2, 4, "view", 100), (2, 5, "purchase", 150), (2, 6, "view", 200),
        # user 3: purchase only -> NULL
        (3, 7, "purchase", 500),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, us long"
    ).withColumn("rk", F.when(F.col("event_type") == "purchase", 0).otherwise(1))
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
    got = dict(
        ev.withColumn("near", nearest)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "near")
        .collect()
    )
    assert got[2] == 200   # forward closer (20 vs 80)
    assert got[5] == 100   # tie -> backward
    assert got[7] is None


def test_kcore_peels_to_fixpoint(spark):
    """Triangle + pendant chain: the 2-core is exactly the triangle (the
    chain peels away over two rounds — one round would NOT suffice)."""
    und = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = dict(algorithms.kcore(edges, k=2, max_rounds=12).collect())
    assert got == {1: 2, 2: 2, 3: 2}


def test_personalized_pagerank_numpy_replica(spark):
    """PPR on a 3-cycle with seed 1 vs dense numpy replica."""
    und = [(1, 2), (2, 3), (3, 1)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    res = algorithms.pagerank(spark, edges, iters=6, damping=0.85, teleport_to=1)
    got = dict(res.state.collect())
    import numpy as np

    nodes = [1, 2, 3]
    A = np.zeros((3, 3))
    for s, d in und + [(b, a) for a, b in und]:
        A[nodes.index(d), nodes.index(s)] = 1.0
    outdeg = A.sum(axis=0)
    P = A / outdeg
    r = np.array([1.0, 0.0, 0.0])
    e = np.array([0.15, 0.0, 0.0])
    for _ in range(6):
        r = e + 0.85 * (P @ r)
    for i, n in enumerate(nodes):
        assert math.isclose(got[n], r[i], abs_tol=1e-9)
    # seed holds the most proximity mass
    assert got[1] == max(got.values())


def test_kmv_estimate_accuracy(spark, sf_dir):
    """The KMV estimate must land within 25% of the exact distinct count
    whenever the group has >= k distinct values (standard error ~1/sqrt(k)
    = 12.5% at k=64; 2 sigma bound)."""
    from i2mapreduce_spark.queries.udfs import KMV_K, q_udaf_kmv_distinct

    for r in q_udaf_kmv_distinct(spark, sf_dir).collect():
        if r.exact_distinct >= KMV_K:
            assert abs(r.kmv_estimate - r.exact_distinct) / r.exact_distinct < 0.25
        else:
            assert r.kmv_estimate == float(r.exact_distinct)
