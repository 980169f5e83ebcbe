"""Golden tests for the iterative algorithms (SURVEY §5.2): each Spark
implementation is compared against a <=50-line numpy/python replica running
the exact same fixed-iteration math on the same fixture graph.
"""

from __future__ import annotations

import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from i2mapreduce_spark.catalog import load_tables
from i2mapreduce_spark.operators import algorithms


@pytest.fixture(scope="module")
def edges_cp(spark, sf_dir):
    load_tables(spark, sf_dir)
    return [(r.src, r.dst) for r in spark.table("edges_cp").collect()]


@pytest.fixture(scope="module")
def edges_pp(spark, sf_dir):
    load_tables(spark, sf_dir)
    return [(r.src, r.dst) for r in spark.table("edges_pp").collect()]


def _pagerank_golden(edges, iters=10, d=0.85, init=None):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    ranks = dict.fromkeys(nodes, 1.0 / n) if init is None else dict(init)
    for _ in range(iters):
        mass = dict.fromkeys(nodes, 0.0)
        for u, v in edges:
            mass[v] += ranks[u] / outdeg[u]
        ranks = {x: (1 - d) / n + d * mass[x] for x in nodes}
    return ranks


def test_pagerank_matches_golden(spark, sf_dir, edges_cp):
    res = algorithms.pagerank(spark, spark.table("edges_cp"), iters=10)
    got = {r.node: r.rank for r in res.state.collect()}
    want = _pagerank_golden(edges_cp, iters=10)
    assert set(got) == set(want)
    worst = max(abs(got[k] - want[k]) for k in want)
    assert worst < 1e-9, f"pagerank drift vs golden: {worst}"
    # sanity: total mass for this no-dangling-redistribution variant
    assert abs(sum(got.values())) > 0


def test_connected_components_matches_golden(spark, sf_dir, edges_pp):
    labels_df = algorithms.connected_components(spark.table("edges_pp"), iters=8)
    got = {r.node: r.label for r in labels_df.collect()}
    nodes = sorted({u for u, _ in edges_pp} | {v for _, v in edges_pp})
    labels = {x: x for x in nodes}
    for _ in range(8):
        new = dict(labels)
        for u, v in edges_pp:
            if labels[u] < new[v]:
                new[v] = labels[u]
        labels = new
    assert got == labels


def test_kmeans_matches_golden(spark, sf_dir):
    load_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    rows = sorted(
        [(r.vec_id, np.asarray(r.embedding, dtype=np.float64)) for r in emb.collect()]
    )
    ids = np.array([i for i, _ in rows])
    X = np.stack([v for _, v in rows])
    k, iters = 10, 5
    C = X[:k].copy()  # seeds = k smallest vec_ids (rows sorted by id)
    for _ in range(iters):
        d2 = (X * X).sum(1, keepdims=True) - 2 * X @ C.T + (C * C).sum(1)
        a = d2.argmin(axis=1)
        for c in range(k):
            if (a == c).any():
                C[c] = X[a == c].mean(axis=0)
    want = dict(zip(ids.tolist(), a.tolist()))

    assign, _c, _n = algorithms.kmeans(spark, emb, k=k, iters=iters)
    got = {r.vec_id: r.cluster for r in assign.collect()}
    diff = {i for i in want if want[i] != got.get(i)}
    assert not diff, f"kmeans assignment mismatch on {len(diff)} points: {sorted(diff)[:5]}"


def test_warmstart_converges_faster(spark, sf_dir):
    """The reference's headline claim in miniature (ref op A13): restarting
    from the previous converged state after a small delta re-converges in
    fewer iterations than the cold start."""
    # edges_pp (symmetric co-purchase graph), NOT edges_cp: the bipartite
    # graph is a depth-2 DAG where PageRank converges exactly in 3
    # iterations — no room for a warm-start win (observed: 3 vs 3)
    from i2mapreduce_spark.queries.iterative import (
        WARMSTART_DAMPING,
        WARMSTART_TOL,
        _perturbed_edges,
    )

    load_tables(spark, sf_dir)
    edges = spark.table("edges_pp")
    kw = dict(iters=60, damping=WARMSTART_DAMPING, tol=WARMSTART_TOL)
    cold = algorithms.pagerank(spark, edges, **kw)
    assert cold.converged
    perturbed = _perturbed_edges(spark, edges).localCheckpoint(eager=True)
    warm = algorithms.pagerank(spark, perturbed, init_ranks=cold.state, **kw)
    cold2 = algorithms.pagerank(spark, perturbed, **kw)
    assert warm.converged and cold2.converged
    assert warm.iterations < cold2.iterations, (
        f"warm {warm.iterations} vs cold {cold2.iterations}"
    )
    # and the warm ANSWER matches the cold recompute on the same
    # perturbed graph — fewer iterations, same fixpoint (both stopped at
    # tol, so ranks agree to tol-scale drift, not just row counts)
    drift = (
        warm.state.alias("w")
        .join(cold2.state.alias("c"), "node")
        .agg(F.max(F.abs(F.col("w.rank") - F.col("c.rank"))))
        .collect()[0][0]
    )
    assert drift < WARMSTART_TOL * 10, f"warm/cold fixpoint drift {drift}"


def test_kmeans_warmstart_converges_faster(spark, sf_dir):
    """A13 on the second example app: k-means re-seeded from a prior
    model after a small data delta (2% of points removed) re-converges in
    fewer iterations than re-seeding from scratch — and lands within the
    same tolerance."""
    load_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    delta = emb.filter(F.col("vec_id") % 50 != 0)  # drop 2% of points
    tol, iters = 0.01, 25

    _, c_cold, cold_iters = algorithms.kmeans(spark, emb, k=10, iters=iters, tol=tol)
    assert cold_iters < iters  # converged, not capped

    _, _, cold2_iters = algorithms.kmeans(spark, delta, k=10, iters=iters, tol=tol)
    _, _, warm_iters = algorithms.kmeans(
        spark, delta, k=10, iters=iters, tol=tol, init_centroids=c_cold
    )
    assert warm_iters < cold2_iters, f"warm {warm_iters} vs cold {cold2_iters}"


def test_gimv_expresses_pagerank(spark, sf_dir, edges_cp):
    """GIM-V with (mul, sum, damped-add) hooks must reproduce the direct
    PageRank implementation exactly — the generality claim of the
    reference's second example app."""
    edges = spark.table("edges_cp")
    n = len({u for u, _ in edges_cp} | {v for _, v in edges_cp})
    d = 0.85
    weighted = edges.join(
        edges.groupBy("src").agg(F.count("*").alias("outdeg")), "src"
    ).select("src", "dst", (1.0 / F.col("outdeg")).alias("w"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    state0 = nodes.withColumn("val", F.lit(1.0 / n))
    res = algorithms.gimv(
        weighted,
        state0,
        combine2=lambda w, v: w * v,
        combine_all=F.sum,
        assign=lambda _old, agg: F.lit((1 - d) / n) + d * F.coalesce(agg, F.lit(0.0)),
        iters=10,
        weight_col="w",
    )
    got = {r.node: r.val for r in res.state.collect()}
    want = {
        r.node: r.rank
        for r in algorithms.pagerank(spark, edges, iters=10).state.collect()
    }
    assert set(got) == set(want)
    assert max(abs(got[k] - want[k]) for k in want) < 1e-12


def test_sssp_distances_are_bfs(spark, sf_dir, edges_pp):
    load_tables(spark, sf_dir)
    src = min(u for u, _ in edges_pp)
    got = {r.node: r.dist for r in algorithms.sssp(spark.table("edges_pp"), src, 4).collect()}
    # python BFS replica, hop-limited
    adj = {}
    for u, v in edges_pp:
        adj.setdefault(u, []).append(v)
    dist = {src: 0}
    frontier = [src]
    for hop in range(1, 5):
        nxt = []
        for u in frontier:
            for v in adj.get(u, []):
                if v not in dist:
                    dist[v] = hop
                    nxt.append(v)
        frontier = nxt
    assert got == dist

    # two labelled seeds in one bfs pass == two separate sssp runs
    src2 = max(u for u, _ in edges_pp)
    seeds = spark.createDataFrame([(7, src), (9, src2)], "lm long, node long")
    both = algorithms.bfs(spark.table("edges_pp"), seeds, 4).collect()
    assert both and {r.lm for r in both} == {7, 9}
    for lm, s in ((7, src), (9, src2)):
        want = {
            r.node: r.dist
            for r in algorithms.sssp(spark.table("edges_pp"), s, 4).collect()
        }
        assert {r.node: r.dist for r in both if r.lm == lm} == want


def test_cc_warmstart_converges_faster(spark, sf_dir):
    """A13 on a third example app: connected components warm-started
    from the pre-delta labeling after EDGE ADDITIONS re-converges in
    fewer rounds than from scratch, with the identical final labeling
    (min labels only decrease as components merge, so old labels are a
    valid starting point)."""
    load_tables(spark, sf_dir)
    full = spark.table("edges_pp").localCheckpoint(eager=True)
    # base graph: drop a symmetric slice of edges (the delta adds them back)
    base = full.filter((F.col("src") + F.col("dst")) % 5 != 0)
    assert base.count() < full.count()

    cold_base = algorithms.connected_components(base, iters=16)
    cold_base = cold_base.localCheckpoint(eager=True)

    warm = algorithms.connected_components(full, iters=16, init_labels=cold_base)
    warm_iters = algorithms.connected_components.last_iters_run
    warm = warm.localCheckpoint(eager=True)

    cold_full = algorithms.connected_components(full, iters=16)
    cold_iters = algorithms.connected_components.last_iters_run

    got = {(r.node, r.label) for r in warm.collect()}
    want = {(r.node, r.label) for r in cold_full.collect()}
    assert got == want, "warm start changed the final labeling"
    assert warm_iters < cold_iters, f"warm {warm_iters} vs cold {cold_iters}"


def test_sssp_parents_form_valid_tree(spark, sf_dir):
    """Parent pointers must form a shortest-path tree: every non-source
    reached node has a parent one hop closer, and following parents
    reaches the source in exactly `dist` steps."""
    from i2mapreduce_spark.queries.iterative import q_iter_sssp_parents

    rows = {r.node: (r.dist, r.parent) for r in
            q_iter_sssp_parents(spark, sf_dir).collect()}
    [src] = [n for n, (d, _) in rows.items() if d == 0]
    assert rows[src][1] is None
    for n, (d, p) in rows.items():
        if n == src:
            continue
        assert p is not None and rows[p][0] == d - 1
        # walk to source
        steps, cur = 0, n
        while cur != src:
            cur = rows[cur][1]
            steps += 1
            assert steps <= d
        assert steps == d


def _kruskal_forest(weighted_edges):
    """Union-find Kruskal under the total order (w, a, b); with a total
    order the minimum spanning forest is UNIQUE, so Boruvka must produce
    the identical edge set."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    chosen = []
    for w, a, b in sorted(weighted_edges):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            chosen.append((a, b))
    return set(chosen)


def test_mst_forest_matches_kruskal(spark, sf_dir):
    from i2mapreduce_spark.queries.iterative import (
        MST_MIN_COPURCHASE,
        q_iter_mst_forest,
    )

    load_tables(spark, sf_dir)
    # replicate the co-purchase graph in pure python
    li = [(r.l_orderkey, r.l_partkey)
          for r in spark.table("lineitem").select("l_orderkey", "l_partkey").collect()]
    by_order = {}
    for ok, pk in li:
        by_order.setdefault(ok, []).append(pk)
    counts = {}
    for parts in by_order.values():
        for a in parts:
            for b in parts:
                if a != b:
                    counts[(a, b)] = counts.get((a, b), 0) + 1
    weighted = {(1.0 / c, min(a, b), max(a, b))
                for (a, b), c in counts.items() if c >= MST_MIN_COPURCHASE}
    want = _kruskal_forest(weighted)

    got_rows = q_iter_mst_forest(spark, sf_dir).collect()
    got = {(r.a, r.b) for r in got_rows}
    assert got == want, (
        f"boruvka vs kruskal: extra={got - want} missing={want - got}")

    # forest invariant: |edges| = |nodes| - |components|
    nodes = {x for _, a, b in weighted for x in (a, b)}
    comps = len(nodes) - len(want)
    assert len(got) == len(nodes) - comps


def test_mst_forest_distributed_rounds_match_local(spark, sf_dir, monkeypatch):
    """Force the DISTRIBUTED Borůvka path (probe > local threshold) and
    pin it to the local-finish result.  At every test SF the contracted
    round-0 graph fits BORUVKA_LOCAL_EDGES_MAX, so the default run never
    exercises the per-round contract (min-edge pick + CC contraction +
    JVM-side count probe) that the sf100 sweep runs — the r11 probe
    rewrite (count() instead of a MAX-row collect per round) changed
    exactly that path.  MSF under a total order is unique, so the two
    paths must agree edge-for-edge."""
    from i2mapreduce_spark.queries.iterative import q_iter_mst_forest

    baseline = {(r.a, r.b, r.dist)
                for r in q_iter_mst_forest(spark, sf_dir).collect()}
    # small enough to force >=2 distributed rounds on every fixture,
    # large enough that 8 rounds + local finish always terminate
    monkeypatch.setattr(algorithms, "BORUVKA_LOCAL_EDGES_MAX", 64)
    forced = {(r.a, r.b, r.dist)
              for r in q_iter_mst_forest(spark, sf_dir).collect()}
    assert forced == baseline


#: persisted frames each query still holds after it returns: the final
#: state, plus the edges checkpoint (sssp, closeness), the node set
#: (Katz) and the tiling pin chunk_events leaves (stream_stateful_running)
#: — never one checkpoint per round or per delta batch.  The MST forest
#: and the SCC labels on sf0.001 are all local-finish rows, so they keep
#: nothing.  Label propagation keeps its final state only.  The matching is
#: the union of its rounds' handshake checkpoints, one per round (7
#: rounds on sf0.001); its edge copies are all released.
LOOP_KEPT_FRAMES = {
    "iter_sssp": 2,
    "iter_closeness_centrality": 2,
    "iter_katz_centrality": 3,
    "iter_sinkhorn": 1,
    "iter_markov_absorption": 1,
    "stream_stateful_running": 2,
    "inc_apriori_pairs": 1,
    "iter_maximal_matching": 7,
    "iter_mst_forest": 0,
    "iter_label_propagation": 1,
    "iter_scc": 0,
}


@pytest.mark.parametrize("key", sorted(LOOP_KEPT_FRAMES))
def test_loop_releases_superseded_rounds(spark, sf_dir, key):
    """The loop memory rule of iterate(): superseded round checkpoints
    are released, so a query leaves behind only the frames it keeps.
    ContextCleaner can only remove RDDs from the persisted set, so the
    bound cannot flake."""
    from i2mapreduce_spark.queries import build_registry

    q = build_registry()[0][key]
    q(spark, sf_dir).collect()  # first call builds the lazy table caches

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    q(spark, sf_dir).collect()
    assert len(persisted() - before) <= LOOP_KEPT_FRAMES[key]


def test_boruvka_releases_superseded_rounds(spark, monkeypatch):
    """Borůvka's distributed rounds release each round's pick and CC
    checkpoints once the round's contracted graph is materialized, and
    iterate() releases the contracted graph it supersedes: only the
    returned forest stays persisted, however many rounds run.  Ruler
    weights on a 65-node path merge components in pairs, so the forest
    takes six distributed rounds."""
    monkeypatch.setattr(algorithms, "BORUVKA_LOCAL_EDGES_MAX", 1)
    rows = []
    for i in range(64):
        w = float(((i + 1) & -(i + 1)).bit_length())
        rows += [(i, i + 1, w), (i + 1, i, w)]
    edges = spark.createDataFrame(rows, "src long, dst long, w double")

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    forest = algorithms.boruvka_msf(edges).collect()
    assert len(forest) == 64
    assert len(persisted() - before) <= 1


def test_boruvka_input_self_loops_never_enter_the_forest(spark, monkeypatch):
    """A self-loop is in no spanning forest, even as the lightest edge:
    the distributed rounds agree with the local Kruskal finish on a
    symmetric path 0-1-2-3 with a self-loop (1, 1) lighter than every
    path edge."""
    path = [(0, 1, 5.0), (1, 2, 6.0), (2, 3, 7.0)]
    edges = spark.createDataFrame(
        path + [(b, a, w) for a, b, w in path] + [(1, 1, 1.0)],
        "src long, dst long, w double",
    )

    def forest() -> list:
        return sorted(tuple(r) for r in algorithms.boruvka_msf(edges).collect())

    assert forest() == path  # the round-0 graph fits: local Kruskal only
    monkeypatch.setattr(algorithms, "BORUVKA_LOCAL_EDGES_MAX", 1)
    assert forest() == path


def test_hits_on_empty_graph_fails_no_job(spark):
    """On a graph that is empty only at run time, hits starts no job
    that fails: nothing still reads its edges checkpoint when it is
    released.  256 shuffle partitions make a job that does read it run
    long enough to see the release."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    edges = spark.range(64).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % 64).alias("dst")
    ).filter(F.col("src") < 0)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    failed = []
    try:
        for t in range(3):
            group = f"hits-empty-{t}"
            sc.setJobGroup(group, "hits on an empty graph")
            assert algorithms.hits(spark, edges).collect() == []
            jobs = st.getJobIdsForGroup(group)
            deadline = time.time() + 60
            while time.time() < deadline and any(
                st.getJobInfo(j).status == "RUNNING" for j in jobs
            ):
                time.sleep(0.2)
            failed += [j for j in jobs if st.getJobInfo(j).status == "FAILED"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert not failed


@pytest.mark.parametrize(
    "module, cap, query",
    [
        ("iterative", "MATCH_MAX_ROUNDS", "q_iter_maximal_matching"),
        ("sorts", "QS_MAX_ROUNDS", "q_sort_quickselect_kth"),
    ],
    ids=[
        "r6x_ops-MATCH_MAX_ROUNDS-q_iter_maximal_matching",
        "r7m_ops-QS_MAX_ROUNDS-q_sort_quickselect_kth",
    ],
)
def test_exhausted_safety_cap_raises(spark, sf_dir, monkeypatch, module, cap, query):
    """A safety cap that runs out before the loop's own stop condition
    raises, naming the cap, instead of returning a wrong answer."""
    import importlib

    mod = importlib.import_module(f"i2mapreduce_spark.queries.{module}")
    monkeypatch.setattr(mod, cap, 0)
    with pytest.raises(RuntimeError, match=cap):
        getattr(mod, query)(spark, sf_dir).collect()


def test_cc_on_empty_graph_converges(spark):
    """An empty state flags no node, so an empty graph converges instead
    of running out its cap."""
    edges = spark.createDataFrame([], "src long, dst long")
    out = algorithms.connected_components(edges)
    assert out.count() == 0
    assert algorithms.connected_components.last_iters_run <= 2


def test_cc_raises_when_cap_runs_out(spark):
    # a 64-node path needs ~log2(64) pointer-doubling rounds, not 2
    path = [(i, i + 1) for i in range(63)]
    edges = spark.createDataFrame(
        path + [(b, a) for a, b in path], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="cap exhausted"):
        algorithms.connected_components(edges, iters=2)


def _sym(spark, pairs):
    return spark.createDataFrame(
        [*pairs, *((b, a) for a, b in pairs)], "src long, dst long")


def _warm_vs_cold(spark, base, added):
    """(warm labels, warm rounds, cold labels) for CC on base + added,
    warm-started from the labels of `base`."""
    old = algorithms.connected_components(_sym(spark, base)).localCheckpoint()
    full = _sym(spark, [*base, *added])
    warm = {tuple(r) for r in algorithms.connected_components(
        full, init_labels=old).collect()}
    rounds = algorithms.connected_components.last_iters_run
    cold = {tuple(r) for r in algorithms.connected_components(full).collect()}
    return warm, rounds, cold


def test_warm_cc_stops_at_round_0_when_added_edges_join_equal_labels(spark):
    warm, rounds, cold = _warm_vs_cold(
        spark, [(1, 2), (2, 3), (3, 4)], [(1, 4), (2, 4)])
    assert rounds == 0
    assert warm == cold == {(n, 1) for n in (1, 2, 3, 4)}


def test_warm_cc_merging_two_paths_propagates_to_cold_labels(spark):
    warm, rounds, cold = _warm_vs_cold(
        spark, [(1, 2), (2, 3), (5, 6), (6, 7)], [(3, 5)])
    assert rounds > 0
    assert warm == cold == {(n, 1) for n in (1, 2, 3, 5, 6, 7)}


def test_warm_cc_seeds_nodes_absent_from_init_labels(spark):
    # node 0 joins with the smallest id, node 9 with the largest
    warm, rounds, cold = _warm_vs_cold(
        spark, [(1, 2), (2, 3)], [(3, 0), (9, 2)])
    assert rounds > 0
    assert warm == cold == {(n, 0) for n in (0, 1, 2, 3, 9)}


def test_warm_cc_on_empty_graph_runs_no_round(spark):
    warm, rounds, cold = _warm_vs_cold(spark, [], [])
    assert rounds == 0
    assert warm == cold == set()


def test_min_label_fixpoint_deltas_are_frontier_sizes(spark):
    """A cold run flags every node for round 1; its deltas are the
    frontiers after each round and end at the empty one."""
    from i2mapreduce_spark.operators.algorithms import _min_label_fixpoint

    path = _sym(spark, [(i, i + 1) for i in range(7)])
    state0 = spark.range(8).select(F.col("id").alias("node"),
                                   F.col("id").alias("val"))
    res = _min_label_fixpoint(state0, path, {"val": ("src", "dst")}, 16)
    assert res.converged and res.deltas[-1] == 0
    assert 0 < res.deltas[0] <= 7  # node 0 never falls
    assert {tuple(r) for r in res.state.select("node", "val").collect()} == {
        (n, 0) for n in range(8)}


def test_boruvka_raises_when_max_rounds_runs_out(spark, monkeypatch):
    """With BORUVKA_LOCAL_EDGES_MAX = 1 only an empty contracted graph
    (a symmetric graph has no 1-row contraction) finishes locally, so
    every merge is a distributed round.  A forest that completes in
    exactly `max_rounds` rounds returns normally; one round fewer
    raises instead of returning a partial forest."""
    n = 32
    path = [(i, i + 1, float((i * 7) % n + 1)) for i in range(n - 1)]
    edges = spark.createDataFrame(
        path + [(b, a, w) for a, b, w in path], "src long, dst long, w double"
    )

    def forest(max_rounds: int) -> set:
        return {(r.a, r.b) for r in
                algorithms.boruvka_msf(edges, max_rounds=max_rounds).collect()}

    want = forest(8)  # round 0 fits the default cap: one local Kruskal
    assert want == {(a, b) for a, b, _ in path}
    monkeypatch.setattr(algorithms, "BORUVKA_LOCAL_EDGES_MAX", 1)
    rounds = []
    cc = algorithms.connected_components
    monkeypatch.setattr(algorithms, "connected_components",
                        lambda e, **kw: rounds.append(1) or cc(e, **kw))
    assert forest(8) == want
    assert len(rounds) >= 2
    exact = len(rounds)
    assert forest(exact) == want
    with pytest.raises(RuntimeError, match=f"max_rounds={exact - 1}"):
        forest(exact - 1)
