"""Iterative algorithms — the reference's demonstration workloads
(PageRank, GIM-V-style propagation, K-means, APriori; SURVEY §2A example
apps) re-expressed as DataFrame step functions under plans.iterate.

Common structure (the reference's structure/state split, ref op A9):
the edge/point set is static structure — repartitioned by join key once
and cached; the rank/label/centroid state is small and evolving; every
iteration is one co-partitioned join + aggregate.

Determinism: fixed iteration counts, explicit tiebreaks (argmin -> lowest
centroid id), float64 throughout; goldens in tests compare against <=50
line numpy replicas with pre-round tolerance.
"""

from __future__ import annotations

import operator
import os
from collections.abc import Callable
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.iterate import (
    IterationResult,
    checkpoint_without_stats,
    is_local_checkpoint,
    iterate,
    release_checkpoint,
)


def _own_edges(edges: DataFrame) -> tuple[DataFrame, bool]:
    """Materialize a loop-invariant edges input WITHOUT pinning its
    lineage, with ownership tracking.

    The previous idiom (`edges.cache()` + `unpersist()` in finally)
    kept the input's whole lineage reachable for the entire fixpoint —
    for derived graphs (the lineitem co-purchase self-join) that pins
    the build's shuffle files on local disk until the loop ends,
    because ContextCleaner only deletes shuffle files whose dependency
    became unreachable (measured r11, sf100 decade sweep: 50 GB
    retained, disk-full death mid-fixpoint).  localCheckpoint truncates
    the lineage, so the build shuffle is collectible immediately and
    the loop holds only the materialized edge blocks.

    Returns (frame, owned): `owned=False` when the caller already
    checkpointed the input — then it is used as-is and NOT released on
    exit (the caller may read it again, e.g. warm-start keys calling
    connected_components twice on one frame)."""
    if is_local_checkpoint(edges):
        return edges, False
    return checkpoint_without_stats(edges), True


def _nodes(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    init_ranks: DataFrame | None = None,
    tol: float | None = None,
    checkpoint_every: int | None = None,
    teleport_to: int | None = None,
    nodes: DataFrame | None = None,
) -> IterationResult:
    """PageRank without dangling-mass redistribution:
    r(v) = (1-d)/N + d * sum_{u->v} r(u)/outdeg(u); nodes with no
    in-edges hold (1-d)/N.  Uniform 1/N init unless `init_ranks` is given
    (the warm start, ref op A13).

    With `teleport_to` set this becomes PERSONALIZED PageRank: the
    teleport mass (1-d) lands only on that node (base = (1-d)·1[v=s]),
    and the walk starts there (init = 1[v=s]) — the random-walk-with-
    restart proximity score used for seed-based recommendation.

    100TB notes: edges are repartitioned by src once and cached (the
    Projector co-partitioning); per-iteration state is (node, rank) only —
    the shuffle carries O(nodes), never O(edges), because contributions
    partially aggregate map-side.
    """
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # checkpoint, not cache, for the loop-invariant structure (same
    # rationale as _own_edges): a cached frame keeps the DERIVATION
    # lineage — the edges-build and outdeg shuffles — reachable for the
    # whole fixpoint, so their shuffle files survive on local disk
    # until the loop ends.  The checkpoint truncates lineage; only the
    # materialized structure blocks stay resident, released below.
    # A caller-provided `nodes` (r12) must be the exact node set of
    # `edges`, already checkpointed + repartitioned by node; it is used
    # as-is and NOT released on exit — warm-start callers whose
    # perturbation stays inside the node set share one build across the
    # cold and warm runs instead of paying the distinct shuffle twice.
    own_nodes = nodes is None
    if own_nodes:
        nodes = checkpoint_without_stats(
            _nodes(edges).repartition(n_part, "node")
        )
    n = nodes.count()
    if n == 0:
        # empty graph (an empty date slice is routine at scale): the rank
        # vector over zero nodes is empty by definition — return it
        # instead of dividing the teleport mass by zero
        if own_nodes:
            release_checkpoint(nodes)
        return IterationResult(
            state=spark.createDataFrame([], "node long, rank double"),
            iterations=0, converged=True, deltas=[],
        )
    # fold 1/outdeg into the static structure ONCE (the Projector holds
    # derived structure, not just raw edges): each iteration is then a
    # single state ⋈ edges join + one aggregate instead of three joins.
    # Only this derived structure (and nodes) is cached — raw edges are
    # scanned once to build it and never touched again.
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    edges_inv = checkpoint_without_stats(
        edges.join(outdeg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("inv"))
        .repartition(n_part, "src")
    )

    if teleport_to is not None:
        state0 = nodes.withColumn(
            "rank",
            F.when(F.col("node") == teleport_to, F.lit(1.0)).otherwise(F.lit(0.0)),
        )
        base_expr = F.when(
            F.col("n.node") == teleport_to, F.lit(1.0 - damping)
        ).otherwise(F.lit(0.0))
    elif init_ranks is None:
        state0 = nodes.withColumn("rank", F.lit(1.0 / n))
    else:
        # warm start: keep prior ranks, default new nodes to 1/N
        state0 = nodes.join(init_ranks, "node", "left").select(
            "node", F.coalesce("rank", F.lit(1.0 / n)).alias("rank")
        )

    if teleport_to is None:
        base_expr = F.lit((1.0 - damping) / n)

    def step(state: DataFrame, _i: int) -> DataFrame:
        # explicit aliases throughout: state/nodes derive from edges, so
        # attribute references would be ambiguous in these self-join shapes
        contribs = (
            state.alias("s")
            .join(edges_inv.alias("e"), F.col("s.node") == F.col("e.src"))
            .select(
                F.col("e.dst").alias("node"),
                (F.col("s.rank") * F.col("e.inv")).alias("rate"),
            )
            .groupBy("node")
            .agg(F.sum("rate").alias("mass"))
        )
        return (
            nodes.alias("n")
            .join(contribs.alias("c"), F.col("n.node") == F.col("c.node"), "left")
            .select(
                F.col("n.node").alias("node"),
                (base_expr + damping * F.coalesce(F.col("c.mass"), F.lit(0.0))).alias("rank"),
            )
        )

    def delta(old: DataFrame, new: DataFrame) -> float:
        d = (
            old.alias("o")
            .join(new.alias("n"), "node")
            .agg(F.sum(F.abs(F.col("o.rank") - F.col("n.rank"))))
            .collect()[0][0]
        )
        return 0.0 if d is None else d  # sum over an empty join is NULL

    try:
        return iterate(
            state0,
            step,
            iters,
            delta_fn=delta if tol is not None else None,
            tol=tol,
            checkpoint_every=checkpoint_every,
        )
    finally:
        # the returned state is eagerly checkpointed, so the structure
        # blocks can be dropped — repeated calls (warm-start scenarios)
        # would otherwise pile materialized copies up.  Caller-owned
        # nodes are left alone (the caller may run pagerank again).
        if own_nodes:
            release_checkpoint(nodes)
        release_checkpoint(edges_inv)


def hits(spark: SparkSession, edges: DataFrame, iters: int = 4) -> DataFrame:
    """HITS hubs-and-authorities with L1 normalization, fixed iterations:
    auth_k(p) = Σ_{c→p} hub_{k-1}(c) then /Σauth;
    hub_k(c)  = Σ_{c→p} auth_k(p)   then /Σhub.
    State is the hub vector only — auth is derived inside each step, so
    the loop matches the generic iterate() driver; the final auth is
    recomputed from the converged hubs for output.

    Output: (side 'hub'|'auth', node, score) with score rounded 6dp.

    100TB notes: edges are repartitioned by src once and cached (Projector
    co-partitioning, ref A9); per-iteration shuffles carry O(nodes) after
    map-side partial sums.  Normalization totals are single-row aggregates
    joined back by broadcast — no driver-side collect in the loop.
    """
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # checkpoint, not cache (same rationale as _own_edges): truncates
    # the build lineage so its shuffle files are collectible during the
    # loop instead of pinned until it ends
    e = checkpoint_without_stats(
        edges.select("src", "dst").repartition(n_part, "src")
    )
    if e.isEmpty():
        # no scores to compute; and the loop must not run: on an empty
        # join side AQE drops the join but leaves the broadcast job it
        # already started reading `e`, and releasing `e` fails that job
        release_checkpoint(e)
        return spark.createDataFrame([], "side string, node long, score double")
    srcs = e.select(F.col("src").alias("node")).distinct()

    def _l1_normalize(df: DataFrame, col: str) -> DataFrame:
        tot = df.agg(F.sum(col).alias("_tot"))
        return df.join(F.broadcast(tot)).select(
            "node", (F.col(col) / F.col("_tot")).alias(col)
        )

    def _auth_from_hub(hub: DataFrame) -> DataFrame:
        raw = (
            hub.alias("h")
            .join(e.alias("e"), F.col("h.node") == F.col("e.src"))
            .groupBy(F.col("e.dst").alias("node"))
            .agg(F.sum("h.hub").alias("auth"))
        )
        return _l1_normalize(raw, "auth")

    def step(hub: DataFrame, _i: int) -> DataFrame:
        auth = _auth_from_hub(hub)
        raw = (
            auth.alias("a")
            .join(e.alias("e"), F.col("a.node") == F.col("e.dst"))
            .groupBy(F.col("e.src").alias("node"))
            .agg(F.sum("a.auth").alias("hub"))
        )
        return _l1_normalize(raw, "hub")

    # init 1.0 (not 1/N): L1 normalization is scale-invariant, so the
    # constant cancels after the first step — saves the count() action
    hub0 = srcs.withColumn("hub", F.lit(1.0))
    try:
        # checkpoint EVERY iteration: each step embeds two single-row
        # normalization subqueries whose broadcast materialization
        # re-executes the whole uncheckpointed chain — at cadence 2 that
        # re-runs up to 8 joins per broadcast (measured 59s -> ~15s at
        # sf0.1 moving to cadence 1; values are bit-identical, only the
        # materialization boundary moves)
        res = iterate(hub0, step, iters, checkpoint_every=1)
        hub_fin = res.state
        auth_fin = _auth_from_hub(hub_fin).transform(checkpoint_without_stats)
        return hub_fin.select(
            F.lit("hub").alias("side"), "node", F.round("hub", 6).alias("score")
        ).unionAll(
            auth_fin.select(
                F.lit("auth").alias("side"), "node", F.round("auth", 6).alias("score")
            )
        )
    finally:
        release_checkpoint(e)


def _peel(edges: DataFrame, keep_fn: Callable[[DataFrame], DataFrame],
          max_rounds: int) -> tuple[DataFrame, int]:
    """Peel `edges` to fixpoint on `iterate()` (kcore, scc's trim): each
    round keeps the edges whose two endpoints are both in `keep_fn(edges)`
    (a `node` frame).  The edge set only shrinks, so the fixpoint check
    is the edge count against the one carried from the previous round:
    one `count()` job per round, plus one for a non-empty `edges` (an
    empty edge set is a fixpoint).  Every round is checkpointed:
    chaining scc's peels lazily between checkpoints was measured slower
    (26 s vs 16 s at sf0.01).  Returns the loop's own checkpoint of the
    survivors and their count; `edges` stays the caller's."""
    def step(e: DataFrame, _i: int) -> DataFrame:
        keep = keep_fn(e)
        return (
            e.join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )

    counts: list[int] = []

    def dropped(old: DataFrame, new: DataFrame) -> float:
        n = new.count()
        d = 0.0 if n == 0 else float((counts[-1] if counts else old.count()) - n)
        counts.append(n)
        return d

    res = iterate(edges, step, max_rounds, delta_fn=dropped, tol=0.5, checkpoint_every=1)
    return res.state, counts[-1] if counts else res.state.count()


def kcore(edges: DataFrame, k: int, max_rounds: int = 12) -> DataFrame:
    """k-core decomposition by iterative peeling: drop every node with
    degree < k (and its edges), repeat to fixpoint.  Returns the
    surviving nodes with their in-core degree (node, core_degree).

    Fixpoint contract: peeling is monotone, so stopping early at a true
    fixpoint equals running the full `max_rounds` — which is what makes
    the result hash-comparable to an oracle that unrolls exactly
    `max_rounds` rounds regardless of where the fixpoint lands.

    100TB: the loop is `_peel` with a `deg >= k` keep: per round one
    degree aggregation + two semi-joins keyed on the node id, and one
    edge count (the fixpoint barrier, ref A10)."""
    def keep(e: DataFrame) -> DataFrame:
        return (
            e.groupBy("src").agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select(F.col("src").alias("node"))
        )

    core, _ = _peel(edges.select("src", "dst"), keep, max_rounds)
    return core.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("core_degree")
    )


def bfs(edges: DataFrame, seeds: DataFrame, max_hops: int = 4) -> DataFrame:
    """Hop-limited, multi-source BFS min-distance (GIM-V / iMapReduce
    shortest-path shape, the classic MapReduce SSSP the reference ships
    as an example app): per hop, frontier ⋈ edges -> min-dist fold, one
    `iterate()` round, checkpointed and releasing the hop it supersedes.

    `seeds` is (*labels, node), each at dist 0; the result is (*labels,
    node, dist int) for every (labels, node) reached within `max_hops`.
    Labels run independent searches in one pass (K landmarks cost the
    rounds of one).  Messages leave only the FRONTIER, the rows first
    reached on the previous hop: an unweighted distance is final the
    first time the min-fold assigns it, so a re-sent message could only
    lose — same result, per-hop shuffle O(edges out of the new frontier)
    instead of O(edges out of everything reached).

    An empty frontier ends the loop early.  That probe costs one job,
    so it runs only where it can pay for itself: not on the final hop
    and not before hop 3 (a frontier that dies at hop 1/2 leaves trivial
    rounds; the probe costs more than it saves there — measured at
    sf0.1)."""
    labels = [c for c in seeds.columns if c != "node"]
    keys = [*labels, "node"]
    edges, owned = _own_edges(edges)

    def step(dist: DataFrame, i: int) -> DataFrame:
        frontier = dist.filter(F.col("dist") == i - 1).alias("f")
        grown = frontier.join(
            edges.alias("e"), F.col("f.node") == F.col("e.src")
        ).select(
            *[F.col(f"f.{c}") for c in labels],
            F.col("e.dst").alias("node"),
            (F.col("f.dist") + 1).alias("dist"),
        )
        return dist.union(grown).groupBy(*keys).agg(F.min("dist").alias("dist"))

    hop = [0]

    def frontier_left(_old: DataFrame, new: DataFrame) -> float:
        hop[0] += 1
        if not 3 <= hop[0] < max_hops:
            return 1.0
        return 0.0 if new.filter(F.col("dist") == hop[0]).isEmpty() else 1.0

    try:
        return iterate(
            seeds.select(*keys, F.lit(0).alias("dist")), step, max_hops,
            delta_fn=frontier_left, tol=0.5, checkpoint_every=1,
        ).state
    finally:
        if owned:
            release_checkpoint(edges)


def sssp(edges: DataFrame, source: int, max_hops: int = 4) -> DataFrame:
    """Hop-limited BFS min-distance (node, dist) from `source`: `bfs`
    with one unlabelled seed."""
    seed = edges.sparkSession.createDataFrame([(source,)], "node long")
    return bfs(edges, seed, max_hops)


def gimv(
    edges: DataFrame,
    state0: DataFrame,
    combine2,
    combine_all,
    assign,
    iters: int,
    weight_col: str | None = None,
    checkpoint_every: int | None = None,
) -> IterationResult:
    """GIM-V — generalized iterated matrix-vector multiply (the
    reference's second example app, from the PEGASUS model [PAPER §7]):
    v' = assign(v, combineAll_j(combine2(m_ij, v_j))).

    `edges` is the sparse matrix (src, dst[, weight]); `state0` the vector
    (node, val).  The three hooks are Column-level, so each iteration is
    one co-partitioned join + hash aggregate — fully JVM-side:

    - combine2(weight_col_or_none, val_col) -> message Column
    - combine_all(msg_col) -> aggregate Column (e.g. F.sum, F.min)
    - assign(old_val_col, agg_col_nullable) -> new val Column

    PageRank = (weight=1/outdeg; combine2 mul; combineAll sum; assign
    damped add).  SSSP = (combine2 add; combineAll min; assign least).
    CC = (combine2 identity; combineAll min; assign least).  Label
    propagation = (combine2 identity; combineAll mode; assign coalesce).
    """
    edges, owned = _own_edges(edges)

    def step(state: DataFrame, _i: int) -> DataFrame:
        s, e = state.alias("s"), edges.alias("e")
        w = F.col(f"e.{weight_col}") if weight_col else None
        msgs = s.join(e, F.col("s.node") == F.col("e.src")).select(
            F.col("e.dst").alias("node"),
            combine2(w, F.col("s.val")).alias("msg"),
        )
        agg = msgs.groupBy("node").agg(combine_all(F.col("msg")).alias("agg"))
        return (
            state.alias("s")
            .join(agg.alias("a"), "node", "left")
            .select("node", assign(F.col("s.val"), F.col("a.agg")).alias("val"))
        )

    try:
        return iterate(state0, step, iters, checkpoint_every=checkpoint_every)
    finally:
        if owned:
            release_checkpoint(edges)


#: round cap of every min-label fixpoint (connected_components and the
#: scc coloring).  Pointer doubling converges in O(log diameter) rounds,
#: so 64 is headroom only; a cap that runs out raises.
MIN_LABEL_ITERS = 64


def _min_label_fixpoint(state0: DataFrame, edges: DataFrame,
                        dirs: dict[str, tuple[str, str]],
                        iters: int, warm: bool = False) -> IterationResult:
    """Min-label propagation with pointer doubling, run to its fixpoint
    over a changed set.

    `state0` holds `node` plus one label column per key of `dirs`; each
    label column maps to the edge columns a message leaves from and
    arrives at (CC is `{"val": ("src", "dst")}`).  The state also carries
    a `changed` flag, and the flagged rows are the FRONTIER.  Each round
    (1) sends the labels of the frontier only along their directions and
    keeps least(old, min message) (GIM-V combine2 = neighbor label,
    combineAll = min, assign = least), then (2) shortcuts label <-
    label-of-label over the whole state off one lookup table.  A node is
    flagged for the next round when any of its labels fell, by message
    or by jump.  A node's label is always a node it can reach along its
    direction, so the label's own label is reachable too; the shortcut
    makes convergence O(log diameter) instead of O(diameter).

    Why the frontier suffices: an edge whose target's label is above its
    source's always has a flagged source.  A source whose labels did not
    fall last round sent them the round before, and targets' labels only
    fall, so its messages would change nothing.  The labels therefore
    move exactly as if every node sent every round.

    Fixpoint check: the count of flagged nodes, one aggregate scan of the
    checkpointed state per round; the loop stops at the first round that
    flags none, so `deltas` are the frontier sizes after each round and a
    converged run's last delta is 0.  A cold start flags every node.

    `warm=True` is the incremental restart from a prior fixpoint under
    edge ADDITIONS: `state0` is materialized once with only the nodes
    flagged that leave an edge whose target holds a larger label —
    while no edge leaves a flagged node, no label can fall.  When no
    node is flagged, the checkpointed `state0` is the fixpoint: it is
    returned after 0 rounds (`converged=True`) without calling
    `iterate()`.

    A cap that runs out raises: an unconverged labeling splits
    components."""
    cols = list(dirs)
    # a NULL node can neither send nor receive a label: it is no node
    state0 = state0.filter(F.col("node").isNotNull())
    if warm:
        a, b, e = state0.alias("a"), state0.alias("b"), edges.alias("e")
        seed = reduce(DataFrame.union, (
            e.join(a, F.col(f"e.{frm}") == F.col("a.node"))
            .join(b, F.col(f"e.{to}") == F.col("b.node"))
            .filter(F.col(f"a.{c}") < F.col(f"b.{c}"))
            .select(F.col("a.node").alias("node"))
            for c, (frm, to) in dirs.items()
        )).distinct().withColumn("changed", F.lit(True))
        state0 = checkpoint_without_stats(
            state0.join(seed, "node", "left")
            .select("node", *cols, F.coalesce("changed", F.lit(False)).alias("changed")))
    else:
        state0 = state0.withColumn("changed", F.lit(True))

    def step(state: DataFrame, _i: int) -> DataFrame:
        s, e = state.filter("changed").alias("s"), edges.alias("e")
        aggs = [
            s.join(e, F.col("s.node") == F.col(f"e.{frm}"))
            .select(F.col(f"e.{to}").alias("node"), F.col(f"s.{c}").alias(f"m{c}"))
            .groupBy("node").agg(F.min(f"m{c}").alias(f"m{c}"))
            for c, (frm, to) in dirs.items()
        ]
        # No state row has a NULL node, but the jump's lookup side reads
        # the state through the optimizer's inferred `node IS NOT NULL`;
        # the same filter here lets both reads share one exchange (one job
        # per round fewer).
        prop = state.filter(F.col("node").isNotNull()).alias("s")
        for c, agg in zip(cols, aggs):
            prop = prop.join(agg.alias(f"a{c}"), "node", "left")
        prop = prop.select("node", *(
            F.least(F.col(f"s.{c}"),
                    F.coalesce(F.col(f"a{c}.m{c}"), F.col(f"s.{c}"))).alias(c)
            for c in cols
        ), *(F.col(f"s.{c}").alias(f"o_{c}") for c in cols))
        # pointer doubling (renamed columns make the self-join unambiguous)
        lut = prop.select(F.col("node").alias("l_node"),
                          *(F.col(c).alias(f"l_{c}") for c in cols))
        keep = [*cols, *(f"o_{c}" for c in cols)]
        for c in cols:
            prop = (
                prop.alias("p")
                .join(lut.alias("q"), F.col(f"p.{c}") == F.col("q.l_node"), "left")
                .select(F.col("p.node").alias("node"), *(
                    F.coalesce(F.col(f"q.l_{k}"), F.col(f"p.{k}")).alias(k)
                    if k == c else F.col(f"p.{k}").alias(k)
                    for k in keep
                ))
            )
        fell = reduce(operator.or_, (F.col(c) < F.col(f"o_{c}") for c in cols))
        return prop.select("node", *cols, fell.alias("changed"))

    def frontier(_old: DataFrame, new: DataFrame) -> float:
        return float(new.agg(F.count_if("changed")).collect()[0][0])

    if warm and frontier(None, state0) == 0:
        return IterationResult(state=state0, iterations=0, converged=True, deltas=[])
    res = iterate(state0, step, iters, delta_fn=frontier, tol=0.5)
    if warm:
        release_checkpoint(state0)  # the helper's own; iterate() keeps state0
    if not res.converged:
        raise RuntimeError(
            f"min-label fixpoint over {cols}: {iters}-round cap exhausted "
            f"before the fixpoint (last frontiers {[int(d) for d in res.deltas[-3:]]})"
            " — raise iters; an unconverged labeling is never returned"
        )
    return res


def connected_components(edges: DataFrame, iters: int = MIN_LABEL_ITERS,
                         init_labels: DataFrame | None = None) -> DataFrame:
    """Min-label CC over symmetric edges with pointer doubling
    (`_min_label_fixpoint`): the loop stops at the TRUE fixpoint, so a
    path graph of any length converges in ~log2(n) rounds, where plain
    propagation with a fixed budget silently splits long components.
    `iters` is a safety cap, not the expected rounds, and a cap that runs
    out raises RuntimeError.  Each round sends labels only from the
    frontier (the nodes whose label fell in the round before).

    100TB: both joins are on the label/node key; the frontier count is
    the reference's global fixpoint barrier (one cheap action/round).

    `init_labels` (node, label) warm-starts from a prior run's labels —
    the A13 incremental restart, valid under EDGE ADDITIONS ONLY (min
    labels are monotone decreasing as components merge; deletions can
    split components, which would need a recompute of the affected
    labels, not a warm start).  Nodes absent from init_labels seed with
    their own id.  The warm state is materialized once, and the first
    frontier is only the endpoints of edges that join two labels (the
    endpoint with the smaller label).  When every edge already joins
    equal labels, the warm labels are returned after 0 rounds.
    `connected_components.last_iters_run` records the rounds the call
    actually used.
    """
    labels = _nodes(edges).withColumn("val", F.col("node"))
    if init_labels is not None:
        old = init_labels.select(
            "node", F.col("label").alias("old_label")
        )
        labels = (
            labels.join(old, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("node"), F.coalesce("old_label", F.col("node"))
                ).alias("val"),
            )
        )
    edges, owned = _own_edges(edges)
    try:
        res = _min_label_fixpoint(labels, edges, {"val": ("src", "dst")}, iters,
                                  warm=init_labels is not None)
    finally:
        if owned:
            release_checkpoint(edges)
    connected_components.last_iters_run = res.iterations
    return res.state.select("node", F.col("val").alias("label"))


def label_propagation(edges: DataFrame, labels0: DataFrame, iters: int = 3) -> DataFrame:
    """Synchronous majority label propagation (community detection /
    semi-supervised label spreading): each round every node adopts the
    most frequent label among its in-neighbors, ties broken toward the
    SMALLEST label; a node with no in-edges keeps its label.
    labels0: (node, label).

    A `gimv` instance: combine2 passes the neighbor's label, combineAll
    is `mode(deterministic=True)` (the most frequent label, the smallest
    of tied ones — any label values, no bound), assign is
    coalesce(agg, old).

    100TB: per round one shuffle keyed by edge dst for the mode and one
    join keyed by node — the PageRank plan with mode in place of sum, so
    the same co-partitioning holds.
    """
    res = gimv(edges, labels0.select("node", F.col("label").alias("val")),
               lambda _w, v: v, lambda m: F.mode(m, deterministic=True),
               lambda old, agg: F.coalesce(agg, old), iters, checkpoint_every=1)
    return res.state.select("node", F.col("val").alias("label"))


#: apriori_levels' largest itemset size
APRIORI_MAX_K = 3


def apriori_levels(baskets: DataFrame, min_support: int) -> dict[int, DataFrame]:
    """Level-wise APriori (the reference's iterative form of its 4th
    example app [PAPER §7]) over (basket, item) rows: L1 = frequent
    items; Lk extends each surviving (k-1)-itemset occurrence with a
    larger item from the same basket, counts support, prunes.

    Returns {k: DataFrame(items array<...>, support)} for k = 1 ..
    APRIORI_MAX_K.  The two pruning rules are both applied the classic
    way:
    - anti-monotone: occurrences whose itemset fell below min_support are
      semi-join-filtered out before extending (no candidate explosion);
    - lexicographic extension (new item > last item) generates each
      candidate exactly once.

    100TB: each level is one join + hash agg, shuffling (basket, itemset)
    occurrences — the set the pruning just shrank; nothing is collected.
    """
    b = baskets.select("basket", "item")
    sup1 = (
        b.groupBy("item")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    levels = {1: sup1.select(F.array("item").alias("items"), "support")}
    occs = b.join(sup1.select("item"), "item", "left_semi").select(
        "basket", F.array("item").alias("items")
    )
    for k in range(2, APRIORI_MAX_K + 1):
        ext = (
            occs.join(b.alias("x"), "basket")
            .filter(F.col("x.item") > F.element_at("items", -1))
            .select(
                "basket",
                F.concat("items", F.array("x.item")).alias("items"),
            )
        )
        sup = (
            ext.groupBy("items")
            .agg(F.count("*").alias("support"))
            .filter(F.col("support") >= min_support)
        )
        levels[k] = sup
        occs = ext.join(sup.select("items"), "items", "left_semi")
    return levels


def kmeans(
    spark: SparkSession,
    emb_df: DataFrame,
    k: int = 10,
    iters: int = 5,
    init_centroids: np.ndarray | None = None,
    tol: float | None = None,
) -> tuple[DataFrame, np.ndarray, int]:
    """K-means with deterministic seeding (the k smallest ids) and
    deterministic tie-break (lowest centroid id wins argmin).

    Assignment is an Arrow-batched kernel against broadcast centroids
    (k x dim — tiny); the centroid update aggregates per (cluster, dim)
    distributed-side, so only k*dim numbers ever reach the driver.
    Returns (assignments DataFrame, final centroids ndarray, iterations
    run).

    `init_centroids` warm-starts from a prior model (ref op A13: seed the
    restarted loop with the previously converged state); with `tol` set
    the loop stops once the max centroid shift falls below it, and the
    returned iteration count shows the warm-start saving the reference
    demonstrates, in miniature.
    """
    if init_centroids is not None:
        centroids = np.asarray(init_centroids, dtype=np.float64).copy()
    else:
        seeds = (
            emb_df.orderBy("vec_id").limit(k).select("embedding").collect()
        )
        if not seeds:
            # empty corpus: no centroids to train, no rows to assign —
            # return the empty assignment with the declared schema
            empty = emb_df.sparkSession.createDataFrame(
                [], "vec_id long, cluster int"
            )
            return empty, np.empty((0, 0)), 0
        centroids = np.stack([np.asarray(r[0], dtype=np.float64) for r in seeds])

    def nearest(pdf: pd.DataFrame, C: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(the batch's vectors, each one's nearest centroid index)."""
        A = np.stack(pdf["embedding"].values).astype(np.float64)
        # ||a-c||^2 = |a|^2 - 2 a.c + |c|^2 ; argmin ties -> lowest
        # centroid index (np.argmin returns the first minimum)
        d2 = (A * A).sum(1, keepdims=True) - 2 * A @ C.T + (C * C).sum(1)
        return A, d2.argmin(axis=1)

    def make_kernel(bc):
        # factory, not a loop closure: all loop iterations would share one
        # cell and the lazily-evaluated assignment would read the wrong
        # broadcast otherwise
        def assign_kernel(batches):
            C = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                _, lab = nearest(pdf, C)
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"].values, "cluster": lab.astype(np.int32)}
                )

        return assign_kernel

    def make_partials_kernel(bc):
        # assignment + map-side combine in ONE pass: each Arrow batch
        # emits k partial rows (cluster, count, sum-vector) — the shuffle
        # carries O(partitions x k x dim), never the exploded n x dim rows
        def partials_kernel(batches):
            C = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                A, lab = nearest(pdf, C)
                present = np.unique(lab)
                yield pd.DataFrame(
                    {
                        "cluster": present.astype(np.int32),
                        "cnt": [int((lab == c).sum()) for c in present],
                        "vsum": [A[lab == c].sum(axis=0).tolist() for c in present],
                    }
                )

        return partials_kernel

    assign = None
    ran = 0
    for ran in range(1, iters + 1):
        bc = spark.sparkContext.broadcast(centroids)
        assign = emb_df.select("vec_id", "embedding").mapInPandas(
            make_kernel(bc), schema="vec_id long, cluster int"
        )
        # centroid update: per-partition partials from the same distance
        # kernel, then one k-row aggregate (element-wise vector sum via
        # zip_with) — only k x dim numbers reach the driver
        upd = (
            emb_df.select("embedding")
            .mapInPandas(
                make_partials_kernel(bc),
                schema="cluster int, cnt long, vsum array<double>",
            )
            .groupBy("cluster")
            .agg(
                F.sum("cnt").alias("cnt"),
                F.aggregate(
                    F.collect_list("vsum"),
                    F.array_repeat(F.lit(0.0), int(centroids.shape[1])),
                    lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
                ).alias("vsum"),
            )
            .collect()
        )
        new_c = centroids.copy()
        for r in upd:
            new_c[r.cluster] = np.asarray(r.vsum, dtype=np.float64) / r.cnt
        shift = float(np.abs(new_c - centroids).max())
        centroids = new_c
        if tol is not None and shift <= tol:
            break

    return assign, centroids, ran


def _collect_if_fits(cap: int, df: DataFrame) -> pd.DataFrame | None:
    """The bounded local-finish probe: `df`'s rows over Arrow, or None
    when `cap <= 0` or `df` holds more than `cap` rows.

    The probe is a `limit(cap+1).count()`: limit pushes into the plan, so
    it scans at most cap+1 rows of an already materialized frame and
    moves ZERO rows to the driver until the finish fires.  A
    `limit(cap+1).collect()` probe would instead pay a full cap-row Py4J
    transfer every round just to learn "still too big" (measured at
    sf100)."""
    if cap <= 0 or df.limit(cap + 1).count() > cap:
        return None
    return df.toPandas()


#: contracted-graph size below which Borůvka finishes with one driver
#: Kruskal instead of further distributed rounds.  The finish is one
#: `_collect_if_fits` collect of the min-edge-per-component-pair graph
#: (5 longs/doubles x 4M rows ~ 160 MB), not a scan of base data — the
#: standard "local finish" of distributed MST: early rounds with
#: billions of components run distributed; the tail, where fixed
#: job-scheduling overhead dwarfs the data, collapses into one bounded
#: collect + an O(E α(E)) union-find.
BORUVKA_LOCAL_EDGES_MAX = 4_000_000


def _local_kruskal(rows: list[tuple]) -> list[tuple[int, int, float]]:
    """Exact Kruskal MSF over component-level edges (w, a, b, cs, cd):
    ascending (w, a, b) total order, union on component labels, emit the
    canonical endpoints (a, b, w).  The same total order the distributed
    rounds and the test golden use, so the forest is bit-identical."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    out: list[tuple[int, int, float]] = []
    for w, a, b, cs, cd in sorted(rows):
        ra, rb = find(cs), find(cd)
        if ra != rb:
            parent[ra] = rb
            out.append((a, b, w))
    return out


def boruvka_msf(edges: DataFrame, max_rounds: int = 8) -> DataFrame:
    """Borůvka minimum spanning forest over SYMMETRIC weighted edges
    (src, dst, w): distributed rounds on `iterate()` + a bounded local
    Kruskal finish.  Input self-loops are dropped; they are never in a
    forest.

    The loop's one state is the contracted graph (cs, cd, w, a, b) — a,
    b the canonical endpoints (a < b) of an input edge, cs and cd the
    labels of the components it joins:
    - a LIVE row (cs != cd) is the minimum edge of its component pair
      under the TOTAL order (w, a, b);
    - a FOREST row (cs == cd) is an edge picked in an earlier round, kept
      as a self-loop of the component it merged: no live aggregate sees
      it.
    Each round every live component picks its minimum outgoing edge
    (ties are safe under the total order — a pick-graph cycle would have
    to traverse its maximal edge twice); the picks become forest rows,
    and components contract via the connected-components operator over
    the COMPONENT-LEVEL pick graph (at most one edge per live component,
    a graph that at least halves every round).  The live rows are
    relabeled through that contraction and re-reduced to min-per-pair: a
    partial-aggregatable shuffle over the previous round's contracted
    graph, never the input edges, and the min of per-pair minima is the
    min over the input edges between the merged components.

    Local finish: the MST-of-contraction property says the MSF of the
    original graph = forest rows so far + the MSF of the live rows, and
    under a total order that MSF is UNIQUE — so once the live rows fit
    in BORUVKA_LOCAL_EDGES_MAX rows (the fixpoint check: a
    `limit`-bounded probe after each round's checkpoint, never an
    unbounded collect), one driver-side Kruskal finishes the forest
    exactly.  The round-0 graph is probed before the loop; when it fits,
    no round runs.  Correctness does not depend on WHEN the switch
    happens, only the constant factor does.  If the live rows still do
    not fit after `max_rounds` rounds the call raises RuntimeError — a
    partial forest is never returned.

    Returns the forest edges (a, b, w); they read only their own
    checkpoint and the local-finish rows, never `edges`.
    """
    spark = edges.sparkSession
    live = F.col("cs") != F.col("cd")

    def min_per_pair(e: DataFrame) -> DataFrame:
        # min edge per live component PAIR under the total order — safe
        # by the cycle property (a non-minimal parallel edge is never in
        # the MSF) and partial-aggregatable (map-side combine)
        return (
            e.filter(live).groupBy("cs", "cd")
            .agg(F.min(F.struct("w", "a", "b")).alias("m"))
            .select("cs", "cd", "m.w", "m.a", "m.b")
        )

    g0 = min_per_pair(edges.select(
        F.col("src").alias("cs"), F.col("dst").alias("cd"), "w",
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"),
    )).transform(checkpoint_without_stats)
    fit = _collect_if_fits(BORUVKA_LOCAL_EDGES_MAX, g0)
    held: list[DataFrame] = []  # the running round's pick and CC labels

    def contract(g: DataFrame, _i: int) -> DataFrame:
        pick = (
            g.filter(live).groupBy("cs")
            .agg(F.min(F.struct("w", "a", "b", "cd")).alias("m"))
            .select("cs", "m.w", "m.a", "m.b", "m.cd")
            .transform(checkpoint_without_stats)
        )
        pick_sym = pick.select(F.col("cs").alias("src"), F.col("cd").alias("dst"))
        m = connected_components(pick_sym.union(
            pick_sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ))
        held[:] = [pick, m]
        # LEFT joins: a component no pick touched keeps its label
        c1 = m.select(F.col("node").alias("cs"), F.col("label").alias("ls"))
        c2 = m.select(F.col("node").alias("cd"), F.col("label").alias("ld"))
        relabeled = (
            g.filter(live).join(c1, "cs", "left").join(c2, "cd", "left")
            .select(F.coalesce("ls", "cs").alias("cs"),
                    F.coalesce("ld", "cd").alias("cd"), "w", "a", "b")
        )
        return (
            g.filter(~live)
            .unionByName(pick.select("cs", F.col("cs").alias("cd"), "w", "a", "b"))
            .unionByName(min_per_pair(relabeled))
        )

    def fits(_old: DataFrame, new: DataFrame) -> float:
        nonlocal fit
        pick, m = held  # `new` is materialized: nothing reads them again
        release_checkpoint(pick)
        release_checkpoint(m)
        fit = _collect_if_fits(BORUVKA_LOCAL_EDGES_MAX, new.filter(live))
        return 1.0 if fit is None else 0.0

    forest = spark.createDataFrame([], "a long, b long, w double")
    try:
        if fit is None:
            res = iterate(g0, contract, max_rounds, delta_fn=fits, tol=0.5,
                          checkpoint_every=1)
            if not res.converged:
                release_checkpoint(res.state)
                raise RuntimeError(
                    f"boruvka_msf: max_rounds={max_rounds} distributed rounds "
                    "exhausted and the contracted graph still exceeds "
                    f"BORUVKA_LOCAL_EDGES_MAX={BORUVKA_LOCAL_EDGES_MAX} rows — "
                    "raise max_rounds; a partial forest is never returned"
                )
            forest = (
                res.state.filter(~live).select("a", "b", "w")
                # both endpoint components can pick the same edge in a round
                .dropDuplicates(["a", "b"])
                .transform(checkpoint_without_stats)
            )
            release_checkpoint(res.state)
    finally:
        release_checkpoint(g0)
    # .tolist() yields native python ints/floats — numpy scalars would
    # fail createDataFrame's LongType check on the finish edges
    finish = _local_kruskal(list(zip(
        fit["w"].tolist(), fit["a"].tolist(), fit["b"].tolist(),
        fit["cs"].tolist(), fit["cd"].tolist(),
    )))
    if finish:
        forest = forest.unionByName(
            spark.createDataFrame(finish, "a long, b long, w double")
        )
    return forest


#: residual-edge count at or below which scc() finishes with one
#: driver-side Tarjan instead of further distributed trim/coloring
#: rounds — the same bounded local finish boruvka_msf uses
#: (BORUVKA_LOCAL_EDGES_MAX): early passes at scale run distributed;
#: the tail, where each trim/coloring round is a fixed-cost job over a
#: near-empty graph, collapses into one Arrow collect + an O(V+E)
#: Tarjan.  Sized in driver Python heap: `_local_scc` peaked at ~157 B
#: per node+edge (measured on 400k nodes and 800k edges), so 2M edges
#: plus up to 4M endpoint nodes hold ~0.9 GB at the cap.
#: Correctness does not depend on WHEN the switch fires (SCC labels are
#: min member ids, unique for any algorithm); only the constant factor
#: does.  Measured at sf0.1: the whole digraph is 36.7k edges, so 11
#: fixed-overhead rounds (~12.8 s warm) collapse to one bounded collect.
#: Env-overridable (`I2MR_SCC_LOCAL_MAX`; 0 disables, forcing the pure
#: distributed path — used by tests to pin that path's behavior).
SCC_LOCAL_MAX_DEFAULT = 2_000_000


def _scc_local_max() -> int:
    return int(os.environ.get("I2MR_SCC_LOCAL_MAX", SCC_LOCAL_MAX_DEFAULT))


def _local_scc(spark: SparkSession, epdf: pd.DataFrame) -> DataFrame:
    """Exact SCC labels (node, scc = min member id) of every endpoint of
    the collected edges `epdf` via iterative Tarjan — the scc() local
    finish.  The endpoints are all the roots it needs: every node scc()
    has not labeled is an endpoint of a residual edge.  Deterministic:
    the label is the component MINIMUM, independent of visit order."""
    src, dst = epdf["src"].tolist(), epdf["dst"].tolist()
    adj: dict[int, list[int]] = {}
    for u, v in zip(src, dst):
        adj.setdefault(u, []).append(v)
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    onstack: set[int] = set()
    comp_stack: list[int] = []
    out: list[tuple[int, int]] = []
    counter = 0
    empty: tuple[int, ...] = ()
    for root in src + dst:
        if root in index:
            continue
        work: list[list] = [[root, 0]]  # (node, next-neighbor position)
        while work:
            frame = work[-1]
            v, pi = frame
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                comp_stack.append(v)
                onstack.add(v)
            nbrs = adj.get(v, empty)
            descended = False
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    frame[1] = i + 1
                    work.append([w, 0])
                    descended = True
                    break
                if w in onstack and index[w] < low[v]:
                    low[v] = index[w]
            if descended:
                continue
            work.pop()
            if low[v] == index[v]:
                comp = []
                while True:
                    w = comp_stack.pop()
                    onstack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                out.extend((w, m) for w in comp)
            if work and low[v] < low[work[-1][0]]:
                low[work[-1][0]] = low[v]
    return spark.createDataFrame(
        pd.DataFrame(out, columns=["node", "scc"]), schema="node long, scc long"
    )


def _fwbw_coloring(active: DataFrame, active_nodes: DataFrame,
                   iters: int = MIN_LABEL_ITERS) -> DataFrame:
    """Fused forward+backward min-label coloring of one scc() pass's
    trimmed core `active` (every node of `active_nodes` has an in- and an
    out-edge there): ONE pointer-doubling fixpoint
    (`_min_label_fixpoint`) over state (node, f, b) where f[v] = min id
    reachable FROM v (for edge u->v, u can reach whatever v reaches) and
    b[v] = min id reaching v (whatever reaches u also reaches v).

    Min-label fixpoints are UNIQUE (the min over a fixed reachable set),
    so both labels come out of one loop instead of two CC runs joined
    afterwards: rounds run max(r_f, r_b) instead of r_f + r_b, one
    checkpoint and one frontier count per round, both message joins read the
    SAME checkpointed edge blocks, and no final join (the state already
    holds both labels).  Returns the fixpoint's own checkpoint, which
    scc() releases once the pass's state is materialized.

    A cap that runs out raises: the f == b certificate is only sound at
    the true fixpoint — an unconverged run leaves far nodes still holding
    f == b == own id, and scc() would label them singleton SCCs (at sf1
    the trimmed core needs 18 rounds; a 16-round cap split a ~4k-member
    SCC into singletons)."""
    labels = active_nodes.select(
        "node", F.col("node").alias("f"), F.col("node").alias("b")
    )
    dirs = {"f": ("dst", "src"), "b": ("src", "dst")}
    return _min_label_fixpoint(labels, active, dirs, iters).state


#: most trim rounds per scc() pass; trimming only peels the DAG
#: periphery early, and the coloring pass labels whatever it leaves
SCC_TRIM_ROUNDS = 32


def _has_in_and_out(edges: DataFrame) -> DataFrame:
    """scc's trim keep: the nodes with an in-edge and an out-edge.  One
    shuffle flags each endpoint 1 as a source and 0 as a target."""
    return (
        edges.select(F.col("src").alias("node"), F.lit(1).alias("out"))
        .unionByName(edges.select(F.col("dst").alias("node"), F.lit(0).alias("out")))
        .groupBy("node").agg((F.min("out") < F.max("out")).alias("keep"))
        .filter("keep").select("node")
    )


def scc(edges: DataFrame, max_passes: int = 64) -> DataFrame:
    """Strongly connected components of a directed graph via
    Trim + Forward-Backward min-label coloring (the FW-BW-Trim scheme of
    the parallel-SCC literature, with Orzan-style coloring as the reach
    primitive), one pass per `iterate()` round.

    The loop's one state is (src, dst, scc): a row with scc NULL is a
    RESIDUAL edge; a row (v, v, s) labels node v with s, carried as a
    self-loop the way boruvka_msf carries its forest rows.  Each pass
    labels every node it settles inside the state, so every unlabeled
    node is an endpoint of a residual edge.  One pass:

    1. TRIM the residual edges to fixpoint with kcore's `_peel` and a
       "has an in-edge and an out-edge" keep: a node without both is its
       own singleton SCC (this kills the DAG periphery, which makes pure
       coloring O(#SCC) passes in the worst case).
    2. COLOR the trimmed core: fwd[v] = min id reachable FROM v, bwd[v] =
       min id reaching v, in ONE fused pointer-doubling fixpoint
       (`_fwbw_coloring`; sound because a node's label is always a node
       it can reach, so label-of-label is still reachable).
       fwd[v] == bwd[v] == m proves v and m mutually reachable: v is
       labeled m.
    3. SPLIT: keep only the edges whose endpoints share (f, b).
       Mutually reachable nodes share both labels, so an SCC never spans
       two classes, and a node left with no edge inside its class is a
       singleton.  Both kinds of singleton are labeled by one aggregate:
       the residual endpoints no row the pass adds carries.  The next
       pass colors every class independently and resolves at least each
       class's minimum SCC, so a chain of 2-cycles needs 2 passes, not
       one per cycle; passes are O(log #SCC) expected and 1-2 in
       practice after trimming.

    Local finish (`_collect_if_fits`, as in Borůvka): the distinct input
    edges before the loop (when they fit, no pass runs), each pass's
    trimmed core before its coloring, and the residual edges after each
    pass are probed against `I2MR_SCC_LOCAL_MAX` rows.  Once one fits,
    one Arrow collect + a driver Tarjan (`_local_scc`) labels the rest
    instead of further fixed-cost jobs over a near-empty graph.
    Result-identical: SCC labels are min member ids, unique for any
    algorithm.  The fixpoint check reads 0 once a probe fires or no
    residual edge is left.

    Returns (node, scc) for every node incident to an edge; empty edges
    give an empty frame.  Deterministic — fixpoints only.  Raises
    RuntimeError if `max_passes` passes leave residual edges (better a
    loud failure than a partial labeling) or a coloring runs out of its
    round cap.

    100TB: every step is an equi-join/agg on node id; the passes, the
    trim and the coloring are each a fixpoint on `iterate()` with one
    global barrier per round (ref A10).
    """
    spark = edges.sparkSession
    cap = _scc_local_max()
    g0 = edges.select("src", "dst").distinct().transform(checkpoint_without_stats)
    fit = _collect_if_fits(cap, g0)
    if fit is not None:
        release_checkpoint(g0)
        return _local_scc(spark, fit)
    unlabeled = F.col("scc").isNull()
    no_label = F.lit(None).cast(g0.schema["src"].dataType).alias("scc")

    def label_rows(nodes: DataFrame, label: str = "node") -> DataFrame:
        return nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"),
                            F.col(label).alias("scc"))

    def ends(e: DataFrame, carried: bool) -> DataFrame:
        c = F.lit(carried).alias("carried")
        return e.select(F.col("src").alias("node"), c).unionByName(
            e.select(F.col("dst").alias("node"), c))

    held: list[DataFrame | None] = []  # the running pass's peel and coloring

    def split_pass(state: DataFrame, _i: int) -> DataFrame:
        nonlocal fit
        residual = state.filter(unlabeled).select("src", "dst")
        core, n_edges = _peel(residual, _has_in_and_out, SCC_TRIM_ROUNDS)
        held[:] = [core, None]
        # the labels and residual edges the pass adds: the core as is when
        # it is empty, or when trimming shrank it under the local cap (it
        # is then stashed in `fit` before paying a distributed coloring)
        rows = core.select("src", "dst", no_label)
        if n_edges > 0:
            fit = _collect_if_fits(cap, core)
            if fit is None:
                j = held[1] = _fwbw_coloring(core, _nodes(core))
                rest = j.filter(F.col("f") != F.col("b"))
                sl = rest.select(F.col("node").alias("src"),
                                 F.col("f").alias("sf"), F.col("b").alias("sb"))
                dl = rest.select(F.col("node").alias("dst"),
                                 F.col("f").alias("df"), F.col("b").alias("db"))
                rows = label_rows(j.filter(F.col("f") == F.col("b")), "f").unionByName(
                    core.join(sl, "src").join(dl, "dst")
                    .filter((F.col("sf") == F.col("df")) & (F.col("sb") == F.col("db")))
                    .select("src", "dst", no_label))
        # a residual endpoint that no added row carries is a singleton
        # SCC: trimmed, or left with no edge inside its (f, b) class
        single = (
            ends(residual, False).unionByName(ends(rows, True))
            .groupBy("node").agg(F.max("carried").alias("carried"))
            .filter(~F.col("carried"))
        )
        return state.filter(~unlabeled).unionByName(rows).unionByName(label_rows(single))

    def settled(_old: DataFrame, new: DataFrame) -> float:
        nonlocal fit
        core, j = held  # `new` is materialized: nothing reads them again
        release_checkpoint(core)
        if j is None:  # the trimmed core was empty, or it is `fit`
            return 0.0
        release_checkpoint(j)
        residual = new.filter(unlabeled).select("src", "dst")
        if cap <= 0:
            return 0.0 if residual.isEmpty() else 1.0
        # with a positive cap, a residual that does not fit is not empty
        fit = _collect_if_fits(cap, residual)
        return 1.0 if fit is None else 0.0

    try:
        res = iterate(g0.select("src", "dst", no_label), split_pass, max_passes,
                      delta_fn=settled, tol=0.5, checkpoint_every=1)
    finally:
        release_checkpoint(g0)
    if not res.converged:
        release_checkpoint(res.state)
        raise RuntimeError(
            f"scc(): {max_passes} FW-BW passes exhausted with residual edges "
            "remaining — raise max_passes (every pass resolves each (f,b) "
            "class's minimum SCC, so passes are O(log #SCC) expected)"
        )
    out = res.state.filter(~unlabeled).select(F.col("src").alias("node"), "scc")
    return out if fit is None else out.unionByName(_local_scc(spark, fit))
