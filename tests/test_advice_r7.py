"""Round-7 regression tests for the r6 ADVICE findings:

1. scc() must not silently drop nodes when the pass cap is hit — it
   raises on non-convergence and fully labels a trim-immune chain of
   2-cycles (one FW-BW pass per cycle) under the default cap.
2. scc() on an empty edge frame returns an empty (node, scc) frame
   instead of IndexError.
3. global_running_max_excl() must not truncate non-integer maxima: the
   partition-offset literal is cast to the max column's own type.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from i2mapreduce_spark.operators.algorithms import scc
from i2mapreduce_spark.operators.ranking import global_running_max_excl


def _chain_of_two_cycles(spark, n_cycles: int):
    """Directed chain of 2-cycles with ids increasing along the chain:
    nodes 2i <-> 2i+1 form cycle i, plus a bridge 2i+1 -> 2i+2.  Every
    node has in-degree and out-degree >= 1, so trimming removes nothing,
    and FW-BW coloring resolves exactly ONE cycle per pass (the one
    holding the current minimum id) — the adversarial topology from the
    r6 advice."""
    rows = []
    for i in range(n_cycles):
        a, b = 2 * i, 2 * i + 1
        rows.append((a, b))
        rows.append((b, a))
        if i + 1 < n_cycles:
            rows.append((b, a + 2))
    return spark.createDataFrame(rows, "src long, dst long")


def test_scc_raises_on_pass_cap_instead_of_partial(spark, monkeypatch):
    # pass 1 resolves only the minimum's cycle (the whole graph is one
    # (f, b) class at the start), so a 1-pass cap must fail loudly on a
    # 4-cycle chain rather than return a partial labeling.  Local finish
    # disabled: this pins the DISTRIBUTED path's safety contract (a tiny
    # fixture would otherwise resolve locally in pass 0).
    monkeypatch.setenv("I2MR_SCC_LOCAL_MAX", "0")
    edges = _chain_of_two_cycles(spark, n_cycles=4)
    with pytest.raises(RuntimeError, match="passes exhausted"):
        scc(edges, max_passes=1)


def test_scc_chain_of_two_cycles_fully_labeled(spark, monkeypatch):
    # distributed path forced (see above): pins the trim+coloring loop
    monkeypatch.setenv("I2MR_SCC_LOCAL_MAX", "0")
    n = 5
    edges = _chain_of_two_cycles(spark, n_cycles=n)
    got = {
        (r["node"], r["scc"]) for r in scc(edges, max_passes=n + 1).collect()
    }
    want = {(2 * i + j, 2 * i) for i in range(n) for j in (0, 1)}
    assert got == want


def test_scc_class_splitting_resolves_chain_in_two_passes(spark, monkeypatch):
    # r12: after pass 1, every unresolved cycle i sits in its own
    # (f, b) = (2i, 0) class and the bridge edges (cross-class) are
    # dropped, so pass 2 resolves ALL remaining cycles at once — the
    # r6-r11 shape needed one pass per cycle.  Same labels either way
    # (min-label fixpoints are unique); this pins the pass complexity
    # of the DISTRIBUTED path (local finish disabled).
    monkeypatch.setenv("I2MR_SCC_LOCAL_MAX", "0")
    n = 6
    edges = _chain_of_two_cycles(spark, n_cycles=n)
    got = {(r["node"], r["scc"]) for r in scc(edges, max_passes=2).collect()}
    want = {(2 * i + j, 2 * i) for i in range(n) for j in (0, 1)}
    assert got == want


def test_scc_local_finish_matches_distributed(spark, monkeypatch):
    # r12 local finish: the default path (bounded probe -> Arrow collect
    # -> driver Tarjan) must produce the EXACT labels of the distributed
    # trim+coloring loop — SCC labels are min member ids, unique for any
    # algorithm.  Chain of 2-cycles + a dangling DAG tail exercises both
    # multi-node SCCs and trim singletons.
    n = 5
    edges = _chain_of_two_cycles(spark, n_cycles=n)
    tail = spark.createDataFrame(
        [(2 * n - 1, 100), (100, 101)], "src long, dst long"
    )
    g = edges.unionByName(tail)
    local = {(r["node"], r["scc"]) for r in scc(g).collect()}
    monkeypatch.setenv("I2MR_SCC_LOCAL_MAX", "0")
    dist = {(r["node"], r["scc"]) for r in scc(g, max_passes=n + 1).collect()}
    assert local == dist
    want = {(2 * i + j, 2 * i) for i in range(n) for j in (0, 1)}
    want |= {(100, 100), (101, 101)}
    assert local == want


def test_scc_distributed_keeps_only_node_sets_and_colorings(spark, monkeypatch):
    # Each pass releases its peel, node-set and coloring checkpoints once
    # the pass's state is materialized, and iterate() releases the state
    # it supersedes, so however many trim rounds (the 4-edge DAG tail
    # takes 5) and passes run, scc() leaves only its final state pinned.
    monkeypatch.setenv("I2MR_SCC_LOCAL_MAX", "0")
    n = 5
    tail = [(2 * n - 1, 100), (100, 101), (101, 102), (102, 103)]
    g = _chain_of_two_cycles(spark, n_cycles=n).unionByName(
        spark.createDataFrame(tail, "src long, dst long"))

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    got = {(r["node"], r["scc"]) for r in scc(g, max_passes=n + 1).collect()}
    assert len(persisted() - before) <= 1
    want = {(2 * i + j, 2 * i) for i in range(n) for j in (0, 1)}
    assert got == want | {(v, v) for v in range(100, 104)}


def test_scc_labels_trim_survivors_the_class_split_isolates(spark, monkeypatch):
    # Nodes 4 and 5 each have an in-edge from the 2-cycle {0, 1} and an
    # out-edge into the 2-cycle {6, 7}, so the trim keeps them.  Each is
    # the smallest node it reaches, so pass 1 colors it into a class of
    # its own: the class split leaves it no edge, and the pass must label
    # it a singleton, since no residual edge carries it to a later pass.
    from tests.test_r6e_ops import _tarjan_labels

    monkeypatch.setenv("I2MR_SCC_LOCAL_MAX", "0")
    rows = [(0, 1), (1, 0), (1, 4), (4, 6), (1, 5), (5, 6), (6, 7), (7, 6)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    got = {r["node"]: r["scc"] for r in scc(edges, max_passes=2).collect()}
    assert got == _tarjan_labels(rows)
    assert got[4] == 4 and got[5] == 5


def test_scc_local_finish_fires_after_distributed_head(spark, monkeypatch):
    # a cap of 7 keeps the probe cold for the 8-node/11-edge start, so
    # pass 0 runs distributed and resolves the minimum's cycle; the
    # 6-node/6-edge residual then fits and the pass-1 probe fires — pins
    # that the mid-loop probe sites compose with the trim/coloring
    # state (edges always filtered to active-node endpoints)
    monkeypatch.setenv("I2MR_SCC_LOCAL_MAX", "7")
    n = 4
    edges = _chain_of_two_cycles(spark, n_cycles=n)
    got = {(r["node"], r["scc"]) for r in scc(edges, max_passes=n + 1).collect()}
    want = {(2 * i + j, 2 * i) for i in range(n) for j in (0, 1)}
    assert got == want


def test_scc_coloring_raises_on_unconverged_cap(spark):
    # r12 latent-bug fix: f == b is a mutual-reachability certificate
    # ONLY at the true fixpoint — a capped, unconverged coloring must
    # raise, never return (at sf1 the old silent 16-round cap split a
    # ~4k-member SCC into singletons; caught by a driver-Tarjan referee)
    from i2mapreduce_spark.operators.algorithms import _fwbw_coloring, _nodes

    edges = spark.createDataFrame(
        [(i, (i + 1) % 8) for i in range(8)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="cap exhausted"):
        _fwbw_coloring(edges, _nodes(edges), iters=1)


def test_scc_empty_edges_returns_empty_frame(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    out = scc(edges)
    assert out.columns == ["node", "scc"]
    assert out.count() == 0


def test_global_running_max_excl_preserves_double_offsets(spark):
    # values chosen so the cross-partition offset is non-integral: a
    # long-cast offset would floor 3.5 -> 3 and corrupt later rows
    rows = [(i, v) for i, v in enumerate([1.5, 3.5, 2.25, 0.5, 3.25, 9.75])]
    df = spark.createDataFrame(rows, "ord long, v double")
    out = global_running_max_excl(
        df, ["ord"], "v", out_col="pre", num_partitions=3
    )
    got = {r["ord"]: r["pre"] for r in out.collect()}
    assert got == {
        0: None,
        1: 1.5,
        2: 3.5,
        3: 3.5,
        4: 3.5,
        5: 3.5,
    }
    # type is preserved, not silently widened/truncated
    assert dict(out.dtypes)["pre"] == "double"
