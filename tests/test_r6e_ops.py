"""Round-6 batch-5 tests: python Tarjan replay certifies the
distributed Trim+FW-BW SCC labeling, and a hashlib replay certifies the
weighted reservoir keys."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import pandas as pd

from i2mapreduce_spark.queries.iterative import SCC_EDGE_MOD, q_iter_scc
from i2mapreduce_spark.queries.projection import (
    RES_K,
    RES_SCALE,
    q_sample_weighted_reservoir,
)


def _md5_le_py(s: str, n_bytes: int) -> int:
    return int.from_bytes(
        hashlib.md5(s.encode()).digest()[8: 8 + n_bytes], "little"
    )


def _fixture_edges(sf_dir):
    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_orderkey", "l_linenumber", "l_partkey"],
    )
    edges = set()
    for _, g in li.groupby("l_orderkey"):
        by_ln = defaultdict(list)  # line numbers can repeat in an order
        for ln, pk in zip(g["l_linenumber"], g["l_partkey"]):
            by_ln[ln].append(pk)
        for ln, starts in by_ln.items():
            for a in starts:
                for b in by_ln.get(ln + 1, ()):  # consecutive LINE NUMBERS
                    if a != b and _md5_le_py(
                            f"{a}>{b}", 4) % SCC_EDGE_MOD == 0:
                        edges.add((int(a), int(b)))
    return edges


def _tarjan_labels(edges):
    """Iterative Tarjan; returns {node: min-member-of-its-SCC}."""
    g = defaultdict(list)
    nodes = set()
    for u, v in edges:
        g[u].append(v)
        nodes.add(u)
        nodes.add(v)
    index, low, onstk, stk, comps, cnt = {}, {}, {}, [], [], [0]
    for s0 in nodes:
        if s0 in index:
            continue
        work = [(s0, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = cnt[0]
                cnt[0] += 1
                stk.append(v)
                onstk[v] = True
            recurse = False
            for i in range(pi, len(g[v])):
                w = g[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif onstk.get(w):
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            work.pop()
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stk.pop()
                    onstk[w] = False
                    comp.append(w)
                    if w == v:
                        break
                comps.append(comp)
            if work:
                p, _ = work[-1]
                low[p] = min(low[p], low[v])
    return {v: min(c) for c in comps for v in c}


def test_scc_matches_tarjan_golden(spark, sf_dir):
    got = {r["node"]: r["scc"]
           for r in q_iter_scc(spark, sf_dir).collect()}
    want = _tarjan_labels(_fixture_edges(sf_dir))
    assert got == want
    # sanity: the sampled digraph has real multi-node SCC structure
    sizes = defaultdict(int)
    for scc_id in got.values():
        sizes[scc_id] += 1
    assert len(sizes) > 1 and max(sizes.values()) > 1


def test_weighted_reservoir_matches_hashlib_replay(spark, sf_dir):
    rows = q_sample_weighted_reservoir(spark, sf_dir).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text"])
    scored = []
    for did, text in zip(docs["doc_id"], docs["text"]):
        w = sum(1 for t in text.split(" ") if t)
        if w == 0:
            continue
        h = _md5_le_py(str(did), 7)
        scored.append((math.log((h + 1) / RES_SCALE) / w, did, w))
    scored.sort(key=lambda t: (-t[0], t[1]))
    want = scored[:RES_K]
    assert len(rows) == len(want) == RES_K
    for r, (score, did, w) in zip(rows, want):
        assert (r["doc_id"], r["w"]) == (did, w)
        assert abs(r["score"] - round(score, 6)) < 1e-9
    # heavier docs are overrepresented vs uniform: mean weight of the
    # sample should exceed the corpus mean (weighted sampling bias)
    corpus_mean = sum(w for _, _, w in scored) / len(scored)
    sample_mean = sum(r["w"] for r in rows) / len(rows)
    assert sample_mean > corpus_mean
