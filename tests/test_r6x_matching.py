"""Property tests for iter_maximal_matching (rows-only key: a maximal
matching is not unique, so correctness is the two defining properties,
not a value oracle)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from i2mapreduce_spark.queries.iterative import q_iter_maximal_matching

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def matching(spark):
    return q_iter_maximal_matching(spark, SF_DIR).collect()


def test_is_a_matching(matching):
    """No vertex is an endpoint of two matched edges."""
    seen = set()
    for r in matching:
        assert r["u"] not in seen, f"vertex {r['u']} matched twice"
        assert r["v"] not in seen, f"vertex {r['v']} matched twice"
        seen.add(r["u"])
        seen.add(r["v"])
    assert matching, "matching is empty on a dense graph"


def test_maximality(matching, spark):
    """After the declared rounds, no edge has BOTH endpoints unmatched
    (otherwise the handshake would have matched it — the greedy
    invariant that makes the result maximal, not just valid)."""
    from i2mapreduce_spark.catalog import load_tables

    load_tables(spark, SF_DIR)
    matched_v = {x for r in matching for x in (r["u"], r["v"])}
    edges = (
        spark.table("edges_pp")
        .filter(F.col("src") < F.col("dst"))
        .collect()
    )
    unmatched_both = [
        (e["src"], e["dst"])
        for e in edges
        if e["src"] not in matched_v and e["dst"] not in matched_v
    ]
    assert unmatched_both == [], (
        f"{len(unmatched_both)} edges with both endpoints unmatched"
    )
