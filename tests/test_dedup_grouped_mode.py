"""Information-equivalence of the grouped (expand_members=False) dedup
output mode vs the expanded member-pair list (r9 verdict item 5).

The sf10 canary showed the expanded pair list is quadratic in the
duplication factor as pure OUTPUT volume (dedup_simhash 6.85x even with
the r9 exact-duplicate collapse).  The grouped mode emits one row per
group pair (d1, d2, score, g1, g2) — O(unique^2).  These tests expand
the grouped rows through the membership map (md5 of text -> member ids)
and assert the result equals the expanded mode EXACTLY, on a
duplicate-saturated corpus built by replicating sf0.001 documents
4x with fresh ids (the construction of tools/make_fixture.py sf001dup).
"""

from __future__ import annotations

from itertools import combinations, product

import pyspark.sql.functions as F
import pytest

from i2mapreduce_spark.operators import dedup


@pytest.fixture(scope="module")
def dup_docs(spark, sf_dir):
    base = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(150)
    )
    stride = base.agg(F.max("doc_id")).first()[0] + 1
    copies = [
        base.select((F.col("doc_id") + i * stride).alias("doc_id"), "text")
        for i in range(4)
    ]
    df = copies[0]
    for c in copies[1:]:
        df = df.unionByName(c)
    return df.cache()


def _membership(dup_docs):
    """gid -> sorted member ids, rep id = min member (matches the
    collapse machinery's row_number-over-id ordering)."""
    rows = (
        dup_docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.md5(F.col("text").cast("binary")).alias("gid"))
        .collect()
    )
    groups: dict = {}
    for r in rows:
        groups.setdefault(r.gid, []).append(r.doc_id)
    by_rep = {min(v): sorted(v) for v in groups.values()}
    return by_rep


def _expand_grouped(grouped_rows, by_rep, score_name):
    """Expand (rep1, rep2, score, g1, g2) rows to member pairs."""
    pairs = set()
    for r in grouped_rows:
        s = getattr(r, score_name)
        if r.d1 == r.d2:  # diagonal = within-group duplicate pairs
            mem = by_rep[r.d1]
            assert r.g1 == r.g2 == len(mem)
            for a, b in combinations(mem, 2):
                pairs.add((a, b, s))
        else:
            m1, m2 = by_rep[r.d1], by_rep[r.d2]
            assert r.g1 == len(m1) and r.g2 == len(m2)
            for a, b in product(m1, m2):
                pairs.add((min(a, b), max(a, b), s))
    return pairs


@pytest.mark.parametrize(
    "kernel, score_name, kwargs",
    [
        (dedup.simhash_near_pairs, "hamming", {"max_hamming": 3}),
        (dedup.minhash_lsh_pairs, "jac", {"threshold": 0.5}),
    ],
    ids=["simhash", "minhash"],
)
def test_grouped_mode_information_equivalent(dup_docs, kernel, score_name, kwargs):
    expanded = {
        (r.d1, r.d2, getattr(r, score_name))
        for r in kernel(dup_docs, **kwargs).collect()
    }
    grouped = kernel(dup_docs, expand_members=False, **kwargs).collect()
    by_rep = _membership(dup_docs)
    reconstructed = _expand_grouped(grouped, by_rep, score_name)
    assert reconstructed == expanded
    # the scale claim: grouped output is the unique-level pair count,
    # strictly smaller than the member expansion on a 4x-dup corpus
    assert len(grouped) < len(expanded)
    # every diagonal row carries the within-group score exactly
    within_score = 0 if score_name == "hamming" else 1.0
    assert all(
        getattr(r, score_name) == within_score for r in grouped if r.d1 == r.d2
    )


def test_exact_jaccard_collapse_is_value_exact(dup_docs):
    """The exact-family collapse must be IDENTITY on values (unlike
    the banded kernels, where collapse only fixes intermediates, the
    exact kernel's output is fully determined): byte-identical texts
    have identical shingle sets, so rep-level jaccard == member-level."""
    plain = {
        (r.d1, r.d2, r.jac)
        for r in dedup.jaccard_pairs(dedup.shingles(dup_docs), 0.5).collect()
    }
    collapsed = {
        (r.d1, r.d2, r.jac)
        for r in dedup.near_jaccard_pairs(dup_docs, 0.5).collect()
    }
    assert collapsed == plain and plain  # non-trivial on a 4x-dup corpus


def test_exact_jaccard_grouped_mode_information_equivalent(dup_docs):
    expanded = {
        (r.d1, r.d2, r.jac)
        for r in dedup.near_jaccard_pairs(dup_docs, 0.5).collect()
    }
    grouped = dedup.near_jaccard_pairs(
        dup_docs, 0.5, expand_members=False
    ).collect()
    reconstructed = _expand_grouped(grouped, _membership(dup_docs), "jac")
    assert reconstructed == expanded
    assert len(grouped) < len(expanded)


def test_grouped_mode_on_duplicate_free_corpus(spark, sf_dir):
    # every group is a singleton: no diagonal rows, and the off-diagonal
    # rows are exactly the expanded pairs with g1 = g2 = 1
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(200)
    )
    grouped = dedup.simhash_near_pairs(docs, expand_members=False).collect()
    expanded = {(r.d1, r.d2, r.hamming) for r in dedup.simhash_near_pairs(docs).collect()}
    assert all(r.d1 != r.d2 and r.g1 == 1 and r.g2 == 1 for r in grouped)
    assert {(r.d1, r.d2, r.hamming) for r in grouped} == expanded
