"""Round-6 batch-4 tests: python replays for the sketch keys (the md5
hashes are recomputed with hashlib — a third implementation besides
Spark and DuckDB) and structural invariants for lift/curriculum."""

from __future__ import annotations

import hashlib
from collections import Counter

import pandas as pd

from i2mapreduce_spark.queries.aggregates import (
    BLOOM_K,
    BLOOM_M,
    q_agg_bloom_filter,
    q_agg_decile_lift,
    q_agg_kmv_jaccard,
    q_agg_log_histogram,
)
from i2mapreduce_spark.queries.llmops import q_text_hapax_ratio
from i2mapreduce_spark.queries.pipelines import CURR_STAGES, q_pipeline_curriculum
from i2mapreduce_spark.queries.udfs import KMV_K


def _md5_le_py(s: str, n_bytes: int) -> int:
    return int.from_bytes(
        hashlib.md5(s.encode()).digest()[8: 8 + n_bytes], "little"
    )


def test_bloom_bits_match_hashlib_replay(spark, sf_dir):
    got = {r["s_nationkey"]: (r["n_keys"], r["bits_set"])
           for r in q_agg_bloom_filter(spark, sf_dir).collect()}
    s = pd.read_parquet(f"{sf_dir}/supplier.parquet",
                        columns=["s_suppkey", "s_nationkey"])
    for nk, g in s.groupby("s_nationkey"):
        bits = {
            _md5_le_py(f"{k}#{i}", 4) % BLOOM_M
            for k in g["s_suppkey"]
            for i in range(BLOOM_K)
        }
        n_keys, bits_set = got[nk]
        assert n_keys == g["s_suppkey"].nunique()
        assert bits_set == len(bits) <= min(BLOOM_M, BLOOM_K * n_keys)
    assert len(got) == s["s_nationkey"].nunique()


def test_kmv_sketch_matches_hashlib_replay(spark, sf_dir):
    row = q_agg_kmv_jaccard(spark, sf_dir).collect()[0]
    e = pd.read_parquet(f"{sf_dir}/events.parquet",
                        columns=["user_id", "event_type"])
    a = set(e.loc[e.event_type == "click", "user_id"])
    b = set(e.loc[e.event_type == "purchase", "user_id"])
    hashed = sorted(
        (_md5_le_py(str(u), 7), u) for u in (a | b)
    )[:KMV_K]
    n_both = sum(1 for _, u in hashed if u in a and u in b)
    assert row["sketch_n"] == len(hashed)
    assert row["kth_hash"] == hashed[-1][0]
    assert row["n_both"] == n_both
    assert row["jaccard_est"] == round(n_both / len(hashed), 6)


def test_decile_lift_partitions_customers_and_revenue(spark, sf_dir):
    rows = sorted(q_agg_decile_lift(spark, sf_dir).collect(),
                  key=lambda r: r["decile"])
    assert [r["decile"] for r in rows] == list(range(1, 11))
    sizes = [r["n_cust"] for r in rows]
    assert max(sizes) - min(sizes) <= 1      # equal-rank cut
    assert abs(sum(r["rev_share"] for r in rows) - 1.0) < 1e-4
    lifts = [r["lift"] for r in rows]        # sorted by spend desc
    assert all(x >= y for x, y in zip(lifts, lifts[1:]))
    assert lifts[0] > 1.0 > lifts[-1]


def test_log_histogram_buckets_are_bit_lengths(spark, sf_dir):
    rows = q_agg_log_histogram(spark, sf_dir).collect()
    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_totalprice"])
    cents = (o["o_totalprice"].round(2) * 100).round().astype("int64")
    want = Counter(int(c).bit_length() - 1 for c in cents)
    assert {r["bucket"]: r["n_orders"] for r in rows} == dict(want)
    for r in rows:
        assert 2 ** r["bucket"] <= r["min_cents"] <= r["max_cents"] \
            < 2 ** (r["bucket"] + 1)


def test_curriculum_stages_are_ordered_length_bands(spark, sf_dir):
    rows = sorted(q_pipeline_curriculum(spark, sf_dir).collect(),
                  key=lambda r: r["stage"])
    assert [r["stage"] for r in rows] == list(range(1, CURR_STAGES + 1))
    sizes = [r["n_docs"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    for prev, nxt in zip(rows, rows[1:]):    # short->long curriculum
        assert prev["max_tokens"] <= nxt["min_tokens"]


def test_hapax_matches_counter_replay(spark, sf_dir):
    rows = q_text_hapax_ratio(spark, sf_dir).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text"])
    text = dict(zip(docs["doc_id"], docs["text"]))
    assert len(rows) == len(text)
    for r in rows[:50]:
        c = Counter(w for w in text[r["doc_id"]].split(" ") if w)
        hapax = sum(1 for v in c.values() if v == 1)
        assert (r["n_tokens"], r["n_types"], r["n_hapax"]) == (
            sum(c.values()), len(c), hapax)
        assert r["hapax_pm"] == (2000 * hapax + len(c)) // (2 * len(c))
