"""Round-6 batch-13/14 property tests: the invariants the oracle-parity
hash can't express (whitening statistics, fold and state-machine
replays, structural invariants of the hierarchical rollup and SAX
words).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from i2mapreduce_spark.catalog import load_tables
from i2mapreduce_spark.queries.joins import q_cte_recursive_rollup
from i2mapreduce_spark.queries.llmops import WHITEN_OUT, q_embedding_whitening
from i2mapreduce_spark.queries.timeseries import (
    SAX_W,
    q_ts_holt_linear,
    q_ts_sax_symbols,
)


def _half2(v: int) -> int:
    return -((1 - v) // 2) if v < 0 else (v + 1) // 2


def test_whitening_matches_numpy_and_decorrelates(spark, sf_dir):
    """The distributed moment pass must reproduce the full-corpus numpy
    whitening exactly (same partial-sum order ⇒ same floats), and the
    whitened output must be decorrelated with ~unit variance."""
    load_tables(spark, sf_dir)
    got = (
        q_embedding_whitening(spark, sf_dir)
        .orderBy("vec_id")
        .toPandas()
        .set_index("vec_id")
    )
    emb = (
        spark.table("embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .toPandas()
    )
    A = np.stack(emb["embedding"].values).astype(np.float64)
    mu = A.mean(axis=0)
    cov = (A.T @ A) / len(A) - np.outer(mu, mu)
    lam, U = np.linalg.eigh(cov)
    W = U @ np.diag(1.0 / np.sqrt(lam + 1e-6)) @ U.T
    Z = (A - mu) @ W.T
    want = np.round(Z[:, :WHITEN_OUT], 4)
    got_m = got[[f"w{i}" for i in range(WHITEN_OUT)]].to_numpy()
    # identical projection up to the last-digit wobble of re-summed
    # partials (driver sums partition partials; numpy sums rows)
    assert np.abs(got_m - want).max() <= 1e-3
    # decorrelation: whitened covariance ≈ identity on the full 64 dims
    zc = np.cov(Z.T, bias=True)
    assert np.abs(zc - np.eye(zc.shape[0])).max() < 0.05


def test_holt_fold_matches_python_replay(spark, sf_dir):
    """The Spark struct fold replays the exact python recurrence on the
    real day series (level AND trend, every output day)."""
    load_tables(spark, sf_dir)
    daily = (
        spark.table("orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            ).alias("cents")
        )
        .orderBy("day")
        .collect()
    )
    xs = [r["cents"] for r in daily]
    days = [r["day"] for r in daily]
    want = {}
    l, b = xs[0], 0
    want[days[0]] = (l, b)
    for i, x in enumerate(xs[1:], start=1):
        lp = _half2(x + l + b)
        b = _half2((lp - l) + b)
        l = lp
        want[days[i]] = (l, b)
    got = q_ts_holt_linear(spark, sf_dir).collect()
    assert len(got) == len(want)
    for r in got:
        wl, wb = want[r["day"]]
        assert (round(r["level"] * 100), round(r["trend"] * 100)) == (wl, wb)


def test_recursive_rollup_conservation(spark, sf_dir):
    """Roots partition the forest: the subtree revenue summed over root
    keys (1-9 plus the 0 singleton) equals total order revenue, and
    every customer's subtree contains itself (n_desc >= 1)."""
    load_tables(spark, sf_dir)
    df = q_cte_recursive_rollup(spark, sf_dir).collect()
    by_key = {r["custkey"]: r for r in df}
    roots = [k for k in by_key if k < 10]
    total = sum(round(by_key[k]["subtree_revenue"] * 100) for k in roots)
    want = (
        spark.table("orders")
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            )
        )
        .collect()[0][0]
    )
    assert total == want
    assert all(r["n_desc"] >= 1 for r in df)
    # parent subtree strictly contains the child subtree (keys 1-9 and
    # the 0 singleton are roots — no parent edge to 0)
    for k, r in by_key.items():
        p = k // 10
        if k >= 10 and p in by_key:
            assert by_key[p]["n_desc"] >= r["n_desc"] + 1


def test_sax_words_shape(spark, sf_dir):
    """SAX words: ≤ 8 symbols from {a,b,c,d}, exactly 8 when the user
    has ≥ 8 events, and not all users collapse to one word."""
    load_tables(spark, sf_dir)
    rows = q_ts_sax_symbols(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert set(r["sax"]) <= set("abcd")
        assert len(r["sax"]) == min(SAX_W, r["n_events"])
    assert len({r["sax"] for r in rows}) > 1


def test_parabolic_sar_matches_python_replay(spark, sf_dir):
    """The SAR state machine replays exactly in python from the same
    day bars — trend, stop, extreme and acceleration on every day."""
    from i2mapreduce_spark.queries.windows_q import (
        SAR_AF0,
        SAR_AFM,
        SAR_AFS,
        q_window_parabolic_sar,
    )

    load_tables(spark, sf_dir)
    bars = (
        spark.table("lineitem")
        .groupBy(F.date_format("l_shipdate", "yyyy-MM-dd").alias("day"))
        .agg(
            F.max(
                (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
                    "long"
                )
            ).alias("h"),
            F.min(
                (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
                    "long"
                )
            ).alias("l"),
        )
        .orderBy("day")
        .collect()
    )

    def dhalf(v):
        return -((2 * -v + 100) // 200) if v < 0 else (2 * v + 100) // 200

    t, sar, ep, af = 1, bars[0]["l"], bars[0]["h"], SAR_AF0
    want = {bars[0]["day"]: (t, sar, ep, af)}
    for r in bars[1:]:
        h, l = r["h"], r["l"]
        raw = sar + dhalf(af * (ep - sar))
        flip = (t == 1 and l < raw) or (t == -1 and h > raw)
        if flip:
            t, sar, ep, af = -t, ep, (l if t == 1 else h), SAR_AF0
        else:
            if t == 1 and h > ep:
                ep, af = h, min(af + SAR_AFS, SAR_AFM)
            elif t == -1 and l < ep:
                ep, af = l, min(af + SAR_AFS, SAR_AFM)
            sar = raw
        want[r["day"]] = (t, sar, ep, af)

    got = q_window_parabolic_sar(spark, sf_dir).collect()
    assert len(got) == len(want)
    for r in got:
        wt, ws, we, wa = want[r["day"]]
        assert (
            r["trend"],
            round(r["sar"] * 100),
            round(r["ep"] * 100),
            r["af_x100"],
        ) == (wt, ws, we, wa), r["day"]
