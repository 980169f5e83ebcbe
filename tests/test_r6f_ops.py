"""Round-6 batch-6 tests: pandas/numpy replays for Aroon, pivot points
and the Jensen-Shannon drift cells."""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd

from i2mapreduce_spark.queries.llmops import q_text_js_divergence
from i2mapreduce_spark.queries.windows_q import (
    AROON_N,
    q_window_aroon,
    q_window_pivot_points,
)


def test_aroon_matches_pandas_replay(spark, sf_dir):
    got = {r["day"]: (r["aroon_up"], r["aroon_down"], r["trend"])
           for r in q_window_aroon(spark, sf_dir).collect()}
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderdate", "o_totalprice"])
    o["day"] = o["o_orderdate"].dt.strftime("%Y-%m-%d")
    o["cents"] = (o["o_totalprice"].round(2) * 100).round().astype("int64")
    d = (o.groupby("day")["cents"].sum().reset_index()
          .sort_values("day", ignore_index=True))
    cents = d["cents"].tolist()
    n_checked = 0
    for i in range(AROON_N - 1, len(cents)):
        xs = cents[i - AROON_N + 1: i + 1]
        ds_hi = AROON_N - (xs.index(max(xs)) + 1)   # first occurrence
        ds_lo = AROON_N - (xs.index(min(xs)) + 1)
        up, dn = 4 * (AROON_N - ds_hi), 4 * (AROON_N - ds_lo)
        trend = ("uptrend" if up - dn > 50
                 else "downtrend" if dn - up > 50 else "ranging")
        assert got[d["day"].iloc[i]] == (up, dn, trend), d["day"].iloc[i]
        n_checked += 1
    assert len(got) == n_checked > 0


def test_pivot_points_match_pandas_replay(spark, sf_dir):
    got = {r["day"]: (r["pivot"], r["r1"], r["s1"], r["r2"], r["s2"],
                      r["vs_pivot"])
           for r in q_window_pivot_points(spark, sf_dir).collect()}
    e = pd.read_parquet(f"{sf_dir}/events.parquet")
    e["day"] = e["ts"].dt.strftime("%Y-%m-%d")
    e["cents"] = (e["value"].round(2) * 100).round().astype("int64")
    e = e.sort_values(["day", "ts", "event_id"])
    bars = (e.groupby("day")
             .agg(h=("cents", "max"), l=("cents", "min"),
                  c=("cents", "last"))
             .reset_index().sort_values("day", ignore_index=True))
    n_checked = 0
    for i in range(1, len(bars)):
        ph, pl, pc = (int(bars["h"][i - 1]), int(bars["l"][i - 1]),
                      int(bars["c"][i - 1]))
        c = int(bars["c"][i])
        p = (2 * (ph + pl + pc) + 3) // 6
        want = (p / 100.0, (2 * p - pl) / 100.0, (2 * p - ph) / 100.0,
                (p + ph - pl) / 100.0, (p - ph + pl) / 100.0,
                "above" if c > p else "below" if c < p else "at")
        assert got[bars["day"][i]] == want, bars["day"][i]
        n_checked += 1
    assert len(got) == n_checked > 0


def test_js_divergence_matches_python_and_is_nonnegative(spark, sf_dir):
    rows = q_text_js_divergence(spark, sf_dir).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text"])
    ca, cb = Counter(), Counter()
    for did, text in zip(docs["doc_id"], docs["text"]):
        tgt = ca if did % 2 == 0 else cb
        for w in text.split(" "):
            if w:
                tgt[w] += 1
    na, nb = sum(ca.values()), sum(cb.values())
    assert len(rows) == len(set(ca) | set(cb))
    total = 0.0
    for r in rows:
        p, q = ca[r["w"]] / na, cb[r["w"]] / nb
        m = (p + q) / 2
        cell = ((p * math.log(p / m) if p else 0.0)
                + (q * math.log(q / m) if q else 0.0)) / 2
        assert (r["ca"], r["cb"]) == (ca[r["w"]], cb[r["w"]])
        assert abs(r["js_cell"] - cell) < 1e-6
        assert r["js_cell"] >= 0 or abs(r["js_cell"]) < 1e-9
        total += cell
    # JS divergence is bounded by ln(2)
    assert 0 <= total <= math.log(2)
