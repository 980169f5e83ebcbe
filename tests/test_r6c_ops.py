"""Round-6 batch-3 tests: independent pandas/numpy replays of the TA
accumulation windows and TS anomaly keys (the DuckDB oracle checks
cross-engine hashing; these check the MATH against a third
implementation with different execution order)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from i2mapreduce_spark.queries.timeseries import q_ts_burst_days, q_ts_peak_detection
from i2mapreduce_spark.queries.windows_q import (
    ATR_N,
    STOCH_D,
    STOCH_N,
    q_window_atr,
    q_window_obv,
    q_window_stochastic,
)


def _daily_orders(sf_dir) -> pd.DataFrame:
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderdate", "o_totalprice"])
    o["day"] = o["o_orderdate"].dt.strftime("%Y-%m-%d")
    o["cents"] = (o["o_totalprice"].round(2) * 100).round().astype("int64")
    d = (o.groupby("day")
          .agg(cents=("cents", "sum"), vol=("cents", "size"))
          .reset_index()
          .sort_values("day", ignore_index=True))
    return d


def _half_up_div(p: int, q: int) -> int:
    return (2 * p + q) // (2 * q)


def test_obv_matches_pandas_replay(spark, sf_dir):
    got = {r["day"]: (r["vol"], r["obv"])
           for r in q_window_obv(spark, sf_dir).collect()}
    d = _daily_orders(sf_dir)
    obv, prev = 0, None
    for _, row in d.iterrows():
        if prev is not None:
            if row.cents > prev:
                obv += row.vol
            elif row.cents < prev:
                obv -= row.vol
        prev = row.cents
        assert got[row.day] == (row.vol, obv), row.day
    assert len(got) == len(d)


def test_stochastic_matches_integer_replay(spark, sf_dir):
    got = {r["day"]: (r["k_pct"], r["d_pct"], r["zone"])
           for r in q_window_stochastic(spark, sf_dir).collect()}
    d = _daily_orders(sf_dir)
    cents = d["cents"].to_numpy()
    days = d["day"].tolist()
    k_pms: list[int] = []
    k_days: list[str] = []
    for i in range(len(cents)):
        if i < STOCH_N - 1:
            continue
        w = cents[i - STOCH_N + 1: i + 1]
        hi, lo = int(w.max()), int(w.min())
        c = int(cents[i])
        k_pm = 500 if hi == lo else _half_up_div(1000 * (c - lo), hi - lo)
        k_pms.append(k_pm)
        k_days.append(days[i])
    n_checked = 0
    for j in range(STOCH_D - 1, len(k_pms)):
        ks = sum(k_pms[j - STOCH_D + 1: j + 1])
        d_pm = _half_up_div(ks, STOCH_D)
        k_pm = k_pms[j]
        zone = ("overbought" if k_pm > 800
                else "oversold" if k_pm < 200 else "neutral")
        assert got[k_days[j]] == (k_pm / 10.0, d_pm / 10.0, zone), k_days[j]
        n_checked += 1
    assert len(got) == n_checked > 0


def test_atr_matches_pandas_replay(spark, sf_dir):
    got = {r["day"]: (r["true_range"], r["atr"])
           for r in q_window_atr(spark, sf_dir).collect()}
    e = pd.read_parquet(f"{sf_dir}/events.parquet")
    e["day"] = e["ts"].dt.strftime("%Y-%m-%d")
    e["cents"] = (e["value"].round(2) * 100).round().astype("int64")
    e = e.sort_values(["day", "ts", "event_id"])
    bars = (e.groupby("day")
             .agg(open_c=("cents", "first"), high_c=("cents", "max"),
                  low_c=("cents", "min"), close_c=("cents", "last"))
             .reset_index().sort_values("day", ignore_index=True))
    trs: list[int] = []
    pc = None
    for _, b in bars.iterrows():
        hl = int(b.high_c - b.low_c)
        tr = hl if pc is None else max(
            hl, abs(int(b.high_c) - pc), abs(int(b.low_c) - pc))
        trs.append(tr)
        pc = int(b.close_c)
    n_checked = 0
    for i in range(ATR_N - 1, len(trs)):
        atr_c = _half_up_div(sum(trs[i - ATR_N + 1: i + 1]), ATR_N)
        day = bars["day"].iloc[i]
        assert got[day] == (trs[i] / 100.0, atr_c / 100.0), day
        n_checked += 1
    assert len(got) == n_checked > 0


def _daily_counts(sf_dir) -> pd.DataFrame:
    e = pd.read_parquet(f"{sf_dir}/events.parquet",
                        columns=["ts", "event_type"])
    e["day"] = e["ts"].dt.strftime("%Y-%m-%d")
    return (e.groupby(["event_type", "day"]).size().rename("cnt")
             .reset_index().sort_values(["event_type", "day"],
                                        ignore_index=True))


def test_peaks_match_pandas_replay(spark, sf_dir):
    got = {(r["event_type"], r["day"]): (r["cnt"], r["prominence"])
           for r in q_ts_peak_detection(spark, sf_dir).collect()}
    d = _daily_counts(sf_dir)
    want = {}
    for et, g in d.groupby("event_type"):
        c = g["cnt"].to_numpy()
        days = g["day"].tolist()
        for i in range(1, len(c) - 1):
            if c[i] > c[i - 1] and c[i] > c[i + 1]:
                want[(et, days[i])] = (int(c[i]),
                                       int(c[i] - max(c[i - 1], c[i + 1])))
    assert got == want and len(want) > 0


def test_burst_days_match_numpy_and_exceed_threshold(spark, sf_dir):
    rows = q_ts_burst_days(spark, sf_dir).collect()
    d = _daily_counts(sf_dir)
    want = set()
    for et, g in d.groupby("event_type"):
        c = g["cnt"].to_numpy(dtype=np.int64)
        n, s, ss = len(c), int(c.sum()), int((c * c).sum())
        for day, x in zip(g["day"], c):
            t = n * int(x) - s
            if t > 0 and 4 * t * t > 9 * (n * ss - s * s):
                want.add((et, day))
    assert {(r["event_type"], r["day"]) for r in rows} == want
    for r in rows:
        assert r["z"] > 1.5  # definition: strictly above 1.5 sigma
