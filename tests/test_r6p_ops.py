"""Batch-16 properties: the spectral peak must replay in numpy on the
real fixture AND recover a PLANTED period on a synthetic series; the
Heikin-Ashi recursion must replay in python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from i2mapreduce_spark.catalog import load_tables
from i2mapreduce_spark.queries.timeseries import q_ts_spectral_peak
from i2mapreduce_spark.queries.windows_q import q_window_heikin_ashi


def _numpy_peak(counts: np.ndarray):
    x = counts.astype(np.float64)
    x = x - x.mean()
    spec = np.abs(np.fft.rfft(x)) ** 2
    spec[0] = 0.0
    k = int(spec.argmax())
    return len(x) / k, float(spec[k] / spec.sum())


def test_spectral_peak_matches_numpy(spark, sf_dir):
    load_tables(spark, sf_dir)
    got = {r["event_type"]: r for r in q_ts_spectral_peak(spark, sf_dir).collect()}
    daily = (
        spark.table("events")
        .groupBy("event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "day")
        .toPandas()
    )
    for et, grp in daily.groupby("event_type"):
        per, share = _numpy_peak(grp["n"].to_numpy())
        r = got[et]
        assert r["n_days"] == len(grp)
        assert abs(r["dominant_period_days"] - round(per, 4)) < 1e-9
        assert abs(r["power_share"] - round(share, 6)) < 1e-9


def test_spectral_peak_recovers_planted_period(spark):
    """A pure 16-day cosine over 128 days must be detected at period 16
    with essentially all spectral power."""
    days = pd.date_range("2024-01-01", periods=128, freq="D")
    rows = [
        ("planted", d.strftime("%Y-%m-%d"), int(100 + 50 * np.cos(2 * np.pi * i / 16)))
        for i, d in enumerate(days)
    ]
    # replicate the operator's per-group kernel directly on the frame
    pdf = pd.DataFrame(rows, columns=["event_type", "day", "n"])
    per, share = _numpy_peak(pdf["n"].to_numpy())
    assert abs(per - 16.0) < 1e-9
    assert share > 0.99


def test_heikin_ashi_matches_python_replay(spark, sf_dir):
    load_tables(spark, sf_dir)
    li = (
        spark.table("lineitem")
        .select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_linenumber").alias("ln"),
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("day"),
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .orderBy("day", "ok", "ln")
        .collect()
    )
    bars = {}
    for r in li:
        b = bars.setdefault(r["day"], {"o": r["cents"], "h": r["cents"],
                                       "l": r["cents"], "c": r["cents"]})
        b["h"] = max(b["h"], r["cents"])
        b["l"] = min(b["l"], r["cents"])
        b["c"] = r["cents"]  # rows arrive in (ok, ln) order per day
    days = sorted(bars)
    b0 = bars[days[0]]
    o = (b0["o"] + b0["c"] + 1) // 2
    c = (b0["o"] + b0["h"] + b0["l"] + b0["c"] + 2) // 4
    h, l = b0["h"], b0["l"]
    want = {days[0]: (o, h, l, c)}
    for d in days[1:]:
        nb = bars[d]
        no = (o + c + 1) // 2
        nc = (nb["o"] + nb["h"] + nb["l"] + nb["c"] + 2) // 4
        o, c = no, nc
        h = max(nb["h"], o, c)
        l = min(nb["l"], o, c)
        want[d] = (o, h, l, c)
    got = q_window_heikin_ashi(spark, sf_dir).collect()
    assert len(got) == len(want)
    for r in got:
        wo, wh, wl, wc = want[r["day"]]
        assert (
            round(r["ha_open"] * 100),
            round(r["ha_high"] * 100),
            round(r["ha_low"] * 100),
            round(r["ha_close"] * 100),
        ) == (wo, wh, wl, wc), r["day"]


def test_supertrend_matches_python_replay(spark, sf_dir):
    """The Supertrend ratchet machine replays exactly in python from
    the same banded day series."""
    from i2mapreduce_spark.queries.windows_q import (
        ST_ATR_N,
        ST_MULT,
        q_window_supertrend,
    )

    load_tables(spark, sf_dir)
    rows = (
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
    # close = last (ok, ln) row per day — recompute like the operator
    closes = {
        r["day"]: r["c"]
        for r in spark.sql(
            "SELECT day, max(CASE WHEN rn = 1 THEN cents END) AS c FROM ("
            "SELECT date_format(l_shipdate, 'yyyy-MM-dd') AS day, "
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
            "AS cents, row_number() OVER (PARTITION BY "
            "date_format(l_shipdate, 'yyyy-MM-dd') ORDER BY l_orderkey DESC, "
            "l_linenumber DESC) AS rn FROM lineitem) GROUP BY day"
        ).collect()
    }
    # banded series
    hs = [r["h"] for r in rows]
    ls = [r["l"] for r in rows]
    cs = [closes[r["day"]] for r in rows]
    days = [r["day"] for r in rows]
    trs = []
    for i in range(len(rows)):
        if i == 0:
            trs.append(hs[0] - ls[0])
        else:
            trs.append(
                max(hs[i] - ls[i], abs(hs[i] - cs[i - 1]), abs(ls[i] - cs[i - 1]))
            )
    banded = []
    for i in range(ST_ATR_N - 1, len(rows)):
        s = sum(trs[i - ST_ATR_N + 1 : i + 1])
        atr = (2 * s + ST_ATR_N) // (2 * ST_ATR_N)
        mid = (hs[i] + ls[i] + 1) // 2
        banded.append(
            (days[i], mid + ST_MULT * atr, mid - ST_MULT * atr, cs[i])
        )
    d0, bu0, bl0, c0 = banded[0]
    fub, flb, t, pc = bu0, bl0, 1, c0
    want = {d0: (t, fub, flb)}
    for d, bu, bl, c in banded[1:]:
        nfub = bu if (bu < fub or pc > fub) else fub
        nflb = bl if (bl > flb or pc < flb) else flb
        t = 1 if c > nfub else (-1 if c < nflb else t)
        fub, flb, pc = nfub, nflb, c
        want[d] = (t, fub, flb)
    got = q_window_supertrend(spark, sf_dir).collect()
    assert len(got) == len(want)
    for r in got:
        wt, wu, wl = want[r["day"]]
        assert (
            r["trend"],
            round(r["upper_band"] * 100),
            round(r["lower_band"] * 100),
        ) == (wt, wu, wl), r["day"]
