"""Round-6 batch-9 test: python fixed-point replay of the Keltner
channel (EMA fold + ATR) against the Spark plan."""

from __future__ import annotations

import pandas as pd

from i2mapreduce_spark.queries.windows_q import (
    KELT_ATR,
    KELT_EMA,
    KELT_TRUNC,
    q_window_keltner,
)


def _ema_fix_py(xs: list[int], span: int) -> int:
    acc = xs[0]
    for x in xs[1:]:
        acc = (2 * (2 * x + (span - 1) * acc) + (span + 1)) // (2 * (span + 1))
    return acc


def test_keltner_matches_python_fixed_point_replay(spark, sf_dir):
    got = {r["day"]: (r["middle"], r["upper"], r["lower"], r["position"])
           for r in q_window_keltner(spark, sf_dir).collect()}
    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_orderkey", "l_linenumber", "l_shipdate",
                 "l_extendedprice"],
    )
    li["day"] = li["l_shipdate"].dt.strftime("%Y-%m-%d")
    li["cents"] = (li["l_extendedprice"].round(2) * 100).round().astype("int64")
    li = li.sort_values(["day", "l_orderkey", "l_linenumber"])
    bars = (li.groupby("day")
              .agg(h=("cents", "max"), l=("cents", "min"),
                   c=("cents", "last"))
              .reset_index().sort_values("day", ignore_index=True))
    closes, trs = [], []
    pc = None
    for _, b in bars.iterrows():
        hl = int(b.h - b.l)
        trs.append(hl if pc is None else max(
            hl, abs(int(b.h) - pc), abs(int(b.l) - pc)))
        closes.append(int(b.c))
        pc = int(b.c)
    n_checked = 0
    for i in range(KELT_TRUNC - 1, len(closes)):
        mid = _ema_fix_py(closes[i - KELT_TRUNC + 1: i + 1], KELT_EMA)
        atr = (2 * sum(trs[i - KELT_ATR + 1: i + 1]) + KELT_ATR) \
            // (2 * KELT_ATR)
        c = closes[i]
        pos = ("above_band" if c > mid + 2 * atr
               else "below_band" if c < mid - 2 * atr else "inside")
        day = bars["day"].iloc[i]
        assert got[day] == (mid / 100.0, (mid + 2 * atr) / 100.0,
                            (mid - 2 * atr) / 100.0, pos), day
        n_checked += 1
    assert len(got) == n_checked > 0
