"""Round-6 batch-10 tests: pandas replays for last-touch attribution
and RFM segmentation."""

from __future__ import annotations

from collections import Counter, defaultdict

import pandas as pd

from i2mapreduce_spark.queries.aggregates import q_agg_rfm_segments
from i2mapreduce_spark.queries.windows_q import ATTR_WINDOW_H, q_window_attribution


def test_attribution_matches_pandas_replay(spark, sf_dir):
    got = {r["day"]: (r["n_purchases"], r["n_attributed"],
                      r["attributed_revenue"], r["attach_pm"])
           for r in q_window_attribution(spark, sf_dir).collect()}
    e = pd.read_parquet(f"{sf_dir}/events.parquet")
    e["cents"] = (e["value"].round(2) * 100).round().astype("int64")
    e = e.sort_values(["user_id", "ts", "event_id"])
    daily = defaultdict(lambda: [0, 0, 0])  # n, attributed, cents
    for _, g in e.groupby("user_id"):
        last_click = None
        for _, row in g.iterrows():
            if row.event_type == "purchase":
                day = row.ts.strftime("%Y-%m-%d")
                daily[day][0] += 1
                if last_click is not None and \
                        (row.ts - last_click).total_seconds() \
                        <= ATTR_WINDOW_H * 3600:
                    daily[day][1] += 1
                    daily[day][2] += int(row.cents)
            if row.event_type == "click":
                last_click = row.ts
    assert len(got) == len(daily)
    for day, (n, na, ac) in daily.items():
        want = (n, na, ac / 100.0, (2000 * na + n) // (2 * n))
        assert got[day] == want, day
    assert sum(v[1] for v in daily.values()) > 0  # attribution fires


def test_rfm_cells_partition_customers_and_balance_quintiles(spark, sf_dir):
    rows = q_agg_rfm_segments(spark, sf_dir).collect()
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_custkey", "o_orderdate", "o_totalprice"])
    n_cust = o["o_custkey"].nunique()
    assert sum(r["n_customers"] for r in rows) == n_cust
    assert abs(sum(r["rev_share"] for r in rows) - 1.0) < 1e-3
    # per-dimension quintile counts must be balanced (equal-rank cut)
    for dim in range(3):
        counts = Counter()
        for r in rows:
            q = int(r["rfm_cell"].split("-")[dim])
            assert 1 <= q <= 5
            counts[q] += r["n_customers"]
        assert set(counts) == {1, 2, 3, 4, 5}
        assert max(counts.values()) - min(counts.values()) <= 1
    # replay the monetary quintile exactly: top-spend customers are m=5
    cents = (o.assign(c=(o["o_totalprice"].round(2) * 100).round()
                      .astype("int64"))
             .groupby("o_custkey")["c"].sum())
    ranked = sorted(cents.items(), key=lambda t: (t[1], t[0]))
    m5 = {k for i, (k, _) in enumerate(ranked)
          if (i * 5) // len(ranked) + 1 == 5}
    got_m5 = sum(r["n_customers"] for r in rows
                 if r["rfm_cell"].endswith("-5"))
    assert got_m5 == len(m5)
