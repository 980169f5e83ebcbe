"""Cross-branch equality for the adaptive Theil-Sen slope plan (r11).

The r11 optimization picks the sx column type ONCE per run from a
driver-side magnitude probe of the daily grain: pure BIGINT floor-divide
arithmetic through the rank sort when |dc| provably fits int64, the
sign-decomposed DECIMAL(38,0) spelling otherwise (the extreme-magnitude
regime).  The two plans must be output-identical wherever both are
exact — this pins it by running the SAME fixture through both branches
(the decimal branch forced via the monkeypatched bound).
"""

from __future__ import annotations

import i2mapreduce_spark.queries.timeseries as r6t


def _rows(df):
    return [
        (r.n_days, r.n_pairs, r.slope_cents_per_day) for r in df.collect()
    ]


def test_long_and_decimal_branches_agree(spark, sf_dir, monkeypatch):
    fast = _rows(r6t.q_ts_theil_sen(spark, sf_dir))
    monkeypatch.setattr(r6t, "TS_INT64_DC_BOUND", -1)  # force DECIMAL plan
    slow = _rows(r6t.q_ts_theil_sen(spark, sf_dir))
    assert fast == slow
    # sanity: the fixture really exercises the fast branch by default,
    # and the result is a single bounded summary row
    assert len(fast) == 1
    assert fast[0][1] == fast[0][0] * (fast[0][0] - 1) // 2
