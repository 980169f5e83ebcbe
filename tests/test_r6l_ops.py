"""Round-6 batch-12 tests: pandas replays for cohort LTV and Pareto
concentration."""

from __future__ import annotations

import pandas as pd

from i2mapreduce_spark.queries.aggregates import (
    LTV_MAX_YEARS,
    PARETO_TARGET_PM,
    q_agg_cohort_ltv,
    q_agg_pareto_concentration,
)


def _orders(sf_dir) -> pd.DataFrame:
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_custkey", "o_orderdate", "o_totalprice"])
    o["cents"] = (o["o_totalprice"].round(2) * 100).round().astype("int64")
    return o


def test_cohort_ltv_matches_pandas_replay(spark, sf_dir):
    got = {(r["cohort_year"], r["age_years"]):
           (r["n_customers"], r["cum_revenue"], r["ltv_per_customer"])
           for r in q_agg_cohort_ltv(spark, sf_dir).collect()}
    o = _orders(sf_dir)
    first = o.groupby("o_custkey")["o_orderdate"].min().rename("first_dt")
    j = o.join(first, on="o_custkey")
    j["cohort_year"] = j["first_dt"].dt.year
    j["age_years"] = ((j["o_orderdate"] - j["first_dt"]).dt.days * 4) // 1461
    j = j[j["age_years"] <= LTV_MAX_YEARS]
    sizes = first.dt.year.value_counts().to_dict()
    cells = (j.groupby(["cohort_year", "age_years"])["cents"].sum()
              .reset_index().sort_values(["cohort_year", "age_years"]))
    cells["cum"] = cells.groupby("cohort_year")["cents"].cumsum()
    assert len(got) == len(cells)
    for _, r in cells.iterrows():
        n = sizes[r["cohort_year"]]
        cum = int(r["cum"])
        want = (n, cum / 100.0, ((2 * cum + n) // (2 * n)) / 100.0)
        assert got[(r["cohort_year"], r["age_years"])] == want
    # LTV curves are monotone nondecreasing within a cohort
    for cy in {k[0] for k in got}:
        curve = [got[k][2] for k in sorted(got) if k[0] == cy]
        assert curve == sorted(curve)


def test_pareto_matches_pandas_replay(spark, sf_dir):
    row = q_agg_pareto_concentration(spark, sf_dir).collect()[0]
    o = _orders(sf_dir)
    spend = (o.groupby("o_custkey")["cents"].sum()
              .sort_values(ascending=False))
    # replicate the (neg cents, custkey) tiebreak exactly
    ranked = sorted(zip(spend.values, spend.index),
                    key=lambda t: (-t[0], t[1]))
    total = sum(c for c, _ in ranked)
    n = len(ranked)
    cum, k80 = 0, 0
    for c, _ in ranked:
        if cum * 1000 < PARETO_TARGET_PM * total:
            k80 += 1
        cum += c
    t10 = sum(c for i, (c, _) in enumerate(ranked) if (i + 1) * 10 <= n)
    assert row["n_customers"] == n
    assert row["customers_for_80pct"] == k80
    assert row["base_share_pm"] == (2000 * k80 + n) // (2 * n)
    assert row["top_decile_rev_share"] == round(t10 / total, 6)
    # the whole point of the 80/20 view: concentration is real
    assert k80 < n
