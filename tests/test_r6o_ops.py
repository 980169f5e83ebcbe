"""ALS factorization properties: convergence and determinism — the
claims a rows-only trained artifact must prove in pytest.
"""

from __future__ import annotations

from i2mapreduce_spark.catalog import load_tables
from i2mapreduce_spark.queries.iterative import q_iter_als_topitems


def _global_rmse(rows) -> float:
    num = sum(r["n_ratings"] * r["rmse"] ** 2 for r in rows)
    den = sum(r["n_ratings"] for r in rows)
    return (num / den) ** 0.5


def test_als_converges_and_is_deterministic(spark, sf_dir):
    load_tables(spark, sf_dir)
    one = q_iter_als_topitems(spark, sf_dir, iters=1).collect()
    three_a = q_iter_als_topitems(spark, sf_dir, iters=3).collect()
    three_b = q_iter_als_topitems(spark, sf_dir, iters=3).collect()
    # more alternating sweeps strictly reduce training error
    assert _global_rmse(three_a) < _global_rmse(one)
    # no RNG, sorted in-group float sums -> bit-identical retrain
    key = lambda r: r["item"]  # noqa: E731
    assert sorted(three_a, key=key) == sorted(three_b, key=key)
    # every top item trained and carries its factors
    assert len(three_a) == len({r["item"] for r in three_a})
    assert all(r["n_ratings"] >= 1 for r in three_a)
