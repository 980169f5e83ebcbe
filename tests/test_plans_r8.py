"""Round-8 plan-shape guards: pin the two physical properties the r8
performance work depends on.  Either can silently regress (a later
edit re-adding a pandas kernel, or a checkpoint losing its
partitioning) while every row-level result stays correct.
"""

from __future__ import annotations

import re

import numpy as np


def test_ann_candidate_scoring_stays_jvm_side(spark):
    """_score_id_pairs must score candidates with zip_with/aggregate in
    whole-stage codegen — the pre-r8 Arrow kernel shipped every pair's
    two vectors into Python (~1 KB/pair) and measured 10x slower on the
    sf1 fixture's 4.2M candidates.  No Python eval node of any flavor
    may appear in its physical plan."""
    from i2mapreduce_spark.operators.similarity import _score_id_pairs

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    cand = spark.createDataFrame([(1, 2), (3, 4)], "vec_id long, nbr long")
    plan = (
        _score_id_pairs(cand, emb)
        ._jdf.queryExecution().executedPlan().toString()
    )
    python_nodes = [
        t for t in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                    "FlatMapGroupsInPandas")
        if t in plan
    ]
    assert python_nodes == [], f"scoring fell back to Python: {python_nodes}"


def test_als_user_solve_reuses_ratings_exchange(spark):
    """The ALS U-solve must run with ZERO exchanges: ratings are
    repartitioned on `user` once at build time and checkpointed, and the
    checkpointed LogicalRDD carries that hashpartitioning, so the
    per-partition sort + mapInPandas batched solve needs no shuffle.
    One accidental exchange here re-shuffles the (unbounded) ratings
    frame three times per training run."""
    from i2mapreduce_spark.queries.iterative import _init_item_factors, _solve_users

    ratings = (
        spark.createDataFrame(
            [(i % 7, i % 3, float(i)) for i in range(50)],
            "user long, item long, rating double",
        )
        .repartition(4, "user")
        .localCheckpoint(eager=True)
    )
    V0 = _init_item_factors()
    fac = {i: V0[i] for i in range(3)}
    plan = (
        _solve_users(ratings, fac, spark)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"Exchange", plan)) == 0, plan


def test_als_batched_solve_matches_per_user_ridge(spark):
    """The vectorized segment-sum solve must equal the per-user ridge
    solve it replaced (same normal equations, numpy reference), and be
    correct when a user's rows straddle Arrow batch boundaries — forced
    here with a 5-row batch size over users whose groups span it."""
    from i2mapreduce_spark.queries.iterative import (
        ALS_LAMBDA,
        ALS_RANK,
        _init_item_factors,
        _solve_users,
    )

    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        rows = [(u, i, float(1 + (u * 7 + i * 3) % 11))
                for u in range(9) for i in range(u % 4 + 1)]
        ratings = (
            spark.createDataFrame(rows, "user long, item long, rating double")
            .repartition(2, "user")
            .localCheckpoint(eager=True)
        )
        V0 = _init_item_factors()
        fac = {i: V0[i] for i in range(4)}
        got = {r["user"]: np.array([r[f"f{k}"] for k in range(ALS_RANK)])
               for r in _solve_users(ratings, fac, spark).collect()}
        assert set(got) == set(range(9))
        for u in range(9):
            mine = sorted((i, r) for uu, i, r in rows if uu == u)
            V = np.stack([fac[i] for i, _ in mine])
            r = np.array([x for _, x in mine])
            A = V.T @ V + ALS_LAMBDA * len(r) * np.eye(ALS_RANK)
            want = np.linalg.solve(A, V.T @ r)
            assert np.allclose(got[u], want, atol=1e-12), (u, got[u], want)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old_batch)
