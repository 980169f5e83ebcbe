"""Round-6 surface tests: goldens/guarantees beyond the DuckDB oracles
(the two rows-only keys get independent replays; the hash-checked ones
get the invariants the oracle can't express)."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest

from i2mapreduce_spark.catalog import load_tables
from i2mapreduce_spark.queries.aggregates import CMS_WIDTH, q_agg_count_min_sketch
from i2mapreduce_spark.queries.joins import BLOOM_TOPN, q_join_bloom_prefilter
from i2mapreduce_spark.queries.llmops import (
    MMR_CANDS,
    MMR_K,
    MMR_LAMBDA,
    MMR_N_QUERIES,
    PARA_CHUNK_WORDS,
    q_dedup_paragraph,
    q_sim_mmr_rerank,
)
from i2mapreduce_spark.queries.pipelines import q_pipeline_importance_sample


def _md5_le_py(s: str, n_bytes: int) -> int:
    return int.from_bytes(hashlib.md5(s.encode()).digest()[8 : 8 + n_bytes],
                          "little")


def test_mmr_matches_numpy_greedy_golden(spark, sf_dir):
    got = (
        q_sim_mmr_rerank(spark, sf_dir)
        .orderBy("q_id", "rank")
        .collect()
    )
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    V = np.stack(emb["embedding"].map(np.asarray)).astype(np.float64)
    ids = emb["vec_id"].to_numpy()
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims_all = Vn @ Vn.T
    want = []
    for q in sorted(ids[ids < MMR_N_QUERIES]):
        qi = int(np.where(ids == q)[0][0])
        order = [
            i
            for i in np.lexsort((ids, -sims_all[qi]))
            if ids[i] != q
        ][:MMR_CANDS]
        picked: list[int] = []
        for _ in range(MMR_K):
            best, best_score = None, None
            for i in order:
                if i in picked:
                    continue
                div = max(sims_all[i][j] for j in picked) if picked else 0.0
                score = MMR_LAMBDA * sims_all[qi][i] - (1 - MMR_LAMBDA) * div
                if best is None or score > best_score:
                    best, best_score = i, score
            picked.append(best)
        for rank, i in enumerate(picked, 1):
            want.append((int(q), rank, int(ids[i])))
    assert [(r.q_id, r.rank, r.picked_id) for r in got] == want


def test_cms_guarantees(spark, sf_dir):
    """est >= true always (CMS never undercounts); overshoot bounded by
    2N/W (generous vs the e/W expectation, tight enough to catch a
    broken hash/bucketing)."""
    rows = q_agg_count_min_sketch(spark, sf_dir).collect()
    load_tables(spark, sf_dir)
    n_total = spark.table("lineitem").count()
    assert len(rows) > 0
    for r in rows:
        assert r.est_cnt >= r.true_cnt, r
        assert r.est_cnt - r.true_cnt <= 2 * n_total / CMS_WIDTH, r


def test_importance_sample_matches_python_replay(spark, sf_dir):
    got = q_pipeline_importance_sample(spark, sf_dir).collect()[0]
    d = pd.read_parquet(f"{sf_dir}/documents.parquet",
                        columns=["doc_id", "n_chars"])
    keep = d[
        d.apply(
            lambda r: _md5_le_py(str(r["doc_id"]), 2) * 1000
            < min(r["n_chars"], 1000) * 65536,
            axis=1,
        )
    ]
    assert got.n_sampled == len(keep)
    assert got.sampled_chars == int(keep["n_chars"].sum())


def test_dedup_paragraph_conservation(spark, sf_dir):
    """Sum of kept chunks == number of DISTINCT chunks in the corpus;
    every doc keeps at least 0 and at most its own chunk count."""
    rows = q_dedup_paragraph(spark, sf_dir).collect()
    d = pd.read_parquet(f"{sf_dir}/documents.parquet",
                        columns=["doc_id", "text"])
    chunks = set()
    n_chunks_total = 0
    for t in d["text"]:
        ws = t.split(" ")
        for i in range(0, len(ws), PARA_CHUNK_WORDS):
            chunks.add(" ".join(ws[i : i + PARA_CHUNK_WORDS]))
            n_chunks_total += 1
    assert sum(r.n_kept for r in rows) == len(chunks)
    assert sum(r.n_chunks for r in rows) == n_chunks_total
    assert all(0 <= r.n_kept <= r.n_chunks for r in rows)


def test_bloom_prefilter_equals_plain_semijoin(spark, sf_dir):
    """The bloom stage must not change the RESULT (false positives are
    removed by the exact join; false negatives are impossible)."""
    from pyspark.sql import Window, functions as F

    got = {
        (r.o_custkey, r.n_orders)
        for r in q_join_bloom_prefilter(spark, sf_dir).collect()
    }
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    top = (
        o.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("v"))
        .withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.col("v").desc(), "o_custkey")),
        )
        .filter(F.col("rn") <= BLOOM_TOPN)
        .select("o_custkey")
    )
    want = {
        (r.o_custkey, r.n_orders)
        for r in o.join(top, "o_custkey", "left_semi")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .collect()
    }
    assert got == want and len(got) == BLOOM_TOPN


def test_global_running_sum_matches_global_window(spark, sf_dir):
    """The chunked-offset prefix sum is bit-identical to
    SUM() OVER (ORDER BY ...) for a unique total order (exact types)."""
    from pyspark.sql import Window, functions as F

    from i2mapreduce_spark.operators.ranking import global_running_sum

    load_tables(spark, sf_dir)
    per_cust = (
        spark.table("orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100)
                  .cast("long")).alias("cents"),
        )
    )
    got = (
        global_running_sum(per_cust, ["o_custkey"], ["n", "cents"])
        .orderBy("o_custkey")
        .select("o_custkey", "cum_n", "cum_cents")
        .collect()
    )
    w = Window.orderBy("o_custkey").rowsBetween(Window.unboundedPreceding, 0)
    want = (
        per_cust.select(
            "o_custkey",
            F.sum("n").over(w).cast("long").alias("cum_n"),
            F.sum("cents").over(w).cast("long").alias("cum_cents"),
        )
        .orderBy("o_custkey")
        .collect()
    )
    assert got == want


def test_macd_fixed_point_matches_python_replay(spark, sf_dir):
    """The fixed-point EMA recursion replayed in pure-python ints."""
    from i2mapreduce_spark.queries.windows_q import (
        MACD_FAST,
        MACD_SIGNAL,
        MACD_SLOW,
        MACD_TRUNC,
        q_window_macd,
    )

    got = {r.day: r for r in q_window_macd(spark, sf_dir).collect()}
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderdate", "o_totalprice"])
    day = pd.to_datetime(o["o_orderdate"]).dt.strftime("%Y-%m-%d")
    cents = ((o["o_totalprice"].round(2) * 100).round().astype("int64")
             .groupby(day).sum().sort_index())

    def ema_fix(xs, span):
        acc = xs[0]
        for x in xs[1:]:
            acc = (2 * (2 * x + (span - 1) * acc) + (span + 1)) // (
                2 * (span + 1)
            )
        return acc

    days = cents.index.to_numpy()
    vals = [int(v) for v in cents.to_numpy()]
    mc = {}
    for i in range(MACD_TRUNC - 1, len(vals)):
        xs = vals[i - MACD_TRUNC + 1 : i + 1]
        mc[days[i]] = ema_fix(xs, MACD_FAST) - ema_fix(xs, MACD_SLOW)
    mdays = sorted(mc)
    assert len(got) == max(len(mdays) - MACD_TRUNC + 1, 0)
    OFF = 10 ** 12
    for i in range(MACD_TRUNC - 1, len(mdays)):
        ms = [mc[d] + OFF for d in mdays[i - MACD_TRUNC + 1 : i + 1]]
        sc = ema_fix(ms, MACD_SIGNAL) - OFF
        r = got[mdays[i]]
        assert r.macd == mc[mdays[i]] / 100.0, mdays[i]
        assert r.signal == sc / 100.0, mdays[i]
        want = ("bullish" if mc[mdays[i]] > sc
                else "bearish" if mc[mdays[i]] < sc else "cross")
        assert r.stance == want


def test_welch_ttest_matches_numpy(spark, sf_dir):
    from i2mapreduce_spark.queries.aggregates import TT_A, TT_B, q_agg_welch_ttest

    r = q_agg_welch_ttest(spark, sf_dir).collect()[0]
    e = pd.read_parquet(f"{sf_dir}/events.parquet",
                        columns=["event_type", "value"])
    x = e[e.event_type == TT_A]["value"].to_numpy(dtype=np.float64)
    y = e[e.event_type == TT_B]["value"].to_numpy(dtype=np.float64)
    se1 = x.var(ddof=1) / len(x)
    se2 = y.var(ddof=1) / len(y)
    t = (x.mean() - y.mean()) / np.sqrt(se1 + se2)
    df = (se1 + se2) ** 2 / (se1 ** 2 / (len(x) - 1) + se2 ** 2 / (len(y) - 1))
    assert r.n1 == len(x) and r.n2 == len(y)
    assert r.t_stat == pytest.approx(t, abs=2e-4)
    assert r.df == pytest.approx(df, rel=1e-4)


def test_chi_square_cells_match_numpy(spark, sf_dir):
    from i2mapreduce_spark.queries.aggregates import q_agg_chi_square

    rows = q_agg_chi_square(spark, sf_dir).collect()
    e = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "ts"])
    dow = pd.to_datetime(e["ts"]).dt.dayofweek  # Mon=0
    # Spark dayofweek: Sun=1..Sat=7
    spark_dow = ((dow + 1) % 7) + 1
    ct = pd.crosstab(e["event_type"], spark_dow)
    n = ct.to_numpy().sum()
    for r in rows:
        o = ct.loc[r.event_type, r.dow]
        exp = ct.loc[r.event_type].sum() * ct[r.dow].sum() / n
        assert r.o == o
        assert r.expected == pytest.approx(exp, abs=1e-6)
        assert r.contribution == pytest.approx((o - exp) ** 2 / exp, abs=1e-6)


def test_ks_test_matches_numpy(spark, sf_dir):
    from i2mapreduce_spark.queries.aggregates import q_agg_ks_test

    r = q_agg_ks_test(spark, sf_dir).collect()[0]
    e = pd.read_parquet(f"{sf_dir}/events.parquet",
                        columns=["event_type", "value"])
    x = np.sort(e[e.event_type == "click"]["value"].to_numpy())
    y = np.sort(e[e.event_type == "purchase"]["value"].to_numpy())
    grid = np.unique(np.concatenate([x, y]))
    f1 = np.searchsorted(x, grid, side="right") / len(x)
    f2 = np.searchsorted(y, grid, side="right") / len(y)
    d = np.abs(f1 - f2).max()
    assert r.n1 == len(x) and r.n2 == len(y)
    assert r.ks_d == pytest.approx(d, abs=1e-6)


def test_mann_whitney_matches_numpy(spark, sf_dir):
    from i2mapreduce_spark.queries.aggregates import q_agg_mann_whitney

    r = q_agg_mann_whitney(spark, sf_dir).collect()[0]
    e = pd.read_parquet(f"{sf_dir}/events.parquet",
                        columns=["event_type", "value"])
    x = e[e.event_type == "click"]["value"].to_numpy()
    y = e[e.event_type == "purchase"]["value"].to_numpy()
    pooled = np.concatenate([x, y])
    order = pd.Series(pooled).rank(method="average").to_numpy()
    r1 = order[: len(x)].sum()
    u1 = r1 - len(x) * (len(x) + 1) / 2
    n1, n2 = len(x), len(y)
    nn = n1 + n2
    _, counts = np.unique(pooled, return_counts=True)
    tie_t = (counts ** 3 - counts).sum()
    var = n1 * n2 / 12 * ((nn + 1) - tie_t / (nn * (nn - 1)))
    z = (u1 - n1 * n2 / 2) / np.sqrt(var)
    assert r.n1 == n1 and r.n2 == n2
    assert r.u1 == pytest.approx(u1, abs=1e-9)
    assert r.z == pytest.approx(z, abs=1e-6)
