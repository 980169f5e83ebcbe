"""Round-6 batch-7 tests: numpy/pandas replays for the profiling audits
and the exact PQ training+encoding replay."""

from __future__ import annotations

import numpy as np
import pandas as pd

from i2mapreduce_spark.queries.llmops import (
    PQ_M,
    PQ_SAMPLE,
    _pq_train,
    q_embedding_pq_codes,
)
from i2mapreduce_spark.queries.quality import (
    CORR_COLS,
    PK_COLS,
    q_dq_corr_matrix,
    q_dq_pk_profile,
)


def test_corr_matrix_matches_numpy(spark, sf_dir):
    rows = q_dq_corr_matrix(spark, sf_dir).collect()
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet", columns=CORR_COLS)
    R = np.corrcoef(li[CORR_COLS].to_numpy(dtype=np.float64).T)
    idx = {c: i for i, c in enumerate(CORR_COLS)}
    assert len(rows) == len(CORR_COLS) * (len(CORR_COLS) - 1) // 2
    for r in rows:
        want = R[idx[r["col_a"]], idx[r["col_b"]]]
        assert abs(r["corr"] - want) < 1e-4, (r["col_a"], r["col_b"])
        assert r["n_rows"] == len(li)


def test_pk_profile_matches_pandas(spark, sf_dir):
    rows = {r["col_name"]: r for r in q_dq_pk_profile(spark, sf_dir).collect()}
    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=PK_COLS)
    assert set(rows) == set(PK_COLS)
    for c in PK_COLS:
        r = rows[c]
        assert r["n_rows"] == len(o)
        assert r["n_distinct"] == o[c].nunique(dropna=True)
        assert r["n_nulls"] == int(o[c].isna().sum())
        assert r["pk_candidate"] == (
            r["n_distinct"] == len(o) and r["n_nulls"] == 0)
    assert rows["o_orderkey"]["pk_candidate"]          # the actual PK
    assert not rows["o_orderstatus"]["pk_candidate"]   # low cardinality


def test_pq_codes_match_numpy_replay(spark, sf_dir):
    got = {r["vec_id"]: r for r in q_embedding_pq_codes(spark, sf_dir).collect()}
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    emb = emb.sort_values("vec_id", ignore_index=True)
    A = np.stack(emb["embedding"].map(np.asarray)).astype(np.float64)
    books = _pq_train(A[:PQ_SAMPLE])
    dsub = A.shape[1] // PQ_M
    assert len(got) == len(emb)
    seen_codes = set()
    for i, vid in enumerate(emb["vec_id"]):
        err2 = 0.0
        for m in range(PQ_M):
            X = A[i, m * dsub: (m + 1) * dsub]
            d2 = ((X[None, :] - books[m]) ** 2).sum(axis=1)
            code = int(d2.argmin())
            assert got[vid][f"code_{m}"] == code, (vid, m)
            seen_codes.add(code)
            err2 += d2[code]
        assert abs(got[vid]["recon_err"] - round(float(np.sqrt(err2)), 4)) \
            < 1e-9
    # the codebook is actually used across its range, not collapsed
    assert len(seen_codes) > PQ_M
