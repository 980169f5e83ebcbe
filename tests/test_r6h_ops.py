"""Round-6 batch-8 tests: hashlib replay for the binary-file scan and a
python Luhn replay."""

from __future__ import annotations

import hashlib

import pandas as pd

from i2mapreduce_spark.queries.scalar_fns import q_fn_luhn_check
from i2mapreduce_spark.queries.scans import BINF_N, q_source_binary_files


def test_binary_files_roundtrip_bytes_exactly(spark, sf_dir):
    rows = {r["fname"]: r for r in q_source_binary_files(spark, sf_dir).collect()}
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text"])
    docs = docs[docs["doc_id"] < BINF_N]
    assert len(rows) == len(docs) == BINF_N
    for did, text in zip(docs["doc_id"], docs["text"]):
        r = rows[f"doc_{did:05d}.bin"]
        raw = text.encode("utf-8")
        assert r["n_bytes"] == len(raw)
        assert r["content_md5"] == hashlib.md5(raw).hexdigest()


def _luhn_py(acct: str) -> int:
    total = 0
    for i, ch in enumerate(reversed(acct)):
        d = int(ch)
        if i % 2 == 1:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return total


def test_luhn_matches_python_replay(spark, sf_dir):
    rows = q_fn_luhn_check(spark, sf_dir).collect()
    assert len(rows) > 0
    n_valid = 0
    for r in rows:
        want = _luhn_py(r["acct"])
        assert r["luhn_sum"] == want, r["acct"]
        assert r["luhn_valid"] == (want % 10 == 0)
        n_valid += r["luhn_valid"]
    assert 0 < n_valid < len(rows)  # verdict actually discriminates
    # canonical known vector: 79927398713 is Luhn-valid
    assert _luhn_py("079927398713") % 10 == 0
