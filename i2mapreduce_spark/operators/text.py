"""Text-analysis operators: tf-idf, quality scoring, token counting,
language-ID, document fingerprinting.

Everything hash-checkable is pure JVM expression (built-in functions);
only language-ID and the rolling-hash fingerprint use Arrow-batched
pandas, because their semantics (char n-gram model, order-sensitive
polynomial hash) have no portable SQL form.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, functions as F

#: "stopwords" drawn from the fixture vocabulary (SQL-themed word salad)
STOPWORDS = ("a", "the", "row", "value", "table")

#: BPE-ish token pattern: word pieces, digit runs, single punctuation
TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def token_stats(df: DataFrame) -> DataFrame:
    """Whitespace-token and regex-token counts per document."""
    ws_toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    re_toks = F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), 0)
    return df.select(
        "doc_id",
        F.size(ws_toks).alias("n_ws_tokens"),
        F.size(re_toks).alias("n_re_tokens"),
        F.length("text").alias("n_chars"),
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Heuristic quality score from length / token-shape / stopword ratios.

    score = ln(1+n_tok) * (1-stop_ratio) * min(avg_token_len/6, 1).
    The ln factor is deliberate: it makes the score transcendental, so
    rounding never hits an exact decimal tie (where Spark HALF_UP and
    DuckDB HALF_EVEN disagree).  Ratio columns round at 6dp: for token
    counts <= 99 any terminating ratio has <= 6 decimals (worst case /64),
    so scale-6 rounding is the identity — again no ties.
    """
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    avg_len = (F.length("text") - (n_tok - 1)).cast("double") / n_tok
    stop_ratio = n_stop.cast("double") / n_tok
    score = F.log(1 + n_tok.cast("double")) * (1 - stop_ratio) * F.least(
        avg_len / 6, F.lit(1.0)
    )
    return df.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(avg_len, 6).alias("avg_token_len"),
        F.round(score, 4).alias("quality"),
    )


# --- language ID (char n-gram heuristic; pandas path, rows-only check) ---

_LANG_PROFILES = {
    # deterministic toy profiles: score languages by marker char-trigram
    # overlap; the fixture's lang column is word-salad so accuracy is
    # validated on the profiles' own training text in tests.
    "en": ("the", "ing", "ion", "and", "ed "),
    "de": ("der", "ein", "sch", "ung", "ich"),
    "es": ("que", "ión", "los", "ado", "nte"),
    "fr": ("les", "ent", "ion", "eur", "que"),
    "zh": ("之", "的", "了", "是", "不"),
}


def lang_id(df: DataFrame) -> DataFrame:
    """Char-trigram language guess (deterministic tie-break by lang code).

    mapInPandas: Arrow batches in, one (id, lang_guess, score) row per doc.
    """
    def guess(batches):
        for pdf in batches:
            out_id, out_lang, out_score = [], [], []
            for did, text in zip(pdf["doc_id"].values, pdf["text"].values):
                if text is None:
                    continue  # missing document: no language to guess
                tri = {text[i:i + 3] for i in range(max(len(text) - 2, 0))}
                best_lang, best = "und", -1
                for lang in sorted(_LANG_PROFILES):
                    s = sum(1 for m in _LANG_PROFILES[lang] if m in tri)
                    if s > best:
                        best_lang, best = lang, s
                out_id.append(did)
                out_lang.append(best_lang)
                out_score.append(best)
            yield pd.DataFrame(
                {"doc_id": out_id, "lang_guess": out_lang, "score": out_score}
            )

    return df.select("doc_id", "text").mapInPandas(
        guess, schema="doc_id long, lang_guess string, score int"
    )


# --- rolling-hash fingerprint (order-sensitive; pandas path) ---

_FP_BASE = 1000003
_FP_MOD = (1 << 61) - 1


def _token_int(tok: str) -> int:
    # last 8 md5 bytes, little-endian == DuckDB's md5_number_lower(tok):
    # the same token integer is computable in both engines, which is what
    # lets the fingerprint carry a real DuckDB oracle
    return int.from_bytes(hashlib.md5(tok.encode()).digest()[8:], "little")


def fingerprint(df: DataFrame) -> DataFrame:
    """Order-sensitive polynomial rolling hash over tokens:
    fp = sum(tok_int_i * BASE^i) mod (2^61-1).  Token ints come from md5
    (stable across processes — python hash() is salted and must never be
    used in distributed code); the oracle reproduces the same fold with
    list_reduce + md5_number_lower in HUGEINT arithmetic."""
    def roll(batches):
        for pdf in batches:
            ids, fps = [], []
            for did, text in zip(pdf["doc_id"].values, pdf["text"].values):
                if text is None:
                    continue  # missing document: no fingerprint
                acc, power = 0, 1
                for tok in [t for t in text.split(" ") if t]:
                    acc = (acc + _token_int(tok) * power) % _FP_MOD
                    power = (power * _FP_BASE) % _FP_MOD
                ids.append(did)
                fps.append(acc)
            yield pd.DataFrame({"doc_id": ids, "fp": fps})

    return df.select("doc_id", "text").mapInPandas(roll, schema="doc_id long, fp long")
