"""Group V — UDF / UDAF / UDTF surface (SURVEY §2B).

Reference analog: in MapReduce *everything* is a UDF — map() and reduce()
are arbitrary Java.  Spark inverts that: built-ins cover groups P-X, and
this group demonstrates the four escape hatches in cost order:
row-at-a-time Python UDF (slowest, shown once deliberately), Arrow-batched
pandas UDF, grouped-map applyInPandas (reduce-style per-key fold), and
UDTF-as-explode (flatMap).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf

from ..catalog import load_tables


def q_udf_python_scalar(spark, sf_dir):
    """Row-at-a-time Python UDF (deliberately the slow path, for surface
    coverage — everything else in this repo uses built-ins or Arrow).
    Defined lazily: udf() needs an active session."""
    load_tables(spark, sf_dir)

    @udf("string")
    def priority_code(p: str) -> str:
        return p.split("-", 1)[1].lower()

    o = spark.table("orders")
    return o.select("o_orderkey", priority_code("o_orderpriority").alias("prio_code"))


def q_udf_pandas_vectorized(spark, sf_dir):
    """Vectorized Arrow UDF: one numpy matmul per batch, ~100x the
    row-at-a-time throughput."""
    load_tables(spark, sf_dir)

    @pandas_udf("double")
    def l2_norm(vecs: pd.Series) -> pd.Series:
        M = np.stack(vecs.values).astype(np.float64)
        return pd.Series(np.sqrt((M * M).sum(axis=1)))

    e = spark.table("embeddings")
    return e.select("vec_id", F.round(l2_norm("embedding"), 4).alias("l2_norm"))


def q_udf_grouped_map(spark, sf_dir):
    """Per-language z-score of n_chars via applyInPandas (grouped-map).

    The reference shape: reduce(K, Iterable<V>) with arbitrary per-group
    logic (ref op A4) — here each language group arrives as one pandas
    DataFrame.  ddof=1 to match stddev_samp in the oracle.
    """
    load_tables(spark, sf_dir)
    d = spark.table("documents").select("doc_id", "lang", "n_chars")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["n_chars"].mean()
        sd = pdf["n_chars"].std(ddof=1)
        # undefined spread (single row -> sd NaN, constant group -> sd 0)
        # leaves the z-score undefined: NaN, matching the oracle's
        # (x - mu) / stddev_samp which is NULL->NaN on both conditions
        z = (
            (pdf["n_chars"] - mu) / sd
            if sd and sd > 0
            else pdf["n_chars"] * float("nan")
        )
        # + 0.0 canonicalizes the sign of rounded zero (same class as fn_trig)
        return pd.DataFrame(
            {"doc_id": pdf["doc_id"], "lang": pdf["lang"], "z": z.round(4) + 0.0}
        )

    return d.groupBy("lang").applyInPandas(zscore, schema="doc_id long, lang string, z double")


def q_udaf_weighted_avg(spark, sf_dir):
    """Discount-weighted average price per returnflag — UDAF-equivalent via
    grouped-map pandas (sum(w*x)/sum(w))."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem").select("l_returnflag", "l_extendedprice", "l_discount")

    def wavg(pdf: pd.DataFrame) -> pd.DataFrame:
        w = pdf["l_discount"]
        x = pdf["l_extendedprice"]
        v = (w * x).sum() / w.sum() if w.sum() else float("nan")
        return pd.DataFrame({"l_returnflag": [pdf["l_returnflag"].iloc[0]], "wavg_price": [round(v, 4)]})

    return li.groupBy("l_returnflag").applyInPandas(
        wavg, schema="l_returnflag string, wavg_price double"
    )


def q_udtf_split_props(spark, sf_dir):
    """UDTF-style table function: one row per parsed JSON key of props.
    UDTF ≡ flatMap (ref op A1); realized as explode over a parsed map —
    stays JVM-side, no Python."""
    load_tables(spark, sf_dir)
    ev = spark.table("events")
    kv = F.explode(F.from_json("props", "map<string,string>")).alias("key", "val")
    return ev.select("event_id", kv).select(
        "event_id", F.col("key"), F.col("val").cast("int").alias("val")
    )


def q_udtf_python_native(spark, sf_dir):
    """A REAL Python UDTF (Spark 4 `@udtf`): arbitrary-arity row expansion
    with imperative logic — registered and invoked via LATERAL, the
    full table-function surface (vs q_udtf_split_props' JVM explode)."""
    load_tables(spark, sf_dir)
    from pyspark.sql.functions import udtf

    @udtf(returnType="key string, val int")
    class SplitProps:
        def eval(self, props: str):
            import json

            if props is None:
                return  # missing payload: a flatMap yields nothing
            for k, v in sorted(json.loads(props).items()):
                yield k, int(v)

    spark.udtf.register("split_props_py", SplitProps)
    return spark.sql(
        "SELECT e.event_id, s.key, s.val"
        " FROM events e, LATERAL split_props_py(e.props) s"
    )


KMV_K = 64
KMV_BITS = 60  # 15 md5 hex chars -> fits signed BIGINT in both engines


def q_udaf_kmv_distinct(spark, sf_dir):
    """Custom SKETCH UDAF: KMV (k-minimum-values) distinct-count estimate
    of l_partkey per l_returnflag — a true pandas grouped-agg UDAF over a
    JVM-computed 60-bit md5 hash.  Unlike HLL, KMV with a fixed hash is
    fully DETERMINISTIC, so a sketch — normally rows-only territory —
    hash-checks exactly against DuckDB replaying the same algebra.
    est = (k-1) / (kth_min / 2^60); groups with < k distinct values fall
    back to the exact count (the standard KMV rule).

    100TB: the hash is computed map-side; the UDAF's per-group input is
    the hashed column only.  (Production note: k-min-values admits a
    partial-aggregate merge — union the k-min sets — which Spark's
    grouped-agg pandas UDAF cannot express; at cluster scale the same
    estimator runs as the window/rank formulation in the oracle.)"""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem").select(
        "l_returnflag",
        F.conv(F.substring(F.md5(F.col("l_partkey").cast("string")), 18, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )

    @pandas_udf("double")
    def kmv_est(h: pd.Series) -> float:
        u = np.unique(h.values)
        if len(u) < KMV_K:
            return float(len(u))
        kth = float(np.sort(u)[KMV_K - 1])
        return (KMV_K - 1) * float(2 ** KMV_BITS) / kth

    # a pandas grouped-agg UDAF cannot mix with native aggregates in one
    # agg() — the exact count is a second (trivial) sketch UDAF
    @pandas_udf("long")
    def exact_distinct(h: pd.Series) -> int:
        return int(np.unique(h.values).size)

    return li.groupBy("l_returnflag").agg(
        F.round(kmv_est("h"), 2).alias("kmv_estimate"),
        exact_distinct("h").alias("exact_distinct"),
    )


def q_udaf_geometric_mean(spark, sf_dir):
    """Geometric mean per priority as a PANDAS (Arrow) GROUPED-AGG UDAF
    — the custom-aggregate extension point, exercised with the mean
    that plain SQL lacks.  Cross-engine determinism: the UDAF sorts the
    group's values and folds log() SEQUENTIALLY (a numpy .sum would
    pairwise-reduce in a different order than any SQL fold), and python
    and DuckDB share the platform libm, so the oracle's ordered
    list_reduce of ln() reproduces the identical double stream."""
    import math

    import pandas as pd

    load_tables(spark, sf_dir)

    def gmean(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = 0.0
        vals = sorted(float(t) for t in pdf["v"])
        for x in vals:
            acc += math.log(x)
        return pd.DataFrame(
            {
                "o_orderpriority": [pdf["o_orderpriority"].iloc[0]],
                "n": [len(vals)],
                "geometric_mean": [round(math.exp(acc / len(vals)), 6)],
            }
        )

    o = spark.table("orders").select(
        "o_orderpriority", F.col("o_totalprice").cast("double").alias("v")
    )
    return o.groupBy("o_orderpriority").applyInPandas(
        gmean,
        schema="o_orderpriority string, n long, geometric_mean double",
    )


QUERIES = {
    "udaf_kmv_distinct": q_udaf_kmv_distinct,
    "udf_python_scalar": q_udf_python_scalar,
    "udf_pandas_vectorized": q_udf_pandas_vectorized,
    "udf_grouped_map": q_udf_grouped_map,
    "udaf_weighted_avg": q_udaf_weighted_avg,
    "udtf_split_props": q_udtf_split_props,
    "udtf_python_native": q_udtf_python_native,
    "udaf_geometric_mean": q_udaf_geometric_mean,
}

ORACLES = {
    "udaf_kmv_distinct": (
        "WITH h AS (SELECT DISTINCT l_returnflag, "
        "('0x' || substr(md5(l_partkey::VARCHAR), 18, 15))::BIGINT AS h "
        "FROM lineitem), "
        "rk AS (SELECT l_returnflag, h, "
        "row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn, "
        "count(*) OVER (PARTITION BY l_returnflag) AS nd FROM h) "
        f"SELECT l_returnflag, round(CASE WHEN nd < {KMV_K} THEN nd::DOUBLE "
        f"ELSE {KMV_K - 1} * CAST(pow(2, {KMV_BITS}) AS DOUBLE) / h::DOUBLE END, 2) "
        "AS kmv_estimate, CAST(max(nd) OVER (PARTITION BY l_returnflag) AS BIGINT) "
        "AS exact_distinct "
        f"FROM rk WHERE rn = (CASE WHEN nd < {KMV_K} THEN 1 ELSE {KMV_K} END)"
    ),
    "udf_python_scalar": (
        "SELECT o_orderkey, lower(split_part(o_orderpriority, '-', 2)) AS prio_code "
        "FROM orders"
    ),
    "udf_pandas_vectorized": (
        "SELECT vec_id, round(sqrt(list_sum(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm FROM embeddings"
    ),
    "udf_grouped_map": (
        "SELECT doc_id, lang, "
        "round((n_chars - avg(n_chars) OVER (PARTITION BY lang)) "
        "/ stddev_samp(n_chars) OVER (PARTITION BY lang), 4) + 0.0 AS z "
        "FROM documents"
    ),
    "udaf_weighted_avg": (
        "SELECT l_returnflag, "
        "round(sum(l_discount * l_extendedprice) / sum(l_discount), 4) AS wavg_price "
        "FROM lineitem GROUP BY l_returnflag"
    ),
    # WHERE mirrors flatMap-of-nothing on a missing payload: explode of
    # a NULL map (and the python UDTF's None guard) emit no rows
    "udtf_split_props": (
        "SELECT event_id, 'k' AS key, "
        "CAST(json_extract_string(props, '$.k') AS INT) AS val FROM events "
        "WHERE props IS NOT NULL"
    ),
    "udtf_python_native": (
        "SELECT event_id, 'k' AS key, "
        "CAST(json_extract_string(props, '$.k') AS INT) AS val FROM events "
        "WHERE props IS NOT NULL"
    ),
    "udaf_geometric_mean": (
        "WITH v AS (SELECT o_orderpriority, "
        "CAST(o_totalprice AS DOUBLE) AS v FROM orders), "
        "g AS (SELECT o_orderpriority, count(*) AS n, "
        "list(v ORDER BY v) AS a FROM v GROUP BY 1) "
        "SELECT o_orderpriority, CAST(n AS BIGINT) AS n, "
        "round(exp(list_reduce(list_prepend(0.0, "
        "list_transform(a, x -> ln(x))), (acc, w) -> acc + w) / n), 6) "
        "AS geometric_mean FROM g"
    ),
}
