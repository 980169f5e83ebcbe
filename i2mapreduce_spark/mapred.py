"""MapReduce-core surface as a thin DataFrame library (ref ops A1-A6).

The reference's whole programming model is map/combine/shuffle/reduce over
untyped KV pairs (SURVEY §2A).  This module offers that paradigm as a
library over DataFrames so a reference user can port jobs 1:1 — while the
execution is Catalyst-planned (combine = automatic partial aggregation,
shuffle = sort-based exchange, secondary sort = window functions).

A KV dataset is any DataFrame; `key_cols` names the key.  Nothing here
drops to RDDs: RDD map/flatMap would lose codegen and columnar execution.

100TB notes: reduce_by_key/combine compile to partial+final hash
aggregation (map-side combine, shuffle carries one partial row per key per
partition).  partition_by is an explicit hash Exchange reusable by
downstream per-partition logic — the analog of the reference Partitioner.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def map_kv(df: DataFrame, *exprs: Column | str) -> DataFrame:
    """map(K1,V1) -> (K2,V2), 1->1 (ref op A1, non-expanding case)."""
    return df.select(*exprs)


def flat_map(df: DataFrame, array_expr: Column, alias: str,
             keep: Sequence[str] = (), with_pos: bool = False) -> DataFrame:
    """map 1->N: explode an array expression (ref op A1, expanding case).

    with_pos=True uses posexplode and emits a 1-based ``pos`` column
    (cross-dialect convention, SURVEY B.7).
    """
    cols = [F.col(c) for c in keep]
    if with_pos:
        ex = F.posexplode(array_expr).alias("pos0", alias)
        return df.select(*cols, ex).select(
            *cols, (F.col("pos0") + 1).alias("pos"), F.col(alias)
        )
    return df.select(*cols, F.explode(array_expr).alias(alias))


def reduce_by_key(df: DataFrame, key_cols: Sequence[str],
                  **aggs: Column) -> DataFrame:
    """reduce(K2, values) via named aggregate expressions (ref op A4).

    Spark plans partial aggregation before the shuffle automatically —
    i.e. the reference's combiner (ref op A2) is implied.
    """
    return df.groupBy(*key_cols).agg(*[c.alias(n) for n, c in aggs.items()])


# explicit alias: in this engine combine IS reduce_by_key's partial phase
combine = reduce_by_key


def partition_by(df: DataFrame, n: int, *cols: str) -> DataFrame:
    """Custom key->partition routing (ref op A5): explicit hash Exchange."""
    return df.repartition(n, *cols)


def salted_reduce_by_key(df: DataFrame, key_cols: Sequence[str], n_salts: int,
                         **aggs: tuple[Column, Column]) -> DataFrame:
    """Skew-resistant two-phase reduce: a hot key's rows spread over
    `n_salts` partial groups, so no single reducer partition drowns —
    the classic salting idiom for 100 TB keys AQE's skew handling can't
    reach (skewJoin splits joins, not aggregations).

    Each agg is (partial_expr, final_expr): partial runs per
    (key, salt), final re-aggregates the n_salts partial rows per key —
    only decomposable aggregates fit (sum/count/min/max; avg = sum+count
    composed by the caller).

        salted_reduce_by_key(li, ["l_returnflag"], 8,
                             qty=(F.sum("l_quantity"), F.sum("qty")))
    """
    salt = F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(*[p.alias(name) for name, (p, _f) in aggs.items()])
    )
    return partial.groupBy(*key_cols).agg(
        *[f.alias(name) for name, (_p, f) in aggs.items()]
    )
