"""fold_delta is fold_delta_ops over a delta of inserts only; its state
keeps the schema (types and nullability) and rows of the insert-only
merge it replaced."""

from decimal import Decimal

from pyspark.sql import functions as F

from i2mapreduce_spark.streaming.incremental import fold_delta

SUMS = {"total_dec": "v_dec", "total_dbl": "v_dbl", "total_long": "v_long"}


def _insert_only_fold(state, delta, key_cols, sum_cols, count_col="n"):
    """The insert-only merge fold_delta implemented on its own: count(*)
    and sum(src) per key, then summed into the preserved state."""
    partial = delta.groupBy(*key_cols).agg(
        F.count("*").alias(count_col),
        *[F.sum(src).alias(dst) for dst, src in sum_cols.items()],
    )
    if state is None:
        return partial
    return state.unionByName(partial).groupBy(*key_cols).agg(
        F.sum(count_col).alias(count_col),
        *[F.sum(dst).alias(dst) for dst in sum_cols],
    )


def _delta(spark, rows):
    return spark.createDataFrame(
        rows, "k long, v_dec decimal(18,2), v_dbl double, v_long long"
    )


def test_fold_delta_matches_insert_only_merge(spark):
    d1 = _delta(spark, [
        (1, Decimal("1.50"), 0.25, 3),
        (1, Decimal("2.25"), None, 4),
        (2, None, 1.5, None),
        (None, Decimal("7.00"), 2.0, 1),
    ])
    d2 = _delta(spark, [
        (1, Decimal("0.25"), 0.5, 1),
        (3, Decimal("9.99"), 3.0, 2),
        (None, None, None, None),
    ])
    got = want = None
    for d in (d1, d2):  # a first fold, then a fold onto preserved state
        got = fold_delta(got, d, ["k"], SUMS)
        want = _insert_only_fold(want, d, ["k"], SUMS)
        assert got.schema == want.schema
        assert sorted(got.collect(), key=str) == sorted(want.collect(), key=str)
