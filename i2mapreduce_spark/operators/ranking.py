"""Distributed total-order ranking without a single-partition window.

An unpartitioned ``Window.orderBy(...)`` moves EVERY row to one task —
the classic scale-killer Spark itself warns about ("No Partition Defined
for Window operation").  For a unique total order the global rank is
computable fully distributed with a chunked-offset construction (the
incremental engine's deterministic event chunking,
streaming/incremental.py:chunk_events, ranks with it too):

1. ``repartitionByRange`` on the order key — rows land in globally
   ordered, parallel range partitions;
2. per-partition ``row_number`` — parallel, partition-local sort only;
3. add the cumulative row count of all earlier partitions — one
   n_partitions-row aggregate collected to the driver (bounded: one long
   per partition, independent of data size).

Because the order key is a UNIQUE total order, the result is
bit-identical to ``row_number() OVER (ORDER BY ...)`` regardless of
where the range boundaries land.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = [
    "global_row_number",
    "global_row_number_and_count",
    "global_running_sum",
    "global_running_max_excl",
]


def _chunk_offsets(
    df: DataFrame,
    order_cols: list[str],
    partials: dict[str, Column],
    fold,
    init,
    num_partitions: int | None,
) -> tuple[DataFrame, dict[str, Column], dict]:
    """The chunked-offset steps shared by every operator here.

    Range-partitions ``df`` on ``order_cols``, sorts each partition,
    pins the partition ids to the data as ``_pid`` and collects one row
    of ``partials`` aggregates per partition (``num_partitions`` rows,
    independent of data size: the only global coordination; everything
    row-wise stays parallel).  Each partial is then folded over the
    partitions in order, ``fold(acc, partial)`` from ``init``; the
    returned column per name holds, keyed by ``_pid``, the fold over all
    EARLIER partitions, cast to the partial's own type (a bare literal
    would truncate double/decimal maxima, and a None offset would break
    the map's value-type inference).  The last dict holds the fold over
    ALL partitions per name, as a driver-side value.

    The ids are pinned by a plain ``localCheckpoint`` (executor blocks,
    lost with their executor).  No option selects a reliable
    ``checkpoint()``; at 100 TB that change goes at this one call site.
    """
    if num_partitions is None:
        n_conf = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        num_partitions = int(n_conf)
    ranged = (
        df.repartitionByRange(num_partitions, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin partition ids with the data
    )
    per_pid = ranged.groupBy("_pid").agg(
        *[agg.alias(name) for name, agg in partials.items()]
    )
    rows = sorted(per_pid.collect(), key=lambda r: r["_pid"])
    offsets, totals = {}, {}
    for name in partials:
        val_type = per_pid.schema[name].dataType
        pairs, acc = [], init
        for r in rows:
            pairs += [F.lit(r["_pid"]), F.lit(acc).cast(val_type)]
            acc = fold(acc, r[name])
        offsets[name] = F.element_at(F.create_map(*pairs), F.col("_pid"))
        totals[name] = acc
    return ranged, offsets, totals


def _add(acc, t):
    """Prefix-sum fold (from 0); a NULL partial sum counts as 0."""
    return acc + (t or 0)


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "i",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append 1-based global ``row_number`` under ``order_cols`` (must be
    a unique total order for determinism) as ``out_col``: the local
    ``row_number`` plus the row count of all earlier partitions."""
    return global_row_number_and_count(df, order_cols, out_col, num_partitions)[0]


def global_row_number_and_count(
    df: DataFrame,
    order_cols: list[str],
    out_col: str,
    num_partitions: int | None,
) -> tuple[DataFrame, int, DataFrame]:
    """:func:`global_row_number`, the row count of ``df`` (the per-partition
    counts already hold it on the driver: no extra job) and the ``_pid``
    pin the rank reads, for a caller that materializes the rank to release."""
    ranged, off, total = _chunk_offsets(
        df, order_cols, {"cnt": F.count("*")}, _add, 0, num_partitions
    )
    wp = Window.partitionBy("_pid").orderBy(*order_cols)
    ranked = ranged.withColumn(
        out_col, (F.row_number().over(wp) + off["cnt"]).cast("long")
    ).drop("_pid")
    return ranked, total["cnt"], ranged


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Append running ``SUM(c)`` for each ``c`` in ``sum_cols`` under the
    unique total order ``order_cols`` as ``cum_<c>`` — the prefix-sum
    twin of :func:`global_row_number`, and the distributed replacement
    for an unpartitioned cumulative window: per-partition RUNNING sums
    plus the total of all earlier partitions.

    Identical to ``SUM(c) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)``
    for any placement of the range boundaries, because integer/decimal
    addition is associative (use only exact-typed columns here — float
    prefix sums would be boundary-dependent).
    """
    ranged, off, _ = _chunk_offsets(
        df, order_cols, {c: F.sum(c) for c in sum_cols}, _add, 0, num_partitions
    )
    wp = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = ranged
    for c in sum_cols:
        out = out.withColumn(f"cum_{c}", (F.sum(c).over(wp) + off[c]).cast("long"))
    return out.drop("_pid")


def global_running_max_excl(
    df: DataFrame,
    order_cols: list[str],
    max_col: str,
    out_col: str = "pre_max",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append the EXCLUSIVE running ``MAX(max_col)`` under the unique
    total order ``order_cols`` — the max over all STRICTLY EARLIER rows
    (NULL for the global first row), i.e.
    ``MAX(c) OVER (ORDER BY ... ROWS BETWEEN UNBOUNDED PRECEDING AND 1
    PRECEDING)`` without the single-partition window.  Same chunked
    scheme as :func:`global_running_sum` (max is associative too):
    partition-local exclusive running max, then the max of all earlier
    partitions (None before the first)."""

    def fold_max(acc, t):
        return t if acc is None or (t is not None and t > acc) else acc

    ranged, off, _ = _chunk_offsets(
        df, order_cols, {"mx": F.max(max_col)}, fold_max, None, num_partitions
    )
    wp = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = F.max(max_col).over(wp)
    return ranged.withColumn(out_col, F.greatest(local, off["mx"])).drop("_pid")
