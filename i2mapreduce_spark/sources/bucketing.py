"""Bucketed tables: shuffle-free co-located joins and aggregations — the
persistent form of the reference's Projector co-partitioning (A9): where
`plans.iterate` co-partitions per job, a bucketed table bakes the hash
partitioning into the STORAGE layout, so every downstream join or
aggregation on the bucket key skips its Exchange entirely.

At 100 TB this is the difference between re-shuffling the fact table per
query and never shuffling it: bucket lineitem and orders by orderkey once
at ingest, and every orderkey join is a zipped per-bucket sort-merge.

Local note: bucketing requires a saveAsTable (catalog-managed); temp
views over raw parquet cannot carry bucket metadata.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, n_buckets: int, *bucket_cols: str) -> None:
    """Persist as a bucketed (and bucket-sorted) managed table.

    Sorting within buckets lets sort-merge joins skip their Sort node
    too — the join becomes a pure zip of pre-sorted bucket files.

    Robust against stale state: a managed-table LOCATION left by a
    previous process is invisible to this session's in-memory catalog,
    and saveAsTable refuses to reuse it — drop both the catalog entry
    and the leftover directory first.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = urlparse(str(spark.conf.get("spark.sql.warehouse.dir", "")))
    if wh.scheme in ("", "file") and wh.path:
        stale = f"{wh.path}/{table.lower()}"
        # only delete what is recognizably a stale managed-table dir
        # (parquet parts / _SUCCESS marker), never an arbitrary directory
        # that happens to share the path in a shared warehouse
        if os.path.isdir(stale) and any(
            f == "_SUCCESS" or f.endswith(".parquet")
            for f in os.listdir(stale)
        ):
            shutil.rmtree(stale, ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  on: list[str]) -> DataFrame:
    """Inner-join two same-bucketed tables on their bucket key.  With
    bucketing.enabled (default) Catalyst plans NO Exchange on either
    side — asserted in tests/test_plans.py."""
    return spark.table(left_table).join(spark.table(right_table), on)
