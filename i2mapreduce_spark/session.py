"""SparkSession factory and session configuration.

All engine entry points funnel through :func:`configure_session` so that a
session handed to us by an external harness (which may not have our configs)
behaves identically to one we built ourselves.  Every config used here is a
runtime-settable SQL conf (verified empirically — including
``spark.sql.legacy.parquet.nanosAsLong``, which the events table needs).

Scale notes (100 TB deployment):
- ``spark.sql.shuffle.partitions`` here defaults to a local-mode value; on a
  real cluster leave AQE coalescing on and set the initial partition count to
  ~2-3x total cores (AQE shrinks post-shuffle partitions at runtime).
- AQE is always on: runtime join-strategy switching, skew-join splitting and
  partition coalescing are the mechanisms that keep the plans in this repo
  stable at 1000 executors.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from functools import cache

from pyspark.sql import SparkSession

#: Runtime SQL confs applied to every session the engine touches.
SQL_CONFS = {
    # Deterministic NTZ-UTC timestamps end-to-end (SURVEY Appendix A.3).
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores ts as INT64 TIMESTAMP(NANOS); Spark refuses it
    # unless read as raw long (SURVEY Appendix A.1).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: runtime re-planning, skew join handling,
    # partition coalescing.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDF / toPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

#: The SQL_CONFS that results depend on: configure_session raises when one
#: of them cannot be set.  The others only tune speed, so a build that
#: refuses them computes the same results and they degrade quietly.
REQUIRED_CONFS = ("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong")


def configure_session(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply the engine's runtime confs to an existing session (idempotent).
    Raises RuntimeError when a REQUIRED_CONFS entry cannot be set."""
    for k, v in SQL_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            if k in REQUIRED_CONFS:
                raise RuntimeError(
                    f"configure_session: cannot set {k}={v}; query results "
                    "depend on it"
                ) from e
            # non-settable on this build — keep going, features degrade
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("I2MR_SHUFFLE_PARTITIONS", "32"))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    except Exception:
        pass
    return spark


@cache
def warehouse_dir() -> str:
    """This process's own `spark.sql.warehouse.dir`, removed at exit.  A
    managed table's LOCATION lives under it, so two processes on one host
    that write the same bucketed table (`write_bucketed`) cannot collide
    on it with LOCATION_ALREADY_EXISTS."""
    path = tempfile.mkdtemp(prefix="i2mr-warehouse-")
    atexit.register(shutil.rmtree, path, True)
    return path


def get_spark(app_name: str = "i2mapreduce-spark", cpus: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a local SparkSession with the engine defaults."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("I2MR_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir", warehouse_dir())
        # Iterative fixpoints make old shuffle files garbage every
        # round, but ContextCleaner only deletes them after the stale
        # lineage is GC'd — and a big-heap driver can go the default
        # 30 MINUTES between GCs, so shuffle spill accumulates
        # O(iterations x shuffle bytes) on local disk (measured r11:
        # iter_pagerank at sf100 retained 31 GB and filled the disk).
        # A short periodic GC bounds retained spill to ~one round's
        # worth; same tuning applies on real clusters for long
        # iterative jobs with large executor/driver heaps.
        .config("spark.cleaner.periodicGC.interval",
                os.environ.get("I2MR_PERIODIC_GC", "2min"))
    )
    # Shuffle/spill compression codec, env-parameterised for the scale
    # sweeps (r12): lz4 (Spark's default, kept when unset so benches
    # are untouched) trades ratio for speed, and the heavy graph keys'
    # array-carrying shuffles at sf100 write more spill than a single
    # local disk holds (iter_triangle_count: >60 GB, disk-full death).
    # zstd halves-ish the on-disk bytes for a small CPU cost — on a
    # disk-bound leg that is the difference between finishing and
    # dying; same reasoning applies to disk-tight real executors.
    codec = os.environ.get("I2MR_IO_CODEC")
    if codec:
        builder = builder.config("spark.io.compression.codec", codec)
    spark = builder.getOrCreate()
    return configure_session(spark, shuffle_partitions)
