"""Decompose the stream_* family's cost into engine fixed floor vs
per-row work (r11 verdict item 6).

The r11 sweep adjudicated the stream family as "micro-batch machinery
dominated, nothing actionable" from toy-SF numbers (~0.3 s/key floor).
This tool puts a number on that claim at a scale where it could be
false: it runs stream_attribution's exact machinery (chunk_events ->
3-micro-batch file-source stream -> applyInPandasWithState -> memory
sink -> rollup) at the given SF, and separately re-runs the SAME
machinery on a 1,000-row slice of the same events — identical query
start/stop, checkpoint dirs, 3 processAllAvailable barriers, chunk
staging — so the difference isolates per-row cost from the engine
floor.

Usage: python tools/profile_stream_floor.py <sf_dir> [<sf_dir> ...]
Measurement-only; no query-path code.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from i2mapreduce_spark.catalog import load_tables  # noqa: E402
from i2mapreduce_spark.queries.streaming_q import q_stream_attribution  # noqa: E402
from i2mapreduce_spark.session import get_spark  # noqa: E402
from i2mapreduce_spark.streaming.incremental import (  # noqa: E402
    chunk_events,
    stream_over_chunks,
)


def _events(spark, limit: int | None = None):
    e = spark.table("events").select(
        "user_id", "event_id", "event_type", "ts",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    if limit is not None:
        e = e.orderBy("ts", "event_id").limit(limit)
    return e


def _run_stream(spark, e) -> float:
    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: F401

    from i2mapreduce_spark.queries.streaming_q import _ATTR_OUT, _ATTR_STATE, _attr_fn
    from pyspark.sql.streaming.state import GroupStateTimeout

    chunks = chunk_events(spark, e, n=3)

    def transform(stream):
        return stream.groupBy("user_id").applyInPandasWithState(
            _attr_fn, outputStructType=_ATTR_OUT, stateStructType=_ATTR_STATE,
            outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout,
        )

    t0 = time.perf_counter()
    sink = stream_over_chunks(
        spark, chunks, transform, "update",
        f"floor_probe_{int(t0 * 1000) % 100000}",
    )
    sink.count()
    return time.perf_counter() - t0


def main() -> None:
    spark = get_spark(app_name="stream-floor")
    print("sf_dir\tn_events\tfull_query_s\tstream_only_s\tfloor_1k_s\t"
          "per_1M_rows_s")
    for sf_dir in sys.argv[1:]:
        load_tables(spark, sf_dir)
        n = spark.table("events").count()
        t0 = time.perf_counter()
        q_stream_attribution(spark, sf_dir).toPandas()
        full = time.perf_counter() - t0
        stream_full = _run_stream(spark, _events(spark))
        floor = _run_stream(spark, _events(spark, limit=1000))
        per_row = (stream_full - floor) / max(1, n - 1000)
        print(f"{sf_dir}\t{n}\t{full:.2f}\t{stream_full:.2f}\t{floor:.2f}\t"
              f"{per_row * 1e6:.2f}")


if __name__ == "__main__":
    main()
