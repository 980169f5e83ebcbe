"""Incremental / streaming engine — the Spark realization of the
reference's headline feature set (SURVEY §2A ops A11-A13):

- MRBG-Store preserve+merge  -> Structured Streaming state (stateful
  aggregation state store) or, batch-side, :func:`fold_delta` — a
  key-local merge of preserved per-key aggregates with a delta batch's
  partial aggregates.
- delta-input change detection (A12) -> a file-source stream picking up
  new chunk files; only the new chunk is read per micro-batch.
- incremental restart (A13) -> :func:`fold_delta` seeded with prior state.

Scale notes (100 TB): the fold is a union of state (O(keys)) with the
delta's *partial* aggregate (map-side combined, O(delta keys)) followed by
a key-grouped merge — the shuffle carries keys, never raw events.  With
state stored bucketed-by-key the merge is co-partitioned and shuffle-free;
in Structured Streaming the same role is played by the RocksDB state store
(`spark.sql.streaming.stateStore.providerClass`), which scales state off
the executor heap.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import warnings
from collections.abc import Callable

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.ranking import global_row_number_and_count
from ..plans.iterate import release_checkpoint

__all__ = [
    "MRBGStore",
    "chunk_events",
    "fold_delta",
    "fold_delta_ops",
    "stream_over_chunks",
]


def chunk_events(
    spark: SparkSession,
    events: DataFrame,
    n: int = 3,
    late_every: int | None = None,
) -> list[DataFrame]:
    """Split events into `n` chronological chunks (the reference's delta
    inputs, A12: each chunk is one arriving batch of records).

    Deterministic: exact ntile semantics over the total order
    (ts, event_id) — but computed WITHOUT a single-partition global
    window: the global rank is operators.ranking's chunked-offset
    row_number, so the chunk is independent of where the range
    boundaries land.  With `late_every` set, events from the FIRST chunk
    whose event_id is divisible by it are displaced into the LAST chunk
    — out-of-order "late" arrivals for watermark tests.
    """
    ranked, total, pid_pin = global_row_number_and_count(
        events, ["ts", "event_id"], "_rank", None
    )
    rank = F.col("_rank") - 1
    # exact ntile(n) from the 0-based global rank: the first (total % n)
    # tiles get ceil(total/n) rows, the rest floor(total/n)
    q, rem = divmod(total, n)
    big = rem * (q + 1)
    chunk = F.when(rank < big, (rank / (q + 1)).cast("int")).otherwise(
        (F.lit(rem) + (rank - big) / q).cast("int") if q else F.lit(n - 1)
    )
    tiled = ranked.withColumn("_chunk", chunk).drop("_rank")
    if late_every:
        tiled = tiled.withColumn(
            "_chunk",
            F.when(
                (F.col("_chunk") == 0) & (F.col("event_id") % late_every == 0),
                F.lit(n - 1),
            ).otherwise(F.col("_chunk")),
        )
    tiled = tiled.localCheckpoint(eager=True)  # pin the tiling
    release_checkpoint(pid_pin)  # the chunks read only the tiling pin
    return [tiled.filter(F.col("_chunk") == i).drop("_chunk") for i in range(n)]


def _replay(q, sources: list[tuple[list[DataFrame], str]]) -> None:
    """Drive the running query `q` through a deterministic replay, then
    stop it: arrival i lands chunk i of every (chunks, source_dir) pair,
    in order, and is fully processed (`processAllAvailable`) before
    arrival i + 1.  Each chunk is staged then its part-files are moved
    in flat as `chunk-{i}-{j}.parquet`: a `chunk=i` subdir would be
    inferred as a partition column and break the stream's fixed
    schema."""
    try:
        for i in range(max(len(chunks) for chunks, _ in sources)):
            for chunks, src_dir in sources:
                if i >= len(chunks):
                    continue
                stage = os.path.join(src_dir, f"_stage_{i}")
                chunks[i].write.parquet(stage)
                for j, f in enumerate(sorted(os.listdir(stage))):
                    if f.endswith(".parquet"):
                        os.rename(
                            os.path.join(stage, f),
                            os.path.join(src_dir, f"chunk-{i}-{j}.parquet"),
                        )
                shutil.rmtree(stage, ignore_errors=True)
            q.processAllAvailable()
    finally:
        q.stop()


def stream_over_chunks(
    spark: SparkSession,
    chunks: list[DataFrame],
    transform: Callable[[DataFrame], DataFrame],
    output_mode: str,
    query_name: str,
) -> DataFrame:
    """Feed `chunks` one micro-batch at a time through a file-source
    Structured Streaming query into a memory sink; return the sink table.

    Each chunk is written to the source directory and fully processed
    (`processAllAvailable`) before the next lands — a deterministic replay
    of the reference's delta-input arrival (A12).  `transform` is the SAME
    DataFrame logic the batch query uses: stream-batch equivalence is the
    point (SURVEY §5.2).
    """
    src_dir = tempfile.mkdtemp(prefix=f"i2mr-stream-{query_name}-")
    ckpt_dir = tempfile.mkdtemp(prefix=f"i2mr-ckpt-{query_name}-")
    try:
        schema = chunks[0].schema
        stream = spark.readStream.schema(schema).parquet(src_dir)
        q = (
            transform(stream)
            .writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt_dir)
            .start()
        )
        _replay(q, [(chunks, src_dir)])
        # materialize: the memory sink table dies with the query's session
        # state eventually; snapshot it for the caller
        return spark.table(query_name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt_dir, ignore_errors=True)


def stream_over_chunks_foreach(
    spark: SparkSession,
    chunks: list[DataFrame],
    merge_fn: Callable[[DataFrame, int], None],
    query_name: str,
) -> None:
    """foreachBatch variant of stream_over_chunks: each arriving chunk is
    handed to `merge_fn(batch_df, batch_id)` — the Structured Streaming
    hook for sinks Spark has no native writer for (keyed MERGE/upsert
    into a lakehouse table being the canonical one).  The caller owns all
    sink state; this helper only drives the deterministic replay."""
    src_dir = tempfile.mkdtemp(prefix=f"i2mr-feb-{query_name}-")
    ckpt_dir = tempfile.mkdtemp(prefix=f"i2mr-febckpt-{query_name}-")
    try:
        stream = spark.readStream.schema(chunks[0].schema).parquet(src_dir)
        q = (
            stream.writeStream.foreachBatch(merge_fn)
            .option("checkpointLocation", ckpt_dir)
            .start()
        )
        _replay(q, [(chunks, src_dir)])
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt_dir, ignore_errors=True)


def stream_over_two_sources(
    spark: SparkSession,
    left_chunks: list[DataFrame],
    right_chunks: list[DataFrame],
    transform: Callable[[DataFrame, DataFrame], DataFrame],
    output_mode: str,
    query_name: str,
) -> DataFrame:
    """Two-stream variant of stream_over_chunks for stream-stream joins:
    two file sources advance in lockstep (left chunk i, right chunk i,
    then processAllAvailable) so both watermarks move together — the
    deterministic replay of two correlated delta feeds."""
    dirs = [tempfile.mkdtemp(prefix=f"i2mr-2stream-{query_name}-{s}-")
            for s in ("l", "r", "ckpt")]
    sources = [(left_chunks, dirs[0]), (right_chunks, dirs[1])]
    try:
        streams = [
            spark.readStream.schema(chunks[0].schema).parquet(d)
            for chunks, d in sources
        ]
        q = (
            transform(*streams)
            .writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", dirs[2])
            .start()
        )
        _replay(q, sources)
        return spark.table(query_name).localCheckpoint(eager=True)
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def fold_delta(
    state: DataFrame | None,
    delta: DataFrame,
    key_cols: list[str],
    sum_cols: dict[str, str],
    count_col: str = "n",
) -> DataFrame:
    """A11's MRBG merge, batch form: :func:`fold_delta_ops` over a delta
    of inserts only.

    `state` holds (key_cols, count_col, *sum_cols.keys()); `delta` is raw
    records.  Returns the new state (same schema), ready for the next
    fold or a final readout.
    """
    return fold_delta_ops(
        state, delta.withColumn("op", F.lit("+")), key_cols, sum_cols, count_col
    )


def fold_delta_ops(
    state: DataFrame | None,
    delta: DataFrame,
    key_cols: list[str],
    sum_cols: dict[str, str],
    count_col: str = "n",
) -> DataFrame:
    """A12's full delta-input contract: records whose `op` column is '+'
    (insert) or '-' (delete).  Deletes RETRACT from the preserved state — the signed merge
    the MRBG-Store performs when a record disappears from the input.

    The delta is partially aggregated first (map-side combine, ref op
    A2), then merged key-locally with the preserved state — the exact
    read-merge-write the MRBG-Store performs per changed key.  Additive
    aggregates retract exactly (count -= 1, sum -= value); keys whose
    count reaches zero leave the state entirely, so a fully-deleted key
    is indistinguishable from one never seen — asserted in tests.  A
    NULL `op` counts as an insert.  The count is never NULL and each sum
    keeps its source column's type.
    """
    is_del = F.col("op") == "-"
    partial = delta.groupBy(*key_cols).agg(
        (F.count("*") - 2 * F.count_if(is_del)).alias(count_col),
        *[
            F.sum(F.when(is_del, -F.col(src)).otherwise(F.col(src))).alias(dst)
            for dst, src in sum_cols.items()
        ],
    )
    merged = (
        partial
        if state is None
        else state.unionByName(partial)
        .groupBy(*key_cols)
        .agg(
            F.sum(count_col).alias(count_col),
            *[F.sum(dst).alias(dst) for dst in sum_cols],
        )
    )
    return merged.filter(F.col(count_col) != 0)


#: most mapped delta edges one MRBGStore.apply_delta collects to the
#: driver.  The delta comes back as one Arrow table (so it is mapped
#: once, not once per join) and goes back in through Arrow
#: createDataFrame, which makes it and its key set LocalRelations (below
#: spark.sql.execution.arrow.localRelationThreshold, 48 MB by default).
#: 1M edges of three 8-byte columns is 24 MB of Arrow buffers; pyarrow
#: keeps them out of the Python heap, and the driver heap holds one
#: copy as rows.  The key set is at most as large as the delta, so the
#: cap bounds it too.  A larger delta falls back, with a RuntimeWarning,
#: to a distributed delta and a pinned distributed key frame.
#: Env-overridable (`I2MR_MRBG_DELTA_MAX`; 0 always takes the
#: distributed path — used by tests to pin that path).
MRBG_DELTA_COLLECT_MAX_DEFAULT = 1_000_000


def _mrbg_delta_max() -> int:
    return int(os.environ.get("I2MR_MRBG_DELTA_MAX", MRBG_DELTA_COLLECT_MAX_DEFAULT))


class MRBGStore:
    """The reference's MRBG-Store (ref op A11, PAPER §4-5) as preserved
    intermediate state over DataFrames: keep every intermediate (K2, V2)
    edge of a map/reduce job; on a delta input, re-run map ONLY on the
    delta, splice the changed edges into the preserved set, and re-reduce
    ONLY the affected K2 groups.

    Unlike :func:`fold_delta` (additive aggregates only), this supports
    ARBITRARY reduce functions — the merge happens at the intermediate-KV
    level, exactly like the reference, so the reduce can be a median, a
    top-k, a string-agg, anything.

    Scale notes (100 TB): `edges` is the big preserved table, `results`
    is O(distinct keys).  The mapped delta and its key set are collected
    once (bounded: MRBG_DELTA_COLLECT_MAX_DEFAULT) and the key set is
    broadcast into every join, so unaffected edges are scanned but never
    shuffled.  The splice shuffles only the affected ("hot") edges plus
    the delta, and the re-reduce only the hot edges: O(affected keys'
    edges), not O(edges).  Per delta that is 7 Spark jobs for a
    one-shuffle reduce: the collect; the edges pin (key broadcast, the
    hot-edge shuffle, the copy); the results pin (key broadcast, the
    re-reduce shuffle, the copy).  The edges pin still copies every
    preserved edge; bucketing `edges` by `key` would not shrink that copy,
    since a delta on 5% of uniformly spread keys touches every bucket.
    """

    def __init__(self, map_fn: Callable[[DataFrame], DataFrame],
                 reduce_fn: Callable[[DataFrame], DataFrame],
                 key: str = "key"):
        """`map_fn`: input records -> intermediate (key, ...) edge rows.
        `reduce_fn`: intermediate edges -> one result row per key group.
        `key`: the K2 grouping column name in the intermediate schema."""
        self.map_fn = map_fn
        self.reduce_fn = reduce_fn
        self.key = key
        self.edges: DataFrame | None = None      # preserved (K2, V2)
        self.results: DataFrame | None = None    # reduce output per K2
        self.last_affected_keys = 0              # observability for tests

    def _pin(self, df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True)

    def initial(self, records: DataFrame) -> DataFrame:
        """Full first run: map all records, preserve edges, reduce all."""
        self.edges = self._pin(self.map_fn(records))
        self.results = self._pin(self.reduce_fn(self.edges))
        self.last_affected_keys = -1
        return self.results

    def _collect_delta(self, delta: DataFrame) -> tuple[DataFrame, DataFrame, int, DataFrame | None]:
        """(delta, its keys as a one-column `_k` frame, its distinct key
        count, the checkpoint behind the keys when the store pinned one)
        for the tagged mapped delta.

        Collected path: one Arrow collect of at most cap + 1 delta rows;
        the keys are a projection of the collected delta (duplicates do
        not change a semi- or anti-join).  Past the cap the delta stays
        distributed, its distinct keys are pinned, counted and joined as
        AQE decides, and a RuntimeWarning says so: the delta is never
        truncated."""
        cap = _mrbg_delta_max()
        if cap > 0:
            table = delta.limit(cap + 1).toArrow()
            if table.num_rows <= cap:
                n_keys = pc.count_distinct(table[self.key], mode="all").as_py()
                delta = delta.sparkSession.createDataFrame(table, delta.schema)
                return delta, F.broadcast(delta.select(F.col(self.key).alias("_k"))), n_keys, None
            warnings.warn(
                f"MRBGStore.apply_delta: the delta maps to more than {cap} "
                "edges (I2MR_MRBG_DELTA_MAX); splicing with a distributed "
                "delta and key frame instead of collected ones",
                RuntimeWarning,
                stacklevel=3,
            )
        keys = self._pin(delta.select(F.col(self.key).alias("_k")).distinct())
        return delta, keys, keys.count(), keys

    def apply_delta(self, inserts: DataFrame | None = None,
                    deletes: DataFrame | None = None) -> DataFrame:
        """Incremental run (PAPER §4.1): map the delta, splice preserved
        edges, re-reduce only affected K2 groups, patch results.

        `deletes` are input records disappearing from the dataset: their
        mapped edges leave the preserved set with bag semantics —
        matched on all intermediate columns with NULLs equal, duplicate
        edges deleting one-for-one, deletes of absent edges ignored —
        and deletes apply before inserts.  Keys match null-safely, so a
        NULL key is a group like any other.

        The superseded `edges` checkpoint is released; a superseded
        `results` frame is not, since callers may still hold it.
        """
        assert self.edges is not None, "call initial() first"
        cols = self.edges.columns

        def tag(df: DataFrame, base: int, new: int) -> DataFrame:
            return df.select(*cols, F.lit(base).alias("_base"), F.lit(new).alias("_new"))

        tagged = [tag(self.map_fn(df), base, new)
                  for df, base, new in ((inserts, 0, 1), (deletes, -1, 0)) if df is not None]
        if not tagged:
            self.last_affected_keys = 0
            return self.results
        delta = tagged[0] if len(tagged) == 1 else tagged[0].unionByName(tagged[1])
        delta, keys, self.last_affected_keys, keys_pin = self._collect_delta(delta)
        if self.last_affected_keys == 0:
            if keys_pin is not None:
                release_checkpoint(keys_pin)
            return self.results

        def split(df: DataFrame, how: str) -> DataFrame:
            return df.join(keys, df[self.key].eqNullSafe(keys["_k"]), how)

        # hot edges: the affected keys' preserved edges with the delta
        # merged in by signed counts per distinct edge (groupBy puts
        # NULLs together): copies = max(old - deleted, 0) + inserted
        counts = tag(split(self.edges, "left_semi"), 1, 0).unionByName(delta).groupBy(
            *cols).agg(F.sum("_base").alias("_base"), F.sum("_new").alias("_new"))
        copies = F.greatest(F.col("_base"), F.lit(0)) + F.col("_new")
        hot = counts.select(
            *cols, F.explode(F.array_repeat(F.lit(0), copies.cast("int")))
        ).select(*cols)

        def patch(df: DataFrame, fresh: DataFrame) -> DataFrame:
            # coalescing to the old partition count keeps every delta
            # from adding the fresh rows' partitions to the store (an
            # empty store's checkpoint can have none)
            n = max(df.rdd.getNumPartitions(), 1)
            return self._pin(split(df, "left_anti").unionByName(fresh).coalesce(n))

        old_edges = self.edges
        self.edges = patch(old_edges, hot)
        self.results = patch(self.results, self.reduce_fn(split(self.edges, "left_semi")))
        for df in (old_edges, keys_pin):
            if df is not None:
                release_checkpoint(df)
        return self.results
