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
the executor heap.  :class:`MRBGStore` keeps its preserved edges and
results as Arrow tables on the driver while the edges fit under
MRBG_LOCAL_EDGES_MAX (env `I2MR_MRBG_LOCAL_MAX`): a delta costs 2 Spark
jobs (the delta collect and a one-partition re-reduce of the affected
keys' edges), not the 7 of the distributed splice that takes over past
the cap, where both live in local checkpoints.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import warnings
from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DateType,
    NumericType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

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
#: once, not once per join).  A driver-resident store merges it there;
#: the distributed splice sends it back in through Arrow createDataFrame,
#: which makes it and its key set LocalRelations (below
#: spark.sql.execution.arrow.localRelationThreshold, 48 MB by default).
#: 1M edges of three 8-byte columns is 24 MB of Arrow buffers; pyarrow
#: keeps them out of the Python heap, and the driver heap holds one
#: copy as rows.  The key set is at most as large as the delta, so the
#: cap bounds it too.  A larger delta falls back, with a RuntimeWarning,
#: to a distributed delta and a pinned distributed key frame, and a
#: driver-resident store moves to the distributed splice first.
#: Env-overridable (`I2MR_MRBG_DELTA_MAX`; 0 always takes the
#: distributed path — used by tests to pin that path).
MRBG_DELTA_COLLECT_MAX_DEFAULT = 1_000_000

#: most preserved edges an MRBGStore keeps on the driver as an Arrow
#: table.  Measured at sf1 (`tools/perf_sf1.py`, 4-vCPU host): 6.0M
#: three-column edges held 134 MB of Arrow buffers, and the driver's
#: Python process read 550-557 MB RSS after the last delta (two runs)
#: against 343 MB with the edges in a checkpoint (one run); Python plus
#: JVM read 7.4-8.2 GB against 7.7-8.7 GB, most of it the 8g JVM
#: heap.  So 10M such edges add about 350 MB to the Python process;
#: wider edges cost more per row.
#: Past the cap, at initial() or after an insert, the store moves to the
#: distributed splice with a RuntimeWarning.  Env-overridable
#: (`I2MR_MRBG_LOCAL_MAX`; 0 always takes the distributed path).
MRBG_LOCAL_EDGES_MAX = 10_000_000


def _mrbg_delta_max() -> int:
    return int(os.environ.get("I2MR_MRBG_DELTA_MAX", MRBG_DELTA_COLLECT_MAX_DEFAULT))


def _mrbg_local_max() -> int:
    return int(os.environ.get("I2MR_MRBG_LOCAL_MAX", MRBG_LOCAL_EDGES_MAX))


def _bounded_collect(df: DataFrame, cap: int) -> pa.Table:
    """At most cap + 1 rows of `df` as one Arrow table.  The rows are read
    in one task: a limit over several partitions would first shuffle them
    into one."""
    return df.coalesce(1).limit(cap + 1).toArrow()


def _driver_groupable(schema: StructType) -> bool:
    """Whether Arrow's hash grouping puts together exactly the values of
    every column that Spark's groupBy does: atomic types compared by
    value.  Arrays, maps, structs, variants and collated strings are
    not."""
    atomic = (NumericType, BooleanType, BinaryType, DateType, TimestampType,
              TimestampNTZType)
    return all(isinstance(f.dataType, atomic) or f.dataType == StringType()
               for f in schema.fields)


def _nullable(schema: StructType) -> StructType:
    """`schema` with every field nullable: a later delta may bring a NULL
    where the first mapped records had none."""
    return StructType([StructField(f.name, f.dataType, True) for f in schema.fields])


def _spark_equal(col: pa.ChunkedArray) -> pa.ChunkedArray:
    """`col` with the floats that Spark's grouping and join keys treat as
    one made one: -0.0 becomes 0.0 and every NaN the same NaN, which
    Arrow's hash grouping would otherwise tell apart by their bits.  NULLs
    stay NULL, and Arrow groups them together as Spark does."""
    if not pa.types.is_floating(col.type):
        return col
    zero, nan = pa.scalar(0.0, col.type), pa.scalar(float("nan"), col.type)
    return pc.if_else(pc.is_nan(col), nan, pc.if_else(pc.equal(col, zero), zero, col))


def _tag(df: DataFrame, cols: list[str], base: int, new: int) -> DataFrame:
    """`df`'s edge columns with the signed counts the merge sums: `_base`
    for the preserved copies (-1 for a delete), `_new` for inserts."""
    return df.select(*cols, F.lit(base).alias("_base"), F.lit(new).alias("_new"))


class MRBGStore:
    """The reference's MRBG-Store (ref op A11, PAPER §4-5) as preserved
    intermediate state: keep every intermediate (K2, V2) edge of a
    map/reduce job; on a delta input, re-run map ONLY on the delta,
    splice the changed edges into the preserved set, and re-reduce ONLY
    the affected K2 groups.

    Unlike :func:`fold_delta` (additive aggregates only), this supports
    ARBITRARY reduce functions — the merge happens at the intermediate-KV
    level, exactly like the reference, so the reduce can be a median, a
    top-k, a string-agg, anything.

    Where the state lives.  While the preserved edges fit under
    MRBG_LOCAL_EDGES_MAX (env `I2MR_MRBG_LOCAL_MAX`), `edges` and the
    reduce results are Arrow tables on the driver, and `results` hands
    the results table out as a LocalRelation.  A delta then costs 2 Spark
    jobs: the collect of the mapped delta, and the re-reduce of the
    affected ("hot") keys' edges, fed from the driver at one partition so
    that a reduce grouping by key plans no Exchange.  Finding the hot
    keys, the signed merge and both splices are Arrow compute on the
    driver, and nothing is shuffled or pinned.

    Scale notes (100 TB): past the cap, or for an edge schema the driver
    merge cannot group (arrays, maps, structs), the store keeps `edges`
    and `results` as local checkpoints and splices them in Spark, and a
    RuntimeWarning says so.  The mapped delta and its key set are
    collected once (bounded: MRBG_DELTA_COLLECT_MAX_DEFAULT) and the key
    set is broadcast into every join, so unaffected edges are scanned but
    never shuffled.  The splice shuffles only the hot edges plus the
    delta, and the re-reduce only the hot edges: O(affected keys' edges),
    not O(edges).  Per delta that is 7 Spark jobs for a one-shuffle
    reduce: the collect; the edges pin (key broadcast, the hot-edge
    shuffle, the copy); the results pin (key broadcast, the re-reduce
    shuffle, the copy).  The edges pin still copies every preserved edge;
    bucketing `edges` by `key` would not shrink that copy, since a delta
    on 5% of uniformly spread keys touches every bucket.
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
        # preserved (K2, V2): an Arrow table on the driver, or a checkpoint
        self.edges: pa.Table | DataFrame | None = None
        self.results: DataFrame | None = None    # reduce output per K2
        self.last_affected_keys = 0              # observability for tests
        self._results_table: pa.Table | None = None  # behind a driver store's results
        self._edge_schema: StructType | None = None
        self._spark: SparkSession | None = None

    def _pin(self, df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True)

    def _set_results(self, table: pa.Table, schema: StructType) -> None:
        self._results_table = table
        self.results = self._spark.createDataFrame(table, schema)

    def initial(self, records: DataFrame) -> DataFrame:
        """Full first run: map all records, preserve edges, reduce all.

        The mapped edges are pinned once, so the edges kept and the
        results reduced from them read the same rows.  They stay on the
        driver when they fit under the cap, which one collect of at most
        cap + 1 of them finds out; the pin is then released.  Past the
        cap the pin stays as the distributed store's edges."""
        edges = self._pin(self.map_fn(records))
        self._spark = records.sparkSession
        self._edge_schema = _nullable(edges.schema)
        self.last_affected_keys = -1
        cap, why = _mrbg_local_max(), None
        if cap > 0 and not _driver_groupable(edges.schema):
            why = "the edge schema has columns the driver merge cannot group"
        elif cap > 0:
            table = _bounded_collect(edges, cap)
            if table.num_rows <= cap:
                reduced = self.reduce_fn(edges)
                self._set_results(reduced.toArrow(), _nullable(reduced.schema))
                release_checkpoint(edges)
                self.edges = table
                return self.results
            why = f"the records map to more than {cap} edges"
        if why:
            warnings.warn(
                f"MRBGStore.initial: {why} (I2MR_MRBG_LOCAL_MAX); keeping "
                "the store in Spark and splicing deltas there",
                RuntimeWarning,
                stacklevel=2,
            )
        self.edges = edges
        self.results = self._pin(self.reduce_fn(edges))
        return self.results

    def _collect_delta(self, delta: DataFrame) -> pa.Table | None:
        """The tagged mapped delta as one Arrow table, from one collect of
        at most cap + 1 rows; None past the cap or at cap 0.  Past the cap
        a RuntimeWarning says so: the delta is never truncated."""
        cap = _mrbg_delta_max()
        if cap > 0:
            table = _bounded_collect(delta, cap)
            if table.num_rows <= cap:
                return table
            warnings.warn(
                f"MRBGStore.apply_delta: the delta maps to more than {cap} "
                "edges (I2MR_MRBG_DELTA_MAX); splicing with a distributed "
                "delta and key frame instead of collected ones",
                RuntimeWarning,
                stacklevel=3,
            )
        return None

    def _hot_keys(self, table: pa.Table) -> pa.Array:
        """The distinct keys of `table`, NULL and NaN included, as Spark's
        key equality tells them apart."""
        return pc.unique(_spark_equal(table[self.key]))

    def _distribute(self, why: str) -> None:
        """Move a driver-resident store into Spark for good: `edges` and
        `results` become local checkpoints that :meth:`_splice` patches."""
        warnings.warn(
            f"MRBGStore.apply_delta: {why}; moving the store off the driver "
            "to splice deltas in Spark",
            RuntimeWarning,
            stacklevel=3,
        )
        self.edges = self._pin(self._spark.createDataFrame(self.edges, self._edge_schema))
        self.results = self._pin(self.results)
        self._results_table = None

    def apply_delta(self, inserts: DataFrame | None = None,
                    deletes: DataFrame | None = None) -> DataFrame:
        """Incremental run (PAPER §4.1): map the delta, splice preserved
        edges, re-reduce only affected K2 groups, patch results.

        `deletes` are input records disappearing from the dataset: their
        mapped edges leave the preserved set with bag semantics —
        matched on all intermediate columns with NULLs equal, duplicate
        edges deleting one-for-one, deletes of absent edges ignored —
        and deletes apply before inserts.  Keys match as Spark's grouping
        matches them, so a NULL key is a group like any other, every NaN
        is one key and -0.0 is 0.0.

        A store past MRBG_LOCAL_EDGES_MAX after the merge, or one whose
        delta is not collected (past I2MR_MRBG_DELTA_MAX), moves off the
        driver with a RuntimeWarning.  The superseded `edges` checkpoint
        is released; a superseded `results` frame is not, since callers
        may still hold it.
        """
        assert self.edges is not None, "call initial() first"
        cols = self._edge_schema.names
        tagged = [_tag(self.map_fn(df), cols, base, new)
                  for df, base, new in ((inserts, 0, 1), (deletes, -1, 0)) if df is not None]
        if not tagged:
            self.last_affected_keys = 0
            return self.results
        delta = tagged[0] if len(tagged) == 1 else tagged[0].unionByName(tagged[1])
        table = self._collect_delta(delta)
        if isinstance(self.edges, pa.Table):
            if table is None:
                self._distribute("the delta was not collected (I2MR_MRBG_DELTA_MAX)")
            else:
                self._merge(table)
                cap = _mrbg_local_max()
                if self.edges.num_rows > cap:
                    self._distribute(f"the store holds more than {cap} edges (I2MR_MRBG_LOCAL_MAX)")
                return self.results
        return self._splice(delta, table)

    def _merge(self, delta: pa.Table) -> None:
        """A driver-resident store's splice of the collected, tagged
        delta: the hot keys' edges merge with it by signed counts per
        distinct edge, both tables drop the hot keys' rows and take the
        merged ones, and one Spark job re-reduces the merged edges."""
        hot_keys = self._hot_keys(delta)
        self.last_affected_keys = len(hot_keys)
        if not self.last_affected_keys:
            return

        def is_hot(table: pa.Table) -> pa.ChunkedArray:
            return pc.is_in(_spark_equal(table[self.key]), value_set=hot_keys,
                            skip_nulls=False)

        cols = self._edge_schema.names
        hot = is_hot(self.edges)
        old = self.edges.filter(hot)
        both = pa.concat_tables([old.select(cols), delta.select(cols)],
                                promote_options="default")
        # copies = max(old - deleted, 0) + inserted per distinct edge
        counts = pa.table({
            **{c: _spark_equal(both[c]) for c in cols},
            "_base": np.concatenate([np.ones(old.num_rows, np.int64),
                                     delta["_base"].to_numpy()]),
            "_new": np.concatenate([np.zeros(old.num_rows, np.int64),
                                    delta["_new"].to_numpy()]),
        }).group_by(cols, use_threads=False).aggregate([("_base", "sum"), ("_new", "sum")])
        copies = np.maximum(counts["_base_sum"].to_numpy(), 0) + counts["_new_sum"].to_numpy()
        fresh = counts.select(cols).take(np.repeat(np.arange(counts.num_rows), copies))
        self.edges = pa.concat_tables([self.edges.filter(pc.invert(hot)), fresh],
                                      promote_options="default").combine_chunks()
        reduced = self.reduce_fn(
            self._spark.createDataFrame(fresh, self._edge_schema).coalesce(1))
        results = self._results_table
        self._set_results(
            pa.concat_tables([results.filter(pc.invert(is_hot(results))), reduced.toArrow()],
                             promote_options="default"),
            self.results.schema)

    def _splice(self, delta: DataFrame, table: pa.Table | None) -> DataFrame:
        """The distributed splice of the tagged delta (collected as
        `table`, or None past I2MR_MRBG_DELTA_MAX) into checkpointed
        `edges` and `results`.

        Collected delta: it comes back in as a LocalRelation and its keys
        are a projection of it (duplicates do not change a semi- or
        anti-join), broadcast into every join.  Distributed delta: its
        distinct keys are pinned, counted and joined as AQE decides."""
        cols = self._edge_schema.names
        if table is not None:
            self.last_affected_keys = len(self._hot_keys(table))
            delta = self._spark.createDataFrame(table, delta.schema)
            keys, keys_pin = F.broadcast(delta.select(F.col(self.key).alias("_k"))), None
        else:
            keys = keys_pin = self._pin(delta.select(F.col(self.key).alias("_k")).distinct())
            self.last_affected_keys = keys.count()
        if self.last_affected_keys == 0:
            if keys_pin is not None:
                release_checkpoint(keys_pin)
            return self.results

        def split(df: DataFrame, how: str) -> DataFrame:
            return df.join(keys, df[self.key].eqNullSafe(keys["_k"]), how)

        # hot edges: the affected keys' preserved edges with the delta
        # merged in by signed counts per distinct edge (groupBy puts
        # NULLs together): copies = max(old - deleted, 0) + inserted
        counts = _tag(split(self.edges, "left_semi"), cols, 1, 0).unionByName(delta).groupBy(
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
