"""Group S — scans / sources / sinks (SURVEY §2B).

Reference analog: InputFormat/OutputFormat record readers and writers
(ref ops A7/A8, SURVEY §2A) — Hadoop TextInputFormat/SequenceFile.  Here a
scan is a parquet read through Catalyst: column pruning and predicate
pushdown reach the reader (asserted in tests/test_plans.py), which is what
makes a 100 TB scan read only the bytes the query needs.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from ..catalog import load_tables
from ..sources import formats


def _scratch_dir(prefix: str) -> str:
    """mkdtemp with process-exit cleanup: the returned DataFrames read
    these paths lazily (the caller collects after we return), so removal
    must wait until exit — without it repeated driver/bench runs
    accumulate sink copies on disk."""
    root = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def q_scan_full(spark, sf_dir):
    """Full scan, all columns. 100TB note: trivially parallel, one task/split."""
    load_tables(spark, sf_dir)
    return spark.table("region")


def q_scan_project_prune(spark, sf_dir):
    """Column-pruned scan: ReadSchema must contain only the 2 columns."""
    load_tables(spark, sf_dir)
    return spark.table("lineitem").select("l_orderkey", "l_quantity")


def q_scan_filter_pushdown(spark, sf_dir):
    """Filtered scan: predicate reaches parquet (PushedFilters in plan)."""
    load_tables(spark, sf_dir)
    return spark.table("orders").filter(F.col("o_totalprice") > 400000)


def q_sink_parquet_roundtrip(spark, sf_dir):
    """Write a result to parquet, read it back (ref op A8); hash-checked
    against the un-roundtripped join — the sink must be value-preserving."""
    load_tables(spark, sf_dir)
    out = _scratch_dir("i2mr_sink_") + "/nation_by_region"
    df = (
        spark.table("nation")
        .join(spark.table("region"), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name", "r_name")
    )
    # repartition by the natural read key so downstream consumers get
    # co-located files; at 100TB this would be partitionBy(r_name) instead.
    df.repartition(2, "r_name").write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


#: compaction: many small input files -> few large output files
COMPACT_SMALL = 64
COMPACT_TARGET = 4


def q_sink_compact_small_files(spark, sf_dir):
    """Small-file compaction — the operational fix for the classic HDFS/
    object-store pathology where a job leaves thousands of tiny files
    and every downstream scan pays per-file open cost: orders is first
    written as 64 splinter files, then compacted by rewriting with
    repartition(4).  The query returns the compacted data aggregated by
    priority, hash-checked against the original table — compaction must
    be value-preserving; the file-count collapse itself is asserted in
    tests/test_r3c_ops.py.

    At 100 TB the identical rewrite runs per partition-dir with
    target_size/maxRecordsPerFile steering instead of a fixed 4."""
    load_tables(spark, sf_dir)
    root = _scratch_dir("i2mr_compact_")
    spark.table("orders").repartition(COMPACT_SMALL).write.mode("overwrite").parquet(
        f"{root}/splintered"
    )
    small = spark.read.parquet(f"{root}/splintered")
    small.repartition(COMPACT_TARGET).write.mode("overwrite").parquet(
        f"{root}/compacted"
    )
    compacted = spark.read.parquet(f"{root}/compacted")
    return compacted.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


def q_source_csv_roundtrip(spark, sf_dir):
    """nation -> CSV sink -> CSV source with explicit schema (A7/A8's
    delimited-text formats).  All-exact columns, so the round trip is
    lossless and hash-checks against the base table."""
    load_tables(spark, sf_dir)
    nation = spark.table("nation")
    out = _scratch_dir("i2mr_csv_") + "/nation"
    formats.write_csv(nation, out)
    return formats.read_csv(spark, out, nation.schema)


def q_source_csv_quoted_roundtrip(spark, sf_dir):
    """CSV roundtrip under adversarial content: document text contains
    the delimiter and quote-worthy characters, so the writer must quote
    and the reader must unquote losslessly (A7 delimited-format edge
    semantics).  Hash-checks against the base table — any quoting bug
    shows up as a value mismatch."""
    load_tables(spark, sf_dir)
    d = spark.table("documents").select("doc_id", "text", "lang")
    spiked = d.withColumn(
        "text",
        F.concat(F.lit('a,"b" '), F.col("text"), F.lit(",\ttail")),
    )
    out = _scratch_dir("i2mr_csvq_") + "/docs"
    spiked.write.mode("overwrite").option("header", True).option(
        "quoteAll", True
    ).csv(out)
    back = (
        spark.read.option("header", True).schema(spiked.schema).csv(out)
    )
    return back


def q_source_jsonl_roundtrip(spark, sf_dir):
    """region -> JSON-lines sink -> schema'd source (the self-describing
    record format, A7/A8's SequenceFile analog)."""
    load_tables(spark, sf_dir)
    region = spark.table("region")
    out = _scratch_dir("i2mr_jsonl_") + "/region"
    formats.write_jsonl(region, out)
    return formats.read_jsonl(spark, out, region.schema)


def q_source_text_kv(spark, sf_dir):
    """documents.text -> text sink -> (line_no, line) KV source, the exact
    record shape A7's TextInputFormat feeds a mapper; aggregated to
    order-insensitive totals so the hash check is layout-independent."""
    load_tables(spark, sf_dir)
    out = _scratch_dir("i2mr_text_") + "/docs"
    formats.write_text(spark.table("documents"), out)
    kv = formats.read_text_kv(spark, out)
    return kv.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("line")).alias("total_chars"),
        F.count_distinct("line_no").alias("n_keys"),
    )


def q_source_orc_roundtrip(spark, sf_dir):
    """supplier -> ORC sink -> ORC source (the second columnar format;
    exercises Spark's native ORC reader/writer alongside parquet).
    Lossless for these exact types, so it hash-checks vs the base table."""
    load_tables(spark, sf_dir)
    supplier = spark.table("supplier")
    out = _scratch_dir("i2mr_orc_") + "/supplier"
    supplier.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


def q_sink_partitioned_pruning(spark, sf_dir):
    """Hive-style partitioned sink + partition-pruned source: write orders
    partitioned by o_orderstatus, read back ONLY the 'F' directory.  The
    filter prunes at the directory level — a 100TB table partitioned on a
    low-cardinality key skips whole partitions before any IO (tests assert
    the plan's PartitionFilters).  Hash-checks against a plain filter on
    the base table, proving the sink/source cycle is lossless."""
    load_tables(spark, sf_dir)
    out = _scratch_dir("i2mr_part_") + "/orders_by_status"
    o = spark.table("orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    # explicit schema: partitioned-read best practice, and the only way
    # an empty sink (zero partitions written) reads back at all
    back = spark.read.schema(o.schema).parquet(out).filter(
        F.col("o_orderstatus") == "F"
    )
    return back.select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("price"),
        # partition column round-trips as the directory value (string in
        # the hive layout) — cast back to the base type for the oracle
        F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
    )


def q_sink_dynamic_partition_overwrite(spark, sf_dir):
    """Dynamic partition overwrite — the operational sink mode every
    partitioned-table pipeline relies on for idempotent backfills:
    `partitionOverwriteMode=dynamic` replaces ONLY the partitions the
    incoming batch contains, leaving siblings untouched (static mode
    would wipe the whole table root).  Exercise: write orders
    partitioned by status, then overwrite just the 'F' partition with
    repriced rows (2×); 'O'/'P' must survive byte-for-byte.  Output:
    per-status counts + totals, hash-checked against the expected merge
    computed from the base table.

    100 TB: this is how a daily backfill rewrites one day-dir of a
    date-partitioned table in place — the overwrite's blast radius is
    the batch's own partition set, never the table."""
    load_tables(spark, sf_dir)
    out = _scratch_dir("i2mr_dynpart_") + "/orders_dyn"
    o = spark.table("orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    repriced_f = o.filter(F.col("o_orderstatus") == "F").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    prior = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        repriced_f.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prior)
    back = spark.read.schema(o.schema).parquet(out)
    return back.groupBy(
        F.col("o_orderstatus").cast("string").alias("o_orderstatus")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


def q_sink_upsert_merge(spark, sf_dir):
    """Lakehouse-style MERGE (upsert) without a table format: a delta
    batch of updates (every 10th order, repriced) and inserts (new keys
    offset by 10M) merged into the base by key, delta winning.  The
    implementation is the format-agnostic core of MERGE INTO: union +
    per-key precedence (max_by on a source-rank), one shuffle on the
    merge key.  At 100 TB the same plan runs per partition of a bucketed
    table, touching only buckets the delta hits."""
    load_tables(spark, sf_dir)
    o = spark.table("orders").select("o_orderkey", "o_custkey", "o_totalprice")
    updates = o.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000.0
    )
    inserts = o.filter(F.col("o_orderkey") % 10 == 1).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    delta = updates.unionByName(inserts).withColumn("src", F.lit(1))
    merged = (
        o.withColumn("src", F.lit(0))
        .unionByName(delta)
        .groupBy("o_orderkey")
        .agg(
            F.max_by(F.col("o_custkey"), F.col("src")).alias("o_custkey"),
            F.round(
                F.max_by(F.col("o_totalprice"), F.col("src")), 2
            ).alias("total_price"),
        )
    )
    return merged


def q_sink_bucketed_join(spark, sf_dir):
    """Bucketed sink + exchange-free co-located join (the storage-layout
    form of the reference's Projector co-partitioning, A9): orders and
    lineitem are saved bucketed by orderkey, then joined and aggregated —
    Catalyst plans NO Exchange on either join side (plan-asserted in
    tests/test_plans.py).  At 100 TB this is the ingest-once /
    never-reshuffle fact-fact join."""
    from ..sources.bucketing import bucketed_join, write_bucketed

    load_tables(spark, sf_dir)
    write_bucketed(
        spark.table("orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        "orders_bjq", 4, "o_orderkey",
    )
    write_bucketed(
        spark.table("lineitem").select(
            F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
        ),
        "lineitem_bjq", 4, "o_orderkey",
    )
    j = bucketed_join(spark, "orders_bjq", "lineitem_bjq", ["o_orderkey"])
    return j.groupBy("o_orderkey").agg(
        F.max("o_custkey").alias("o_custkey"),
        F.round(F.max("o_totalprice"), 2).alias("total_price"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n_lines"),
    )


def q_source_incremental_files(spark, sf_dir):
    """Delta input at the STORAGE layer (ref op A12, batch form): events
    land as 3 chronological chunk files; an incremental reader lists the
    files added since its last high-water mark (here: chunks 2-3) and
    reads ONLY those paths — no rescan of already-processed data.
    Hash-checked against the deterministic chunk-membership
    reconstruction (ntile over the (ts, event_id) total order)."""
    from ..streaming.incremental import chunk_events

    load_tables(spark, sf_dir)
    chunks = chunk_events(spark, spark.table("events"), n=3)
    base = _scratch_dir("i2mr_incr_")
    for i, c in enumerate(chunks):
        c.write.mode("overwrite").parquet(f"{base}/chunk-{i}")
    new_files = [f"{base}/chunk-1", f"{base}/chunk-2"]  # past the watermark
    back = spark.read.parquet(*new_files)
    return back.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )


def q_source_schema_evolution(spark, sf_dir):
    """Schema evolution at the storage layer (A7 for long-lived tables):
    batch 1 writes (key, name); batch 2 adds two columns; one
    mergeSchema read returns the union schema with batch-1 rows
    NULL-filled — how a 100 TB table absorbs new columns without
    rewriting old files.  The batch= directory doubles as a hive
    partition column, so per-batch predicates still prune at the
    directory level."""
    load_tables(spark, sf_dir)
    base = _scratch_dir("i2mr_evo_") + "/nation_evo"
    spark.table("nation").select("n_nationkey", "n_name").write.mode(
        "overwrite"
    ).parquet(base + "/batch=1")
    spark.table("nation").select(
        "n_nationkey",
        "n_name",
        "n_regionkey",
        F.length("n_name").cast("int").alias("name_len"),
    ).write.mode("overwrite").parquet(base + "/batch=2")
    return (
        spark.read.option("mergeSchema", True)
        .parquet(base)
        .select("n_nationkey", "n_name", "n_regionkey", "name_len", "batch")
    )


def q_source_json_nested(spark, sf_dir):
    """NESTED-JSON roundtrip: orders are reshaped into one JSON document
    per customer ({custkey, orders: [{okey, price}...]}), written as
    JSON-lines, read back with an explicit nested schema, then
    re-normalized by exploding the array — the denormalize/normalize
    cycle every document-store ingestion runs.  The final aggregate must
    equal computing it straight from the relational table (lossless
    cycle); DECIMAL(18,2) accumulation keeps the sum exact across
    engines.

    100TB: the nested build is one groupBy(custkey) with collect_list —
    bounded by orders-per-customer; reading back streams line-wise."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    nested = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("o_orderkey").alias("okey"),
                    F.col("o_totalprice").alias("price"),
                )
            )
        ).alias("orders")
    )
    out = _scratch_dir("i2mr_jnest_") + "/cust_orders"
    nested.select(F.to_json(F.struct("custkey", "orders")).alias("value")) \
        .write.mode("overwrite").text(out)
    schema = (
        "custkey long, orders array<struct<okey: long, price: double>>"
    )
    back = spark.read.schema(schema).json(out)
    ex = back.select("custkey", F.explode("orders").alias("ord"))
    return ex.groupBy("custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("ord.price").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


def q_filter_dynamic_partition_pruning(spark, sf_dir):
    """Dynamic partition pruning: events land in an event_type-partitioned
    table; the probe joins a tiny dim whose FILTER decides which
    partitions matter — Catalyst injects the dim's keys as a runtime
    partition filter, so only the matching directories are read (the
    plan's PartitionFilters carries `dynamicpruning`, asserted in
    tests/test_plans.py).  At 100 TB this is the difference between
    scanning 2 partitions and scanning all of them when the selective
    predicate lives on the dimension, not the fact."""
    load_tables(spark, sf_dir)
    out = _scratch_dir("i2mr_dpp_") + "/events_by_type"
    ev = spark.table("events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    fact = spark.read.schema(ev.schema).parquet(out)
    dim = (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .filter(F.col("event_type").isin("view", "purchase"))
        .select("event_type")
    )
    return (
        fact.join(dim, "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )


#: time-travel snapshot boundary: orders strictly before this date are v0
TT_CUTOFF = "1998-01-01"


def q_sink_time_travel(spark, sf_dir):
    """Versioned-snapshot sink with time travel — the lakehouse pattern
    (Delta/Iceberg \"VERSION AS OF\") on plain parquet: v0 is the base
    snapshot, v1 = v0 plus a late-arriving delta, each version readable
    independently forever.  A reader pins a version by path; nothing is
    rewritten in place, so concurrent readers of v0 are never torn.

    Output: per-version rollup (version, n_orders, revenue) read back
    FROM THE SINK, proving both snapshots stay intact after the new
    version lands.  100 TB: each version is an immutable directory —
    publishing v1 costs only the delta copy plus a metadata pointer
    (here the directory name), and old versions age out by retention,
    exactly how table formats implement it."""
    load_tables(spark, sf_dir)
    root = _scratch_dir("i2mr_timetravel_")
    o = spark.table("orders")
    base = o.filter(F.col("o_orderdate") < F.lit(TT_CUTOFF).cast("timestamp_ntz"))
    delta = o.filter(F.col("o_orderdate") >= F.lit(TT_CUTOFF).cast("timestamp_ntz"))
    base.write.mode("overwrite").parquet(root + "/v0")
    # v1 = base snapshot + delta; written from the v0 SINK (not the source)
    # so the chain is what a real table-format commit would do
    spark.read.parquet(root + "/v0").unionByName(delta).write.mode(
        "overwrite"
    ).parquet(root + "/v1")
    out = []
    for ver in (0, 1):
        snap = spark.read.parquet(f"{root}/v{ver}")
        out.append(
            snap.agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                        "double"
                    ),
                    2,
                ).alias("revenue"),
            ).select(F.lit(ver).alias("version"), "n_orders", "revenue")
        )
    return out[0].unionByName(out[1])


#: malformed lines injected into the CSV source (wrong arity / bad types)
BAD_CSV_LINES = ["999,NO_REGION_COLUMN", "abc,BADKEY,xyz", "1,2,3,4,5"]


def q_source_csv_malformed(spark, sf_dir):
    """Corrupt-record handling on a delimited source (ref op A7's ugly
    half): nation exported to CSV plus three injected bad lines, read
    back in PERMISSIVE and DROPMALFORMED modes.  The output pins Spark's
    ACTUAL (and surprising) CSV semantics: arity mismatches are
    tolerated — a short row null-fills, a long row sheds its extras —
    and only a TYPE-parse failure ('abc' as INT) is malformed; so
    PERMISSIVE keeps all 28 lines with exactly 1 quarantined in the
    corrupt-record column, and DROPMALFORMED sheds exactly that 1.
    Output: per-mode (n_rows, n_parsed keys, n_bad).

    100 TB: mode choice is a reader conf, per-split and shuffle-free;
    PERMISSIVE + a corrupt-record sink is the production quarantine
    pattern (never DROPMALFORMED on data you can't re-pull)."""
    load_tables(spark, sf_dir)
    root = _scratch_dir("i2mr_badcsv_")
    spark.table("nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).coalesce(1).write.mode("overwrite").option("header", "false").csv(root)
    with open(root + "/part-bad.csv", "w") as fh:
        fh.write("\n".join(BAD_CSV_LINES) + "\n")
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT, _corrupt STRING"
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(root)
    )
    dropped = (
        spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("mode", "DROPMALFORMED")
        .csv(root)
    )
    # Spark refuses a query whose only referenced column is the corrupt-
    # record column (SPARK-22580) — counting a data column alongside it
    # (n_parsed, the rows whose key actually parsed) satisfies the
    # analyzer AND is the more useful audit
    p = permissive.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("n_nationkey").alias("n_parsed"),
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0)).alias(
            "n_bad"
        ),
    ).select(F.lit("permissive").alias("mode"), "n_rows", "n_parsed", "n_bad")
    d = dropped.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("n_nationkey").alias("n_parsed"),
        F.lit(0).cast("long").alias("n_bad"),
    ).select(
        F.lit("dropmalformed").alias("mode"), "n_rows", "n_parsed", "n_bad"
    )
    return p.unionByName(d)


# =================================================================
# Group S — ingestion semantics
# =================================================================
def q_source_csv_multiline(spark, sf_dir):
    """Multi-line CSV parsing semantics (ref op A7, quoted-embedded-
    newline case): part names are rewritten with real newlines,
    written as a quoted CSV, and read back with multiLine=true — the
    parser mode that cannot split files (a whole-file read unit), which
    is exactly why the check matters: the roundtrip must preserve row
    count and content despite records spanning physical lines."""
    load_tables(spark, sf_dir)
    p = spark.table("part").filter(F.col("p_partkey") <= 200)
    staged = p.select(
        "p_partkey",
        F.regexp_replace(F.col("p_name"), " ", "\n").alias("name_multi"),
    )
    out_dir = os.path.join(
        tempfile.gettempdir(), f"i2mr_csv_multiline_{os.path.basename(sf_dir)}"
    )
    (
        staged.coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .csv(out_dir)
    )
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .schema("p_partkey long, name_multi string")
        .csv(out_dir)
    )
    return back.select(
        "p_partkey",
        F.size(F.split(F.col("name_multi"), "\n")).alias("n_lines"),
        F.regexp_replace(F.col("name_multi"), "\n", " ").alias("restored"),
    )


BINF_N = 50  #: files materialized for the binaryFile scan


def q_source_binary_files(spark, sf_dir):
    """Opaque binary ingest via `spark.read.format("binaryFile")` — the
    source path every multimodal (image/audio/video) pipeline starts
    from: bytes land as one `binary` column plus path/length metadata,
    no decode attempted at scan time.  The fixture materializes 50
    documents as standalone .bin files (content = utf-8 text bytes),
    scans them back, and emits (file name, byte length, md5 of the
    BYTES).  Hash-checked: the oracle derives the same triple from the
    documents table itself, so any byte corruption in the write-scan
    path flips the md5.  At 100 TB this scan partitions by file and
    never materializes more than a partition of blobs at once."""
    load_tables(spark, sf_dir)
    # NULL text: no blob to materialize (the oracle filters identically)
    d = spark.table("documents").filter(
        (F.col("doc_id") < BINF_N) & F.col("text").isNotNull()
    )
    root = _scratch_dir("i2mr_binf_") + "/blobs"
    os.makedirs(root, exist_ok=True)
    for r in d.select("doc_id", "text").collect():  # bounded: 50 files
        with open(f"{root}/doc_{r['doc_id']:05d}.bin", "wb") as f:
            f.write(r["text"].encode("utf-8"))
    scanned = spark.read.format("binaryFile").load(root)
    return scanned.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


#: fixed-width layout for the part table (field widths, in order)
FW_KEY_W, FW_NAME_W, FW_BRAND_W, FW_TYPE_W, FW_SIZE_W, FW_CENTS_W = (
    8, 60, 10, 25, 4, 12,
)


def q_source_fixed_width(spark, sf_dir):
    """Fixed-width text source — the mainframe/COBOL interchange format
    A7-class readers still meet: part rows serialized as padded
    column-aligned lines (key 8, name 60, brand 10, type 25, size 4,
    retail CENTS 12 — money as an integer field, the COBOL convention),
    written through the text sink, read back as raw lines and re-parsed
    by 1-based substring slicing + rtrim + cast.  Parsing is pure JVM
    substring arithmetic on the scan (at 100 TB this is a map-only
    format conversion, no shuffle); the oracle recomputes the declared
    layout semantics straight from the base table."""
    load_tables(spark, sf_dir)
    p = spark.table("part")
    cents = (F.col("p_retailprice").cast("decimal(12,2)") * 100).cast("long")
    line = F.concat(
        F.rpad(F.col("p_partkey").cast("string"), FW_KEY_W, " "),
        F.rpad(F.col("p_name"), FW_NAME_W, " "),
        F.rpad(F.col("p_brand"), FW_BRAND_W, " "),
        F.rpad(F.col("p_type"), FW_TYPE_W, " "),
        F.rpad(F.col("p_size").cast("string"), FW_SIZE_W, " "),
        F.rpad(cents.cast("string"), FW_CENTS_W, " "),
    )
    out = _scratch_dir("i2mr_fw_") + "/part"
    p.select(line.alias("value")).write.mode("overwrite").text(out)
    raw = spark.read.text(out)
    pos_name = 1 + FW_KEY_W
    pos_brand = pos_name + FW_NAME_W
    pos_type = pos_brand + FW_BRAND_W
    pos_size = pos_type + FW_TYPE_W
    pos_cents = pos_size + FW_SIZE_W
    return raw.select(
        F.rtrim(F.substring("value", 1, FW_KEY_W)).cast("long").alias(
            "p_partkey"
        ),
        F.rtrim(F.substring("value", pos_name, FW_NAME_W)).alias("p_name"),
        F.rtrim(F.substring("value", pos_brand, FW_BRAND_W)).alias("p_brand"),
        F.rtrim(F.substring("value", pos_type, FW_TYPE_W)).alias("p_type"),
        F.rtrim(F.substring("value", pos_size, FW_SIZE_W)).cast("int").alias(
            "p_size"
        ),
        F.rtrim(F.substring("value", pos_cents, FW_CENTS_W))
        .cast("long")
        .alias("retail_cents"),
    )


def q_source_weblog_parse(spark, sf_dir):
    """Apache combined-log SOURCE: events serialize to classic access-log
    lines (ip - - [-] "GET /path HTTP/1.1" status bytes), go through the
    text sink, come back as raw lines, and are re-parsed by ONE
    regexp_extract per field — the grep-shaped ETL that still feeds
    most traffic analytics.  Parsing is JVM-side regex on the scan (a
    map-only format conversion at any scale); the oracle recomputes the
    aggregate straight from events with the same synthesis rules."""
    load_tables(spark, sf_dir)
    # complete-case: an event without a byte count OR without a user
    # (NULL user_id -> NULL IP octets) cannot form a log line (concat
    # with NULL serializes an empty line that fails the read-back
    # cast) — excluded on both sides
    e = spark.table("events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    line = F.concat(
        F.lit("10."),
        (F.col("user_id") % 256).cast("string"),
        F.lit("."),
        (F.expr("user_id div 256") % 256).cast("string"),
        F.lit('.1 - - [-] "GET /'),
        F.col("event_type"),
        F.lit(' HTTP/1.1" '),
        F.when(F.col("event_type") == "error", F.lit(500))
        .otherwise(F.lit(200))
        .cast("string"),
        F.lit(" "),
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").cast(
            "string"
        ),
    )
    out = _scratch_dir("i2mr_weblog_") + "/access"
    e.select(line.alias("value")).write.mode("overwrite").text(out)
    raw = spark.read.text(out)
    parsed = raw.select(
        F.regexp_extract("value", r'^(\S+) - - \[-\] "GET /(\S+) HTTP/1\.1" (\d+) (\d+)$', 2).alias("path"),
        F.regexp_extract("value", r'^(\S+) - - \[-\] "GET /(\S+) HTTP/1\.1" (\d+) (\d+)$', 3)
        .cast("int")
        .alias("status"),
        F.regexp_extract("value", r'^(\S+) - - \[-\] "GET /(\S+) HTTP/1\.1" (\d+) (\d+)$', 4)
        .cast("long")
        .alias("bytes"),
    )
    return parsed.groupBy("path", "status").agg(
        F.count(F.lit(1)).alias("n_requests"),
        F.sum("bytes").alias("total_bytes"),
    )


def q_source_json_array(spark, sf_dir):
    """JSON-ARRAY source: the whole nation table serialized as ONE json
    array in ONE file (the API-dump / config shape), read back with
    wholetext + from_json(array<struct>) + explode — the ingestion path
    JSONL line readers cannot handle because no row boundary aligns
    with a line.  Roundtrips the bounded table exactly; the oracle is
    the base table."""
    load_tables(spark, sf_dir)
    n = spark.table("nation")
    payload = n.agg(
        F.concat(
            F.lit("["),
            F.concat_ws(
                ",",
                F.array_sort(
                    F.collect_list(
                        F.to_json(
                            F.struct("n_nationkey", "n_name", "n_regionkey")
                        )
                    )
                ),
            ),
            F.lit("]"),
        ).alias("value")
    )
    out = _scratch_dir("i2mr_jsonarr_") + "/nation"
    payload.coalesce(1).write.mode("overwrite").text(out)
    raw = spark.read.option("wholetext", True).text(out)
    schema = (
        "array<struct<n_nationkey: int, n_name: string, n_regionkey: int>>"
    )
    return (
        raw.select(
            F.explode(F.from_json("value", schema)).alias("r")
        )
        .select(
            F.col("r")["n_nationkey"].alias("n_nationkey"),
            F.col("r")["n_name"].alias("n_name"),
            F.col("r")["n_regionkey"].alias("n_regionkey"),
        )
    )


QUERIES = {
    "source_csv_malformed": q_source_csv_malformed,
    "sink_time_travel": q_sink_time_travel,
    "sink_compact_small_files": q_sink_compact_small_files,
    "scan_full": q_scan_full,
    "source_json_nested": q_source_json_nested,
    "filter_dynamic_partition_pruning": q_filter_dynamic_partition_pruning,
    "source_schema_evolution": q_source_schema_evolution,
    "scan_project_prune": q_scan_project_prune,
    "scan_filter_pushdown": q_scan_filter_pushdown,
    "sink_parquet_roundtrip": q_sink_parquet_roundtrip,
    "source_csv_roundtrip": q_source_csv_roundtrip,
    "source_csv_quoted_roundtrip": q_source_csv_quoted_roundtrip,
    "source_jsonl_roundtrip": q_source_jsonl_roundtrip,
    "source_text_kv": q_source_text_kv,
    "source_orc_roundtrip": q_source_orc_roundtrip,
    "sink_partitioned_pruning": q_sink_partitioned_pruning,
    "sink_dynamic_partition_overwrite": q_sink_dynamic_partition_overwrite,
    "sink_upsert_merge": q_sink_upsert_merge,
    "sink_bucketed_join": q_sink_bucketed_join,
    "source_incremental_files": q_source_incremental_files,
    "source_csv_multiline": q_source_csv_multiline,
    "source_binary_files": q_source_binary_files,
    "source_fixed_width": q_source_fixed_width,
    "source_weblog_parse": q_source_weblog_parse,
    "source_json_array": q_source_json_array,
}

ORACLES = {
    # PERMISSIVE keeps all injected lines (+3), parses the key on the two
    # arity-mismatched ones (+2), quarantines only the type failure (1);
    # DROPMALFORMED sheds exactly that one line
    "source_csv_malformed": (
        "SELECT 'permissive' AS mode, "
        f"count(*) + {len(BAD_CSV_LINES)} AS n_rows, "
        "count(*) + 2 AS n_parsed, "
        "CAST(1 AS BIGINT) AS n_bad FROM nation "
        "UNION ALL "
        "SELECT 'dropmalformed', count(*) + 2, count(*) + 2, "
        "CAST(0 AS BIGINT) FROM nation"
    ),
    "sink_time_travel": (
        "SELECT 0 AS version, count(*) AS n_orders, "
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) "
        "AS revenue FROM orders "
        f"WHERE o_orderdate < TIMESTAMP '{TT_CUTOFF} 00:00:00' "
        "UNION ALL "
        "SELECT 1 AS version, count(*) AS n_orders, "
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) "
        "AS revenue FROM orders"
    ),
    "sink_compact_small_files": (
        "SELECT o_orderpriority, count(*) AS n, "
        "round(sum(o_totalprice), 2) AS total FROM orders "
        "GROUP BY o_orderpriority"
    ),
    "source_json_nested": (
        "SELECT o_custkey AS custkey, count(*) AS n_orders, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price "
        "FROM orders GROUP BY o_custkey"
    ),
    "filter_dynamic_partition_pruning": (
        "SELECT event_type, count(*) AS n_events, "
        "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value "
        "FROM events WHERE event_type IN ('view', 'purchase') "
        "GROUP BY event_type"
    ),
    "source_schema_evolution": (
        "SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS n_regionkey, "
        "CAST(NULL AS INT) AS name_len, 1 AS batch FROM nation "
        "UNION ALL SELECT n_nationkey, n_name, n_regionkey, "
        "CAST(length(n_name) AS INT), 2 FROM nation"
    ),
    "scan_full": "SELECT * FROM region",
    "scan_project_prune": "SELECT l_orderkey, l_quantity FROM lineitem",
    "scan_filter_pushdown": "SELECT * FROM orders WHERE o_totalprice > 400000",
    # the sink is side-effecting but value-preserving: the read-back rows
    # must equal the joined projection that was written
    "sink_parquet_roundtrip": (
        "SELECT n_nationkey, n_name, r_name FROM nation "
        "JOIN region ON n_regionkey = r_regionkey"
    ),
    "source_csv_roundtrip": "SELECT * FROM nation",
    "source_csv_quoted_roundtrip": (
        "SELECT doc_id, 'a,\"b\" ' || text || ',' || chr(9) || 'tail' AS text, "
        "lang FROM documents"
    ),
    "source_jsonl_roundtrip": "SELECT * FROM region",
    "source_text_kv": (
        "SELECT count(*) AS n_lines, CAST(sum(length(text)) AS BIGINT) AS total_chars,"
        " count(DISTINCT doc_id) AS n_keys FROM documents"
    ),
    "source_orc_roundtrip": "SELECT * FROM supplier",
    "sink_partitioned_pruning": (
        "SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price, "
        "o_orderstatus FROM orders WHERE o_orderstatus = 'F'"
    ),
    "sink_dynamic_partition_overwrite": (
        "SELECT o_orderstatus, count(*) AS n, "
        "round(sum(CASE WHEN o_orderstatus = 'F' "
        "THEN o_totalprice * 2 ELSE o_totalprice END), 2) AS total "
        "FROM orders GROUP BY o_orderstatus"
    ),
    "sink_upsert_merge": (
        "WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice, 0 AS src "
        "FROM orders), "
        "delta AS ("
        "SELECT o_orderkey, o_custkey, o_totalprice + 1000.0, 1 FROM orders "
        "WHERE o_orderkey % 10 = 0 "
        "UNION ALL "
        "SELECT o_orderkey + 10000000, o_custkey, o_totalprice, 1 FROM orders "
        "WHERE o_orderkey % 10 = 1), "
        "u AS (SELECT * FROM base UNION ALL SELECT * FROM delta) "
        "SELECT o_orderkey, max_by(o_custkey, src) AS o_custkey, "
        "round(max_by(o_totalprice, src), 2) AS total_price "
        "FROM u GROUP BY o_orderkey"
    ),
    "source_incremental_files": (
        "SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us "
        "FROM (SELECT *, ntile(3) OVER (ORDER BY ts, event_id) AS c "
        "FROM events) t WHERE c >= 2"
    ),
    "sink_bucketed_join": (
        "SELECT o_orderkey, max(o_custkey) AS o_custkey, "
        "round(max(o_totalprice), 2) AS total_price, "
        "round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_lines "
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
        "GROUP BY o_orderkey"
    ),
    "source_csv_multiline": (
        # oracle recomputes from the base table: the roundtrip must not
        # lose rows or content, so line counts and the reassembled text
        # match the pre-split values
        "SELECT p_partkey, len(string_split(p_name, ' ')) AS n_lines, "
        "p_name AS restored FROM part WHERE p_partkey <= 200"
    ),
    "source_binary_files": (
        "SELECT 'doc_' || lpad(CAST(doc_id AS VARCHAR), 5, '0') || '.bin' "
        "AS fname, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
        "md5(text) AS content_md5 FROM documents "
        f"WHERE doc_id < {BINF_N} AND text IS NOT NULL"
    ),
    "source_fixed_width": (
        "SELECT p_partkey, "
        f"rtrim(substr(p_name, 1, {FW_NAME_W})) AS p_name, "
        f"rtrim(substr(p_brand, 1, {FW_BRAND_W})) AS p_brand, "
        f"rtrim(substr(p_type, 1, {FW_TYPE_W})) AS p_type, "
        "CAST(p_size AS INT) AS p_size, "
        "CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) "
        "AS retail_cents FROM part"
    ),
    "source_weblog_parse": (
        "SELECT event_type AS path, "
        "CAST(CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS INT) "
        "AS status, CAST(count(*) AS BIGINT) AS n_requests, "
        "CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) "
        "AS BIGINT) AS total_bytes FROM events "
        "WHERE value IS NOT NULL AND user_id IS NOT NULL GROUP BY 1, 2"
    ),
    "source_json_array": (
        "SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name, "
        "CAST(n_regionkey AS INT) AS n_regionkey FROM nation"
    ),
}
