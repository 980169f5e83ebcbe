"""Source/sink format layer — the reference's input/output formats
(SURVEY §2A ops A7/A8: TextInputFormat, KeyValueTextInputFormat,
SequenceFile readers/writers) re-expressed on Spark's reader stack.

Parquet is the canonical columnar format (catalog.py); this module adds
the row-oriented formats a MapReduce user would bring: newline-delimited
text with stable line keys, delimited CSV with explicit schema, and
JSON-lines.  Every reader returns a plain DataFrame, so the full query
surface composes downstream.

Scale notes (100 TB):
- all readers here are splittable Spark file sources — a directory of
  files fans out across executors with no driver involvement;
- `read_text_kv` assigns line keys per partition via zipWithIndex (one
  lightweight count job to size partition offsets — the only RDD use in
  this repo, because DataFrames deliberately have no row-order concept);
- CSV/JSON readers take explicit schemas: schema inference at scale means
  an extra full pass over the data — never rely on it off the toy path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType


def write_text(df: DataFrame, path: str) -> None:
    """Sink the `text` column as newline-delimited text (A8's
    TextOutputFormat)."""
    df.select("text").write.mode("overwrite").text(path)


def read_text_kv(spark: SparkSession, path: str) -> DataFrame:
    """Text lines as (line_no, line) — the KV pair A7's TextInputFormat
    hands a mapper (byte offsets there; a stable dense line index here).

    Line numbers follow Spark's partition order of the input files:
    deterministic for a fixed file layout.
    """
    rdd = spark.read.text(path).rdd.map(lambda r: r[0]).zipWithIndex()
    schema = StructType(
        [StructField("line_no", LongType()), StructField("line", StringType())]
    )
    return spark.createDataFrame(rdd.map(lambda kv: (kv[1], kv[0])), schema)


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", "true").csv(path)


def read_csv(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    return spark.read.schema(schema).option("header", "true").csv(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON-lines sink — the schema travels with the rows (the moral
    equivalent of the reference's self-describing SequenceFile)."""
    df.write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    return spark.read.schema(schema).json(path)
