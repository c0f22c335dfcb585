"""Corpus file-format ingestion: the `documents` table from JSONL /
CSV / parquet shards, with schema enforcement and malformed-row
quarantine.

The reference reads only the Postgres heap (SURVEY §2.1: "File
formats/connectors: none beyond Postgres heap + HTTP"); a training-data
engine ingests crawler output — JSONL shards, CSV exports, parquet —
into one canonical documents schema. Design rules at 100 TB:

* **Explicit schema, never inferSchema.** Inference is a full extra
  pass over the input before the real read; the canonical schema is a
  constant.
* **Malformed rows quarantine, they don't kill the job.** PERMISSIVE
  mode + columnNameOfCorruptRecord routes every unparseable line into
  a side relation (the badRecordsPath pattern as a same-pass split);
  one corrupt shard out of 10⁵ must not fail a day-long ingest.
* **Reads stay declarative** (spark.read + options), so partition
  discovery, split planning, and column pruning are Catalyst's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

# Canonical documents schema (TESTDATA.md / FIXTURES.md).
DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

_CORRUPT_COL = "_corrupt_record"

_READ_SCHEMA = StructType(
    DOCUMENTS_SCHEMA.fields + [StructField(_CORRUPT_COL, StringType())]
)


def read_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Line-delimited JSON shards under `path` with quarantine column.

    A line that is not valid JSON, or whose fields don't coerce to the
    canonical types, parses to all-null data columns with the raw line
    captured in `_corrupt_record`."""
    return (
        spark.read.schema(_READ_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT_COL)
        .json(path)
    )


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    """Headered CSV shards under `path` with quarantine column (rows
    with unparseable field types land in `_corrupt_record`)."""
    return (
        spark.read.schema(_READ_SCHEMA)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT_COL)
        .option("enforceSchema", "false")  # header order may vary per shard
        .csv(path)
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet shards: schema is in the footer, so type mismatches fail
    the read up front rather than per row; quarantine column is present
    (always null) for a uniform downstream contract."""
    df = spark.read.parquet(path)
    return df.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in DOCUMENTS_SCHEMA.fields
        ],
        F.lit(None).cast("string").alias(_CORRUPT_COL),
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC shards — the other self-describing columnar format Spark
    ships natively (warehouse exports are often ORC). Same contract as
    parquet: footer schema, up-front type failures, uniform (always
    null) quarantine column."""
    df = spark.read.orc(path)
    return df.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in DOCUMENTS_SCHEMA.fields
        ],
        F.lit(None).cast("string").alias(_CORRUPT_COL),
    )


_READERS = {
    "jsonl": read_jsonl,
    "json": read_jsonl,
    "csv": read_csv,
    "parquet": read_parquet,
    "orc": read_orc,
}


def ingest(
    spark: SparkSession, path: str, fmt: str = "jsonl"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Read corpus shards and split (clean, quarantine, raw) in one
    pass.

    clean: canonical DOCUMENTS_SCHEMA, n_chars backfilled from the text
    when the shard omitted it, rows with no usable text dropped.
    quarantine: the raw offending records (plus any doc_id that did
    parse) for the ingest audit log.
    raw: the CACHED source relation both branches derive from — the
    caller owns its lifecycle and should `raw.unpersist()` once the
    clean/quarantine outputs are consumed (otherwise each ingest call
    pins a corpus-sized cached relation for the session's lifetime).

    The raw relation is cached before the split: Spark disallows (and
    at best recomputes) queries that filter the corrupt column straight
    off a file scan, and the two branches would otherwise re-read the
    input — one materialization serves both.
    """
    try:
        reader = _READERS[fmt]
    except KeyError:
        raise ValueError(
            f"unknown corpus format {fmt!r}; expected one of {sorted(_READERS)}"
        ) from None
    raw = reader(spark, path).cache()
    clean, quarantine = split_quarantine(raw)
    return clean, quarantine, raw


def split_quarantine(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a raw corpus relation (with `_corrupt_record`) into
    (clean, quarantine). Batch callers should cache `raw` first (both
    branches scan it); streaming foreachBatch frames are already
    materialized per micro-batch."""
    bad = F.col(_CORRUPT_COL).isNotNull() | F.col("text").isNull()
    quarantine = raw.filter(bad).select(
        "doc_id", F.col(_CORRUPT_COL).alias("raw_record")
    )
    clean = raw.filter(~bad).select(
        "doc_id",
        "text",
        "lang",
        "source",
        F.coalesce("n_chars", F.length("text").cast("long")).alias("n_chars"),
    )
    return clean, quarantine


def stream_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Structured Streaming source over a directory of JSONL shards —
    the tail-the-crawler-drop ingest mode. Each newly landed shard file
    becomes (part of) a micro-batch; schema and quarantine contract are
    identical to the batch reader."""
    return (
        spark.readStream.schema(_READ_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT_COL)
        .json(path)
    )


def stream_ingest(
    spark: SparkSession,
    path: str,
    clean_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuous corpus ingest: tail JSONL shards under `path`,
    routing every micro-batch into a clean parquet corpus and a
    quarantine parquet audit log (foreachBatch — one source read feeds
    both sinks; a two-query split would scan the input twice). Returns
    the started StreamingQuery.

    foreachBatch is at-least-once, so each batch lands in both dirs
    through the ledger landing rule (streaming/ledger.land): its OWN
    `batch=<id>` partition directory, overwritten on replay, so the
    sinks are effectively exactly-once. Readers see `batch` as an
    ordinary partition column on top of the canonical schema."""
    from ..streaming.ledger import land

    def _route(batch: DataFrame, batch_id: int) -> None:
        batch = batch.cache()
        clean, quarantine = split_quarantine(batch)
        land(clean, clean_dir, batch_id)
        land(quarantine, quarantine_dir, batch_id)
        batch.unpersist()

    writer = (
        stream_jsonl(spark, path)
        .writeStream.foreachBatch(_route)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
