"""Streaming training-corpus ingestion: the LLM-data-pipeline operators
composed under Structured Streaming.

A batch corpus build (operators/dedup.py, operators/text.py) assumes
the whole corpus is on disk; a crawl delivers documents continuously.
This module runs the same first-pass hygiene ONLINE over a document
stream:

  1. fingerprint       md5(lower(trim(text))) — the exact-dedup key
                       (same normalization as docs_exact_dedup)
  2. streaming dedup   dropDuplicatesWithinWatermark on the fingerprint:
                       a re-crawled duplicate arriving within the
                       horizon is dropped; state is bounded by the
                       horizon, never the corpus (the same state-bounding
                       pattern as receiver replay dedup)
  3. quality gate      length floor + lexical-diversity floor — the
                       docs_quality_score formula as a streaming filter

All narrow column ops plus one dedup state lookup — a crawl shard adds
no shuffle beyond the dedup's hash exchange on the fingerprint. At
100 TB/day the horizon, not the corpus size, sizes the state store.

NEAR-dup streaming dedup (SimHashNearDupIndex below) chains after the
exact pass as a foreachBatch join against a persisted signature index:
LSH banding needs band tables, not per-key state, so the state lives
in a parquet signature index rather than the state store — each
micro-batch band-joins its signatures against the accepted-so-far
index plus itself, drops verified near-dups, and appends the
survivors' signatures.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ledger import Ledger, committed_batches, land, read

DOC_STREAM_SCHEMA = "doc_id bigint, text string, lang string, ts timestamp"


def fingerprint_col(text: Column) -> Column:
    """Exact-dedup fingerprint; identical to docs_exact_dedup's."""
    return F.md5(F.lower(F.trim(text)))


def quality_ok(
    text: Column, min_chars: int = 20, min_uniq_ratio: float = 0.3
) -> Column:
    """The docs_quality_score components as a boolean gate."""
    n_chars = F.length(text)
    n_tokens = n_chars - F.length(F.replace(text, F.lit(" "), F.lit(""))) + 1
    n_distinct = F.size(F.array_distinct(F.split(text, " ")))
    uniq_ratio = n_distinct / n_tokens.cast("double")
    return (n_chars >= min_chars) & (uniq_ratio >= min_uniq_ratio)


def ingest_stream(
    docs: DataFrame,
    horizon: str = "1 hour",
    min_chars: int = 20,
    min_uniq_ratio: float = 0.3,
) -> DataFrame:
    """Online corpus hygiene over a streaming document feed.

    Returns the accepted stream: quality-gated, fingerprinted,
    watermark-bounded exact-deduped. The stateless quality gate runs
    BEFORE the stateful dedup so rejected documents never hash,
    shuffle, or occupy a state-store entry for the horizon — on a
    spam-heavy crawl shard that shrinks dedup state and shuffle volume
    by the reject rate, with identical output (a junk doc's duplicates
    are equally junk). Rows carry the fingerprint so a downstream
    batch compactor can merge shards without re-hashing.
    """
    return (
        docs.filter(quality_ok(F.col("text"), min_chars, min_uniq_ratio))
        .withColumn("fingerprint", fingerprint_col(F.col("text")))
        .withWatermark("ts", horizon)
        .dropDuplicatesWithinWatermark(["fingerprint"])
        .select("doc_id", "text", "lang", "ts", "fingerprint")
    )


class SimHashNearDupIndex(Ledger):
    """Online near-duplicate filter: SimHash block-LSH against a
    persisted signature index, run per micro-batch via foreachBatch.

    The exact-dedup pass above catches byte-identical re-crawls; this
    catches the near-identical ones (boilerplate drift, timestamps,
    ads) the same way the batch family does (operators/dedup.py
    docs_simhash_dedup): 64-bit SimHash in four 16-bit blocks, a
    candidate must share >=1 whole block (pigeonhole-complete for
    hamming <= 3), exact bit_count(xor) verifies. A batch document is
    dropped if it verifies against any previously ACCEPTED document
    (the index) or any smaller-doc_id document of its own batch (the
    batch policy's keep-lowest rule).

    State is a parquet signature index, not the state store: LSH needs
    a band-bucket join, not per-key lookup, and signatures are 4 ints/
    doc — ~32 bytes/doc plus the id, so a 10^10-doc corpus indexes in
    the hundreds of GB, a small parquet relation by Spark standards.
    Both relations are ledger batches (streaming/ledger.py); the index
    read for batch N sees only committed batches < N, so a failed
    attempt's partial writes are invisible to the re-run and
    overwritten by it. At 100 TB the per-batch cost is one shuffle of
    (band, key, doc_id) pairs; the index side would be bucketed by band
    key on disk and periodically compacted.
    """

    def __init__(self, index_dir: str, out_dir: str):
        super().__init__(out_dir)
        self.index_dir = index_dir
        os.makedirs(index_dir, exist_ok=True)

    # -- read-back surfaces -------------------------------------------
    def index(self, spark) -> DataFrame:
        """All accepted signatures (doc_id, blk1..4, batch)."""
        return self._read_parts(spark, self.index_dir)

    def accepted(self, spark) -> DataFrame:
        """All accepted documents, original columns plus `batch`."""
        return self._read_parts(spark, self.out_dir)

    def _read_parts(self, spark, root: str, below: int | None = None):
        # a batch is visible only when BOTH its signature-index and its
        # accepted-docs jobs committed: a crash between the two writes
        # must not let read-backs see signatures for documents the
        # accepted relation doesn't carry. Stream order guarantees every
        # batch below the one being replayed is complete, so the
        # internal below=batch_id index read loses nothing.
        ids = [
            d
            for d in committed_batches(self.index_dir, self.out_dir).ids
            if below is None or int(d.split("=", 1)[1]) < below
        ]
        return read(spark, root, ids, keep_batch=True)

    # -- the per-batch step -------------------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from ..operators import dedup

        spark = batch.sparkSession
        blocks = dedup._simhash_blocks_df(
            batch.select("doc_id", "text")
        ).localCheckpoint()
        nblk = dedup._SIMHASH_BLOCKS
        prior = self._read_parts(spark, self.index_dir, below=batch_id)
        tagged = blocks.withColumn("is_new", F.lit(True))
        if prior is not None:
            tagged = prior.select(
                "doc_id", *[f"blk{k}" for k in range(1, nblk + 1)]
            ).withColumn("is_new", F.lit(False)).unionByName(tagged)

        bands = tagged.select(
            "doc_id",
            "is_new",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("band"), F.col(f"blk{k}").alias("k")
                        )
                        for k in range(1, nblk + 1)
                    ]
                )
            ).alias("bk"),
        ).select(
            "doc_id", "is_new",
            F.col("bk.band").alias("band"), F.col("bk.k").alias("k"),
        )
        a, b = bands.alias("a"), bands.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.k") == F.col("b.k"))
                & F.col("b.is_new")
                & (
                    ~F.col("a.is_new")
                    | (F.col("a.doc_id") < F.col("b.doc_id"))
                ),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        sa, sb = tagged.alias("sa"), tagged.alias("sb")
        hamming = sum(
            F.bit_count(
                F.col(f"sa.blk{k}").bitwiseXOR(F.col(f"sb.blk{k}")).cast("bigint")
            )
            for k in range(1, nblk + 1)
        )
        losers = (
            cand.join(sa, cand.doc_a == F.col("sa.doc_id"))
            .join(sb, cand.doc_b == F.col("sb.doc_id"))
            .filter(hamming <= dedup._HAMMING_THRESHOLD)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
        novel_blocks = blocks.join(losers, "doc_id", "left_anti")
        novel_docs = batch.join(losers, "doc_id", "left_anti")
        land(novel_blocks, self.index_dir, batch_id)
        land(novel_docs, self.out_dir, batch_id)
