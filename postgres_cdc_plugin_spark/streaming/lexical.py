"""Streaming inverted-index maintenance: the lexical-retrieval
counterpart of streaming/vectors.py's EmbedIvfIndex.

The batch docs_bm25_search scans the corpus per query; a production
search pipeline keeps a POSTINGS index live as documents stream in.
LexicalPostingsIndex maintains it: each micro-batch explodes into
(term, doc_id, dl, tf) postings written into `batch=<id>` directories
partitioned by a deterministic term bucket (first md5 hex nibble, 16
buckets), plus a 1-row per-batch corpus-stats relation (n_docs,
tot_tokens) so global BM25 normalization never re-scans the corpus.

Search = partition-pruned postings probe (the term-bucket predicate
lands in PartitionFilters, so unprobed buckets' files are never
planned) + the SAME _bm25_rank scoring kernel the batch query uses —
given the same corpus, index search and docs_bm25_search are
bit-identical (tests/test_streaming.py pins this).

Scale shape per batch: one batch-sized explode + (doc_id, dl, term)
aggregation (map-side partials), one partitioned write; stats are one
1-row aggregate per batch, summed (exact integers) at search time.
Both relations are ledger batches (streaming/ledger.py). Documents are
atomic per batch (a doc_id never splits across micro-batches), so
per-batch tf rows are final.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ledger import Ledger, committed_batches, land, read

DOC_STREAM_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, "
    "n_chars bigint, ts timestamp"
)

_N_BUCKETS = 16  # term buckets = first md5 hex nibble


def _term_bucket(col):
    """Deterministic 0..15 bucket of a term — first md5 hex nibble
    (the docs_train_split md5-prefix convention)."""
    return F.conv(F.substring(F.md5(col), 1, 1), 16, 10).cast("int")


def term_bucket_py(term: str) -> int:
    """Driver-side mirror of _term_bucket for probe planning."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[0], 16)


class LexicalPostingsIndex(Ledger):
    """Maintains a term-bucket-partitioned BM25 postings index under
    `out_dir` from a streaming document feed."""

    def __init__(self, out_dir: str):
        super().__init__(out_dir)
        self.postings_dir = os.path.join(out_dir, "postings")
        self.stats_dir = os.path.join(out_dir, "stats")
        os.makedirs(self.postings_dir, exist_ok=True)
        os.makedirs(self.stats_dir, exist_ok=True)

    # -- read-back surfaces -------------------------------------------
    def _read(self, spark, root: str) -> DataFrame | None:
        # a batch is visible only when BOTH its postings and its stats
        # job committed: a crash between the two writes must not let
        # the index rank with stats that don't count the batch's
        # documents (the BM25 normalization would silently drift until
        # replay)
        ids = committed_batches(self.postings_dir, self.stats_dir).ids
        return read(spark, root, ids, keep_batch=True)

    def postings(self, spark) -> DataFrame | None:
        """The whole index: (doc_id, dl, w, tf, tb, batch)."""
        return self._read(spark, self.postings_dir)

    def stats(self, spark) -> DataFrame | None:
        """Corpus stats folded across batches: 1 row (n_docs,
        tot_tokens) — exact integer sums, so BM25 normalization equals
        a full-corpus aggregate without touching the corpus."""
        per_batch = self._read(spark, self.stats_dir)
        if per_batch is None:
            return None
        return per_batch.agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("tot_tokens").alias("tot_tokens"),
        )

    def search(self, spark, terms: tuple[str, ...]) -> DataFrame | None:
        """BM25 top-k over the live index: partition-pruned postings
        probe + the batch query's _bm25_rank kernel verbatim."""
        from ..operators.text import _bm25_rank

        posts = self.postings(spark)
        stats = self.stats(spark)
        if posts is None or stats is None:
            return None
        buckets = sorted({term_bucket_py(t) for t in terms})
        tf = posts.filter(
            F.col("tb").isin(buckets) & F.col("w").isin(*terms)
        ).select("doc_id", "dl", "w", "tf")
        return _bm25_rank(tf, stats)

    # -- the per-batch step -------------------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from ..operators.text import _doc_len

        lengths = batch.select("doc_id", _doc_len(F.col("text")).alias("dl"))
        postings = (
            batch.select(
                "doc_id",
                _doc_len(F.col("text")).alias("dl"),
                F.explode(F.split("text", " ")).alias("w"),
            )
            .filter(F.col("w") != "")
            .groupBy("doc_id", "dl", "w")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn("tb", _term_bucket(F.col("w")))
        )
        land(postings, self.postings_dir, batch_id, partition_by="tb")
        stats = lengths.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("tot_tokens"),
        )
        land(stats, self.stats_dir, batch_id)
