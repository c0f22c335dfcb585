"""Streaming quality-gate ledger: the Gopher-rules counterpart of
streaming/urls.py's crawl ledger — the last unguarded stage of the
ingest path (URLs, engagement, postings, IVF and time-travel already
maintain incrementally; r7 verdict ask #5 asked for the quality gate).

The batch docs_gopher_rules gates the whole corpus at once; an ingest
pipeline admits documents continuously and wants every arriving batch
gated ON ARRIVAL, with the verdict durable so downstream stages
(dedup, chunking, packing) read an always-current keep set instead of
re-running the gate. GopherQualityLedger runs each micro-batch through
the SAME operators.text.gopher_rules_df kernel and lands the per-doc
per-rule verdict relation as a ledger batch (streaming/ledger.py). The
read-back dedups cross-batch doc redelivery — gate verdicts are
deterministic per document, so DISTINCT over full rows is exact — and
is bit-equal to the batch gate over the same document set (pinned in
tests/test_streaming.py).

Scale shape per batch: the gate is the zero-shuffle higher-order
projection the batch query is; the stored relation is doc grain with
the verdict booleans. Nothing global is maintained — the ledger is an
append-only verdict log whose read-back costs one distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .ledger import Ledger, committed_batches, land, read

GATE_STREAM_SCHEMA = "doc_id bigint, text string"


class GopherQualityLedger(Ledger):
    """Maintains the per-document Gopher gate-verdict relation under
    `out_dir` from a streaming document feed; `verdicts()` is the
    docs_gopher_rules relation over every document seen so far,
    `kept_docs()` the admitted doc ids."""

    # -- read-back surfaces -------------------------------------------
    def verdicts(self, spark) -> DataFrame | None:
        # redelivered docs appear in several batch dirs with identical
        # (deterministic) verdict rows — distinct restores doc grain
        ids = committed_batches(self.out_dir).ids
        return read(spark, self.out_dir, ids, distinct=True)

    def kept_docs(self, spark) -> DataFrame | None:
        v = self.verdicts(spark)
        if v is None:
            return None
        return v.filter(F.col("keep")).select("doc_id")

    # -- the per-batch step -------------------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from ..operators.text import gopher_rules_df

        land(gopher_rules_df(batch), self.out_dir, batch_id)
