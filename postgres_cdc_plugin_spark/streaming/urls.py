"""Streaming crawl-URL ledger: the host-dedup-bookkeeping counterpart
of streaming/engagement.py's active-users ledger.

The batch docs_url_host_stats aggregates the whole corpus at once; a
crawler discovers documents continuously. UrlHostLedger keeps the
doc-grain canonical-URL relation live — each micro-batch's documents
run through the SAME operators.dedup._url_parts canonicalization kernel
and land as (doc_id, host, canon_url) rows in a ledger batch
(streaming/ledger.py) — and the read-back dedups cross-batch doc
redelivery and runs operators.dedup.host_stats_from_urls VERBATIM, so
the streaming surface is bit-equal to the batch query given the same
document set (pinned in tests/test_streaming.py).

Scale shape per batch: the canonicalization is the zero-shuffle per-row
rewrite; the stored relation is doc grain with three short columns —
the read-back's distinct and host aggregation cost what the batch query
costs, on an always-current corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .ledger import Ledger, committed_batches, land, read

DOC_STREAM_SCHEMA = "doc_id bigint, source string"


class UrlHostLedger(Ledger):
    """Maintains the doc-grain canonical-URL relation under `out_dir`
    from a streaming document feed; `host_stats()` reports per-host
    crawl volume / distinct canonical URLs / duplicate rate through the
    batch kernel."""

    # -- read-back surfaces -------------------------------------------
    def url_docs(self, spark) -> DataFrame | None:
        # a document redelivered across micro-batches appears in both
        # batch dirs — the ledger's grain is the DISTINCT document
        ids = committed_batches(self.out_dir).ids
        return read(spark, self.out_dir, ids, distinct=True)

    def host_stats(self, spark) -> DataFrame | None:
        """Per-host dedup bookkeeping over the maintained relation —
        the operators.dedup.host_stats_from_urls kernel verbatim."""
        from ..operators.dedup import host_stats_from_urls

        u = self.url_docs(spark)
        if u is None:
            return None
        return host_stats_from_urls(u)

    # -- the per-batch step -------------------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from ..operators.dedup import _url_parts

        rows = _url_parts(batch).select("doc_id", "host", "canon_url")
        land(rows, self.out_dir, batch_id)
