"""Streaming C4 line-dedup ledger: the corpus-wide keep-first line
dedup (operators/dedup.docs_c4_line_dedup) maintained incrementally —
ST17, the dedup member of the ledger family (URLs, engagement,
postings, IVF, time-travel, quality gate).

A crawl admits documents continuously; corpus-wide exact line dedup is
a GLOBAL keep-first decision, so no per-batch transform can emit final
verdicts (a later batch can never steal "first occurrence" from an
earlier one, but an earlier batch's doc must win against anything that
arrives later — and doc_id order, not arrival order, is the house
tie-break). C4LineLedger therefore maintains the INPUTS incrementally
and makes the decision at read time: each micro-batch lands its
(doc_id, line_no, line) relation and its (doc_id, n_lines) doc list —
both through the batch query's own c4_lines_of kernel — as the two
nested relations `lines` and `docs` of one ledger batch
(streaming/ledger.py). The read-back
dedups cross-batch doc redelivery (the line relation is deterministic
per document, so DISTINCT over full rows is exact) and runs
operators/dedup.c4_line_dedup_from VERBATIM, so the streaming surface
is bit-equal to the batch query over the same document set (pinned in
tests/test_streaming.py).

Scale shape per batch: the line build is the narrow higher-order
projection the batch query pays; the stored relation is
~n_words/_C4_LINE_WORDS rows with three short columns. The read-back
costs what the batch dedup costs — one map-side-combinable line-key
aggregation + one doc rollup — on an always-current corpus; nothing
global is updated in place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .ledger import Ledger, committed_batches, land, read

LINES_STREAM_SCHEMA = "doc_id bigint, text string"


class C4LineLedger(Ledger):
    """Maintains the C4 line relation under `out_dir` from a streaming
    document feed; `dedup()` is the docs_c4_line_dedup relation over
    every document seen so far."""

    # a batch lands two nested relations, `batch=<id>/{docs,lines}`
    SUBS = ("docs", "lines")

    # -- read-back surfaces -------------------------------------------
    def _read(self, spark, sub: str) -> DataFrame | None:
        # A batch is visible only when BOTH of its relations committed:
        # a crash between the two writes leaves a torn batch that must
        # not be half-read. Intersecting the committed ids makes the
        # batch appear atomically in every read-back surface.
        ids = committed_batches(nested={self.out_dir: self.SUBS}).ids
        return read(spark, self.out_dir, ids, sub=sub, distinct=True)

    def dedup(self, spark) -> DataFrame | None:
        """Corpus-wide keep-first line dedup over the maintained
        relation — operators/dedup.c4_line_dedup_from verbatim."""
        from ..operators.dedup import c4_line_dedup_from

        docs = self._read(spark, "docs")
        ln = self._read(spark, "lines")
        if docs is None or ln is None:
            return None
        return c4_line_dedup_from(docs, ln)

    # -- the per-batch step -------------------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from ..operators.dedup import c4_lines_of
        from ..operators.text import _C4_LINES_EXPR

        lined = batch.select(
            "doc_id",
            F.expr("filter(split(text, ' '), x -> x != '')").alias("ws"),
        ).select("doc_id", F.expr(_C4_LINES_EXPR).alias("lines"))
        # Lines land BEFORE docs: a crash between the two writes then
        # leaves a batch whose docs relation is absent (hidden; replay
        # completes it), never a docs entry whose line relation is
        # missing. A torn lines-only batch is self-healing: its rows
        # are deterministic per document, so the replayed overwrite
        # reproduces them bit-for-bit.
        land(c4_lines_of(lined), self.out_dir, batch_id, sub="lines")
        n_lines = lined.select("doc_id", F.size("lines").alias("n_lines"))
        land(n_lines, self.out_dir, batch_id, sub="docs")
