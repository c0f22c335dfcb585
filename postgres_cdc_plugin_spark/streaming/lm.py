"""Streaming LM-counts ledger: the count-based Kneser-Ney language
model (operators/text.token_kneser_ney / docs_kn_surprisal /
docs_kn_band) maintained incrementally — ST21 (r11), the streaming
symmetry for the perplexity-filter family the r10 verdict asked to
land as a pipeline gate (ask #4).

A perplexity filter over a live crawl needs the LM trained on the
corpus-so-far, and the KN model is a GLOBAL decision: one new document
moves its bigrams' corpus counts, therefore the context totals, the
continuation counts, the type total — every p_kn, every document's
surprisal, and every band verdict. No per-batch transform can emit
final scores, so the ledger follows the ST17/ST18/ST20 pattern:
maintain the INPUTS incrementally, decide at read time.

Each micro-batch lands TWO sibling ledger roots (streaming/ledger.py):
`grams/` carries the per-(doc, bigram) count relation
(operators/text.bigram_per_doc VERBATIM — the tokenize/explode pass,
the corpus-scan-heavy stage, amortized to arrival; deterministic per
document, so DISTINCT collapses cross-batch redelivery) and `docs/`
the (doc_id, lang) metadata (so unscoreable documents surface in
docs_kn_band's explicit 'unscored' band instead of vanishing). A batch
is visible only when BOTH siblings committed.

Read-back surfaces run the batch kernels VERBATIM over the maintained
relation — bigram counts are SUM-mergeable, so `bigram_corpus_from`
over the union is exactly the batch corpus rollup — making
kneser_ney() / kn_surprisal() / kn_band() bit-equal to
token_kneser_ney / docs_kn_surprisal / docs_kn_band over the same
document set (pinned in tests/test_streaming.py, including model
movement across checkpoint-resumed waves and redelivery collapse).

Scale shape: the stored grams relation is (doc, bigram) grain — the
same higher-order projection the batch family build pays, paid once
per arrival; the read-back costs what the batch KN costs (three
Zipf-bounded rollups + two equi-joins on the distinct-bigram relation,
one g-key scoring join, one doc rollup) on an always-current corpus.
Nothing global is updated in place.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from .ledger import Ledger, committed_batches, land, read

LM_STREAM_SCHEMA = "doc_id bigint, text string, lang string"


class BigramCountsLedger(Ledger):
    """Maintains the per-doc bigram-count + doc-metadata relations
    under `out_dir` from a streaming document feed; kneser_ney() /
    kn_surprisal() / kn_band() are the three batch KN surfaces over
    every document seen so far."""

    def __init__(self, out_dir: str):
        super().__init__(out_dir)
        self.grams_dir = os.path.join(out_dir, "grams")
        self.docs_dir = os.path.join(out_dir, "docs")
        os.makedirs(self.grams_dir, exist_ok=True)
        os.makedirs(self.docs_dir, exist_ok=True)

    # -- read-back surfaces -------------------------------------------
    def _read(self, spark, root: str) -> DataFrame | None:
        # redelivered docs appear in several batch dirs with identical
        # (deterministic) rows — distinct restores the grain
        ids = committed_batches(self.grams_dir, self.docs_dir).ids
        return read(spark, root, ids, distinct=True)

    def per_doc(self, spark) -> DataFrame | None:
        """(doc_id, g, c) over every document seen so far — the
        bigram_counts family relation, maintained."""
        return self._read(spark, self.grams_dir)

    def kneser_ney(self, spark) -> DataFrame | None:
        """operators/text.kn_report_from verbatim — bit-equal to the
        batch token_kneser_ney."""
        from ..operators.text import bigram_corpus_from, kn_report_from

        pd = self.per_doc(spark)
        if pd is None:
            return None
        return kn_report_from(bigram_corpus_from(pd))

    def kn_surprisal(self, spark) -> DataFrame | None:
        """operators/text.kn_surprisal_from verbatim — bit-equal to
        the batch docs_kn_surprisal."""
        from ..operators.text import bigram_corpus_from, kn_surprisal_from

        pd = self.per_doc(spark)
        if pd is None:
            return None
        return kn_surprisal_from(pd, bigram_corpus_from(pd))

    def kn_band(self, spark) -> DataFrame | None:
        """operators/text.kn_band_from verbatim — bit-equal to the
        batch docs_kn_band: the perplexity gate over a live corpus."""
        from ..operators.text import bigram_corpus_from, kn_band_from

        meta = self._read(spark, self.docs_dir)
        pd = self.per_doc(spark)
        if meta is None or pd is None:
            return None
        return kn_band_from(meta, pd, bigram_corpus_from(pd))

    # -- the per-batch step -------------------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from ..operators.text import bigram_per_doc

        grams = bigram_per_doc(batch.select("doc_id", "text"))
        land(grams, self.grams_dir, batch_id)
        land(batch.select("doc_id", "lang"), self.docs_dir, batch_id)
