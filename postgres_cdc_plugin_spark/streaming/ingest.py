"""Composed streaming ingest pipeline: the ingest chain's stages
maintained over ONE document feed, with every composed read-back
pinned bit-equal to the batch chain query of the same selection
(operators/text/chains.py).

The composition is where ordering and redelivery bugs live — a
document the gate drops must NEVER contribute lines to keep-first or
tokens to a language's quota, including after a checkpoint resume or
a redelivered batch. IngestPipeline therefore gates each micro-batch
ON ARRIVAL (gate verdicts are deterministic per document, so
batch-time filtering is exact) and lands per batch:

  gate/batch=<id>        — the full per-doc Gopher verdict relation
                           (operators/text.gopher_rules_df);
  langs/batch=<id>       — (doc_id, lang) of the KEPT documents only;
  sigs/batch=<id>        — SimHash signature blocks of the kept
                           documents (operators/dedup._simhash_blocks_df;
                           the near-dup stage's input);
  grams/batch=<id>       — per-(doc, bigram) counts of the kept
                           documents (operators/text.bigram_per_doc;
                           their SUM rollup IS the gated corpus's
                           counts, the KN stage's input);
  cgrams/batch=<id>      — distinct contamination 5-grams of the kept
                           documents (operators/text.doc_grams_of; the
                           decontamination stage's input — the
                           benchmark set stays an external relation
                           passed at read time);
  lines/batch=<id>/{docs,lines} — the C4 line relation of the kept
                           documents (delegated to C4LineLedger).

Global decisions (KN model, cluster labels, keep-first line dedup,
quotas and admission) are made at READ time over the maintained
relations: one late document moves them all, so no per-batch
transform can emit final answers. One read-time composer (_stages)
builds every selection of operators/text.INGEST_STAGES from the same
kernels the batch composer uses, so bit-equality holds by
construction; tests/test_streaming.py pins it together with replay
idempotence and checkpoint resume.

Every relation above is a ledger relation (streaming/ledger.py): a
batch is readable only once all six roots, both line relations
included, committed it. A crash between two sub-writes leaves the
batch invisible to every composed surface; the checkpoint replays it
and the overwrites complete it all-or-nothing.

Scale shape per batch: the gate is a zero-shuffle lambda projection;
the line explode is the relation line dedup pays anyway, amortized to
arrival time; langs is two short columns at doc grain. A read-back
costs what the batch chain costs, on an always-current corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from .ledger import Ledger, Wave, committed_batches, land, read
from .lines import C4LineLedger
from .quality import GopherQualityLedger

INGEST_STREAM_SCHEMA = "doc_id bigint, text string, lang string"


class IngestPipeline(Ledger):
    """The ingest chain over a streaming document feed. `sample()`,
    `sample_nd()`, `sample_kn()` and `sample_contam()` are the three- to
    six-stage chain relations over every document seen so far (the
    docs_ingest_chain* queries); `audit()` the six-stage
    stage-attrition table (docs_ingest_chain_audit); `selected_docs()`
    the admitted ids; `dedup()` the line-dedup rollup of the gated
    corpus; `verdicts()` the gate relation. All read fully-committed
    batches only."""

    def __init__(self, out_dir: str):
        super().__init__(out_dir)
        self.gate = GopherQualityLedger(os.path.join(out_dir, "gate"))
        self.lines = C4LineLedger(os.path.join(out_dir, "lines"))
        self.langs_dir = os.path.join(out_dir, "langs")
        self.sigs_dir = os.path.join(out_dir, "sigs")
        self.grams_dir = os.path.join(out_dir, "grams")
        self.cgrams_dir = os.path.join(out_dir, "cgrams")
        # the one-relation-per-batch roots (lines nests docs + lines)
        self._flat_roots = (
            self.gate.out_dir,
            self.langs_dir,
            self.sigs_dir,
            self.grams_dir,
            self.cgrams_dir,
        )
        for d in self._flat_roots[1:]:
            os.makedirs(d, exist_ok=True)
        # per-key bounded persist cache for read-time intermediates
        # consumed several times within one wave (kn keep set, cluster
        # losers, admission input, line-dedup rollup), keyed by the
        # Wave of the listing that decided visibility. Its commit stamp
        # moves on every in-place replay, so a replayed overwrite of an
        # already-committed batch (same ids, new files) rebinds the key
        # too: a cached plan over the replaced files would hit
        # FileNotFoundException on a recompute after eviction. The
        # stale entry is unpersisted first, so a polling consumer never
        # leaks cache entries.
        self._wave_cache: dict[str, tuple[Wave, DataFrame]] = {}

    def _cached(self, key: str, wave: Wave, build) -> DataFrame:
        prev = self._wave_cache.get(key)
        if prev is not None and prev[0] == wave:
            return prev[1]
        if prev is not None:
            prev[1].unpersist()
        df = build().persist()
        self._wave_cache[key] = (wave, df)
        return df

    # -- composed visibility ------------------------------------------
    def _wave(self) -> Wave:
        """The one listing each public read-back makes."""
        return committed_batches(
            *self._flat_roots, nested={self.lines.out_dir: C4LineLedger.SUBS}
        )

    def _read(self, spark, root: str, wave: Wave, sub: str = "") -> DataFrame:
        return read(spark, root, wave.ids, sub=sub, distinct=True)

    # -- read-back surfaces -------------------------------------------
    def verdicts(self, spark) -> DataFrame | None:
        return self._read(spark, self.gate.out_dir, self._wave())

    def _stages(self, spark, wave: Wave, stages: tuple[str, ...]):
        """The read-time composer: the selected `stages` of
        operators/text.INGEST_STAGES over the committed batches of `wave`,
        as operators/text.ChainStages. The gate ran at arrival, so
        `langs` holds the gate-kept documents and the `gate` field is
        None (verdicts() reads the verdicts). The KN model, cluster
        labels, keep-first verdicts and quotas are global decisions
        and run here. The relations a wave's consumers read several
        times go through the wave cache: the KN keep set, the cluster
        losers (keyed by the chain they belong to) and, in the KN
        chain, the admission input."""
        from ..operators.dedup import (
            _SIMHASH_BLOCKS,
            dup_clusters_from,
            simhash_block_pairs,
        )
        from ..operators.text import (
            ChainStages,
            _kn_band_col,
            admission_docs_from,
            bigram_corpus_from,
            check_stages,
            kn_surprisal_from,
            mixture_sample_from,
        )

        check_stages(stages)
        langs = keep = self._read(spark, self.langs_dir, wave)
        kn_ids = nd_ids = None
        if "kn_band" in stages:
            # the model is trained on the gate-kept counts so far (their
            # rollup IS the gated corpus counts)
            def build_kn_ids() -> DataFrame:
                per_doc = self._read(spark, self.grams_dir, wave)
                corpus = bigram_corpus_from(per_doc)
                scores = kn_surprisal_from(per_doc, corpus)
                return (
                    langs.select("doc_id")
                    .join(scores, "doc_id", "left")
                    .filter(_kn_band_col() == "keep")
                    .select("doc_id")
                )

            kn_ids = self._cached("kn_ids", wave, build_kn_ids)
            keep = keep.join(kn_ids, "doc_id")
        if "neardup_dedup" in stages:
            # earlier losers mask the signatures BEFORE pairing (pairs
            # among a subset are the subset's pairs)
            def build_losers() -> DataFrame:
                sigs = self._read(spark, self.sigs_dir, wave).select(
                    "doc_id",
                    *[f"blk{k}" for k in range(1, _SIMHASH_BLOCKS + 1)],
                )
                if kn_ids is not None:
                    sigs = sigs.join(kn_ids, "doc_id")
                return (
                    dup_clusters_from(spark, simhash_block_pairs(sigs))
                    .filter(F.col("doc_id") != F.col("cluster_id"))
                    .select("doc_id")
                )

            tag = "kn" if kn_ids is not None else "nd"
            losers = self._cached(f"{tag}_losers", wave, build_losers)
            keep = keep.join(losers, "doc_id", "left_anti")
            nd_ids = keep.select("doc_id")

        def build_admit() -> DataFrame:
            ln = self._read(spark, self.lines.out_dir, wave, sub="lines")
            if keep is not langs:
                ln = ln.join(keep.select("doc_id"), "doc_id")
            return admission_docs_from(keep, ln)

        admit_docs = (
            build_admit()
            if kn_ids is None
            else self._cached("kn_admit", wave, build_admit)
        )
        return ChainStages(
            None,
            kn_ids,
            nd_ids,
            admit_docs,
            mixture_sample_from(admit_docs),
        )

    def _sample(self, spark, stages: tuple[str, ...]) -> DataFrame | None:
        wave = self._wave()
        return self._stages(spark, wave, stages).sample if wave.ids else None

    def sample(self, spark) -> DataFrame | None:
        """The three-stage admission ledger (docs_ingest_chain)."""
        from ..operators.text import CHAIN_STAGES

        return self._sample(spark, CHAIN_STAGES)

    def selected_docs(self, spark) -> DataFrame | None:
        s = self.sample(spark)
        if s is None:
            return None
        return s.filter(F.col("selected")).select("doc_id")

    def sample_nd(self, spark) -> DataFrame | None:
        """The four-stage admission ledger (docs_ingest_chain_nd):
        cluster labels are recomputed at read time over the gate-kept
        signatures (one late document can merge two components and
        change which canonical survives), and the loser set masks both
        the admission input and the line relation."""
        from ..operators.text import CHAIN_ND_STAGES

        return self._sample(spark, CHAIN_ND_STAGES)

    def sample_kn(self, spark) -> DataFrame | None:
        """The five-stage admission ledger (docs_ingest_chain_kn): the
        KN model is retrained at read time on the gated corpus so far
        (one late document moves every p_kn and so every band
        verdict), then KN losers leave the signatures before pairing
        and cluster losers leave the admission input."""
        from ..operators.text import INGEST_STAGES

        return self._sample(spark, INGEST_STAGES)

    def sample_contam(self, spark, bench_docs: DataFrame) -> DataFrame | None:
        """The six-stage admission ledger (docs_ingest_chain_contam):
        the five-stage ledger through contam_sample_from. `bench_docs`
        is the benchmark (doc_id, text) relation, an external fixed
        corpus supplied at read time; per-doc gram sets come from the
        cgrams ledger (grams are per-document deterministic, so the
        arrival-time shingle is exact)."""
        from ..operators.text import INGEST_STAGES

        wave = self._wave()
        if not wave.ids:
            return None
        sample = self._stages(spark, wave, INGEST_STAGES).sample
        return self._contam(spark, wave, sample, bench_docs)

    def _contam(
        self, spark, wave: Wave, sample: DataFrame, bench_docs: DataFrame
    ) -> DataFrame:
        """`sample` through the decontamination stage. The hits
        relation is wave-cached and keyed by the committed batches
        only: a pipeline's benchmark is fixed for its lifetime, and
        passing a different one within a wave is unsupported."""
        from ..operators.text import (
            bench_grams_of,
            contam_hits_from,
            contam_sample_from,
        )

        hits = self._cached(
            "contam_hits",
            wave,
            lambda: contam_hits_from(
                self._read(spark, self.cgrams_dir, wave),
                bench_grams_of(bench_docs),
            ),
        )
        return contam_sample_from(sample, hits)

    def audit(self, spark, bench_docs: DataFrame) -> DataFrame | None:
        """The six-stage stage-attrition table
        (docs_ingest_chain_audit): the stage sets are the five-stage
        selection's relations that sample_kn()/sample_contam() admit
        from (shared through the wave cache), and the rollup is
        operators/text.ingest_audit_from. Raw mass comes from the
        maintained gate verdicts' n_words — the one relation kept for
        every document, gate-dropped ones included. `bench_docs` is
        the benchmark relation sample_contam() takes."""
        from ..operators.text import (
            INGEST_STAGES,
            audit_verdicts_from,
            ingest_audit_from,
        )

        wave = self._wave()
        if not wave.ids:
            return None
        verdicts = self._cached(
            "audit_verdicts",
            wave,
            lambda: audit_verdicts_from(
                self._read(spark, self.gate.out_dir, wave)
            ),
        )
        st = self._stages(spark, wave, INGEST_STAGES)
        return ingest_audit_from(
            verdicts,
            st.kn_ids,
            st.nd_ids,
            st.admit_docs,
            st.sample,
            self._contam(spark, wave, st.sample, bench_docs),
        )

    def dedup(self, spark) -> DataFrame | None:
        """Line-dedup rollup of the gated corpus —
        operators/dedup.c4_line_dedup_from over the committed batches.
        The rollup is a polling consumer's whole read (keep-first
        min-struct agg + join-back over every committed line), so it
        goes through the wave cache: a second dedup() in the same wave
        reuses the materialization; a new wave or a replayed overwrite
        moves the Wave and unpersists the stale entry."""
        from ..operators.dedup import c4_line_dedup_from

        wave = self._wave()
        if not wave.ids:
            return None

        def build() -> DataFrame:
            docs = self._read(spark, self.lines.out_dir, wave, sub="docs")
            ln = self._read(spark, self.lines.out_dir, wave, sub="lines")
            return c4_line_dedup_from(docs, ln)

        return self._cached("line_dedup", wave, build)

    # -- the per-batch step -------------------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from ..operators.dedup import _simhash_blocks_df
        from ..operators.text import (
            bigram_per_doc,
            doc_grams_of,
            gopher_rules_df,
        )

        self.gate.process_batch(batch.select("doc_id", "text"), batch_id)
        # gate verdicts are per-document deterministic: filtering the
        # batch through the same kernel is exactly the ledger's keep set
        kept = batch.join(
            gopher_rules_df(batch.select("doc_id", "text"))
            .filter("keep")
            .select("doc_id"),
            "doc_id",
        )
        land(kept.select("doc_id", "lang"), self.langs_dir, batch_id)
        # the per-document inputs of the read-time stages, amortized to
        # arrival: signature blocks (near-dup), per-doc bigram counts
        # (KN band) and distinct contamination 5-grams (decontam; the
        # benchmark set is an external relation supplied at read)
        text = kept.select("doc_id", "text")
        for kernel, root in (
            (_simhash_blocks_df, self.sigs_dir),
            (bigram_per_doc, self.grams_dir),
            (doc_grams_of, self.cgrams_dir),
        ):
            land(kernel(text), root, batch_id)
        # lines land LAST: until they commit the batch is invisible to
        # every composed surface (the intersection rule above)
        self.lines.process_batch(text, batch_id)
