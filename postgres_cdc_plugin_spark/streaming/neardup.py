"""Streaming near-dup CLUSTER ledger: the global cluster-dedup policies
(operators/dedup.docs_dup_clusters / docs_cluster_dedup /
docs_softdedup_weights) maintained incrementally — ST20 (r11), closing
the last dedup policy family without an incremental counterpart.

SimHashNearDupIndex (streaming/corpus.py) is the ONLINE policy: greedy
accept-first, verdicts final at arrival — right for an admission gate,
but it is arrival-order-dependent and can keep several members of one
transitive component. The CLUSTER policies are GLOBAL decisions: one
late-arriving document can merge two components, relabel every member,
and change every weight — so no per-batch transform can emit final
labels. This ledger therefore follows the ST17/ST18 global-decision
pattern exactly: maintain the INPUTS incrementally, decide at read
time.

Each micro-batch lands ONE relation as a ledger batch
(streaming/ledger.py): the document metadata columns
joined LEFT onto the per-doc SimHash signature blocks
(operators/dedup._simhash_blocks_df VERBATIM — the expensive
tokenize/hash-vote pass amortized to arrival time; a doc with no
tokens carries NULL blocks and participates as a permanent singleton).
Signatures are deterministic per document, so DISTINCT over full rows
collapses cross-batch redelivery exactly.

Read-back surfaces run the batch kernels VERBATIM over the maintained
relation — `simhash_block_pairs` for candidate pairs, then
`dup_clusters_from` / `cluster_survivors_from` /
`softdedup_weights_from` — so clusters(), survivors(), and
softdedup_weights() are bit-equal to docs_dup_clusters /
docs_cluster_dedup / docs_softdedup_weights over the same document set
(pinned in tests/test_streaming.py, including cluster MERGES across
checkpoint-resumed waves and redelivery collapse).

Scale shape: the stored relation is doc grain with four smallint block
columns — the signature build (the corpus-scan-heavy stage) is paid
once per arrival; the read-back costs what the batch clustering costs
(one band-key shuffle join bounded by temporal co-location, then the
diameter-bounded component labeling over the pair-sized edge
relation) on an always-current corpus. Nothing global is updated in
place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .ledger import Ledger, committed_batches, land, read

NEARDUP_STREAM_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


class NearDupClusterLedger(Ledger):
    """Maintains the per-doc (meta + SimHash signature) relation under
    `out_dir` from a streaming document feed; clusters() /
    survivors() / softdedup_weights() are the three batch cluster
    policies over every document seen so far."""

    # -- read-back surfaces -------------------------------------------
    def _read(self, spark) -> DataFrame | None:
        # redelivered docs appear in several batch dirs with identical
        # (deterministic) rows — distinct restores doc grain
        ids = committed_batches(self.out_dir).ids
        return read(spark, self.out_dir, ids, distinct=True)

    def _pairs(self, spark, rel: DataFrame) -> DataFrame:
        from ..operators.dedup import _SIMHASH_BLOCKS, simhash_block_pairs

        blocks = rel.filter("blk1 IS NOT NULL").select(
            "doc_id", *[f"blk{k}" for k in range(1, _SIMHASH_BLOCKS + 1)]
        )
        return simhash_block_pairs(blocks)

    def clusters(self, spark) -> DataFrame | None:
        """operators/dedup.dup_clusters_from verbatim — bit-equal to
        the batch docs_dup_clusters over the documents seen so far."""
        from ..operators.dedup import dup_clusters_from

        rel = self._read(spark)
        if rel is None:
            return None
        return dup_clusters_from(spark, self._pairs(spark, rel))

    def survivors(self, spark) -> DataFrame | None:
        """operators/dedup.cluster_survivors_from verbatim — bit-equal
        to the batch docs_cluster_dedup."""
        from ..operators.dedup import cluster_survivors_from

        rel = self._read(spark)
        if rel is None:
            return None
        return cluster_survivors_from(spark, rel, self._pairs(spark, rel))

    def softdedup_weights(self, spark) -> DataFrame | None:
        """operators/dedup.softdedup_weights_from verbatim — bit-equal
        to the batch docs_softdedup_weights."""
        from ..operators.dedup import softdedup_weights_from

        rel = self._read(spark)
        if rel is None:
            return None
        return softdedup_weights_from(spark, rel, self._pairs(spark, rel))

    # -- the per-batch step -------------------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from ..operators.dedup import _simhash_blocks_df

        blocks = _simhash_blocks_df(
            batch.select("doc_id", "text")
        ).localCheckpoint()
        rel = batch.select(
            "doc_id", "lang", "source", "n_chars"
        ).join(blocks, "doc_id", "left")
        land(rel, self.out_dir, batch_id)
