"""Streaming vector-index maintenance: the embedding-modality
counterpart of streaming/corpus.py's SimHashNearDupIndex.

A batch IVF build (operators/similarity.py embed_ivf_assign) assigns
the whole corpus at once; a production embedding pipeline receives
vectors continuously (new documents embedded as they are ingested).
EmbedIvfIndex keeps the cell-partitioned index layout LIVE: each
micro-batch is assigned against a FROZEN centroid codebook (IVF
codebooks are trained once and versioned — re-training moves every
assignment, so a codebook change is a new index build, not an update)
and written into `batch=<id>` directories partitioned by cell.

Scale shape per batch: the k-row codebook broadcasts; the argmin is
the embed_pq_codes partial min-struct aggregation (map-side combine,
one ~batch-sized shuffle); the write IS the partition-by-cell layout
that makes probes partition pruning (tests/test_plans.py
test_ivf_cell_layout_prunes_partitions). Each micro-batch is one ledger
batch (streaming/ledger.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ledger import Ledger, committed_batches, land, read

VEC_STREAM_SCHEMA = "vec_id bigint, embedding array<float>, label int, ts timestamp"


class EmbedIvfIndex(Ledger):
    """Maintains a cell-partitioned vector index under `out_dir` from a
    streaming embedding feed, assigning with the frozen `centroids`
    relation ((cell, cv) — the _centroid_vecs shape, round-6 means so
    assignments are engine-deterministic and match the batch
    embed_ivf_assign bit-for-bit given the same codebook)."""

    def __init__(self, out_dir: str, centroids: DataFrame):
        super().__init__(out_dir)
        self.centroids = centroids

    # -- read-back surfaces -------------------------------------------
    def index(self, spark) -> DataFrame | None:
        """The whole index: (vec_id, label, sq_dist, embedding, cell,
        batch)."""
        ids = committed_batches(self.out_dir).ids
        return read(spark, self.out_dir, ids, keep_batch=True)

    def probe(self, spark, cells: list[int]) -> DataFrame | None:
        """Vectors of the probed cells only. The cell predicate lands in
        PartitionFilters (cell is a directory key inside every batch
        dir), so unprobed cells' files are never planned."""
        idx = self.index(spark)
        if idx is None:
            return None
        return idx.filter(F.col("cell").isin([int(c) for c in cells]))

    # -- the per-batch step -------------------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from ..operators.similarity import _sq_dist

        emb = batch.select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("v"),
            "embedding",
        )
        assigned = (
            emb.crossJoin(F.broadcast(self.centroids))
            .select(
                "vec_id",
                "label",
                "embedding",
                "cell",
                F.round(_sq_dist("v", "cv"), 6).alias("sq_dist"),
            )
            .groupBy("vec_id", "label", "embedding")
            .agg(F.min(F.struct("sq_dist", "cell")).alias("b"))
            .select(
                "vec_id",
                "label",
                F.col("b.sq_dist").alias("sq_dist"),
                "embedding",
                F.col("b.cell").cast("int").alias("cell"),
            )
        )
        land(assigned, self.out_dir, batch_id, partition_by="cell")
