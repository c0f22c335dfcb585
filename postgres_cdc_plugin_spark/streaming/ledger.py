"""The ledger storage contract, stated once.

A ledger is a foreachBatch sink that keeps a relation live under a
streaming feed (URLs, engagement, postings, IVF, gate verdicts, lines,
mixture inputs, signatures, bigram counts, the composed ingest
pipeline). This module is the only code that knows how a ledger stores
its batches:

* Landing. Micro-batch `<id>` lands in every root the ledger keeps as
  `<root>/batch=<id>` (or a nested `<root>/batch=<id>/<sub>` relation),
  written with mode overwrite (`land`). foreachBatch is at-least-once;
  a replayed batch rewrites its own directory instead of adding a
  second copy, so the output is exactly-once.
* Visibility. A batch is readable only once its parquet job committed
  in EVERY relation the ledger lands for it (`committed_batches`). The
  witness is the `_SUCCESS` marker the FileOutputCommitter writes at
  job commit, the moment the files leave `_temporary`. A crash
  mid-write leaves a torn batch: `_temporary` droppings, or one
  relation without its sibling. It stays hidden until the checkpoint
  replays the batch and the overwrite completes it.
* Reading. Spark caches file listings per path, and a ledger root gains
  or replaces files every batch, so a read-back refreshes the root and
  then reads the committed batches (`read`).

Subclasses of `Ledger` define `process_batch(batch, batch_id)` and their
domain read-backs; `Ledger.attach` runs them under a stream.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame


class Wave(NamedTuple):
    """One listing of a ledger's committed batches. `ids` are the
    `batch=<id>` names committed in every relation, sorted; `stamp` is
    the newest `_SUCCESS` mtime among them. A replay rewrites its
    batch's markers, so the pair changes whenever the readable files
    do, even when the id set does not."""

    ids: tuple[str, ...]
    stamp: int


class Ledger:
    """Base of the ledger family: holds `out_dir` and runs the
    subclass's `process_batch(batch, batch_id)` under a stream."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        os.makedirs(out_dir, exist_ok=True)

    def attach(
        self,
        stream: DataFrame,
        checkpoint: str,
        available_now: bool = False,
    ):
        """Run `process_batch` over every micro-batch of `stream`;
        returns the StreamingQuery. `available_now=True` drains the
        source's current contents and terminates (backfill and test
        mode)."""
        writer = (
            stream.writeStream.outputMode("append")
            .foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()


def _path(root: str, batch: str, sub: str = "") -> str:
    return os.path.join(root, batch, sub) if sub else os.path.join(root, batch)


def land(
    df: DataFrame,
    root: str,
    batch_id: int,
    sub: str = "",
    partition_by: str | None = None,
) -> None:
    """Write `df` as batch `batch_id` of `root` (its `sub` relation when
    nested), replacing whatever an earlier attempt of the batch left."""
    writer = df.write.mode("overwrite")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(_path(root, f"batch={batch_id}", sub))


def _looks_complete_unmarked(path: str) -> bool:
    """For a dir without `_SUCCESS`: data files (or, for a partitioned
    landing, `<col>=<value>` dirs) and no `_temporary` droppings, what a
    committed batch looks like when the marker is disabled. A torn
    batch instead has `_temporary` leftovers or no data at all."""
    if os.path.isdir(os.path.join(path, "_temporary")):
        return False
    try:
        names = os.listdir(path)
    except OSError:
        return False
    return any(n.endswith(".parquet") or "=" in n for n in names)


def committed_batches(
    *roots: str, nested: dict[str, tuple[str, ...]] | None = None
) -> Wave:
    """The batches committed in every relation: each of `roots`, and
    each `<root>/batch=<id>/<sub>` for `root, subs` in `nested`. Each
    root is listed once.

    Fails loudly when a relation has no committed batch but holds
    complete-looking unmarked ones: that is the signature of
    mapreduce.fileoutputcommitter.marksuccessfuljobs=false, under which
    every batch would stay invisible forever. One unmarked dir beside
    committed ones is not an error: the committer writes `_SUCCESS` an
    instant after the files move, so a racing reader can see that
    window on the newest batch, and the batch shows on the next read."""
    relations = [(root, "") for root in roots] + [
        (root, sub) for root, subs in (nested or {}).items() for sub in subs
    ]
    names: dict[str, list[str]] = {}
    for root, _ in relations:
        if root not in names:
            try:
                names[root] = [
                    d for d in os.listdir(root) if d.startswith("batch=")
                ]
            except FileNotFoundError:
                names[root] = []
    ready: set[str] | None = None
    stamps: dict[str, int] = {}
    for root, sub in relations:
        marked = {}
        for d in names[root]:
            try:
                st = os.stat(os.path.join(_path(root, d, sub), "_SUCCESS"))
            except OSError:
                continue
            marked[d] = st.st_mtime_ns
            stamps[d] = max(stamps.get(d, 0), st.st_mtime_ns)
        if not marked:
            for d in names[root]:
                path = _path(root, d, sub)
                if _looks_complete_unmarked(path):
                    raise RuntimeError(
                        "ledger read-back found a complete-looking batch "
                        f"dir with no _SUCCESS marker ({path!r}) and zero "
                        "committed batches beside it: is "
                        "mapreduce.fileoutputcommitter.marksuccessfuljobs "
                        "disabled? With the marker off every committed "
                        "batch is permanently invisible to the ledger."
                    )
        ready = set(marked) if ready is None else ready & set(marked)
    ids = tuple(sorted(ready or ()))
    return Wave(ids, max((stamps[d] for d in ids), default=0))


def read(
    spark,
    root: str,
    ids: Sequence[str],
    sub: str = "",
    keep_batch: bool = False,
    distinct: bool = False,
) -> DataFrame | None:
    """Batches `ids` of `root` (their `sub` relation when nested), or
    None when there are none. Refreshes Spark's cached listing of
    `root` first. `keep_batch` reads with `root` as the base path, so
    `batch` comes back as a partition column; `distinct` collapses a
    redelivered document's identical rows from several batches."""
    if not ids:
        return None
    spark.catalog.refreshByPath(root)
    reader = spark.read.option("basePath", root) if keep_batch else spark.read
    df = reader.parquet(*(_path(root, d, sub) for d in ids))
    return df.distinct() if distinct else df
