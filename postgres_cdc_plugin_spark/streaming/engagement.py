"""Streaming engagement ledger: the rolling-active-users counterpart of
streaming/vectors.py's index maintainer.

The batch events_dau_wau_mau computes DAU/WAU/MAU from the whole event
log at once; a production engagement dashboard receives events
continuously. ActiveUsersLedger keeps the DISTINCT (user_id, day)
relation live — each micro-batch's user-days land as one ledger batch
(streaming/ledger.py) — and the read-back runs
operators.analytics.active_users_rolling VERBATIM over the deduplicated
union, so the streaming surface is bit-equal to the batch query given
the same event log (pinned in tests/test_streaming.py).

Scale shape per batch: one batch-sized distinct on (user, day); the
stored relation is user-day grain — orders of magnitude below the
event stream — and the read-back's distinct collapses the cross-batch
duplicates a user active on the same day in two batches creates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ledger import Ledger, committed_batches, land, read

EVENT_STREAM_SCHEMA = "event_id bigint, ts timestamp, user_id bigint"


class ActiveUsersLedger(Ledger):
    """Maintains the distinct user-day relation under `out_dir` from a
    streaming event feed; `rolling()` reports exact DAU/WAU/MAU per day
    through the batch kernel."""

    # -- read-back surfaces -------------------------------------------
    def user_days(self, spark) -> DataFrame | None:
        # a user active the same day in two micro-batches appears in
        # both batch dirs — the ledger's grain is the DISTINCT user-day
        ids = committed_batches(self.out_dir).ids
        return read(spark, self.out_dir, ids, distinct=True)

    def rolling(self, spark) -> DataFrame | None:
        """Exact DAU/WAU/MAU per day over the maintained relation — the
        operators.analytics.active_users_rolling kernel verbatim."""
        from ..operators.analytics import active_users_rolling

        ud = self.user_days(spark)
        if ud is None:
            return None
        rng = ud.agg(
            F.min("day").alias("d0"),
            F.max("day").alias("d1"),
        )
        return active_users_rolling(ud, rng)

    # -- the per-batch step -------------------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        ud = batch.select(
            "user_id", F.date_trunc("day", F.col("ts")).alias("day")
        ).distinct()
        land(ud, self.out_dir, batch_id)
