"""Async delivery queue + poller (S3/S4/ST5/ST6/A2).

The reference appends events to cdc_webhook.event_log with
status='PENDING' (cdc_webhook--1.0.sql:295-324) and registers a
background worker that was meant to poll and deliver them — its body is
an unimplemented comment (src/cdc_webhook_worker.c:55-61). The schema
(status machine :35, attempt arrays :37-39, next_attempt :40) fully
specifies the intent; this module implements it for real.

Design: two append-only parquet logs instead of in-place row updates —
  event_log/   one row per enqueued event (the S3 sink)
  attempts/    one row per delivery attempt (A2 history)
The queue state machine (ST6: PENDING -> DELIVERED | FAILED, with
IN_PROGRESS existing only inside a poll cycle) is a *derived view*:
status and next_attempt are computed by joining the two logs — attempts
aggregate per event, backoff delay from the retry config snapshot
(ST5: LINEAR const / EXPONENTIAL ivl*2^n, src/cdc_webhook.c:103-109).
Append-only logs + derived state = no read-modify-write races and safe
checkpoint replay; compact() moves terminal events out of the logs.

The poller does not re-derive that view every tick. Per subscription
scope it carries a working set between ticks — one small tuple per
PENDING event (next_attempt, attempt count, retry config, source file;
never the payload) — the analog of the reference's
(status, next_attempt) index (cdc_webhook--1.0.sql:50-52). A tick folds
in only the event files that appeared since the last one, applies its
own attempt outcomes, and reads payloads only for the events it
delivers. queue_state_fold stays the one definition of queue state: it
seeds the working set, and re-seeds it whenever the logs changed in a
way the poller did not cause (see EventQueue._sync_working_set).

Timestamps are UTC instants: enqueued_at is written from an aware UTC
datetime, and a naive `now` passed to ready()/poll_once means UTC, so
the queue clock does not depend on the driver's local timezone.

Retries never sleep anywhere (the reference sleeps its backend,
src/cdc_webhook.c:190): a failed attempt simply moves next_attempt into
the future; the 1 s-cadence poller (matching src/cdc_webhook_worker.c:64)
picks the event up when it is ready.
"""

from __future__ import annotations

import dataclasses
import datetime
import heapq
import logging
import os
import threading
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..config import SubscriptionConfig
from ..functions.scalar import backoff_delay
from .deliver import (
    deliver_and_log,
    deliver_rows_per_event,
    delivery_lanes,
    log_files,
    stage_dirs,
)

_log = logging.getLogger(__name__)

_EVENT_LOG_SCHEMA = StructType(
    [
        StructField("event_id", StringType()),
        StructField("trigger_schema", StringType()),
        StructField("trigger_table", StringType()),
        StructField("trigger_name", StringType()),
        StructField("webhook_url", StringType()),
        StructField("payload", StringType()),
        StructField("timeout", IntegerType()),
        StructField("retry_number", IntegerType()),
        StructField("retry_interval", IntegerType()),
        StructField("retry_backoff", StringType()),
        StructField("enqueued_at", TimestampType()),
    ]
)

_ATTEMPTS_SCHEMA = StructType(
    [
        StructField("event_id", StringType()),
        StructField("attempt", IntegerType()),
        StructField("http_status", IntegerType()),
        StructField("ok", BooleanType()),
        StructField("error", StringType()),
        StructField("attempted_at", DoubleType()),  # epoch seconds
        # capped response body per attempt — attempts_response JSONB[]
        # analog (cdc_webhook--1.0.sql:39); NULL on connection failure
        # and in attempt logs written before this column existed
        StructField("response", StringType()),
    ]
)


def _utcnow() -> datetime.datetime:
    # aware on purpose: PySpark reads a NAIVE datetime as the driver's
    # local time, which would shift every instant by the UTC offset
    return datetime.datetime.now(datetime.timezone.utc)


def _as_utc(now: datetime.datetime | None) -> datetime.datetime:
    """`now` as an aware UTC datetime: None is the current time, and a
    naive value means UTC (never the driver's local time)."""
    if now is None:
        return _utcnow()
    if now.tzinfo is None:
        return now.replace(tzinfo=datetime.timezone.utc)
    return now


_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def _epoch_micros(now: datetime.datetime | None) -> int:
    return (_as_utc(now) - _EPOCH) // datetime.timedelta(microseconds=1)


def _backoff_seconds(backoff: str, interval: int, n: int) -> int:
    """functions.scalar.backoff_delay in Python: LINEAR => interval,
    otherwise interval * 2^n (the fold's rule, src/cdc_webhook.c:103-109)."""
    return interval if backoff == "LINEAR" else interval * int(2.0**n)


def _local_path(uri: str) -> str:
    # Spark reports `_metadata.file_path` as a URL-encoded URI; hand a
    # local file back as the plain path the log globs produce
    parsed = urllib.parse.urlparse(uri)
    if parsed.scheme == "file":
        return urllib.parse.unquote(parsed.path)
    return uri


def queue_state_fold(events: DataFrame, attempts: DataFrame) -> DataFrame:
    """THE queue-state derivation (ST6): fold an event log and an
    attempt log into one row per event with status, attempt-history
    array (A2: attempts_time/status/response arrays,
    cdc_webhook--1.0.sql:36-39) and the computed next_attempt.

    Module-level on purpose — EventQueue.state() applies it to the live
    append-only logs, and the batch `queue_state_machine` query
    (operators/cdc.py) applies it to a deterministic fixture with a
    DuckDB oracle, so the driver's hash check exercises the very fold
    the streaming poller seeds its working set from (its per-tick
    updates apply the same status and backoff rules in Python, pinned
    to this fold by tests/test_streaming.py).

    Backoff: delay after n completed attempts = interval (LINEAR) or
    interval * 2^(n-1) (EXPONENTIAL, 0-based shift of the last attempt
    index) — src/cdc_webhook.c:103-109. Status: any successful attempt
    => DELIVERED; attempt budget (retry_number + 1) exhausted => FAILED;
    else PENDING (cdc_webhook--1.0.sql:35).

    Both logs are deduped defensively before derivation: duplicate
    event rows (an at-least-once enqueue replay racing a compact, or a
    crash-recovery merge) would each be polled and POSTed per copy, and
    duplicate attempt rows would burn the retry budget early — the keys
    (event_id) and (event_id, attempt) identify the logical rows, so
    copies collapse to one. The dedup shuffle shares the event_id
    partitioning the state join needs anyway.
    """
    att = (
        attempts.dropDuplicates(["event_id", "attempt"])
        .groupBy("event_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("attempt_count"),
            F.max(F.when(F.col("ok"), 1).otherwise(0)).alias("any_ok"),
            F.max("attempted_at").alias("last_attempt_at"),
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "attempt", "attempted_at", "http_status", "response"
                    )
                )
            ).alias("history"),
        )
    )
    ev = (
        events.dropDuplicates(["event_id"])
        .join(att, "event_id", "left")
        .fillna({"attempt_count": 0, "any_ok": 0})
    )
    budget = F.col("retry_number") + 1
    delay = backoff_delay(
        "retry_backoff",
        "retry_interval",
        F.greatest(F.col("attempt_count") - 1, F.lit(0)),
    )
    status = (
        F.when(F.col("any_ok") == 1, "DELIVERED")
        .when(F.col("attempt_count") >= budget, "FAILED")
        .otherwise("PENDING")
    )
    next_attempt = F.when(
        F.col("attempt_count") == 0, F.col("enqueued_at")
    ).otherwise(
        F.timestamp_seconds(F.col("last_attempt_at") + delay)
    )
    return ev.select(
        "event_id",
        "trigger_schema",
        "trigger_table",
        "trigger_name",
        "webhook_url",
        "payload",
        "timeout",
        "retry_number",
        "retry_interval",
        "retry_backoff",
        "enqueued_at",
        "attempt_count",
        F.col("history").alias("attempts"),
        status.alias("status"),
        next_attempt.alias("next_attempt"),
    )


@dataclasses.dataclass(slots=True)
class _Pending:
    """One PENDING event of a poller's working set (never the payload)."""

    next_attempt: int | None  # epoch microseconds, exactly as the fold
    attempt_count: int
    last_attempt_at: float | None  # epoch seconds of the latest attempt
    retry_number: int
    retry_interval: int
    retry_backoff: str
    source: str  # an event-log file holding the event's row


@dataclasses.dataclass(slots=True)
class _WorkingSet:
    """One poller scope's PENDING events as of the log files read."""

    pending: dict[str, _Pending]
    event_files: set[str]
    attempt_files: set[str]


class EventQueue:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.event_log_path = os.path.join(path, "event_log")
        self.attempts_path = os.path.join(path, "attempts")
        # poller working sets by (schema, table, name) scope, the event
        # log dirs each scope has read, and every attempts file this
        # queue moved into the log (any scope's)
        self._working: dict[tuple[str, str, str], _WorkingSet] = {}
        self._read_dirs: dict[tuple[str, str, str], set[str]] = {}
        self._written: set[str] = set()
        self._written_lock = threading.Lock()

    # ---- S3: the enqueue sink --------------------------------------

    def enqueue_batch(
        self,
        batch: DataFrame,
        cfg: SubscriptionConfig,
        batch_id: int | None = None,
    ) -> None:
        """foreachBatch write of capture_pipeline rows as PENDING events
        (the ASYNC trigger branch, cdc_webhook--1.0.sql:295-324).

        foreachBatch is at-least-once: with a batch_id the rows go to
        the batch's OWN `batch=<sub>-<id>` directory with overwrite (the
        stream_ingest/WebhookSink discipline), so a replayed micro-batch
        rewrites its partition instead of appending duplicate event rows
        — duplicates would each be POSTed by poll_once and their doubled
        attempt rows would burn the retry budget twice. Batch ids are
        only unique PER STREAMING QUERY, and every subscription's sink
        shares this one event log — the directory key therefore
        includes the subscription identity, or two subscriptions'
        batch 0s would overwrite each other. batch_id=None (direct
        non-streaming call) keeps the flat append layout."""
        now = _utcnow()
        rows = batch.select(
            F.col("envelope.id").alias("event_id"),
            F.lit(cfg.schema_name).alias("trigger_schema"),
            F.lit(cfg.table_name).alias("trigger_table"),
            F.lit(cfg.name).alias("trigger_name"),
            F.lit(cfg.webhook_url).alias("webhook_url"),
            F.col("payload"),
            F.lit(cfg.timeout).alias("timeout"),
            F.lit(cfg.retry_number).alias("retry_number"),
            F.lit(cfg.retry_interval).alias("retry_interval"),
            F.lit(cfg.retry_backoff).alias("retry_backoff"),
            F.lit(now).alias("enqueued_at"),
        )
        if batch_id is None:
            rows.write.mode("append").parquet(self.event_log_path)
        else:
            import hashlib
            import re

            raw = f"{cfg.schema_name}.{cfg.table_name}.{cfg.name}"
            sub = re.sub(r"[^A-Za-z0-9_.-]", "_", raw)
            tag = hashlib.md5(raw.encode()).hexdigest()[:6]
            rows.write.mode("overwrite").parquet(
                os.path.join(
                    self.event_log_path, f"batch={sub}-{tag}-{batch_id}"
                )
            )

    def enqueue_sink(self, cfg: SubscriptionConfig):
        def _sink(batch: DataFrame, batch_id: int) -> None:
            self.enqueue_batch(batch, cfg, batch_id)

        return _sink

    # ---- derived state (ST6 status machine as a view) ---------------

    _log_files = staticmethod(log_files)

    def _recover_crashed_swap(self, path: str) -> bool:
        """Heal a compact() swap that died in flight (cheap no-op when
        nothing is pending — two existence checks). Returns whether
        `.old` was merged back into the live dir.

        Protocol: compact touches `<path>.swap` BEFORE moving the live
        dir to `<path>.old` and removes it only after the new dir is in
        place — so `.old` accompanied by the marker (or with no live
        dir at all) is the authoritative pre-compact data, while `.old`
        without a marker next to a live dir is stale post-swap junk.
        Recovery MERGES `.old` back into the live dir (an enqueue sink
        may have recreated it with fresh batches after the crash; on a
        name collision the live entry wins — `batch=<id>` dirs are
        logically identical under overwrite replay). Merging can
        resurrect events the dead compact had dropped; state()'s
        event/attempt dedup + the derived status keep that harmless
        (they re-compact next run)."""
        import shutil

        old, marker = path + ".old", path + ".swap"
        has_old, has_marker = os.path.exists(old), os.path.exists(marker)
        if not (has_old or has_marker):
            return False
        merged = has_old and (has_marker or not os.path.exists(path))
        if merged:
            os.makedirs(path, exist_ok=True)
            for entry in os.listdir(old):
                dst = os.path.join(path, entry)
                if not os.path.exists(dst):
                    os.rename(os.path.join(old, entry), dst)
            shutil.rmtree(old, ignore_errors=True)
            self.spark.catalog.refreshByPath(path)
        if has_marker:
            os.remove(marker)
        return merged

    def _scan(self, files, schema) -> DataFrame:
        return self.spark.read.schema(schema).parquet(*files)

    def _read_log(self, path: str, schema) -> DataFrame:
        # with an explicit schema the parquet read is fully lazy, so a
        # missing/empty log dir would fail mid-action (inside a poller
        # tick) — guard on actual data files instead of catching late
        self._recover_crashed_swap(path)
        files = self._log_files(path)
        if not files:
            return self.spark.createDataFrame([], schema)
        return self._scan(files, schema)

    def _events(self) -> DataFrame:
        return self._read_log(self.event_log_path, _EVENT_LOG_SCHEMA)

    def _attempts(self) -> DataFrame:
        return self._read_log(self.attempts_path, _ATTEMPTS_SCHEMA)

    def state(self) -> DataFrame:
        """Current queue state: one row per event with status, attempt
        history arrays and the computed next_attempt — the shared
        queue_state_fold applied to the live append-only logs (see its
        docstring for the state-machine semantics and dedup rationale).
        """
        return queue_state_fold(self._events(), self._attempts())

    def compact(self, drop_failed: bool = False) -> dict[str, int]:
        """Maintenance: rewrite the append-only logs without terminal
        events. DELIVERED events (and, with drop_failed, FAILED ones)
        plus their attempt rows move out of the live logs, so state()
        and a poller's re-seed scan only the live events — the analog of
        purging rows the reference's event_log would otherwise
        accumulate forever (its schema has no retention either,
        cdc_webhook--1.0.sql:25-47). FAILED events are kept by default
        as the dead-letter record. Stage dirs a poll tick left behind when
        its process died are removed.

        Rewrite is read -> write-to-temp -> marker-protected directory
        swap; NOT safe to run concurrently with a live poller OR a live
        enqueue stream — stop both first (a cleanly stopped enqueue
        stream has committed its checkpoint; an enqueue batch replayed
        AFTER a compact can resurrect events the compact dropped, which
        is the documented at-least-once envelope — ST4 receiver-side
        dedup absorbs the redelivery, and state()'s event dedup keeps
        the queue view consistent). Returns kept/dropped counts."""
        import shutil
        import tempfile

        # heal any swap a previous compact left in flight
        for path in (self.event_log_path, self.attempts_path):
            self._recover_crashed_swap(path)
        # no poller is live, so every stage dir is a dead tick's
        for stage in stage_dirs(self.attempts_path):
            shutil.rmtree(stage, ignore_errors=True)

        terminal = ["DELIVERED"] + (["FAILED"] if drop_failed else [])
        # persist the tiny (event_id, status) projection: the status
        # counts AND both survivor anti-joins read it, and unpersisted
        # each would re-run the full events+attempts state join
        st = self.state().select("event_id", "status").persist()
        try:
            by_status = {
                r["status"]: r["count"]
                for r in st.groupBy("status").count().collect()
            }
            n_total = sum(by_status.values())
            n_drop = sum(by_status.get(s, 0) for s in terminal)
            if n_drop == 0:
                return {"kept": n_total, "dropped": 0}
            drop_ids = st.filter(F.col("status").isin(terminal)).select(
                "event_id"
            )
            keep_ev = self._events().join(drop_ids, "event_id", "left_anti")
            keep_at = self._attempts().join(drop_ids, "event_id", "left_anti")
            # write BOTH survivor logs first (every read runs against
            # the original files — the drop-set plan spans both logs),
            # then swap both directories atomically. Staging lives NEXT
            # TO the live logs: os.rename across filesystems raises
            # EXDEV, and a tempdir under TMPDIR would fail the swap
            # AFTER the live log was already moved aside.
            staged = []
            for df, path in (
                (keep_ev, self.event_log_path),
                (keep_at, self.attempts_path),
            ):
                tmp = tempfile.mkdtemp(
                    prefix="cdc-compact-", dir=os.path.dirname(path)
                )
                new_dir = os.path.join(tmp, "data")
                df.write.mode("overwrite").parquet(new_dir)
                staged.append((path, new_dir, tmp))
            for path, new_dir, tmp in staged:
                old, marker = path + ".old", path + ".swap"
                # stale .old (no marker, live dir present) is junk from
                # a crash after a COMPLETED swap — recovery above left
                # it alone; clear it before starting ours
                shutil.rmtree(old, ignore_errors=True)
                # marker up BEFORE the live dir moves: from here until
                # the marker is removed, `.old` is the authoritative
                # copy and _recover_crashed_swap will merge it back
                with open(marker, "w"):
                    pass
                if os.path.exists(path):
                    os.rename(path, old)
                os.rename(new_dir, path)
                os.remove(marker)
                shutil.rmtree(old, ignore_errors=True)
                shutil.rmtree(tmp, ignore_errors=True)
                # drop Spark's cached file listing for the swapped dir
                self.spark.catalog.refreshByPath(path)
            return {"kept": n_total - n_drop, "dropped": n_drop}
        finally:
            st.unpersist()

    def state_for(self, principal: str, policy) -> DataFrame:
        """P4 row-level security analog for the event log
        (cdc_webhook--1.0.sql:57-69): role members see full queue state;
        non-members get a redacted view — delivery status without
        payload bodies or destination URLs (which may embed tokens)."""
        st = self.state()
        if policy.has_role(principal):
            return st
        return st.select(
            "event_id",
            "trigger_schema",
            "trigger_table",
            "trigger_name",
            F.lit("***").alias("webhook_url"),
            F.lit("***").alias("payload"),
            "enqueued_at",
            "attempt_count",
            "status",
            "next_attempt",
        )

    # ---- S4: the poller --------------------------------------------

    def ready(
        self,
        now: datetime.datetime | None = None,
        limit: int = 1000,
        scope=None,
    ) -> DataFrame:
        """P5 readiness predicate + ordered polling batch (the indexes
        cdc_webhook--1.0.sql:50-52 as filter + top-k).

        `scope` (optional Column predicate) narrows the poll BEFORE the
        ordered limit — a scoped poller that filtered AFTER the global
        top-k could be starved forever by another subscription's
        backlog filling the window. `now` defaults to the current time;
        a naive `now` means UTC."""
        st = self.state().filter(
            (F.col("status") == "PENDING")
            & (F.col("next_attempt") <= F.lit(_as_utc(now)))
        )
        if scope is not None:
            st = st.filter(scope)
        return st.orderBy("next_attempt", "event_id").limit(limit)

    def poll_once(
        self,
        cfg: SubscriptionConfig,
        url: str | None = None,
        headers: dict[str, str] | None = None,
        now: datetime.datetime | None = None,
    ) -> int:
        """One worker cycle: pick the ready events, attempt delivery once
        each (scheduled retries happen on later cycles via next_attempt —
        never by sleeping), append attempt rows. Returns #events tried.
        `now` defaults to the current time; a naive `now` means UTC.

        This is the loop body the reference left as a comment
        (src/cdc_webhook_worker.c:55-61).

        The poller is SCOPED to its subscription: only events whose
        (trigger_schema, trigger_table, trigger_name) match cfg are
        polled, because headers are credential material resolved per
        subscription (credential store), never stored in the event log
        — an unscoped poller would POST one subscription's auth headers
        to another's endpoint. One worker runs per subscription
        (engine.start_worker). Within the scope, each event is
        delivered with ITS OWN stored webhook_url and timeout
        (event_log columns, cdc_webhook--1.0.sql:30-34) so config
        versions in flight keep their enqueue-time destination; the
        `url` argument, when given, overrides the destination for this
        subscription's events (credential rotation, tests).

        Incremental: the tick brings the scope's working set up to date
        (_sync_working_set), picks the ready events from it with ready()'s
        rule — next_attempt <= now, ordered by (next_attempt, event_id),
        first 1000 — and returns 0 when none is ready (a tick that also
        found no new file starts no Spark job). Otherwise it reads only
        the files holding the ready events and, once every attempt row
        is in the log, applies the outcomes to the working set with the
        fold's status and backoff rules. A tick that raises drops the
        working set; the next one re-seeds.
        """
        key = (cfg.schema_name, cfg.table_name, cfg.name)
        scope = (
            (F.col("trigger_schema") == cfg.schema_name)
            & (F.col("trigger_table") == cfg.table_name)
            & (F.col("trigger_name") == cfg.name)
        )
        ws = self._sync_working_set(self._working.pop(key, None), key, scope)
        now_us = _epoch_micros(now)
        ready = heapq.nsmallest(
            1000,
            (
                (p.next_attempt, eid)
                for eid, p in ws.pending.items()
                if p.next_attempt is not None and p.next_attempt <= now_us
            ),
        )
        n = self._deliver(ws, [eid for _, eid in ready], scope, cfg, url, headers)
        self._working[key] = ws
        return n

    def _sync_working_set(
        self, ws: _WorkingSet | None, key: tuple[str, str, str], scope
    ) -> _WorkingSet:
        """Bring a scope's working set up to the current log files.

        Cheap start: heal a crashed compact swap and glob both logs.
        Only the new `batch=` files are read when each sits in a batch
        dir the scope has never read — a streaming batch dir carries
        events new to the log — and each unseen event joins as PENDING
        with no attempts. Anything else re-seeds with the full
        queue_state_fold: no working set yet, a crash-recovery merge, a
        file read before is gone (an enqueue replay overwrote its
        `batch=` dir, or compact() ran), a new file in a dir read before
        (the rewrite of a replay whose delete a tick saw, or the rest of
        a batch whose commit a glob caught midway), a new FLAT event-log
        file (a direct enqueue_batch append may repeat an event that is
        already terminal), or an attempts file this queue did not write.
        The dirs read are kept across re-seeds for that reason; a first
        seed that lands inside a replay's delete-then-write window can
        still take the rewritten events for new ones, which costs at most
        a repeated POST (at-least-once)."""
        merged = [
            self._recover_crashed_swap(p)
            for p in (self.event_log_path, self.attempts_path)
        ]
        event_files = set(self._log_files(self.event_log_path))
        attempt_files = set(self._log_files(self.attempts_path))
        read_dirs = self._read_dirs.setdefault(key, set())
        if ws is not None and not any(merged):
            new_events = event_files - ws.event_files
            new_dirs = {os.path.dirname(f) for f in new_events}
            with self._written_lock:
                foreign = attempt_files - ws.attempt_files - self._written
            if not (
                foreign
                or not ws.event_files <= event_files
                or not ws.attempt_files <= attempt_files
                or self.event_log_path in new_dirs
                or new_dirs & read_dirs
            ):
                if new_events:
                    self._add_new_events(ws, sorted(new_events), scope)
                read_dirs.update(new_dirs)
                ws.event_files, ws.attempt_files = event_files, attempt_files
                return ws
        read_dirs.update(os.path.dirname(f) for f in event_files)
        return self._seed(event_files, attempt_files, scope)

    def _add_new_events(self, ws: _WorkingSet, files: list[str], scope) -> None:
        rows = (
            self._scan(files, _EVENT_LOG_SCHEMA)
            .filter(scope)
            .select(
                "event_id",
                F.unix_micros("enqueued_at").alias("next_attempt"),
                "retry_number",
                "retry_interval",
                "retry_backoff",
                F.col("_metadata.file_path").alias("source"),
            )
            .collect()
        )
        for r in rows:
            if r.event_id not in ws.pending:
                ws.pending[r.event_id] = _Pending(
                    r.next_attempt, 0, None, r.retry_number,
                    r.retry_interval, r.retry_backoff, _local_path(r.source),
                )

    def _seed(
        self, event_files: set[str], attempt_files: set[str], scope
    ) -> _WorkingSet:
        """The scope's PENDING events from the full fold over the given
        files, each with a file that holds its row."""
        ws = _WorkingSet({}, event_files, attempt_files)
        if not event_files:
            return ws
        events = self._scan(sorted(event_files), _EVENT_LOG_SCHEMA)
        attempts = (
            self._scan(sorted(attempt_files), _ATTEMPTS_SCHEMA)
            if attempt_files
            else self.spark.createDataFrame([], _ATTEMPTS_SCHEMA)
        )
        sources = events.filter(scope).select(
            "event_id", F.col("_metadata.file_path").alias("source")
        )
        rows = (
            queue_state_fold(events, attempts)
            .filter((F.col("status") == "PENDING") & scope)
            .join(sources, "event_id")
            .select(
                "event_id",
                F.unix_micros("next_attempt").alias("next_attempt"),
                "attempt_count",
                F.array_max("attempts.attempted_at").alias("last_attempt_at"),
                "retry_number",
                "retry_interval",
                "retry_backoff",
                "source",
            )
            .collect()
        )
        for r in rows:
            # an event held by several files joins once per copy; any
            # copy serves (delivery drops duplicates by event_id)
            ws.pending[r.event_id] = _Pending(
                r.next_attempt, r.attempt_count, r.last_attempt_at,
                r.retry_number, r.retry_interval, r.retry_backoff,
                _local_path(r.source),
            )
        return ws

    def _deliver(
        self,
        ws: _WorkingSet,
        ids: list[str],
        scope,
        cfg: SubscriptionConfig,
        url_override: str | None,
        headers: dict[str, str] | None,
    ) -> int:
        """Attempt each ready event once and apply the outcomes to the
        working set. Returns #events tried."""
        if not ids:
            return 0
        headers = dict(headers) if headers is not None else dict(cfg.headers)
        fallback_url = cfg.webhook_url
        fallback_timeout = cfg.timeout
        order = {eid: i for i, eid in enumerate(ids)}
        counts = {eid: ws.pending[eid].attempt_count for eid in ids}
        files = sorted({ws.pending[eid].source for eid in ids})
        # one partition, no shuffle: its task delivers the events on
        # every core's worth of lanes, keyed on event_id (ASYNC makes no
        # per-key order promise — README, divergences)
        ready_rdd = (
            self._scan(files, _EVENT_LOG_SCHEMA)
            .filter(scope & F.col("event_id").isin(ids))
            .select("event_id", "payload", "timeout", "webhook_url")
            .coalesce(1)
            .rdd
        )
        lanes = delivery_lanes(ready_rdd)

        def _attempt_partition(it):
            copies: dict = {}
            for r in it:
                copies.setdefault(r.event_id, r)  # one copy per event
            rows = sorted(copies.values(), key=lambda r: order[r.event_id])
            results = deliver_rows_per_event(
                [
                    (
                        r.event_id,
                        r.event_id,
                        r.payload,
                        url_override or r.webhook_url or fallback_url,
                        r.timeout if r.timeout is not None else fallback_timeout,
                    )
                    for r in rows
                ],
                headers,
                attempt_budget=1,  # one attempt per poll cycle per event
                lanes=lanes,
            )
            for a in results:
                yield (
                    a.event_id,
                    counts[a.event_id],  # global attempt index
                    a.status,
                    a.ok,
                    a.error,
                    a.at,
                    a.response,
                )

        def _commit(files):
            moved = [
                os.path.join(self.attempts_path, os.path.basename(f))
                for f in files
            ]
            # recorded BEFORE the renames, so another scope's tick never
            # mistakes a file in flight for a foreign write
            with self._written_lock:
                self._written.update(moved)
            for f, dst in zip(files, moved):
                os.rename(f, dst)
            ws.attempt_files.update(moved)
            if moved:
                self.spark.catalog.refreshByPath(self.attempts_path)

        # deliver-and-log: the delivering task writes the attempt rows
        # and reports (event_id, ok, attempted_at) for each; once the
        # driver has renamed its file into the attempts log, the
        # outcomes update the working set
        summaries = deliver_and_log(
            ready_rdd, _attempt_partition, _ATTEMPTS_SCHEMA,
            self.attempts_path,
            lambda rows: [(eid, ok, at) for eid, _, _, ok, _, at, _ in rows],
            _commit,
        )
        results = [r for part in summaries for r in part]
        # every attempt row is in the log: apply the fold's rules
        for eid, ok, at in results:
            p = ws.pending.get(eid)
            if p is None:
                continue
            p.attempt_count += 1
            p.last_attempt_at = (
                at if p.last_attempt_at is None else max(p.last_attempt_at, at)
            )
            if ok or p.attempt_count >= p.retry_number + 1:
                del ws.pending[eid]  # DELIVERED or FAILED
            else:
                delay = _backoff_seconds(
                    p.retry_backoff, p.retry_interval, p.attempt_count - 1
                )
                # timestamp_seconds(double): micros truncated toward zero
                p.next_attempt = int((p.last_attempt_at + delay) * 1_000_000)
        return len(results)

    def start_poller(
        self,
        cfg: SubscriptionConfig,
        url: str | None = None,
        headers: dict[str, str] | None = None,
        cadence_seconds: int = 1,
        resolver=None,
    ) -> StreamingQuery:
        """Continuous worker: a rate-source stream is the 1 s heartbeat
        (src/cdc_webhook_worker.c:64); each tick runs one poll cycle.
        Spark's query supervision replaces postmaster bgworker restart
        (src/cdc_webhook_worker.c:91).

        `resolver` (optional: () -> (url, headers)) is re-invoked EVERY
        tick — the analog of the reference worker reloading config on
        SIGHUP (src/cdc_webhook_worker.c:69-74): a credential rotation
        or URL change takes effect on the next cycle without restarting
        the worker. Fixed `url`/`headers` keep round-1 snapshot
        behavior."""

        def _tick(_batch: DataFrame, _batch_id: int) -> None:
            # a crashing cycle must not kill the worker — the reference's
            # bgworker is auto-restarted by the postmaster 1 s after a
            # crash (src/cdc_webhook_worker.c:91); here the tick survives
            # and the next heartbeat retries
            try:
                tick_url, tick_headers = url, headers
                if resolver is not None:
                    tick_url, tick_headers = resolver()
                self.poll_once(cfg, tick_url, tick_headers)
            except Exception:
                _log.exception(
                    "cdc poller cycle failed for %s (will retry)", cfg.name
                )

        return (
            self.spark.readStream.format("rate")
            .option("rowsPerSecond", 1)
            .load()
            .writeStream.trigger(processingTime=f"{cadence_seconds} seconds")
            .foreachBatch(_tick)
            .start()
        )
