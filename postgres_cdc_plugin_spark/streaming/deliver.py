"""HTTP webhook delivery sink (S2/ST1/ST3/ST7) and the deliver-and-log
step it shares with the async queue's poller.

The reference's C sink (src/cdc_webhook.c:121-237) posts one payload per
row with libcurl, re-initializing curl per call (:175,220) and sleeping
the backend between retries (:190). This sink:

  * runs in foreachBatch on executors, in delivery LANES: each partition's
    rows are grouped by ordering key, and up to
    defaultParallelism // (delivery partitions) key groups are posted at
    once on threads inside the partition's Python task, so in-flight
    POSTs per batch stay at or below the scheduler's core count
    (`delivery_lanes`);
  * pools one HTTP connection per (lane, destination) — stdlib
    http.client, keep-alive across rows (amortizing what the reference
    pays per row) — and closes every lane's connections when the
    delivery call returns;
  * delivers per key strictly in `seq` order: hash-partitioning on the
    key puts all of a row's changes in one partition,
    sortWithinPartitions orders them, and one lane posts a key's rows
    serially (SURVEY.md §7 hard-point 3);
  * never sleeps: retries within a batch are immediate, bounded by the
    attempt budget retry_number+1 (src/cdc_webhook.c:178); *scheduled*
    backoff lives in the async queue (queue.py), where it is data
    (next_attempt), not blocking time. Documented divergence from the
    reference's in-transaction sleeps (README.md:303 admits the stall).
  * failure policy (ST3): cancel_on_failure=True raises after the budget
    is exhausted, failing the micro-batch (the closest analog of
    aborting the writing transaction, src/cdc_webhook.c:223-227);
    False records the failure to a dead-letter list and continues
    (WARNING path, :229-233).

Deliver-and-log (`deliver_and_log`): POSTing a partition's rows and
recording their attempts is one Spark task, and delivering a batch is
one Spark action. Each task writes its attempt rows with pyarrow to one
parquet file in a hidden stage dir and returns a small summary; the
driver collects the summaries and commits by renaming exactly the files
they name (the successful task attempts' files, the rule Spark's file
committer applies), then removes the stage dir. Counters and the
failure subset come from the summaries, so nothing is read back, and no
second action can re-run a delivery task (re-POSTing webhooks). Log
dirs must therefore sit on a filesystem every executor mounts at the
same path.

HTTP success = status in [200, 300) (src/cdc_webhook.c:137-140).
"""

from __future__ import annotations

import concurrent.futures
import glob
import http.client
import os
import queue
import shutil
import time
import urllib.parse
import uuid
from dataclasses import dataclass

from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..config import SubscriptionConfig


_RESPONSE_CAP = 4096  # bytes of response body retained per attempt


@dataclass
class Attempt:
    event_id: str
    attempt: int
    status: int  # HTTP status, or -1 on connection error
    ok: bool
    error: str | None
    at: float
    # capped response body (reference keeps full per-attempt response
    # JSON in attempts_response JSONB[], cdc_webhook--1.0.sql:39; we
    # truncate to _RESPONSE_CAP so a chatty endpoint cannot bloat the
    # attempt log). None on connection-level failure.
    response: str | None = None


def _is_success(status: int) -> bool:
    return 200 <= status < 300


def post_once(
    url: str, payload: str, headers: dict[str, str], timeout: int,
    conn: http.client.HTTPConnection | None = None,
) -> tuple[int, str | None, str | None, http.client.HTTPConnection | None]:
    """One HTTP(S) attempt (attempt_webhook_call, src/cdc_webhook.c:121-145).
    Returns (status, error, response_body, live_connection) — the
    connection is reused by the caller when the server kept it alive;
    the response body is retained (capped at _RESPONSE_CAP bytes, the
    attempts_response analog of cdc_webhook--1.0.sql:39).

    The reference hands the full URL to libcurl (src/cdc_webhook.c:129),
    which negotiates TLS and preserves the query string; stdlib
    http.client makes both OUR job: https selects HTTPSConnection
    (default port 443) — never silently downgraded to cleartext port 80,
    which would leak auth headers — the query string rides along in the
    request target, and any other scheme is rejected outright."""
    parsed = urllib.parse.urlparse(url)
    if parsed.scheme not in ("http", "https"):
        return -1, f"unsupported url scheme: {parsed.scheme!r}", None, None
    try:
        if conn is None:
            if parsed.scheme == "https":
                conn = http.client.HTTPSConnection(
                    parsed.hostname, parsed.port or 443, timeout=timeout
                )
            else:
                conn = http.client.HTTPConnection(
                    parsed.hostname, parsed.port or 80, timeout=timeout
                )
        body = payload.encode("utf-8")
        hdrs = {"Content-Type": "application/json", **headers}
        target = (parsed.path or "/") + (f"?{parsed.query}" if parsed.query else "")
        conn.request("POST", target, body=body, headers=hdrs)
        resp = conn.getresponse()
        raw = resp.read()  # full drain so the connection is reusable
        resp_body = raw[:_RESPONSE_CAP].decode("utf-8", "replace")
        return resp.status, None, resp_body, conn
    except Exception as exc:  # connection refused / timeout / reset
        try:
            if conn is not None:
                conn.close()
        except Exception:
            pass
        return -1, str(exc), None, None


def delivery_lanes(rdd) -> int:
    """Lanes per delivery partition: the scheduler's cores spread over
    the partitions of the delivery RDD, at least one. In-flight POSTs
    per batch then stay at or below defaultParallelism on a laptop or a
    cluster — a batch the shuffle coalesced to one partition gets every
    core's worth of lanes inside its one task."""
    parts = max(1, rdd.getNumPartitions())
    return max(1, rdd.context.defaultParallelism // parts)


def _deliver_key_group(rows, headers, attempt_budget, conns) -> list[Attempt]:
    """Deliver one key's rows serially, in input order, reusing (and
    updating) the lane's connection pool `conns`."""
    attempts: list[Attempt] = []
    for event_id, payload, url, timeout in rows:
        parsed = urllib.parse.urlparse(url)
        pool_key = (parsed.scheme, parsed.hostname, parsed.port, timeout)
        for attempt in range(attempt_budget):
            status, error, resp_body, conn = post_once(
                url, payload, headers, timeout, conns.get(pool_key)
            )
            conns[pool_key] = conn
            ok = _is_success(status)
            attempts.append(
                Attempt(
                    event_id, attempt, status, ok, error, time.time(),
                    resp_body,
                )
            )
            if ok:
                break
    return attempts


def deliver_rows_per_event(
    rows,
    headers: dict[str, str],
    attempt_budget: int,
    lanes: int,
) -> list[Attempt]:
    """Deliver an iterable of (key, event_id, payload, url, timeout) rows.

    Rows are grouped by ordering `key` in input order. Up to `lanes` key
    groups are delivered at once, one thread per lane; a key's rows stay
    serial and in input order on one lane, so a slow or dead endpoint
    holds up only the keys its lane is working through. Each lane pools
    one connection per (scheme, host, port, timeout), so a
    multi-subscription queue reuses sockets per destination, and every
    lane's connections are closed before this returns. Each event is
    delivered with ITS OWN url and timeout (the reference stores both
    per event in event_log, cdc_webhook--1.0.sql:30-34 — a queue holding
    events from several subscriptions must not deliver them all with one
    snapshot config). Each row gets up to `attempt_budget` immediate
    tries, stopping at the first 2xx.

    Returns the attempts grouped by key, keys in order of first
    appearance, each key's attempts in delivery order."""
    groups: dict = {}
    for key, *row in rows:
        groups.setdefault(key, []).append(row)
    group_rows = list(groups.values())
    results: list[list[Attempt]] = [[] for _ in group_rows]
    todo: queue.SimpleQueue[int] = queue.SimpleQueue()
    for i in range(len(group_rows)):
        todo.put(i)

    def _lane() -> None:
        conns: dict[tuple, http.client.HTTPConnection | None] = {}
        try:
            while True:
                try:
                    i = todo.get_nowait()
                except queue.Empty:
                    return
                results[i] = _deliver_key_group(
                    group_rows[i], headers, attempt_budget, conns
                )
        finally:
            for conn in conns.values():
                if conn is not None:
                    conn.close()

    n_lanes = max(1, min(lanes, len(group_rows)))
    with concurrent.futures.ThreadPoolExecutor(n_lanes) as pool:
        for fut in [pool.submit(_lane) for _ in range(n_lanes)]:
            fut.result()
    return [a for group in results for a in group]


_STAGE_PREFIX = "_stage-"


def stage_dirs(log_dir: str) -> list[str]:
    """The deliver-and-log stage dirs under a log dir. Hidden names: the
    log globs, WebhookSink.attempts and Spark's parquet reader skip
    them."""
    return glob.glob(os.path.join(glob.escape(log_dir), _STAGE_PREFIX + "*"))


def log_files(log_dir: str) -> list[str]:
    """The committed parquet files of a log dir, sorted. Both layouts
    coexist: flat appends (direct calls, committed attempt files) and
    per-batch `batch=<id>` overwrite dirs (streaming sinks). Reading
    this explicit list sidesteps partition discovery on the mixed
    layout and never surfaces a spurious `batch` column."""
    root = glob.escape(log_dir)
    return sorted(
        glob.glob(os.path.join(root, "*.parquet"))
        + glob.glob(os.path.join(root, "batch=*", "*.parquet"))
    )


def deliver_and_log(
    rdd, deliver, schema: StructType, log_dir: str, summarize, commit
) -> list:
    """Deliver every partition of `rdd` and log its attempts, as ONE
    Spark action.

    Each task runs `deliver` (a partition iterator -> attempt-row tuples
    in `schema`'s column order), writes the rows with pyarrow to one
    parquet file named per task attempt in a hidden stage dir under
    `log_dir` (temp name, then rename), and yields (file or None for an
    empty partition, summarize(rows)). The driver collects those, then
    calls commit(files) with exactly the files the collected summaries
    name — a failed or duplicate task attempt's file is never
    committed. `commit` moves them into the log by rename (same
    filesystem). The stage dir is removed whatever happens. Returns the
    summaries, one per partition."""
    arrow_schema = to_arrow_schema(schema)
    run = uuid.uuid4().hex
    stage = os.path.join(log_dir, f"{_STAGE_PREFIX}{run}")
    os.makedirs(stage)

    def _task(it):
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = list(deliver(it))
        path = None
        if rows:
            ctx = TaskContext.get()
            # run id last: task attempt ids restart with each application,
            # and committed files share one log dir across applications
            name = (
                f"part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}-{run}"
                ".parquet"
            )
            path = os.path.join(stage, name)
            tmp = os.path.join(stage, f".{name}.tmp")
            columns = [
                pa.array(col, type=field.type)
                for col, field in zip(zip(*rows), arrow_schema)
            ]
            pq.write_table(
                pa.Table.from_arrays(columns, schema=arrow_schema), tmp
            )
            os.rename(tmp, path)
        yield path, summarize(rows)

    try:
        results = rdd.mapPartitions(_task).collect()
        commit([path for path, _ in results if path is not None])
        return [summary for _, summary in results]
    finally:
        shutil.rmtree(stage, ignore_errors=True)


_ATTEMPT_LOG_SCHEMA = StructType(
    [
        StructField("event_id", StringType()),
        StructField("attempt", IntegerType()),
        StructField("status", IntegerType()),
        StructField("ok", BooleanType()),
        StructField("error", StringType()),
        StructField("at", DoubleType()),
        StructField("response", StringType()),
    ]
)


class WebhookSink:
    """foreachBatch sink for a capture_pipeline stream.

    Usage:
        sink = WebhookSink(cfg, url, headers, attempts_path=...)
        stream.writeStream.foreachBatch(sink).start()

    Each micro-batch is delivered and logged in one Spark job
    (`deliver_and_log`): the delivering tasks write the batch's attempt
    rows (one per delivery attempt) to parquet, and the driver commits
    them into the batch's own `batch=<id>` dir under `attempts_path`,
    clearing it first, so a foreachBatch replay rewrites the batch's
    attempts instead of duplicating them. The driver keeps only the
    counters the tasks report plus the failed events the failure policy
    needs (`self.dead_letters`), never the attempt rows. `self.attempts`
    re-reads the parquet log (tests/observability accessor — NOT part of
    the data path).
    """

    def __init__(
        self,
        cfg: SubscriptionConfig,
        url: str | None = None,
        headers: dict[str, str] | None = None,
        attempts_path: str | None = None,
    ) -> None:
        self.cfg = cfg
        self.url = url if url is not None else cfg.webhook_url
        self.headers = dict(headers) if headers is not None else dict(cfg.headers)
        if attempts_path is None:
            import tempfile

            attempts_path = tempfile.mkdtemp(prefix="cdc-webhook-attempts-")
        self.attempts_path = attempts_path
        self.n_attempts = 0
        self.n_delivered = 0
        self.dead_letters: list[tuple[str, str]] = []

    @property
    def attempts(self) -> list[Attempt]:
        """All attempt rows from the parquet log, in delivery order.
        Reads with pyarrow (no Spark session needed) — observability
        only; the delivery path never materializes this."""
        import pyarrow.parquet as pq

        rows: list[Attempt] = []
        for f in log_files(self.attempts_path):
            t = pq.read_table(f)
            rows.extend(
                Attempt(
                    r["event_id"], r["attempt"], r["status"],
                    r["ok"], r["error"], r["at"], r.get("response"),
                )
                for r in t.to_pylist()
            )
        rows.sort(key=lambda a: (a.at, a.event_id, a.attempt))
        return rows

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        cfg, url, headers = self.cfg, self.url, self.headers
        # per-key ordering (SURVEY.md §7 hard-point 3): ordering unit =
        # the monitored row's key (falling back to the event id for
        # keyless feeds): hash-partition so all changes of a row land in
        # one partition, sort them into seq order there, and deliver
        # each key serially on one lane
        ordered = (
            batch.select(
                F.col("envelope.id").alias("event_id"),
                F.coalesce(F.col("key"), F.col("envelope.id")).alias("row_key"),
                "payload",
                "seq",
            )
            .repartition(F.col("row_key"))
            .sortWithinPartitions("row_key", "seq")
            .rdd
        )
        lanes = delivery_lanes(ordered)

        def _deliver_partition(it):
            rows = (
                (r.row_key, r.event_id, r.payload, url, cfg.timeout)
                for r in it
            )
            for a in deliver_rows_per_event(
                rows, headers, cfg.attempt_budget, lanes
            ):
                yield (
                    a.event_id, a.attempt, a.status, a.ok, a.error, a.at,
                    a.response,
                )

        budget = cfg.attempt_budget

        def _summarize(rows):
            n_ok = sum(ok for _, _, _, ok, _, _, _ in rows)
            # failed events only: bounded by failures, not batch size
            failed = [
                (eid, status, error)
                for eid, attempt, status, ok, error, _, _ in rows
                if attempt == budget - 1 and not ok
            ]
            return len(rows), n_ok, failed

        batch_dir = os.path.join(self.attempts_path, f"batch={batch_id}")

        def _commit(files):
            shutil.rmtree(batch_dir, ignore_errors=True)
            os.makedirs(batch_dir)
            for f in files:
                os.rename(f, os.path.join(batch_dir, os.path.basename(f)))

        summaries = deliver_and_log(
            ordered, _deliver_partition, _ATTEMPT_LOG_SCHEMA,
            self.attempts_path, _summarize, _commit,
        )
        failed = [f for _, _, part in summaries for f in part]
        self.n_attempts += sum(n for n, _, _ in summaries)
        self.n_delivered += sum(n_ok for _, n_ok, _ in summaries)

        if failed:
            if cfg.cancel_on_failure:
                # ST3 strict: fail the micro-batch -> stream halts,
                # checkpoint replays (transaction-abort analog)
                failed_ids = sorted(eid for eid, _, _ in failed)
                raise RuntimeError(
                    f"webhook delivery failed for {len(failed_ids)} event(s) "
                    f"after {budget} attempts: {failed_ids[:3]}..."
                )
            self.dead_letters.extend(
                (eid, f"status={status} err={error}")
                for eid, status, error in failed
            )
