"""HTTP webhook delivery sink (S2/ST1/ST3/ST7).

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

HTTP success = status in [200, 300) (src/cdc_webhook.c:137-140).
"""

from __future__ import annotations

import concurrent.futures
import http.client
import queue
import time
import urllib.parse
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


_ATTEMPT_LOG_SCHEMA = (
    "event_id string, attempt int, status int, ok boolean, error string, "
    "at double, response string"
)


class WebhookSink:
    """foreachBatch sink for a capture_pipeline stream.

    Usage:
        sink = WebhookSink(cfg, url, headers, attempts_path=...)
        stream.writeStream.foreachBatch(sink).start()

    Attempt history is written executor-side to an append-only parquet
    log under `attempts_path` (one row per delivery attempt) — the
    driver keeps only aggregate counters plus the bounded failed-event
    subset needed for the failure policy (`self.dead_letters`). Round 1
    collected every attempt row into an unbounded driver list; at one
    status row per event per batch that is a driver OOM at scale.
    `self.attempts` re-reads the parquet log (tests/observability
    accessor — NOT part of the data path).
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
        import glob as _glob
        import os as _os

        import pyarrow.parquet as _pq

        files = sorted(
            _glob.glob(_os.path.join(_glob.escape(self.attempts_path), "*.parquet"))
            + _glob.glob(
                _os.path.join(
                    _glob.escape(self.attempts_path), "batch=*", "*.parquet"
                )
            )
        )
        rows: list[Attempt] = []
        for f in files:
            t = _pq.read_table(f)
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

        # EXACTLY ONE Spark action runs over the delivery RDD: the
        # parquet write of this batch's attempt log, executor-side,
        # into the batch's OWN subdirectory (mode-overwrite, so a
        # foreachBatch replay rewrites instead of duplicating). The
        # counters and the failure subset then come from ONE aggregate
        # over the written FILES — a persist + second action would
        # re-execute _deliver_partition (re-POSTing webhooks) whenever
        # a cached partition is lost on a real cluster.
        import os as _os

        spark = batch.sparkSession
        adf = spark.createDataFrame(
            ordered.mapPartitions(_deliver_partition), _ATTEMPT_LOG_SCHEMA
        )
        batch_dir = _os.path.join(self.attempts_path, f"batch={batch_id}")
        adf.write.mode("overwrite").parquet(batch_dir)
        failed_last = (F.col("attempt") == cfg.attempt_budget - 1) & ~F.col("ok")
        agg = (
            spark.read.schema(_ATTEMPT_LOG_SCHEMA)
            .parquet(batch_dir)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count_if(F.col("ok")).alias("n_ok"),
                # bounded by the number of FAILED events, not batch size:
                # collect_list skips the NULL every other row yields
                F.collect_list(
                    F.when(failed_last, F.struct("event_id", "status", "error"))
                ).alias("failed"),
            )
            .collect()[0]
        )
        self.n_attempts += agg.n
        self.n_delivered += agg.n_ok

        if agg.failed:
            if cfg.cancel_on_failure:
                # ST3 strict: fail the micro-batch -> stream halts,
                # checkpoint replays (transaction-abort analog)
                failed_ids = sorted(r.event_id for r in agg.failed)
                raise RuntimeError(
                    f"webhook delivery failed for {len(failed_ids)} event(s) "
                    f"after {cfg.attempt_budget} attempts: {failed_ids[:3]}..."
                )
            self.dead_letters.extend(
                (r.event_id, f"status={r.status} err={r.error}")
                for r in agg.failed
            )
