"""End-to-end streaming CDC tests, mirroring the reference's integration
suite (SURVEY.md §5): change chunks land in a feed directory, the engine
runs a real Structured Streaming query per subscription, and an
in-process HTTP server captures the delivered envelopes."""

from __future__ import annotations

import datetime
import json

import pytest

from postgres_cdc_plugin_spark.config import SubscriptionConfig
from postgres_cdc_plugin_spark.engine import CdcEngine
from postgres_cdc_plugin_spark.sources import changefeed

from .webhook_server import CaptureServer

ROW_SCHEMA = "struct<id: bigint, name: string, salary: int>"


def _row(id, name, salary):
    return json.dumps({"id": id, "name": name, "salary": salary})


def _change(seq, op, old=None, new=None, schema="public", table="employees"):
    return {
        "seq": seq,
        "op": op,
        "table_schema": schema,
        "table_name": table,
        "old": old,
        "new": new,
        "ts": "2024-01-01T00:00:00.000000",
    }


def _feed(spark, feed_dir, rows):
    changefeed.write_chunk(str(feed_dir), rows)
    return changefeed.parse_images(
        changefeed.read_stream(spark, str(feed_dir)), ROW_SCHEMA
    )


def _run(engine, cfg, changes, tmp, name):
    q = engine.start(
        cfg, changes, checkpoint=str(tmp / f"ckpt-{name}"), available_now=True
    )
    q.awaitTermination(60)


def test_basic_insert_envelope(spark, tmp_path):
    """INSERT envelope: op, new image values, old NULL
    (tests/test_basic_insert.py:11-43)."""
    with CaptureServer() as srv:
        engine = CdcEngine(spark, str(tmp_path / "wd"))
        cfg = engine.register(
            SubscriptionConfig(
                name="emp_trigger",
                table_name="employees",
                webhook_url=srv.url,
                headers={"X-API-Key": "secret-key"},
            )
        )
        changes = _feed(
            spark,
            tmp_path / "feed",
            [_change(1, "INSERT", new=_row(1, "Alice", 75000))],
        )
        _run(engine, cfg, changes, tmp_path, "t1")
        (payload,) = srv.wait_for(1)

    assert payload["event"]["op"] == "INSERT"
    assert payload["event"]["data"]["old"] is None
    new = json.loads(payload["event"]["data"]["new"])
    assert new == {"id": 1, "name": "Alice", "salary": 75000}
    assert payload["table"] == {"schema": "public", "name": "employees"}
    assert payload["trigger"] == {"name": "emp_trigger", "timing": "AFTER"}
    assert srv.headers_seen[0].get("X-API-Key") == "secret-key"


def test_update_column_tracking(spark, tmp_path):
    """Tracked-column UPDATE fires with old+new images; untracked-column
    change is suppressed (tests/test_basic_update.py:11-55)."""
    with CaptureServer() as srv:
        engine = CdcEngine(spark, str(tmp_path / "wd"))
        cfg = engine.register(
            SubscriptionConfig(
                name="salary_trigger",
                table_name="employees",
                webhook_url=srv.url,
                operations=("UPDATE",),
                update_columns=("salary",),
            )
        )
        changes = _feed(
            spark,
            tmp_path / "feed",
            [
                _change(
                    1, "UPDATE",
                    old=_row(1, "John", 60000), new=_row(1, "John", 65000),
                ),
                # name-only change: salary untracked-change suppressed
                _change(
                    2, "UPDATE",
                    old=_row(2, "Jane", 50000), new=_row(2, "Janet", 50000),
                ),
                # no-op update: suppressed
                _change(
                    3, "UPDATE",
                    old=_row(3, "Bob", 40000), new=_row(3, "Bob", 40000),
                ),
            ],
        )
        _run(engine, cfg, changes, tmp_path, "t2")
        (payload,) = srv.wait_for(1)
        assert len(srv.received) == 1

    assert json.loads(payload["event"]["data"]["old"])["salary"] == 60000
    assert json.loads(payload["event"]["data"]["new"])["salary"] == 65000


def test_empty_update_columns_suppresses_all_updates(spark, tmp_path):
    """Empty tracked set => no UPDATE events at all (README.md:119-122)."""
    with CaptureServer() as srv:
        engine = CdcEngine(spark, str(tmp_path / "wd"))
        cfg = engine.register(
            SubscriptionConfig(
                name="ins_del", table_name="employees", webhook_url=srv.url
            )
        )
        changes = _feed(
            spark,
            tmp_path / "feed",
            [
                _change(1, "INSERT", new=_row(1, "A", 1)),
                _change(2, "UPDATE", old=_row(1, "A", 1), new=_row(1, "A", 2)),
                _change(3, "DELETE", old=_row(1, "A", 2)),
            ],
        )
        _run(engine, cfg, changes, tmp_path, "t3")
        got = srv.wait_for(2)
        assert len(got) == 2

    assert sorted(p["event"]["op"] for p in got) == ["DELETE", "INSERT"]


def test_multiple_triggers_fanout(spark, tmp_path):
    """Two subscriptions on one feed, each op routed to the right trigger
    by name (tests/test_multiple_triggers.py:9-61)."""
    with CaptureServer() as ins_srv, CaptureServer() as del_srv:
        engine = CdcEngine(spark, str(tmp_path / "wd"))
        ins_cfg = engine.register(
            SubscriptionConfig(
                name="ins_only", table_name="employees",
                webhook_url=ins_srv.url, operations=("INSERT",),
            )
        )
        del_cfg = engine.register(
            SubscriptionConfig(
                name="del_only", table_name="employees",
                webhook_url=del_srv.url, operations=("DELETE",),
            )
        )
        rows = [
            _change(1, "INSERT", new=_row(1, "A", 1)),
            _change(2, "DELETE", old=_row(1, "A", 1)),
        ]
        changes = _feed(spark, tmp_path / "feed", rows)
        _run(engine, ins_cfg, changes, tmp_path, "ins")
        _run(engine, del_cfg, changes, tmp_path, "del")
        (ins_payload,) = ins_srv.wait_for(1)
        (del_payload,) = del_srv.wait_for(1)
        assert len(ins_srv.received) == 1
        assert len(del_srv.received) == 1

    assert ins_payload["event"]["op"] == "INSERT"
    assert ins_payload["trigger"]["name"] == "ins_only"
    assert del_payload["event"]["op"] == "DELETE"
    assert del_payload["trigger"]["name"] == "del_only"


def test_retry_budget_lenient(spark, tmp_path):
    """Failing webhook without cancel: attempts == retry_number + 1, row
    'commits' (stream continues), failure dead-lettered
    (tests/test_retries.py:54-62,
    tests/test_unreachable_webhook_without_cancellation.py:30-36)."""
    with CaptureServer(fail_status=500) as srv:
        engine = CdcEngine(spark, str(tmp_path / "wd"))
        cfg = engine.register(
            SubscriptionConfig(
                name="retrying", table_name="employees", webhook_url=srv.url,
                retry_number=2, cancel_on_failure=False,
            )
        )
        changes = _feed(
            spark, tmp_path / "feed", [_change(1, "INSERT", new=_row(1, "A", 1))]
        )
        _run(engine, cfg, changes, tmp_path, "t5")
        srv.wait_for(3)  # exactly budget = 2 + 1 attempts arrive
        sink = engine.sink_of(cfg)
        assert len(sink.attempts) == 3
        assert [a.attempt for a in sink.attempts] == [0, 1, 2]
        assert all(a.status == 500 for a in sink.attempts)
        assert len(sink.dead_letters) == 1


def test_cancel_on_failure_fails_stream(spark, tmp_path):
    """Failing webhook with cancel: the micro-batch (transaction analog)
    fails after the attempt budget — yet >=1 delivery attempt was made
    (tests/test_cancel_on_failure.py:40-61's phantom-event semantics)."""
    with CaptureServer(fail_status=503) as srv:
        engine = CdcEngine(spark, str(tmp_path / "wd"))
        cfg = engine.register(
            SubscriptionConfig(
                name="strict", table_name="employees", webhook_url=srv.url,
                retry_number=1, cancel_on_failure=True,
            )
        )
        changes = _feed(
            spark, tmp_path / "feed", [_change(1, "INSERT", new=_row(1, "A", 1))]
        )
        q = engine.start(
            cfg, changes, checkpoint=str(tmp_path / "ckpt-strict"),
            available_now=True,
        )
        with pytest.raises(Exception, match="webhook delivery failed"):
            q.awaitTermination(60)
            raise RuntimeError("stream should have failed")
        assert len(srv.received) >= 1


def test_private_security_credential_store(spark, tmp_path):
    """PRIVATE mode: secrets live in the credential store, delivery
    resolves through it, and the masked view hides values
    (tests/test_security_private.py:9-102)."""
    with CaptureServer() as srv:
        engine = CdcEngine(spark, str(tmp_path / "wd"))
        cfg = engine.register(
            SubscriptionConfig(
                name="private_t", table_name="employees",
                webhook_url=srv.url, headers={"X-API-Key": "super-secret"},
                security="PRIVATE",
            )
        )
        url, headers = engine.creds.resolve(cfg)
        assert url == srv.url
        assert headers == {"X-API-Key": "super-secret"}

        masked = engine.creds.masked().collect()[0]
        assert masked.headers_masked == {"X-API-Key": "***"}

        changes = _feed(
            spark, tmp_path / "feed", [_change(1, "INSERT", new=_row(1, "A", 1))]
        )
        _run(engine, cfg, changes, tmp_path, "t7")
        srv.wait_for(1)
        assert srv.headers_seen[0].get("X-API-Key") == "super-secret"


def test_last_wins_credential_update(spark, tmp_path):
    """Re-registering overwrites credentials (ON CONFLICT DO UPDATE,
    cdc_webhook--1.0.sql:188-197)."""
    engine = CdcEngine(spark, str(tmp_path / "wd"))
    base = dict(
        name="t", table_name="employees", security="PRIVATE",
    )
    engine.register(SubscriptionConfig(webhook_url="http://old/", **base))
    engine.register(SubscriptionConfig(webhook_url="http://new/", **base))
    url, _ = engine.creds.resolve(SubscriptionConfig(webhook_url="x://ignored", **base))
    assert url == "http://new/"
    assert engine.creds.current().count() == 1


def test_async_queue_and_poller(spark, tmp_path):
    """ASYNC mode: events enqueue as PENDING; each poll cycle makes one
    attempt per ready event; backoff pushes next_attempt into the future
    (no sleeping); once the server recovers the event is DELIVERED; the
    state machine and attempt history match the event_log schema intent
    (cdc_webhook--1.0.sql:25-47; worker src/cdc_webhook_worker.c:55-61)."""
    engine = CdcEngine(spark, str(tmp_path / "wd"))
    with CaptureServer(fail_status=500) as srv:
        cfg = engine.register(
            SubscriptionConfig(
                name="async_t", table_name="employees", webhook_url=srv.url,
                mode="ASYNC", retry_number=3, retry_interval=60,
                retry_backoff="EXPONENTIAL",
            )
        )
        changes = _feed(
            spark, tmp_path / "feed", [_change(1, "INSERT", new=_row(1, "A", 1))]
        )
        _run(engine, cfg, changes, tmp_path, "t8")
        # enqueued PENDING, ready immediately
        st = engine.queue.state().collect()
        assert len(st) == 1 and st[0].status == "PENDING"
        assert st[0].attempt_count == 0

        # poll #1: attempt fails -> still PENDING, next_attempt pushed out
        assert engine.queue.poll_once(cfg) == 1
        st = engine.queue.state().collect()[0]
        assert st.status == "PENDING" and st.attempt_count == 1
        gap = (st.next_attempt - datetime.datetime.now()).total_seconds()
        assert 30 < gap <= 61  # ~interval * 2^0 = 60s in the future

        # not ready yet -> a poll now tries nothing
        assert engine.queue.poll_once(cfg) == 0

    with CaptureServer() as ok_srv:
        # pretend the backoff window elapsed: poll as-of the future
        future = datetime.datetime.now() + datetime.timedelta(seconds=120)
        assert engine.queue.poll_once(cfg, url=ok_srv.url, now=future) == 1
        st = engine.queue.state().collect()[0]
        assert st.status == "DELIVERED"
        assert st.attempt_count == 2
        assert [a.attempt for a in st.attempts] == [0, 1]
        (payload,) = ok_srv.received
        assert payload["event"]["op"] == "INSERT"


def test_async_failed_after_budget(spark, tmp_path):
    """Queue state machine reaches FAILED after retry budget exhausts
    (status CHECK cdc_webhook--1.0.sql:35; budget src/cdc_webhook.c:178)."""
    engine = CdcEngine(spark, str(tmp_path / "wd"))
    with CaptureServer(fail_status=500) as srv:
        cfg = engine.register(
            SubscriptionConfig(
                name="async_fail", table_name="employees", webhook_url=srv.url,
                mode="ASYNC", retry_number=1, retry_interval=1,
            )
        )
        changes = _feed(
            spark, tmp_path / "feed", [_change(1, "INSERT", new=_row(1, "A", 1))]
        )
        _run(engine, cfg, changes, tmp_path, "t9")
        now = datetime.datetime.now()
        for i in range(3):  # budget is 2; third poll is a no-op
            engine.queue.poll_once(
                cfg, now=now + datetime.timedelta(seconds=10 * (i + 1))
            )
        st = engine.queue.state().collect()[0]
        assert st.status == "FAILED"
        assert st.attempt_count == 2  # retry_number 1 + 1, then stop


def test_per_key_delivery_order(spark, tmp_path):
    """Changes to the same row arrive in capture (seq) order even when
    the feed is shuffled across partitions — Postgres fires triggers in
    statement order; the sink restores it per key (SURVEY.md §7). The
    receiver holds each POST for 50 ms, so the delivery lanes really
    overlap (in-flight peak above 1) while the order is checked."""
    with CaptureServer(response_delay=0.05) as srv:
        engine = CdcEngine(spark, str(tmp_path / "wd"))
        cfg = engine.register(
            SubscriptionConfig(
                name="ordered", table_name="employees", webhook_url=srv.url,
                operations=("UPDATE",), update_columns=("salary",),
            )
        )
        rows = []
        seq = 0
        for step in range(5):
            for k in ("1", "2", "3"):
                seq += 1
                rows.append(
                    {
                        **_change(
                            seq, "UPDATE",
                            old=_row(int(k), "E", 100 * step),
                            new=_row(int(k), "E", 100 * (step + 1)),
                        ),
                        "key": k,
                    }
                )
        # shuffle the feed file order to prove the sink restores it
        import random

        random.Random(7).shuffle(rows)
        changes = _feed(spark, tmp_path / "feed", rows)
        _run(engine, cfg, changes, tmp_path, "ord")
        got = srv.wait_for(15)

    assert srv.max_inflight > 1, "keys were not delivered concurrently"
    by_key: dict[str, list[int]] = {}
    for p in got:
        new = json.loads(p["event"]["data"]["new"])
        by_key.setdefault(str(new["id"]), []).append(new["salary"])
    assert set(by_key) == {"1", "2", "3"}
    for k, salaries in by_key.items():
        assert salaries == sorted(salaries), f"key {k} out of order: {salaries}"


def test_poll_once_delivers_keys_concurrently(spark, tmp_path):
    """One poll tick over several ready events delivers them on
    concurrent lanes (in-flight peak above 1 against a 50 ms receiver),
    one attempt each, all DELIVERED."""
    engine = CdcEngine(spark, str(tmp_path / "wd"))
    with CaptureServer(response_delay=0.05) as srv:
        cfg = engine.register(
            SubscriptionConfig(
                name="lanes_q", table_name="employees", webhook_url=srv.url,
                mode="ASYNC",
            )
        )
        changes = _feed(
            spark, tmp_path / "feed",
            [_change(i, "INSERT", new=_row(i, "A", i)) for i in range(1, 9)],
        )
        _run(engine, cfg, changes, tmp_path, "lanes")
        assert engine.queue.poll_once(cfg) == 8
        srv.wait_for(8)
    assert srv.max_inflight > 1, "poll tick delivered serially"
    st = engine.queue.state().collect()
    assert [r.status for r in st] == ["DELIVERED"] * 8
    assert {r.attempt_count for r in st} == {1}


def test_poller_logs_failed_tick_and_retries(spark, tmp_path, caplog):
    """A tick that raises is logged with its traceback (not printed) and
    the worker survives: the next heartbeat delivers the event."""
    import logging

    engine = CdcEngine(spark, str(tmp_path / "wd"))
    with CaptureServer() as srv:
        cfg = engine.register(
            SubscriptionConfig(
                name="flaky_t", table_name="employees", webhook_url=srv.url,
                mode="ASYNC", retry_number=0,
            )
        )
        changes = _feed(
            spark, tmp_path / "feed", [_change(1, "INSERT", new=_row(1, "A", 1))]
        )
        _run(engine, cfg, changes, tmp_path, "flaky")
        calls = []

        def resolver():
            calls.append(1)
            if len(calls) == 1:
                raise RuntimeError("credential store unavailable")
            return srv.url, {}

        caplog.set_level(logging.ERROR, logger="postgres_cdc_plugin_spark")
        worker = engine.queue.start_poller(cfg, resolver=resolver)
        try:
            srv.wait_for(1, timeout=30)
        finally:
            worker.stop()
    failed = [
        r for r in caplog.records
        if r.name == "postgres_cdc_plugin_spark.streaming.queue"
    ]
    assert failed and "flaky_t" in failed[0].getMessage()
    assert "credential store unavailable" in (failed[0].exc_text or "")
    assert len(calls) >= 2


def test_continuous_poller_cadence(spark, tmp_path):
    """The 1 s-cadence worker (rate-source heartbeat) drains the queue
    without manual polling (src/cdc_webhook_worker.c:36-79)."""
    engine = CdcEngine(spark, str(tmp_path / "wd"))
    with CaptureServer() as srv:
        cfg = engine.register(
            SubscriptionConfig(
                name="worker_t", table_name="employees", webhook_url=srv.url,
                mode="ASYNC", retry_number=0,
            )
        )
        changes = _feed(
            spark, tmp_path / "feed", [_change(1, "INSERT", new=_row(1, "A", 1))]
        )
        _run(engine, cfg, changes, tmp_path, "w1")
        worker = engine.start_worker(cfg)
        try:
            srv.wait_for(1, timeout=30)
            # wait for the attempt bookkeeping too — stopping the worker
            # interrupts an in-flight tick, which may abort the attempt-
            # log write after the HTTP call already went out
            import time as _time

            deadline = _time.time() + 30
            status = "PENDING"
            while _time.time() < deadline:
                rows = engine.queue.state().collect()
                if rows and rows[0].status == "DELIVERED":
                    status = "DELIVERED"
                    break
                _time.sleep(0.5)
        finally:
            worker.stop()
        assert status == "DELIVERED"


def test_webhook_timeout_lenient(spark, tmp_path):
    """ST7: a webhook slower than the configured timeout fails the
    attempt with a read timeout (reference asserts ~timeout blocking,
    tests/test_webhook_timeout.py:40-43); lenient mode dead-letters the
    event and the stream completes."""
    with CaptureServer(response_delay=3.0) as srv:
        engine = CdcEngine(spark, str(tmp_path / "wd"))
        cfg = engine.register(
            SubscriptionConfig(
                name="slow_t",
                table_name="employees",
                webhook_url=srv.url,
                timeout=1,
                retry_number=0,
                cancel_on_failure=False,
            )
        )
        changes = _feed(
            spark, tmp_path / "feed", [_change(1, "INSERT", new=_row(1, "A", 1))]
        )
        _run(engine, cfg, changes, tmp_path, "to1")
        sink = engine.sink_of(cfg)
        # the server DID receive the payload before stalling (it records
        # after its delay) — the at-least-once phantom-ish receipt the
        # reference also exhibits
        srv.wait_for(1, timeout=10)

    # attempt budget = retry_number + 1 = 1; the attempt timed out
    assert len(sink.attempts) == 1
    assert sink.attempts[0].ok is False
    assert sink.attempts[0].status == -1
    assert "timed out" in (sink.attempts[0].error or "")
    assert len(sink.dead_letters) == 1


def test_custom_schema_envelope(spark, tmp_path):
    """Same flows for a non-public schema (hr.employees,
    tests/test_different_schema.py:9-70): the schema name threads through
    config -> envelope.table.schema."""
    with CaptureServer() as srv:
        engine = CdcEngine(spark, str(tmp_path / "wd"))
        cfg = engine.register(
            SubscriptionConfig(
                name="hr_trigger",
                table_name="employees",
                schema_name="hr",
                webhook_url=srv.url,
            )
        )
        changes = _feed(
            spark,
            tmp_path / "feed",
            [_change(1, "INSERT", new=_row(7, "Eve", 90000), schema="hr")],
        )
        _run(engine, cfg, changes, tmp_path, "hr1")
        (payload,) = srv.wait_for(1)

    assert payload["table"] == {"schema": "hr", "name": "employees"}
    assert json.loads(payload["event"]["data"]["new"])["id"] == 7


def test_streaming_tumbling_watermark_drops_late_data(spark, tmp_path):
    """ST9: event-time tumbling window with watermark over the change
    stream. A row arriving behind the watermark is dropped; the closed
    window emits exactly once (append mode). Absent in the reference
    (SURVEY.md §2.9 ST9) — native Structured Streaming semantics."""
    from pyspark.sql import functions as F

    feed = tmp_path / "wm_feed"
    out: list = []

    def at(hhmm: str) -> dict:
        c = _change(1, "INSERT", new=_row(1, "A", 1))
        c["ts"] = f"2024-01-01T{hhmm}:00.000000"
        return c

    # three chunks, one micro-batch each (each is written only after the
    # previous batch completed, so the watermark advances between them).
    # Spark drops a late row only when its WINDOW is already closed
    # (window.end <= watermark), so the watermark must pass 11:00 before
    # the late 10:10 row arrives:
    #   batch 1: 10:05, 11:20 -> watermark after: 11:10 (> 11:00)
    #   batch 2: 10:10 (window [10:00,11:00) closed -> dropped), 12:30;
    #            evaluates with watermark 11:10 -> emits [10:00,11:00)
    #            with count 1
    #   batch 3: 13:30 keeps the stream moving for the emission poll
    import os as _os
    import time as _time

    _os.makedirs(str(feed), exist_ok=True)
    src = changefeed.read_stream(spark, str(feed), maxFilesPerTrigger="1")
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .count()
    )
    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(lambda b, _i: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )

    def wait_data_batches(n: int, timeout: float = 120.0) -> None:
        deadline = _time.time() + timeout
        while _time.time() < deadline:
            done = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
            if done >= n:
                return
            _time.sleep(0.2)
        raise TimeoutError(f"never saw {n} data batches")

    try:
        changefeed.write_chunk(str(feed), [at("10:05"), at("11:20")])
        wait_data_batches(1)
        changefeed.write_chunk(str(feed), [at("10:10"), at("12:30")])
        wait_data_batches(2)
        changefeed.write_chunk(str(feed), [at("13:30")])
        wait_data_batches(3)
        # the closed-window emission rides the batch evaluated with the
        # advanced watermark; poll for it (generous: this timed out
        # once under heavy machine load in an otherwise-green run)
        deadline = _time.time() + 60
        while _time.time() < deadline and not any(r.w.start.hour == 10 for r in out):
            _time.sleep(0.2)
    finally:
        q.stop()

    emitted = {(r.w.start.hour, r["count"]) for r in out}
    assert (10, 1) in emitted, f"window [10:00,11:00) missing or late row counted: {out}"
    # the late 10:10 row must NOT have been counted
    assert (10, 2) not in emitted


def test_checkpoint_recovery_no_redelivery(spark, tmp_path):
    """Restarting a subscription from its checkpoint continues where the
    feed left off: chunk 1's events are NOT redelivered, chunk 2's are
    (the file source's processed-file log lives in the checkpoint, the
    reference analog being bgworker restart, src/cdc_webhook_worker.c:91)."""
    with CaptureServer() as srv:
        engine = CdcEngine(spark, str(tmp_path / "wd"))
        cfg = engine.register(
            SubscriptionConfig(
                name="ckpt_t", table_name="employees", webhook_url=srv.url
            )
        )
        feed = tmp_path / "feed"
        changes = _feed(
            spark, feed, [_change(1, "INSERT", new=_row(1, "A", 1))]
        )
        _run(engine, cfg, changes, tmp_path, "ck")  # run 1: delivers id 1
        srv.wait_for(1)

        changefeed.write_chunk(str(feed), [_change(2, "INSERT", new=_row(2, "B", 2))])
        changes2 = changefeed.parse_images(
            changefeed.read_stream(spark, str(feed)), ROW_SCHEMA
        )
        _run(engine, cfg, changes2, tmp_path, "ck")  # run 2: same checkpoint
        payloads = srv.wait_for(2)

    ids = [json.loads(p["event"]["data"]["new"])["id"] for p in payloads]
    assert ids == [1, 2], ids  # id 1 exactly once, id 2 delivered on restart


def test_streaming_replay_dedup(spark, tmp_path):
    """SURVEY §7 #5, streaming half: a redelivered change (same
    deterministic id, here `seq`) arriving in a LATER micro-batch is
    collapsed by dropDuplicatesWithinWatermark — exactly-once effect at
    the receiver with state bounded by the replay horizon."""
    from postgres_cdc_plugin_spark.streaming import receiver

    feed = tmp_path / "replay_feed"
    out: list = []

    def ch(seq, key, hhmm):
        c = _change(seq, "INSERT", new=_row(key, "A", 1))
        c["key"] = str(key)
        c["ts"] = f"2024-01-01T{hhmm}:00.000000"
        return c

    changefeed.write_chunk(str(feed), [ch(1, 1, "10:00"), ch(2, 2, "10:01")])
    changefeed.write_chunk(str(feed), [ch(1, 1, "10:00"), ch(3, 3, "10:02")])

    src = changefeed.read_stream(spark, str(feed), maxFilesPerTrigger="1")
    deduped = receiver.dedup_replays(src, id_col="seq", ts_col="ts")
    q = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(lambda b, _i: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "replay_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)

    seqs = sorted(r.seq for r in out)
    assert seqs == [1, 2, 3], f"replay not collapsed exactly-once: {seqs}"


def test_stream_stream_ack_join(spark, tmp_path):
    """Watermarked stream-stream join: change events correlate with
    receiver acks inside the delay horizon; an ack beyond max_delay
    never matches. The time-range condition is what bounds join state."""
    from pyspark.sql import functions as F

    from postgres_cdc_plugin_spark.streaming import receiver

    ev_feed = tmp_path / "ev_feed"
    ack_feed = tmp_path / "ack_feed"
    out: list = []

    def ch(seq, hhmmss):
        c = _change(seq, "INSERT", new=_row(seq, "A", 1))
        c["ts"] = f"2024-01-01T{hhmmss}.000000"
        return c

    changefeed.write_chunk(str(ev_feed), [ch(1, "10:00:00"), ch(2, "10:01:00")])
    import json as _json
    import os as _os

    _os.makedirs(str(ack_feed), exist_ok=True)
    acks = [
        {"ack_event_id": "1", "ack_ts": "2024-01-01T10:00:30.000000", "ack_status": "OK"},
        # 25 min after event 2 — outside the 10 min horizon, must not join
        {"ack_event_id": "2", "ack_ts": "2024-01-01T10:26:00.000000", "ack_status": "OK"},
    ]
    with open(ack_feed / "acks.json", "w") as f:
        for a in acks:
            f.write(_json.dumps(a) + "\n")

    ev = changefeed.read_stream(spark, str(ev_feed)).select(
        F.col("seq").cast("string").alias("event_id"), "ts"
    )
    ak = spark.readStream.schema(receiver.ACK_SCHEMA).json(str(ack_feed))
    joined = receiver.ack_latency_join(ev, ak)
    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(lambda b, _i: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ack_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)

    assert [(r.event_id, r.latency_seconds, r.ack_status) for r in out] == [
        ("1", 30.0, "OK")
    ], out


def test_event_id_includes_row_key(spark):
    """Distinct rows sharing a seq must get DISTINCT envelope ids —
    seq is per-key capture order (envelope.py module header), so the
    id hashes schema:table:trigger:KEY:seq. Without the key, replay
    dedup (keyed on id) silently drops one of the two changes."""
    from postgres_cdc_plugin_spark.envelope import project_envelope

    cfg = SubscriptionConfig(
        name="idkey", table_name="employees", webhook_url="http://x/"
    )
    df = spark.createDataFrame(
        [(1, "A", "INSERT"), (1, "B", "INSERT")],
        "seq bigint, key string, op string",
    ).selectExpr(
        "seq", "key", "op",
        "'public' AS table_schema", "'employees' AS table_name",
        "CAST(null AS struct<id:bigint>) AS old",
        "named_struct('id', CAST(seq AS bigint)) AS new",
        "CAST('2024-01-01' AS timestamp) AS ts",
    )
    env = project_envelope(df, cfg).select("envelope.id").collect()
    assert len({r.id for r in env}) == 2, "same-seq different-key ids collided"

    # NULL key must not collide with any string key — including the
    # literal "n" (the NULL sentinel is prefix-disambiguated)
    df2 = spark.createDataFrame(
        [(1, None, "INSERT"), (1, "n", "INSERT"), (1, "", "INSERT")],
        "seq bigint, key string, op string",
    ).selectExpr(
        "seq", "key", "op",
        "'public' AS table_schema", "'employees' AS table_name",
        "CAST(null AS struct<id:bigint>) AS old",
        "named_struct('id', CAST(seq AS bigint)) AS new",
        "CAST('2024-01-01' AS timestamp) AS ts",
    )
    ids = [r.id for r in project_envelope(df2, cfg).select("envelope.id").collect()]
    assert len(set(ids)) == 3, "NULL/'n'/'' keys collided"


def test_https_scheme_selection_and_rejection():
    """https URLs must negotiate TLS (HTTPSConnection, default port
    443) — never silently posted in cleartext to port 80 — and unknown
    schemes are rejected, matching libcurl handling the full URL in the
    reference (src/cdc_webhook.c:129)."""
    import http.client

    from postgres_cdc_plugin_spark.streaming.deliver import post_once

    # unknown scheme: rejected outright
    status, err, body, conn = post_once("ftp://h/p", "{}", {}, 1)
    assert status == -1 and "unsupported url scheme" in err and conn is None
    assert body is None

    made = {}

    class FakeHTTPS:
        def __init__(self, host, port, timeout):
            made.update(host=host, port=port, timeout=timeout)
            raise OSError("marker: https path taken")

    orig = http.client.HTTPSConnection
    http.client.HTTPSConnection = FakeHTTPS
    try:
        status, err, _body, _ = post_once("https://secure.example/hook", "{}", {}, 7)
    finally:
        http.client.HTTPSConnection = orig
    assert status == -1 and "marker: https path taken" in err
    assert made == {"host": "secure.example", "port": 443, "timeout": 7}


def test_post_preserves_query_string():
    """URL query strings (?token=...) ride along in the request target
    instead of being dropped."""
    from postgres_cdc_plugin_spark.streaming.deliver import post_once

    with CaptureServer() as srv:
        status, err, _body, _ = post_once(srv.url + "?token=abc", "{}", {}, 5)
        assert status == 200, err
        assert srv.paths_seen == ["/webhook/?token=abc"]


def _blackhole():
    """A listening socket that never accepts: connects succeed (kernel
    backlog) and every request then waits out its timeout."""
    import socket

    sock = socket.socket()
    sock.bind(("127.0.0.1", 0))
    sock.listen(8)
    return sock, f"http://127.0.0.1:{sock.getsockname()[1]}/hook"


def test_deliver_rows_per_event_keeps_key_order_on_lanes():
    """Keys interleaved in the input: rows of one key arrive in input
    order while the lanes overlap (in-flight peak above 1); attempts come
    back grouped by key in first-appearance order."""
    from postgres_cdc_plugin_spark.streaming.deliver import deliver_rows_per_event

    keys = ["a", "b", "c", "d"]
    with CaptureServer(response_delay=0.02) as srv:
        rows = [
            (k, f"{k}{i}", json.dumps({"key": k, "i": i}), srv.url, 5)
            for i in range(5)
            for k in keys
        ]
        attempts = deliver_rows_per_event(rows, {}, attempt_budget=2, lanes=3)
        got = srv.wait_for(20)
    assert srv.max_inflight > 1
    for k in keys:
        assert [p["i"] for p in got if p["key"] == k] == list(range(5))
    assert [a.event_id for a in attempts] == [f"{k}{i}" for k in keys for i in range(5)]
    assert all(a.ok and a.attempt == 0 for a in attempts)


def test_deliver_rows_per_event_spends_attempt_budget():
    """Every row still gets attempt_budget immediate tries when each
    lane's endpoint keeps failing."""
    from postgres_cdc_plugin_spark.streaming.deliver import deliver_rows_per_event

    with CaptureServer(fail_status=500) as srv:
        rows = [(k, f"e{k}", "{}", srv.url, 5) for k in range(4)]
        attempts = deliver_rows_per_event(rows, {}, attempt_budget=3, lanes=4)
        srv.wait_for(12)
    by_event: dict[str, list[int]] = {}
    for a in attempts:
        assert a.status == 500 and not a.ok
        by_event.setdefault(a.event_id, []).append(a.attempt)
    assert by_event == {f"e{k}": [0, 1, 2] for k in range(4)}


def test_deliver_rows_per_event_closes_lane_connections(monkeypatch):
    """Each lane pools one connection per destination and closes it when
    the call returns, so no keep-alive socket outlives the batch and
    holds one of a capped receiver's connection slots."""
    from postgres_cdc_plugin_spark.streaming import deliver

    made = []

    class FakeConn:
        closed = False

        def close(self):
            self.closed = True

    def fake_post(url, payload, headers, timeout, conn=None):
        if conn is None:
            conn = FakeConn()
            made.append(conn)
        return 200, None, "{}", conn

    monkeypatch.setattr(deliver, "post_once", fake_post)
    rows = [(k, f"e{k}-{i}", "{}", "http://h/", 5) for k in range(6) for i in range(2)]
    attempts = deliver.deliver_rows_per_event(rows, {}, attempt_budget=1, lanes=3)
    assert len(attempts) == 12 and all(a.ok for a in attempts)
    assert 1 <= len(made) <= 3
    assert all(c.closed for c in made)


def test_deliver_rows_per_event_dead_lane_does_not_block_other_keys():
    """A lane stuck on an endpoint that never answers holds up only its
    own key: the other keys are all delivered, in order, while it waits
    out its timeouts, and the dead key still spends its full budget."""
    import threading

    from postgres_cdc_plugin_spark.streaming.deliver import deliver_rows_per_event

    dead, dead_url = _blackhole()
    try:
        with CaptureServer() as srv:
            rows = [("dead", "dead0", "{}", dead_url, 1)] + [
                (k, f"{k}{i}", json.dumps({"key": k, "i": i}), srv.url, 5)
                for i in range(3)
                for k in ("x", "y")
            ]
            out = []
            t = threading.Thread(
                target=lambda: out.extend(
                    deliver_rows_per_event(rows, {}, attempt_budget=2, lanes=2)
                )
            )
            t.start()
            got = srv.wait_for(6, timeout=10)
            assert t.is_alive(), "live keys waited for the dead lane"
            t.join(timeout=10)
            assert not t.is_alive()
    finally:
        dead.close()
    for k in ("x", "y"):
        assert [p["i"] for p in got if p["key"] == k] == [0, 1, 2]
    dead_attempts = [a for a in out if a.event_id == "dead0"]
    assert [a.attempt for a in dead_attempts] == [0, 1]
    assert all(a.status == -1 and "timed out" in a.error for a in dead_attempts)
    assert sum(a.ok for a in out) == 6


def test_async_queue_pollers_are_subscription_scoped(spark, tmp_path):
    """A queue holding events from two subscriptions: each poller is
    SCOPED to its own subscription (headers are per-subscription
    credential material, so an unscoped poller would post one
    subscription's auth to another's endpoint) and delivers to the
    event's stored webhook_url with its stored timeout (event_log
    columns, cdc_webhook--1.0.sql:30-34) — never the other config's
    snapshot."""
    engine = CdcEngine(spark, str(tmp_path / "wd"))
    with CaptureServer() as srv_a, CaptureServer() as srv_b:
        cfg_a = engine.register(
            SubscriptionConfig(
                name="qa", table_name="employees", webhook_url=srv_a.url,
                mode="ASYNC", timeout=11,
            )
        )
        cfg_b = engine.register(
            SubscriptionConfig(
                name="qb", table_name="employees", webhook_url=srv_b.url,
                mode="ASYNC", timeout=22,
            )
        )
        changes = _feed(
            spark, tmp_path / "feed", [_change(1, "INSERT", new=_row(1, "A", 1))]
        )
        _run(engine, cfg_a, changes, tmp_path, "qa")
        _run(engine, cfg_b, changes, tmp_path, "qb")
        # cfg_a's poll touches ONLY qa's event — qb's stays pending
        assert engine.queue.poll_once(cfg_a) == 1
        srv_a.wait_for(1)
        assert len(srv_a.received) == 1 and len(srv_b.received) == 0
        # even with a url override (credential rotation), cfg_a's poll
        # must not redirect qb's events anywhere
        assert engine.queue.poll_once(cfg_a, url=srv_a.url) == 0  # qa done
        assert engine.queue.poll_once(cfg_b) == 1
        srv_b.wait_for(1)
        assert len(srv_b.received) == 1
        st = {r.trigger_name: r for r in engine.queue.state().collect()}
        assert st["qa"].timeout == 11 and st["qb"].timeout == 22
        assert st["qa"].status == "DELIVERED" and st["qb"].status == "DELIVERED"


def test_sessionizer_watermark_flushes_quiescent_key(spark, tmp_path):
    """EventTimeTimeout flush: a key that goes quiet still emits its
    final session once the watermark passes last change + gap — round
    1's NoTimeout version held it open forever."""
    import os
    import time

    from postgres_cdc_plugin_spark.streaming.stateful import sessionize_changes

    feed = tmp_path / "wm_feed"
    os.makedirs(str(feed))
    out: list = []

    def chg(seq, key, hhmm):
        return {
            "seq": seq, "key": key, "op": "UPDATE",
            "table_schema": "public", "table_name": "t",
            "old": None, "new": None,
            "ts": f"2024-01-01T{hhmm}:00.000000",
        }

    src = changefeed.read_stream(spark, str(feed), maxFilesPerTrigger="1")
    q = (
        sessionize_changes(src, gap_seconds=1800.0, watermark_delay="0 seconds")
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, _i: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        # B's burst, then nothing ever again for B
        changefeed.write_chunk(str(feed), [chg(1, "B", "10:00"), chg(2, "B", "10:05")])
        # later chunks for A advance the watermark far past B.last + gap;
        # keep nudging it (one chunk per poll) so the timeout check never
        # depends on no-data micro-batch scheduling under suite load
        deadline = time.time() + 90
        minute = 0
        while time.time() < deadline and not out:
            changefeed.write_chunk(
                str(feed),
                [chg(3 + minute, "A", f"{13 + minute // 60}:{minute % 60:02d}")],
            )
            minute += 1
            time.sleep(1.0)
    finally:
        q.stop()

    flushed = [r for r in out if r.key == "B"]
    assert len(flushed) == 1, out
    assert flushed[0].n_changes == 2
    assert (flushed[0].session_end.hour, flushed[0].session_end.minute) == (10, 5)


def test_sessionizer_keeps_in_horizon_burst_open_for_late_merge(spark, tmp_path):
    """Watermark mode must NOT close an older burst just because a
    newer burst exists: a late-but-in-horizon event still merges into
    it. The pre-fix behavior emitted the older interval immediately,
    so the late event formed a second overlapping session row
    (round-3 advice fix)."""
    import os
    import time

    from postgres_cdc_plugin_spark.streaming.stateful import sessionize_changes

    feed = tmp_path / "lm_feed"
    os.makedirs(str(feed))
    out: list = []

    def chg(seq, key, hhmm):
        return {
            "seq": seq, "key": key, "op": "UPDATE",
            "table_schema": "public", "table_name": "t",
            "old": None, "new": None,
            "ts": f"2024-01-01T{hhmm}:00.000000",
        }

    src = changefeed.read_stream(spark, str(feed), maxFilesPerTrigger="1")
    q = (
        sessionize_changes(src, gap_seconds=1800.0, watermark_delay="4 hours")
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, _i: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "lm_ckpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        # burst one (10:00, 10:05) plus a far-later burst (13:00) in one
        # batch; watermark after this batch = 13:00 - 4h = 09:00, so the
        # first burst (sealed only at 10:35) must STAY OPEN
        changefeed.write_chunk(
            str(feed),
            [chg(1, "B", "10:00"), chg(2, "B", "10:05"), chg(3, "B", "13:00")],
        )
        time.sleep(2.0)
        # late event 10:20: within horizon, must merge into burst one
        changefeed.write_chunk(str(feed), [chg(4, "B", "10:20")])
        time.sleep(2.0)
        # advance the watermark far past 13:30 via another key
        deadline = time.time() + 90
        minute = 0
        while time.time() < deadline and len([r for r in out if r.key == "B"]) < 2:
            changefeed.write_chunk(
                str(feed),
                [chg(100 + minute, "A", f"{20 + minute // 60}:{minute % 60:02d}")],
            )
            minute += 1
            time.sleep(1.0)
    finally:
        q.stop()

    sessions = sorted(
        (r.session_start.hour, r.session_start.minute,
         r.session_end.hour, r.session_end.minute, r.n_changes)
        for r in out if r.key == "B"
    )
    # exactly two sessions: the merged early burst and the 13:00 one —
    # no overlapping duplicate from the late event
    assert sessions == [(10, 0, 10, 20, 3), (13, 0, 13, 0, 1)], sessions


def test_schema_on_read_envelope_survives_alter(spark, tmp_path):
    """Schema-on-read envelope (SURVEY §1.4): with raw JSON images (no
    typed parse), a column added to the monitored table MID-STREAM
    (ALTER TABLE analog) flows straight into delivered payloads and the
    column-diff gate sees it — no subscription restart, matching
    row_to_json surviving ALTER in the reference
    (cdc_webhook--1.0.sql:266-277)."""
    with CaptureServer() as srv:
        engine = CdcEngine(spark, str(tmp_path / "wd"))
        cfg = engine.register(
            SubscriptionConfig(
                name="drift", table_name="employees", webhook_url=srv.url,
                operations=("INSERT", "UPDATE"),
                update_columns=("badge",),  # tracked col that appears later
            )
        )
        feed = tmp_path / "feed"
        pre = dict(_change(1, "INSERT"), new=json.dumps({"id": 1, "name": "A"}), key="1")
        changefeed.write_chunk(str(feed), [pre])
        # ALTER TABLE ADD COLUMN badge: later rows carry the new field
        post_ins = dict(
            _change(2, "INSERT"),
            new=json.dumps({"id": 2, "name": "B", "badge": "blue"}), key="2",
        )
        # tracked-col change on the NEW column must pass the diff gate
        post_upd = dict(
            _change(3, "UPDATE"),
            old=json.dumps({"id": 1, "name": "A", "badge": None}),
            new=json.dumps({"id": 1, "name": "A", "badge": "red"}), key="1",
        )
        # non-change on tracked col must be suppressed
        post_noop = dict(
            _change(4, "UPDATE"),
            old=json.dumps({"id": 2, "name": "B2", "badge": "blue"}),
            new=json.dumps({"id": 2, "name": "B3", "badge": "blue"}), key="2",
        )
        changefeed.write_chunk(str(feed), [post_ins, post_upd, post_noop])

        changes = changefeed.read_stream(spark, str(feed))  # RAW images
        _run(engine, cfg, changes, tmp_path, "drift")
        payloads = srv.wait_for(3)

    by_op_key = {(p["event"]["op"], json.loads(p["event"]["data"]["new"])["id"]): p for p in payloads}
    assert len(payloads) == 3  # the badge-unchanged UPDATE was suppressed
    # ids come back as ints: the raw feed JSON passes through to the
    # envelope verbatim (round-2 fix — the old map re-serialization
    # retyped every number/bool to a string)
    drifted = by_op_key[("INSERT", 2)]
    assert json.loads(drifted["event"]["data"]["new"])["badge"] == "blue"
    upd = by_op_key[("UPDATE", 1)]
    assert json.loads(upd["event"]["data"]["new"])["badge"] == "red"


def test_worker_reloads_rotated_credentials(spark, tmp_path):
    """SIGHUP config-reload analog (src/cdc_webhook_worker.c:69-74): the
    ASYNC worker re-resolves PRIVATE credentials every tick, so rotating
    the subscription's URL in the credential store redirects delivery on
    the next cycle — no worker restart."""
    import time as _time

    engine = CdcEngine(spark, str(tmp_path / "wd"))
    with CaptureServer() as srv_old, CaptureServer() as srv_new:
        base = dict(
            name="rot", table_name="employees", mode="ASYNC",
            security="PRIVATE", retry_number=0,
        )
        cfg = engine.register(
            SubscriptionConfig(webhook_url=srv_old.url, **base)
        )
        changes = _feed(
            spark, tmp_path / "feed", [_change(1, "INSERT", new=_row(1, "A", 1))]
        )
        _run(engine, cfg, changes, tmp_path, "rot1")
        worker = engine.start_worker(cfg)
        try:
            srv_old.wait_for(1, timeout=30)
            # rotate: last-wins upsert points the subscription at srv_new
            engine.register(SubscriptionConfig(webhook_url=srv_new.url, **base))
            changefeed.write_chunk(
                str(tmp_path / "feed"), [_change(2, "INSERT", new=_row(2, "B", 2))]
            )
            changes2 = changefeed.parse_images(
                changefeed.read_stream(spark, str(tmp_path / "feed")), ROW_SCHEMA
            )
            _run(engine, cfg, changes2, tmp_path, "rot1")  # same checkpoint
            srv_new.wait_for(1, timeout=30)
        finally:
            worker.stop()
        assert len(srv_old.received) == 1  # event 1 went to the old URL
        assert len(srv_new.received) == 1  # event 2 followed the rotation


def test_streaming_corpus_ingest(spark, tmp_path):
    """Online corpus hygiene (streaming/corpus.py): exact dedup by
    normalized fingerprint across micro-batches + quality gating, with
    state bounded by the watermark horizon — the batch docs_exact_dedup /
    docs_quality_score semantics under readStream."""
    import json as _json
    import os as _os

    from postgres_cdc_plugin_spark.streaming import corpus

    feed = tmp_path / "corpus_feed"
    _os.makedirs(str(feed), exist_ok=True)
    out: list = []

    def doc(doc_id, text, mm):
        return {
            "doc_id": doc_id, "text": text, "lang": "en",
            "ts": f"2024-01-01T10:{mm}:00.000000",
        }

    def chunk(name, rows):
        with open(feed / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    good = "the quick brown fox jumps over the lazy dog near the river bank"
    # batch 1: a good doc + a junk doc (low diversity) + a short doc
    chunk("c1.json", [
        doc(1, good, "00"),
        doc(2, "spam spam spam spam spam spam spam spam spam spam", "01"),
        doc(3, "tiny", "02"),
    ])
    src = (
        spark.readStream.schema(corpus.DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(feed))
    )
    q = (
        corpus.ingest_stream(src, horizon="1 hour")
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, _i: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "corpus_ckpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        import time as _time

        deadline = _time.time() + 60
        while _time.time() < deadline and len(out) < 1:
            _time.sleep(0.2)
        # batch 2: re-crawl of doc 1 (different id, WHITESPACE-padded
        # text -> same normalized fingerprint) + a genuinely new doc
        chunk("c2.json", [
            doc(10, "  " + good + " ", "30"),
            doc(11, "training data pipelines need dedup quality and careful sharding", "31"),
        ])
        deadline = _time.time() + 60
        while _time.time() < deadline and len(out) < 2:
            _time.sleep(0.2)
    finally:
        q.stop()

    ids = sorted(r.doc_id for r in out)
    assert ids == [1, 11], out  # junk+short gated; re-crawl deduped
    assert all(len(r.fingerprint) == 32 for r in out)


def test_queue_compact_drops_delivered_keeps_pending(spark, tmp_path):
    """Offline log compaction: DELIVERED events (and their attempt rows)
    leave the live logs; pending events survive compaction intact and
    remain deliverable."""
    engine = CdcEngine(spark, str(tmp_path / "wd"))
    with CaptureServer() as srv_a, CaptureServer() as srv_b:
        cfg_a = engine.register(
            SubscriptionConfig(
                name="ca", table_name="employees", webhook_url=srv_a.url,
                mode="ASYNC",
            )
        )
        cfg_b = engine.register(
            SubscriptionConfig(
                name="cb", table_name="employees", webhook_url=srv_b.url,
                mode="ASYNC",
            )
        )
        changes = _feed(
            spark, tmp_path / "feed", [_change(1, "INSERT", new=_row(1, "A", 1))]
        )
        _run(engine, cfg_a, changes, tmp_path, "ca")
        _run(engine, cfg_b, changes, tmp_path, "cb")
        assert engine.queue.poll_once(cfg_a) == 1  # ca DELIVERED, cb PENDING
        srv_a.wait_for(1)

        res = engine.queue.compact()
        assert res == {"kept": 1, "dropped": 1}
        st = engine.queue.state().collect()
        assert len(st) == 1 and st[0].trigger_name == "cb"
        assert st[0].status == "PENDING" and st[0].attempt_count == 0
        # the survivor is still deliverable after the rewrite
        assert engine.queue.poll_once(cfg_b) == 1
        srv_b.wait_for(1)
        assert engine.queue.state().collect()[0].status == "DELIVERED"
        # idempotent-ish: a second compact drops the new terminal event
        assert engine.queue.compact() == {"kept": 0, "dropped": 1}

def test_streaming_neardup_index(spark, tmp_path):
    """Online SimHash near-dup filter (corpus.SimHashNearDupIndex):
    near-duplicates are dropped within a batch (keep-lowest-doc_id),
    across batches (persisted signature index), and across query
    RESTARTS (checkpoint + batch-partitioned index); a replayed batch
    overwrites its own partitions instead of duplicating them.

    Near-dup construction is deterministic by vote dominance: in
    "alpha "*50 + tail, the 50 alpha occurrences fix every SimHash
    vote's sign (|50 +- 1| never crosses zero), so any two docs with
    the same dominant token have hamming 0 while remaining textually
    distinct — a guaranteed near-dup pair with no fragile hand-tuned
    hamming. Each leg runs an availableNow query to a deterministic
    completion (no polling race against in-flight writes).
    """
    import json as _json
    import os as _os

    from postgres_cdc_plugin_spark.streaming import corpus

    feed = tmp_path / "nd_feed"
    _os.makedirs(str(feed), exist_ok=True)

    def doc(doc_id, text, mm):
        return {
            "doc_id": doc_id, "text": text, "lang": "en",
            "ts": f"2024-01-01T10:{mm}:00.000000",
        }

    def chunk(name, rows):
        with open(feed / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    def run_to_completion():
        src = (
            spark.readStream.schema(corpus.DOC_STREAM_SCHEMA)
            .json(str(feed))
        )
        q = idx.attach(src, str(tmp_path / "nd_ckpt"), available_now=True)
        assert q.awaitTermination(120)

    alpha = "alpha " * 50
    idx = corpus.SimHashNearDupIndex(
        str(tmp_path / "nd_index"), str(tmp_path / "nd_out")
    )
    chunk("c1.json", [
        doc(1, alpha + "omega", "00"),
        doc(2, "beta " * 50 + "gamma", "01"),  # novel: other dominant token
        doc(5, alpha + "zeta", "02"),          # intra-batch near-dup of 1
    ])
    run_to_completion()
    got1 = sorted(r.doc_id for r in idx.accepted(spark).collect())
    assert got1 == [1, 2], got1

    # restart: a new file, a NEW query on the SAME checkpoint
    chunk("c2.json", [
        doc(10, alpha + "kappa", "30"),        # near-dup of indexed doc 1
        doc(11, "delta " * 50 + "mu", "31"),   # novel
    ])
    run_to_completion()
    got2 = sorted(r.doc_id for r in idx.accepted(spark).collect())
    assert got2 == [1, 2, 11], got2
    sigs = idx.index(spark)
    assert sigs.count() == 3
    assert sorted(r.batch for r in sigs.select("batch").collect()) == [0, 0, 1]

    # replay batch 1 by hand: same batch_id, partition overwritten, the
    # index read sees only batches < 1 -> byte-identical outcome, no dupes
    replay = spark.createDataFrame(
        [(10, alpha + "kappa", "en", datetime.datetime(2024, 1, 1, 10, 30)),
         (11, "delta " * 50 + "mu", "en", datetime.datetime(2024, 1, 1, 10, 31))],
        "doc_id bigint, text string, lang string, ts timestamp",
    )
    idx.process_batch(replay, 1)
    got3 = sorted(r.doc_id for r in idx.accepted(spark).collect())
    assert got3 == [1, 2, 11], got3
    assert idx.index(spark).count() == 3

def test_ready_scope_applies_before_limit(spark, tmp_path):
    """A scoped poll must not be starved by another subscription's
    backlog: the subscription predicate applies BEFORE the ordered
    limit, so sub B's event is returned even when sub A's older
    backlog alone would fill the window (round-2 review fix)."""
    from pyspark.sql import functions as F

    engine = CdcEngine(spark, str(tmp_path / "wd"))
    cfg_a = engine.register(
        SubscriptionConfig(
            name="suba", table_name="employees",
            webhook_url="http://localhost:1/a", mode="ASYNC",
        )
    )
    cfg_b = engine.register(
        SubscriptionConfig(
            name="subb", table_name="employees",
            webhook_url="http://localhost:1/b", mode="ASYNC",
        )
    )
    # sub A: 3 events enqueued FIRST (earlier next_attempt); sub B: 1
    changes_a = _feed(
        spark,
        tmp_path / "feed_a",
        [_change(i, "INSERT", new=_row(i, "A", i)) for i in (1, 2, 3)],
    )
    _run(engine, cfg_a, changes_a, tmp_path, "suba")
    import time

    time.sleep(1.1)  # strictly later enqueue tick for sub B
    changes_b = _feed(
        spark, tmp_path / "feed_b", [_change(9, "INSERT", new=_row(9, "B", 9))]
    )
    _run(engine, cfg_b, changes_b, tmp_path, "subb")

    scope_b = F.col("trigger_name") == "subb"
    # window of 3 filled entirely by sub A without the scope...
    unscoped = engine.queue.ready(limit=3).collect()
    assert {r.trigger_name for r in unscoped} == {"suba"}
    # ...but the scoped poll still sees sub B's event
    scoped = engine.queue.ready(limit=3, scope=scope_b).collect()
    assert [r.trigger_name for r in scoped] == ["subb"]


def test_queue_compact_survives_stale_old_dir(spark, tmp_path):
    """A leftover event_log.old from a crashed compaction must not fail
    the next compact's directory swap (round-2 review fix)."""
    import os

    engine = CdcEngine(spark, str(tmp_path / "wd"))
    with CaptureServer() as srv:
        cfg = engine.register(
            SubscriptionConfig(
                name="cc", table_name="employees", webhook_url=srv.url,
                mode="ASYNC",
            )
        )
        changes = _feed(
            spark, tmp_path / "feed", [_change(1, "INSERT", new=_row(1, "A", 1))]
        )
        _run(engine, cfg, changes, tmp_path, "cc")
        assert engine.queue.poll_once(cfg) == 1
        srv.wait_for(1)
        # simulate a crashed prior compaction
        stale = engine.queue.event_log_path + ".old"
        os.makedirs(stale, exist_ok=True)
        with open(os.path.join(stale, "junk.parquet"), "w") as f:
            f.write("not parquet")
        assert engine.queue.compact() == {"kept": 0, "dropped": 1}
        assert not os.path.exists(stale)
        assert engine.queue.state().count() == 0


def test_enqueue_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed micro-batch must
    rewrite its own batch=<id> directory, not append duplicate event
    rows (duplicates would each be POSTed by poll_once and burn the
    retry budget twice — round-3 advice fix)."""
    from postgres_cdc_plugin_spark.streaming.queue import EventQueue

    q = EventQueue(spark, str(tmp_path / "q"))
    cfg = SubscriptionConfig(
        name="rp", table_name="employees", webhook_url="http://x/",
        mode="ASYNC",
    )
    batch = spark.createDataFrame(
        [(("ev-1",), "{}"), (("ev-2",), "{}")],
        "envelope struct<id:string>, payload string",
    )
    sink = q.enqueue_sink(cfg)
    sink(batch, 7)
    sink(batch, 7)  # crash-replay of the same micro-batch
    assert sorted(r.event_id for r in q.state().collect()) == ["ev-1", "ev-2"]
    # a different batch id with a NEW event still lands as a new row
    sink(
        spark.createDataFrame(
            [(("ev-3",), "{}")], "envelope struct<id:string>, payload string"
        ),
        8,
    )
    assert q.state().count() == 3
    # direct (non-streaming) calls keep the flat append layout
    q.enqueue_batch(
        spark.createDataFrame(
            [(("ev-9",), "{}")], "envelope struct<id:string>, payload string"
        ),
        cfg,
    )
    assert q.state().count() == 4


def test_queue_compact_recovers_orphaned_old_dir(spark, tmp_path):
    """A compact that crashes between its two directory renames leaves
    the only copy of a log at `<path>.old` with no live directory; the
    next compact must restore it instead of deleting it (round-3
    advice fix)."""
    import os

    from postgres_cdc_plugin_spark.streaming.queue import EventQueue

    q = EventQueue(spark, str(tmp_path / "q"))
    cfg = SubscriptionConfig(
        name="cr", table_name="employees", webhook_url="http://x/",
        mode="ASYNC",
    )
    q.enqueue_batch(
        spark.createDataFrame(
            [(("ev-1",), "{}"), (("ev-2",), "{}")],
            "envelope struct<id:string>, payload string",
        ),
        cfg,
        batch_id=0,
    )
    assert q.state().count() == 2
    # simulate the mid-swap crash: live dir moved aside, new dir never
    # moved in, swap marker still present
    os.rename(q.event_log_path, q.event_log_path + ".old")
    with open(q.event_log_path + ".swap", "w"):
        pass
    assert q.compact() == {"kept": 2, "dropped": 0}
    assert sorted(r.event_id for r in q.state().collect()) == ["ev-1", "ev-2"]
    assert not os.path.exists(q.event_log_path + ".swap")


def test_queue_swap_recovery_merges_post_crash_enqueues(spark, tmp_path):
    """The dangerous interleaving: compact crashes mid-swap (live dir
    moved to .old, marker up), then an enqueue sink recreates the live
    dir with NEW batches before anyone notices. Recovery must MERGE the
    authoritative .old back rather than treating it as stale junk —
    deleting it would lose every pre-crash undelivered event."""
    import os

    from postgres_cdc_plugin_spark.streaming.queue import EventQueue

    q = EventQueue(spark, str(tmp_path / "q"))
    cfg = SubscriptionConfig(
        name="mg", table_name="employees", webhook_url="http://x/",
        mode="ASYNC",
    )

    def batch_of(*ids):
        return spark.createDataFrame(
            [((i,), "{}") for i in ids],
            "envelope struct<id:string>, payload string",
        )

    q.enqueue_batch(batch_of("ev-old-1", "ev-old-2"), cfg, batch_id=0)
    # crash mid-swap: live moved aside, marker up
    os.rename(q.event_log_path, q.event_log_path + ".old")
    with open(q.event_log_path + ".swap", "w"):
        pass
    # a later enqueue recreates the live dir with a fresh batch
    q.enqueue_batch(batch_of("ev-new-1"), cfg, batch_id=1)
    # the next state() read heals the swap: union of both generations
    assert sorted(r.event_id for r in q.state().collect()) == [
        "ev-new-1", "ev-old-1", "ev-old-2",
    ]
    assert not os.path.exists(q.event_log_path + ".swap")
    assert not os.path.exists(q.event_log_path + ".old")


def test_queue_state_collapses_duplicate_event_and_attempt_rows(spark, tmp_path):
    """Defense-in-depth dedup: duplicate event rows (replayed enqueue
    racing a compact) are polled once, and duplicate attempt rows don't
    burn the retry budget twice."""
    from postgres_cdc_plugin_spark.streaming.queue import (
        _ATTEMPTS_SCHEMA,
        EventQueue,
    )

    q = EventQueue(spark, str(tmp_path / "q"))
    cfg = SubscriptionConfig(
        name="dd", table_name="employees", webhook_url="http://x/",
        mode="ASYNC", retry_number=3,
    )
    batch = spark.createDataFrame(
        [(("ev-1",), "{}")], "envelope struct<id:string>, payload string"
    )
    # the same logical event lands twice (flat append + replayed batch)
    q.enqueue_batch(batch, cfg)
    q.enqueue_batch(batch, cfg, batch_id=3)
    # the same attempt row lands twice (crash-recovery merge)
    rows = [("ev-1", 0, 500, False, "boom", 1_700_000_000.0, "err-body")]
    for _ in range(2):
        spark.createDataFrame(rows, _ATTEMPTS_SCHEMA).write.mode(
            "append"
        ).parquet(q.attempts_path)
    st = q.state().collect()
    assert len(st) == 1
    assert st[0].attempt_count == 1  # not 2: budget burned once


def test_backoff_seconds_matches_backoff_delay(spark):
    """The poller's Python backoff is the fold's Spark expression
    (functions.scalar.backoff_delay) for both modes, n = 0..20."""
    from postgres_cdc_plugin_spark.functions.scalar import backoff_delay
    from postgres_cdc_plugin_spark.streaming.queue import _backoff_seconds

    cases = [
        (mode, ivl, n)
        for mode in ("LINEAR", "EXPONENTIAL")
        for ivl in (1, 7, 60)
        for n in range(21)
    ]
    got = spark.createDataFrame(
        cases, "retry_backoff string, retry_interval int, n int"
    ).select(
        "retry_backoff", "retry_interval", "n",
        backoff_delay("retry_backoff", "retry_interval", "n").alias("d"),
    ).collect()
    assert len(got) == len(cases)
    for r in got:
        assert _backoff_seconds(r.retry_backoff, r.retry_interval, r.n) == r.d, r


def _enqueue(spark, q, cfg, batch_id, *ids):
    q.enqueue_batch(
        spark.createDataFrame(
            [((i,), "{}") for i in ids],
            "envelope struct<id:string>, payload string",
        ),
        cfg,
        batch_id,
    )


def _assert_working_set_is_fold(q, cfg):
    """The poller's carried working set equals state() filtered to the
    scope's PENDING events: same ids, attempt counts and next_attempt to
    the microsecond."""
    from pyspark.sql import functions as F

    ws = q._working[(cfg.schema_name, cfg.table_name, cfg.name)]
    got = {
        eid: (p.attempt_count, p.next_attempt) for eid, p in ws.pending.items()
    }
    want = {
        r.event_id: (r.attempt_count, r.next_us)
        for r in q.state()
        .filter(
            (F.col("status") == "PENDING")
            & (F.col("trigger_schema") == cfg.schema_name)
            & (F.col("trigger_table") == cfg.table_name)
            & (F.col("trigger_name") == cfg.name)
        )
        .select(
            "event_id", "attempt_count",
            F.unix_micros("next_attempt").alias("next_us"),
        )
        .collect()
    }
    assert got == want
    return got


def test_poll_working_set_tracks_the_fold(spark, tmp_path):
    """The incremental poll tick's working set stays equal to the full
    queue_state_fold across failing and successful delivery, backoff,
    FAILED after the budget, a second subscription's poller, a replay
    overwriting a read `batch=` dir (also with a tick between its delete
    and its write), a foreign attempts file and a compact() between
    ticks."""
    import os
    import shutil
    import time

    from postgres_cdc_plugin_spark.streaming.queue import (
        _ATTEMPTS_SCHEMA,
        EventQueue,
    )

    q = EventQueue(spark, str(tmp_path / "q"))
    utc = datetime.timezone.utc

    def later(s):
        return datetime.datetime.now(utc) + datetime.timedelta(seconds=s)

    cfg_a = SubscriptionConfig(
        name="ws_a", table_name="employees", webhook_url="http://x/",
        mode="ASYNC", retry_number=2, retry_interval=30,
        retry_backoff="EXPONENTIAL",
    )
    # the same subscription at an older config version: its events keep
    # their own retry config (one retry, LINEAR)
    cfg_a_v1 = SubscriptionConfig(
        name="ws_a", table_name="employees", webhook_url="http://x/",
        mode="ASYNC", retry_number=1, retry_interval=30,
    )
    cfg_b = SubscriptionConfig(
        name="ws_b", table_name="employees", webhook_url="http://x/",
        mode="ASYNC",
    )
    key_a = ("public", "employees", "ws_a")
    with CaptureServer(fail_status=500) as bad, CaptureServer() as good:
        _enqueue(spark, q, cfg_a, 0, "ev-1")
        _enqueue(spark, q, cfg_a_v1, 1, "ev-2")
        # seed, both attempts fail
        assert q.poll_once(cfg_a, url=bad.url) == 2
        assert _assert_working_set_is_fold(q, cfg_a).keys() == {"ev-1", "ev-2"}
        seeded = q._working[key_a]
        # a new batch file: only ev-3 is ready, and it is delivered
        _enqueue(spark, q, cfg_a, 2, "ev-3")
        assert q.poll_once(cfg_a, url=good.url) == 1
        assert _assert_working_set_is_fold(q, cfg_a).keys() == {"ev-1", "ev-2"}
        # past the first backoff: both retry and fail; ev-2's budget of
        # two attempts is spent (FAILED), ev-1 backs off 60 s
        assert q.poll_once(cfg_a, url=bad.url, now=later(40)) == 2
        assert _assert_working_set_is_fold(q, cfg_a).keys() == {"ev-1"}
        assert q.poll_once(cfg_a, url=bad.url, now=later(40)) == 0
        assert q.poll_once(cfg_a, url=good.url, now=later(120)) == 1
        assert _assert_working_set_is_fold(q, cfg_a) == {}
        assert q._working[key_a] is seeded  # never re-seeded so far

        # a second subscription's poller on the same queue: its attempt
        # file is this queue's own write and does not re-seed scope A
        _enqueue(spark, q, cfg_b, 0, "ev-b1", "ev-b2")
        _enqueue(spark, q, cfg_a, 3, "ev-4")
        assert q.poll_once(cfg_b, url=bad.url) == 2
        _assert_working_set_is_fold(q, cfg_b)
        assert q.poll_once(cfg_a, url=bad.url) == 1
        assert _assert_working_set_is_fold(q, cfg_a).keys() == {"ev-4"}
        assert q._working[key_a] is seeded

        # an enqueue replay overwrites batch 3, which the poller read
        _enqueue(spark, q, cfg_a, 3, "ev-4")
        assert q.poll_once(cfg_a, url=bad.url) == 0
        assert q._working[key_a] is not seeded
        assert _assert_working_set_is_fold(q, cfg_a)["ev-4"][0] == 1

        # a tick between a replay's delete and its write: the rewritten
        # batch is not taken for new events (ev-4 keeps its attempt)
        (d,) = [e for e in os.listdir(q.event_log_path) if e.endswith("-3")]
        shutil.rmtree(os.path.join(q.event_log_path, d))
        assert q.poll_once(cfg_a, url=bad.url) == 0
        assert _assert_working_set_is_fold(q, cfg_a) == {}
        _enqueue(spark, q, cfg_a, 3, "ev-4")
        assert q.poll_once(cfg_a, url=bad.url) == 0
        assert _assert_working_set_is_fold(q, cfg_a)["ev-4"][0] == 1

        # an attempts file written outside the queue
        spark.createDataFrame(
            [("ev-4", 1, 500, False, "boom", time.time(), None)],
            _ATTEMPTS_SCHEMA,
        ).write.mode("append").parquet(q.attempts_path)
        assert q.poll_once(cfg_a, url=bad.url) == 0
        assert _assert_working_set_is_fold(q, cfg_a)["ev-4"][0] == 2

        # compact() between ticks rewrites both logs
        assert q.compact() == {"kept": 4, "dropped": 2}
        assert q.poll_once(cfg_a, url=good.url, now=later(200)) == 1
        assert _assert_working_set_is_fold(q, cfg_a) == {}
        assert q.poll_once(cfg_b, url=good.url, now=later(200)) == 2
        assert _assert_working_set_is_fold(q, cfg_b) == {}


def test_concurrent_scoped_pollers_keep_their_working_sets(spark, tmp_path):
    """Pollers of several subscriptions share one EventQueue and tick at
    once (more threads than cores, short switch interval): a tick never
    mistakes another scope's attempts file for a foreign write, so no
    working set is re-seeded after its first tick, and every attempt
    lands exactly once in the fold."""
    import sys
    import threading

    from postgres_cdc_plugin_spark.streaming.queue import EventQueue

    q = EventQueue(spark, str(tmp_path / "q"))
    cfgs = [
        SubscriptionConfig(
            name=f"cc{i}", table_name="employees", webhook_url="http://x/",
            mode="ASYNC", retry_number=10, retry_interval=1,
        )
        for i in range(6)
    ]
    for i, cfg in enumerate(cfgs):
        _enqueue(spark, q, cfg, 0, f"ev-{i}")
    rounds, errors = 3, []
    start = threading.Barrier(len(cfgs))

    def poller(cfg, url):
        try:
            start.wait(timeout=60)
            key = (cfg.schema_name, cfg.table_name, cfg.name)
            first = None
            for r in range(1, rounds + 1):
                later = datetime.datetime.now(
                    datetime.timezone.utc
                ) + datetime.timedelta(seconds=10 * r)
                assert q.poll_once(cfg, url=url, now=later) == 1
                first = first or q._working[key]
                assert q._working[key] is first, f"{cfg.name} re-seeded"
        except Exception as e:  # reported on the test thread
            errors.append(e)

    saved = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with CaptureServer(fail_status=500) as bad:
            threads = [
                threading.Thread(target=poller, args=(c, bad.url)) for c in cfgs
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
            assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(saved)
    assert errors == []
    for i, cfg in enumerate(cfgs):
        ws = _assert_working_set_is_fold(q, cfg)
        assert list(ws) == [f"ev-{i}"] and ws[f"ev-{i}"][0] == rounds


def test_idle_poll_tick_starts_no_spark_job(spark, tmp_path):
    """ROADMAP item 2: an idle tick costs less than the cadence. After
    a first tick, a tick with no new log files and nothing ready returns
    0 without a Spark job; a tick that finds one new `batch=` file scans
    only that file and the files holding the ready events."""
    import os

    from postgres_cdc_plugin_spark.streaming.queue import EventQueue

    sc = spark.sparkContext
    q = EventQueue(spark, str(tmp_path / "q"))
    cfg = SubscriptionConfig(
        name="idle", table_name="employees", webhook_url="http://x/",
        mode="ASYNC", retry_interval=60,
    )

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    scanned: list[set[str]] = []
    scan = q._scan

    def recording_scan(files, schema):
        df = scan(files, schema)
        scanned.append({os.path.basename(f) for f in df.inputFiles()})
        return df

    def batch_files(batch_id):
        d = [
            e for e in os.listdir(q.event_log_path)
            if e.endswith(f"-{batch_id}")
        ]
        (d,) = d
        return {
            f for f in os.listdir(os.path.join(q.event_log_path, d))
            if f.endswith(".parquet")
        }

    with CaptureServer(fail_status=500) as bad, CaptureServer() as good:
        _enqueue(spark, q, cfg, 0, "ev-1", "ev-2")
        assert q.poll_once(cfg, url=bad.url) == 2  # seeds; both back off

        n, jobs = jobs_of("idle-tick", lambda: q.poll_once(cfg, url=bad.url))
        assert (n, jobs) == (0, [])

        _enqueue(spark, q, cfg, 1, "ev-3")
        q._scan = recording_scan
        n, jobs = jobs_of("new-file-tick", lambda: q.poll_once(cfg, url=good.url))
        assert n == 1 and jobs  # the job check does see a busy tick
        # the new-file scan reads batch 1; the delivery read, ev-3's file
        assert len(scanned) == 2 and scanned[0] == batch_files(1)
        assert scanned[1] and scanned[1] <= batch_files(1)

        scanned.clear()
        later = datetime.datetime.now(datetime.timezone.utc) + datetime.timedelta(
            seconds=120
        )
        assert q.poll_once(cfg, url=good.url, now=later) == 2
        # no new files: only the delivery read, of batch 0's files
        assert len(scanned) == 1 and scanned[0] and scanned[0] <= batch_files(0)


def test_queue_clock_is_utc_under_local_driver_timezone(spark, tmp_path):
    """A driver in a timezone other than UTC: enqueued_at, the poll clock
    and credential upserts stay UTC instants — a retry scheduled 60 s
    out is not re-attempted by the very next poll."""
    import os
    import time

    from pyspark.sql import functions as F

    from postgres_cdc_plugin_spark.streaming.credstore import CredentialStore
    from postgres_cdc_plugin_spark.streaming.queue import EventQueue

    saved = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        q = EventQueue(spark, str(tmp_path / "q"))
        cfg = SubscriptionConfig(
            name="tz", table_name="employees", webhook_url="http://x/",
            mode="ASYNC", retry_number=3, retry_interval=60,
        )
        _enqueue(spark, q, cfg, 0, "ev-1")
        with CaptureServer(fail_status=500) as bad:
            assert q.poll_once(cfg, url=bad.url) == 1
            assert q.poll_once(cfg, url=bad.url) == 0
        assert q.ready().count() == 0
        (r,) = q.state().select(
            "attempt_count",
            (F.unix_micros("enqueued_at") / 1e6).alias("enq"),
            (F.unix_micros("next_attempt") / 1e6).alias("nxt"),
        ).collect()
        now = time.time()
        assert r.attempt_count == 1
        assert now - 120 < r.enq <= now
        assert 30 < r.nxt - now <= 61

        creds = CredentialStore(spark, str(tmp_path / "creds"))
        creds.upsert(cfg)
        (c,) = creds.current().select(
            (F.unix_micros("updated_at") / 1e6).alias("at")
        ).collect()
        assert now - 120 < c.at <= time.time()
    finally:
        if saved is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = saved
        time.tzset()



def _jobs_of(sc, group, fn):
    """Run fn under a job group; return (its result, the group's job ids)."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _sink_batch(spark, tmp_path, keys, n_files=None):
    """A SYNC sink input batch: one change per key (seq = position),
    read back from `n_files` parquet files when given."""
    df = spark.createDataFrame(
        [
            ((f"ev-{i}",), k, json.dumps({"k": k}), i)
            for i, k in enumerate(keys)
        ],
        "envelope struct<id:string>, key string, payload string, seq long",
    )
    if n_files is None:
        return df
    path = str(tmp_path / f"batch-src-{n_files}")
    df.repartition(n_files).write.parquet(path)
    return spark.read.parquet(path)


def _file_bytes(root):
    """Every file under root, by relative path, with its bytes."""
    import pathlib

    root = pathlib.Path(root)
    return {
        str(f.relative_to(root)): f.read_bytes()
        for f in root.rglob("*")
        if f.is_file()
    }


def test_sink_delivers_and_logs_in_one_action(spark, tmp_path, monkeypatch):
    """A SYNC sink call over a batch read from several files runs one
    Spark action over its delivery RDD and reads nothing back: its jobs
    are the repartition's shuffle-map job (adaptive execution runs it as
    a job of its own) and the deliver-and-log collect. Every POST has
    exactly one attempt row."""
    from pyspark.sql.readwriter import DataFrameReader

    from postgres_cdc_plugin_spark.streaming.deliver import WebhookSink

    batch = _sink_batch(spark, tmp_path, [str(i % 5) for i in range(20)], 4)
    reads = []
    parquet = DataFrameReader.parquet

    def recording_parquet(self, *paths, **kw):
        reads.append(paths)
        return parquet(self, *paths, **kw)

    with CaptureServer() as srv:
        cfg = SubscriptionConfig(
            name="one_job", table_name="employees", webhook_url=srv.url
        )
        sink = WebhookSink(cfg, attempts_path=str(tmp_path / "att"))
        monkeypatch.setattr(DataFrameReader, "parquet", recording_parquet)
        _, jobs = _jobs_of(spark.sparkContext, "sink-call", lambda: sink(batch, 0))
        monkeypatch.undo()
        assert reads == []
        assert len(jobs) == 2, jobs
        assert len(srv.received) == 20
    assert sink.n_attempts == sink.n_delivered == len(sink.attempts) == 20
    assert sorted(a.event_id for a in sink.attempts) == sorted(
        f"ev-{i}" for i in range(20)
    )


def test_busy_poll_tick_runs_one_spark_job(spark, tmp_path):
    """A poll tick with ready events and no new event-log file runs
    exactly one Spark job: the deliver-and-log collect. The receiver
    sees one POST per attempt row."""
    from postgres_cdc_plugin_spark.streaming.queue import EventQueue

    q = EventQueue(spark, str(tmp_path / "q"))
    cfg = SubscriptionConfig(
        name="busy", table_name="employees", webhook_url="http://x/",
        mode="ASYNC", retry_number=3, retry_interval=1,
    )
    _enqueue(spark, q, cfg, 0, "ev-1", "ev-2", "ev-3")
    later = datetime.datetime.now(datetime.timezone.utc) + datetime.timedelta(
        seconds=30
    )
    with CaptureServer(fail_status=500) as srv:
        assert q.poll_once(cfg, url=srv.url) == 3  # seeds
        n, jobs = _jobs_of(
            spark.sparkContext, "busy-tick",
            lambda: q.poll_once(cfg, url=srv.url, now=later),
        )
        assert n == 3 and len(jobs) == 1, jobs
        assert len(srv.received) == q._attempts().count() == 6


def test_sink_replay_keeps_second_call_and_counters_match_files(spark, tmp_path):
    """Calling the sink twice with one batch id (a foreachBatch replay)
    against a receiver that fails some keys: batch=<id> holds only the
    second call's attempt rows, and each call's counter increments and
    dead letters equal the aggregate over the files it committed."""
    import os
    import time

    from pyspark.sql import functions as F

    from postgres_cdc_plugin_spark.streaming.deliver import (
        _ATTEMPT_LOG_SCHEMA,
        WebhookSink,
    )

    batch = _sink_batch(spark, tmp_path, ["a", "b", "c", "a", "d", "b"])
    with CaptureServer(fail_status=500, fail_if=lambda d: d["k"] in "bd") as srv:
        cfg = SubscriptionConfig(
            name="replay", table_name="employees", webhook_url=srv.url,
            retry_number=1, cancel_on_failure=False,
        )
        sink = WebhookSink(cfg, attempts_path=str(tmp_path / "att"))
        batch_dir = os.path.join(sink.attempts_path, "batch=7")
        last_call_start = 0.0
        for call in range(2):
            before = (sink.n_attempts, sink.n_delivered, len(sink.dead_letters))
            last_call_start = time.time()
            sink(batch, 7)
            failed_last = (F.col("attempt") == cfg.attempt_budget - 1) & ~F.col(
                "ok"
            )
            agg = (
                spark.read.schema(_ATTEMPT_LOG_SCHEMA)
                .parquet(batch_dir)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count_if(F.col("ok")).alias("n_ok"),
                    F.collect_list(
                        F.when(failed_last, F.struct("event_id", "status", "error"))
                    ).alias("failed"),
                )
                .collect()[0]
            )
            # 2 ok keys (a twice, c once) + 3 failing rows x 2 attempts
            assert (agg.n, agg.n_ok, len(agg.failed)) == (9, 3, 3)
            assert sink.n_attempts - before[0] == agg.n
            assert sink.n_delivered - before[1] == agg.n_ok
            assert sorted(sink.dead_letters[before[2]:]) == sorted(
                (r.event_id, f"status={r.status} err={r.error}")
                for r in agg.failed
            )
        assert len(srv.received) == 18 == sink.n_attempts
    rows = sink.attempts
    assert len(rows) == 9
    assert all(a.at >= last_call_start for a in rows)


def test_sink_failure_leaves_no_stage_dir(spark, tmp_path):
    """A sink call that raises (cancel_on_failure against a failing
    receiver) removes its stage dir and leaves earlier batch dirs as
    they were; compact() removes a stage dir a dead poll tick left,
    which neither the log glob nor Spark's reader saw meanwhile."""
    import os
    import shutil

    from postgres_cdc_plugin_spark.streaming.deliver import WebhookSink, stage_dirs
    from postgres_cdc_plugin_spark.streaming.queue import (
        _ATTEMPTS_SCHEMA,
        EventQueue,
    )

    batch = _sink_batch(spark, tmp_path, ["a", "b"])
    att = str(tmp_path / "att")
    with CaptureServer() as ok_srv:
        cfg = SubscriptionConfig(
            name="hyg", table_name="employees", webhook_url=ok_srv.url,
            retry_number=0, cancel_on_failure=True,
        )
        WebhookSink(cfg, attempts_path=att)(batch, 0)
    before = _file_bytes(att)
    assert before and stage_dirs(att) == []
    with CaptureServer(fail_status=500) as bad:
        sink = WebhookSink(cfg, url=bad.url, attempts_path=att)
        with pytest.raises(RuntimeError, match="webhook delivery failed"):
            sink(batch, 1)
    assert stage_dirs(att) == []
    assert {k: v for k, v in _file_bytes(att).items() if "batch=0" in k} == before

    q = EventQueue(spark, str(tmp_path / "q"))
    # a dead tick's stage: an attempt file that was never committed
    os.makedirs(q.attempts_path)
    dead = os.path.join(q.attempts_path, "_stage-dead")
    shutil.copytree(os.path.join(att, "batch=1"), dead)
    assert q._log_files(q.attempts_path) == []
    attempts = spark.read.schema(_ATTEMPTS_SCHEMA).parquet(q.attempts_path)
    assert attempts.count() == 0
    q.compact()
    assert stage_dirs(q.attempts_path) == []


def test_pyarrow_attempt_logs_read_like_spark_written(spark, tmp_path):
    """The same attempt rows — NULL error and response included — written
    once by Spark's parquet writer and once by deliver_and_log read back
    identically: through spark.read (explicit and inferred schema), through
    WebhookSink.attempts, and through the queue's state() fold (status,
    history arrays and next_attempt to the microsecond)."""
    import os

    from postgres_cdc_plugin_spark.streaming.deliver import (
        _ATTEMPT_LOG_SCHEMA,
        WebhookSink,
        deliver_and_log,
    )
    from postgres_cdc_plugin_spark.streaming.queue import (
        _ATTEMPTS_SCHEMA,
        EventQueue,
    )

    t0 = 1_700_000_000.123456
    rows = [
        ("ev-1", 0, 500, False, "boom", t0, "err-body"),
        ("ev-1", 1, 200, True, None, t0 + 61.000001, '{"ok": true}'),
        ("ev-2", 0, -1, False, "connection refused", t0 + 0.5, None),
        ("ev-3", 0, 503, False, None, t0 + 2.25, ""),
        ("ev-3", 1, -1, False, "timed out", t0 + 3.999999, None),
    ]

    def helper_write(schema, log_dir, dest):
        def commit(files):
            os.makedirs(dest)
            for f in files:
                os.rename(f, os.path.join(dest, os.path.basename(f)))

        deliver_and_log(
            spark.sparkContext.parallelize(rows, 2), lambda it: it, schema,
            log_dir, len, commit,
        )

    # the sink's log: batch=0 written by each writer
    sinks = []
    for name in ("spark", "arrow"):
        root = str(tmp_path / f"sink-{name}")
        dest = os.path.join(root, "batch=0")
        if name == "spark":
            spark.createDataFrame(rows, _ATTEMPT_LOG_SCHEMA).write.parquet(dest)
        else:
            helper_write(_ATTEMPT_LOG_SCHEMA, root, dest)
        sinks.append(root)
    by_spark, by_arrow = (
        sorted(spark.read.schema(_ATTEMPT_LOG_SCHEMA).parquet(r).collect())
        for r in sinks
    )
    assert by_spark == by_arrow and len(by_arrow) == len(rows)
    assert spark.read.parquet(sinks[0]).schema == spark.read.parquet(sinks[1]).schema
    cfg = SubscriptionConfig(name="rt", table_name="employees", webhook_url="http://x/")
    assert WebhookSink(cfg, attempts_path=sinks[0]).attempts == WebhookSink(
        cfg, attempts_path=sinks[1]
    ).attempts

    # the queue's log: the same events, attempts by each writer
    qcfg = SubscriptionConfig(
        name="rt_q", table_name="employees", webhook_url="http://x/",
        mode="ASYNC", retry_number=1, retry_interval=7,
        retry_backoff="EXPONENTIAL",
    )
    queues = [EventQueue(spark, str(tmp_path / f"q-{n}")) for n in ("s", "a")]
    events = spark.createDataFrame(
        [((e,), "{}") for e in ("ev-1", "ev-2", "ev-3")],
        "envelope struct<id:string>, payload string",
    )
    queues[0].enqueue_batch(events, qcfg)
    import shutil

    shutil.copytree(queues[0].event_log_path, queues[1].event_log_path)
    spark.createDataFrame(rows, _ATTEMPTS_SCHEMA).write.parquet(
        queues[0].attempts_path
    )
    helper_write(_ATTEMPTS_SCHEMA, str(tmp_path / "q-a"), queues[1].attempts_path)
    assert (
        spark.read.parquet(queues[0].attempts_path).schema
        == spark.read.parquet(queues[1].attempts_path).schema
    )
    st_spark, st_arrow = (sorted(q.state().collect()) for q in queues)
    assert st_spark == st_arrow
    assert [r.status for r in st_arrow] == ["DELIVERED", "PENDING", "FAILED"]


def test_streaming_ivf_index_matches_batch_assign(spark, tmp_path, sf_dir):
    """EmbedIvfIndex: the streaming per-batch assignment against a
    frozen codebook equals the batch embed_ivf_assign bit-for-bit
    (same round-6 centroid/argmin conventions), the index layout is
    cell-partitioned (probe = partition pruning), and a replayed batch
    overwrites its own partition instead of duplicating."""
    from pyspark.sql import functions as F

    from postgres_cdc_plugin_spark.operators.similarity import (
        _centroid_vecs,
        embed_ivf_assign,
    )
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming import vectors

    emb = load(spark, sf_dir, "embeddings")
    feed = tmp_path / "vec_feed"
    feed.mkdir()
    with_ts = emb.withColumn("ts", F.lit("2024-01-01 10:00:00").cast("timestamp"))
    cols = ["vec_id", "embedding", "label", "ts"]
    with_ts.filter("vec_id % 2 = 0").select(*cols).coalesce(1).write.parquet(
        str(feed / "chunk_a")
    )
    with_ts.filter("vec_id % 2 = 1").select(*cols).coalesce(1).write.parquet(
        str(feed / "chunk_b")
    )
    # frozen codebook: the same round-6 per-label means the batch op uses
    codebook = _centroid_vecs(
        emb.select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
        )
    ).localCheckpoint()

    idx = vectors.EmbedIvfIndex(str(tmp_path / "ivf_index"), codebook)

    def drain(ckpt):
        src = (
            spark.readStream.schema(vectors.VEC_STREAM_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(str(feed))
        )
        q = idx.attach(src, checkpoint=str(tmp_path / ckpt), available_now=True)
        q.awaitTermination(60)

    drain("ck1")
    total = emb.count()
    built = idx.index(spark)
    assert built.count() == total

    # streaming assignment == batch embed_ivf_assign (same codebook)
    batch_assign = embed_ivf_assign(spark, sf_dir).select(
        "vec_id", F.col("cell").alias("batch_cell")
    )
    joined = built.select("vec_id", "cell").join(batch_assign, "vec_id")
    assert joined.count() == total
    assert joined.filter("cell <> batch_cell").count() == 0

    # probe prunes partitions: the cell predicate is a PartitionFilter
    probed = idx.probe(spark, [0, 1])
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters"
    )[1][:200], plan

    # replay with a fresh checkpoint: same files -> same batch id ->
    # overwrite, not duplication
    drain("ck2")
    assert idx.index(spark).count() == total


def test_streaming_postings_index_matches_batch_bm25(spark, tmp_path, sf_dir):
    """LexicalPostingsIndex: BM25 search over the streamed postings
    index equals the batch docs_bm25_search bit-for-bit (shared
    _bm25_rank kernel + exact integer stats folding), the probe prunes
    term-bucket partitions, and a replayed batch overwrites its own
    directory instead of duplicating postings or double-counting
    corpus stats."""
    from pyspark.sql import functions as F

    from postgres_cdc_plugin_spark.operators.text import (
        _BM25_TERMS,
        docs_bm25_search,
    )
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming import lexical

    docs = load(spark, sf_dir, "documents")
    feed = tmp_path / "doc_feed"
    feed.mkdir()
    with_ts = docs.withColumn("ts", F.lit("2024-01-01 10:00:00").cast("timestamp"))
    cols = ["doc_id", "text", "lang", "source", "n_chars", "ts"]
    with_ts.filter("doc_id % 2 = 0").select(*cols).coalesce(1).write.parquet(
        str(feed / "chunk_a")
    )
    with_ts.filter("doc_id % 2 = 1").select(*cols).coalesce(1).write.parquet(
        str(feed / "chunk_b")
    )

    idx = lexical.LexicalPostingsIndex(str(tmp_path / "lex_index"))

    def drain(ckpt):
        src = (
            spark.readStream.schema(lexical.DOC_STREAM_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(str(feed))
        )
        q = idx.attach(src, checkpoint=str(tmp_path / ckpt), available_now=True)
        q.awaitTermination(60)

    drain("ck1")
    # corpus stats fold exactly: n_docs across batches == corpus size
    stats = idx.stats(spark).collect()[0]
    assert stats.n_docs == docs.count()

    # index search == batch query, bit for bit (same kernel, same stats)
    streamed = sorted(
        idx.search(spark, _BM25_TERMS).collect(), key=lambda r: r.doc_id
    )
    batch = sorted(
        docs_bm25_search(spark, sf_dir).collect(), key=lambda r: r.doc_id
    )
    assert streamed == batch

    # probe prunes partitions: the term-bucket predicate is a
    # PartitionFilter — unprobed buckets' files are never planned
    probe = idx.postings(spark).filter(F.col("tb").isin([3, 7]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tb" in plan.split(
        "PartitionFilters"
    )[1][:200], plan

    # replay with a fresh checkpoint: same files -> same batch ids ->
    # overwrite, not duplication (postings stable, stats not doubled)
    drain("ck2")
    assert idx.stats(spark).collect()[0].n_docs == docs.count()
    replayed = sorted(
        idx.search(spark, _BM25_TERMS).collect(), key=lambda r: r.doc_id
    )
    assert replayed == batch

    # incremental append: NEW documents arrive; a further drain on the
    # ORIGINAL checkpoint indexes only them, corpus stats fold forward,
    # and search equals the batch kernel over the UNION corpus — the
    # live index answers exactly what a full rebuild would
    from postgres_cdc_plugin_spark.operators.text import bm25_search

    extra = spark.createDataFrame(
        [
            (100000 + i, "spark vector join" + " spark" * i, "en", "srcX", 17)
            for i in range(3)
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    extra.withColumn(
        "ts", F.lit("2024-01-02 10:00:00").cast("timestamp")
    ).select(*cols).coalesce(1).write.parquet(str(feed / "chunk_c"))
    drain("ck1")
    assert idx.stats(spark).collect()[0].n_docs == docs.count() + 3
    expected = sorted(
        bm25_search(docs.unionByName(extra), _BM25_TERMS).collect(),
        key=lambda r: r.doc_id,
    )
    grown = sorted(
        idx.search(spark, _BM25_TERMS).collect(), key=lambda r: r.doc_id
    )
    assert grown == expected
    assert grown != batch  # the new heavy-match docs must surface


def test_schema_on_read_payload_preserves_json_types(spark, tmp_path):
    """Schema-on-read envelopes carry the ORIGINAL feed JSON: numbers,
    booleans, and nested objects keep their types (the map-parse is
    used only by the diff gate — re-serializing it retyped everything
    to strings before the round-2 fix)."""
    with CaptureServer() as srv:
        engine = CdcEngine(spark, str(tmp_path / "wd"))
        cfg = engine.register(
            SubscriptionConfig(
                name="typed", table_name="employees", webhook_url=srv.url,
            )
        )
        row = {"id": 7, "active": True, "score": 1.5, "meta": {"a": 1}}
        ch = dict(_change(1, "INSERT"), new=json.dumps(row), key="7")
        changes = changefeed.read_stream(
            spark, str(_feed_raw(spark, tmp_path / "feed", [ch]))
        )
        _run(engine, cfg, changes, tmp_path, "typed")
        (payload,) = srv.wait_for(1)
    assert json.loads(payload["event"]["data"]["new"]) == row


def _feed_raw(spark, feed_dir, rows):
    changefeed.write_chunk(str(feed_dir), rows)
    return str(feed_dir)


def test_latest_state_materializer_stream_and_recovery(spark, tmp_path):
    """streaming/materialize.py: the continuously-maintained
    latest-state table — batch application through foreachBatch,
    UPDATE supersedes, DELETE evicts, replay is a no-op, and a swap
    that died mid-flight rolls back to the pre-swap snapshot."""
    import json as _json
    import shutil as _shutil

    from postgres_cdc_plugin_spark.streaming.materialize import LatestStateTable

    feed = tmp_path / "ms_feed"
    t = LatestStateTable(spark, str(tmp_path / "state"))

    def ch(seq, key, op, val):
        return {
            "seq": seq, "key": key, "op": op,
            "table_schema": "public", "table_name": "employees",
            "old": None,
            "new": None if op == "DELETE" else _json.dumps({"v": val}),
            "ts": f"2024-01-01T00:00:{seq:02d}.000000",
        }

    def run_stream():
        q = (
            changefeed.read_stream(spark, str(feed))
            .writeStream.foreachBatch(t.sink())
            .option("checkpointLocation", str(tmp_path / "ms_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    changefeed.write_chunk(str(feed), [ch(1, "a", "INSERT", 1), ch(2, "b", "INSERT", 2)])
    run_stream()
    assert {r.key for r in t.read().collect()} == {"a", "b"}

    changefeed.write_chunk(
        str(feed), [ch(3, "a", "UPDATE", 10), ch(4, "b", "DELETE", 0), ch(5, "c", "INSERT", 3)]
    )
    run_stream()
    state = {r.key: r for r in t.read().collect()}
    assert set(state) == {"a", "c"}
    assert _json.loads(state["a"].new)["v"] == 10
    assert state["a"].seq == 3

    # replay idempotence: re-applying the WHOLE feed leaves the
    # snapshot bit-identical (merge is a pure function of inputs)
    before = sorted((r.key, r.seq, r.new) for r in t.read().collect())
    t.apply_batch(changefeed.read_batch(spark, str(feed)), 99)
    after = sorted((r.key, r.seq, r.new) for r in t.read().collect())
    assert before == after

    # crash recovery: a dead swap left marker + .old and destroyed the
    # live dir — read() must roll back to the pre-swap snapshot
    _shutil.copytree(t.path, t.path + ".old")
    open(t.path + ".swap", "w").close()
    _shutil.rmtree(t.path)
    restored = sorted((r.key, r.seq, r.new) for r in t.read().collect())
    assert restored == after

    # crash DURING post-commit cleanup: marker already removed (the
    # commit point), rmtree(.old) died half-way leaving a corrupt
    # partial backup. Recovery must keep the committed new snapshot
    # and discard the junk .old — NOT roll back (a rollback here would
    # install the partial backup and silently lose keys).
    import os as _os

    _shutil.copytree(t.path, t.path + ".old")
    for f in list(_os.listdir(t.path + ".old"))[: 1]:
        _os.remove(_os.path.join(t.path + ".old", f))  # corrupt it
    kept = sorted((r.key, r.seq, r.new) for r in t.read().collect())
    assert kept == after
    assert not _os.path.exists(t.path + ".old")


def test_scd2_history_materializer(spark, tmp_path):
    """streaming/materialize.Scd2HistoryTable: every change becomes a
    versioned [valid_from, valid_to) row; a key's prior version closes
    when its next change lands in a LATER batch (cross-batch valid_to
    backfill), and replay rewrites the identical history."""
    import json as _json

    from postgres_cdc_plugin_spark.streaming.materialize import Scd2HistoryTable

    feed = tmp_path / "scd2_feed"
    t = Scd2HistoryTable(spark, str(tmp_path / "history"))

    def ch(seq, key, op, val):
        return {
            "seq": seq, "key": key, "op": op,
            "table_schema": "public", "table_name": "employees",
            "old": None,
            "new": None if op == "DELETE" else _json.dumps({"v": val}),
            "ts": f"2024-01-01T00:00:{seq:02d}.000000",
        }

    def run_stream():
        q = (
            changefeed.read_stream(spark, str(feed))
            .writeStream.foreachBatch(t.sink())
            .option("checkpointLocation", str(tmp_path / "scd2_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    changefeed.write_chunk(str(feed), [ch(1, "a", "INSERT", 1), ch(2, "b", "INSERT", 2)])
    run_stream()
    v1 = {(r.key, r.version): r for r in t.read().collect()}
    assert v1[("a", 1)].valid_to is None  # current while no successor

    changefeed.write_chunk(str(feed), [ch(3, "a", "UPDATE", 10), ch(4, "a", "DELETE", 0)])
    run_stream()
    hist = {(r.key, r.version): r for r in t.read().collect()}
    assert len(hist) == 4
    # cross-batch backfill: version 1 of 'a' closed by the batch-2 UPDATE
    assert hist[("a", 1)].valid_to == hist[("a", 2)].valid_from
    assert hist[("a", 2)].valid_to == hist[("a", 3)].valid_from
    assert hist[("a", 3)].op == "DELETE" and hist[("a", 3)].valid_to is None
    assert hist[("b", 1)].valid_to is None

    # replay: re-applying the whole feed is a no-op
    before = sorted((r.key, r.version, r.seq, str(r.valid_to)) for r in t.read().collect())
    t.apply_batch(changefeed.read_batch(spark, str(feed)), 77)
    after = sorted((r.key, r.version, r.seq, str(r.valid_to)) for r in t.read().collect())
    assert before == after


@pytest.mark.slow  # split-invariance drain over every materializer; the per-ledger bit-equal-to-batch tests stay always-on (r15 verify-gate tier)
def test_materializers_are_batch_split_invariant(spark, tmp_path):
    """Micro-batch boundaries are an accident of arrival timing; the
    materialized latest-state and SCD2 tables must depend only on the
    change CONTENT. Apply one 20-change log as 1, 4, and 7 batches and
    require bit-identical snapshots."""
    import json as _json
    import random as _random

    from postgres_cdc_plugin_spark.streaming.materialize import (
        LatestStateTable,
        Scd2HistoryTable,
    )

    rng = _random.Random(11)
    keys = ["a", "b", "c", "d"]
    changes = []
    for seq in range(1, 21):
        key = rng.choice(keys)
        op = rng.choice(["INSERT", "UPDATE", "UPDATE", "DELETE"])
        changes.append(
            {
                "seq": seq, "key": key, "op": op,
                "table_schema": "public", "table_name": "employees",
                "old": None,
                "new": None if op == "DELETE" else _json.dumps({"v": seq}),
                "ts": f"2024-01-01T00:00:{seq:02d}.000000",
            }
        )

    def snapshots(n_batches, tag):
        feed = tmp_path / f"bsfeed-{tag}"
        state = LatestStateTable(spark, str(tmp_path / f"bs-state-{tag}"))
        hist = Scd2HistoryTable(spark, str(tmp_path / f"bs-hist-{tag}"))
        cuts = sorted(rng.sample(range(1, len(changes)), n_batches - 1)) if n_batches > 1 else []
        bounds = [0, *cuts, len(changes)]
        for i in range(len(bounds) - 1):
            chunk = changes[bounds[i]:bounds[i + 1]]
            changefeed.write_chunk(str(feed), chunk)
            batch = changefeed.read_batch(spark, str(feed))
            # apply ONLY this chunk (read_batch reads the whole dir; filter)
            seqs = {c["seq"] for c in chunk}
            batch = batch.filter(batch.seq.isin(*seqs))
            state.apply_batch(batch, i)
            hist.apply_batch(batch, i)
        s = sorted((r.key, r.seq, r.new) for r in state.read().collect())
        h = sorted(
            (r.key, r.version, r.seq, r.op, str(r.valid_to))
            for r in hist.read().collect()
        )
        return s, h

    base_s, base_h = snapshots(1, "one")
    for n in (4, 7):
        s, h = snapshots(n, f"n{n}")
        assert s == base_s, f"latest-state differs when split into {n} batches"
        assert h == base_h, f"SCD2 history differs when split into {n} batches"


def test_queue_state_machine_fixture_covers_all_statuses(spark, sf_dir):
    """The driver-checkable queue_state_machine query must actually
    EXERCISE the state machine: its deterministic fixture has to land
    events in every terminal state (and leave some PENDING), otherwise
    the oracle hash proves a degenerate fold. Guards against fixture
    drift (e.g. a retry-budget or success-rule edit that collapses all
    events into one status)."""
    from postgres_cdc_plugin_spark.operators.cdc import queue_state_machine

    out = queue_state_machine(spark, sf_dir)
    statuses = {r.status for r in out.select("status").distinct().collect()}
    assert statuses == {"PENDING", "DELIVERED", "FAILED"}
    # and the backoff split covers both schedules
    backoffs = {
        r.retry_backoff
        for r in out.select("retry_backoff").distinct().collect()
    }
    assert backoffs == {"LINEAR", "EXPONENTIAL"}


def test_streaming_postings_index_crash_recovery(spark, tmp_path, sf_dir):
    """A maintainer crash between the postings write and the stats
    write leaves a torn batch (postings present, stats missing — the
    index visibly under-counts); replaying the feed re-derives the
    same batch ids and the batch-overwrite discipline restores the
    EXACT pre-crash search results. The LexicalPostingsIndex analog of
    the queue/materializer crash-recovery cases."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from postgres_cdc_plugin_spark.operators.text import _BM25_TERMS
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming import lexical

    docs = load(spark, sf_dir, "documents")
    feed = tmp_path / "doc_feed_cr"
    feed.mkdir()
    with_ts = docs.withColumn("ts", F.lit("2024-01-01 10:00:00").cast("timestamp"))
    cols = ["doc_id", "text", "lang", "source", "n_chars", "ts"]
    with_ts.filter("doc_id % 2 = 0").select(*cols).coalesce(1).write.parquet(
        str(feed / "chunk_a")
    )
    with_ts.filter("doc_id % 2 = 1").select(*cols).coalesce(1).write.parquet(
        str(feed / "chunk_b")
    )
    idx = lexical.LexicalPostingsIndex(str(tmp_path / "lex_cr"))

    def drain(ckpt):
        src = (
            spark.readStream.schema(lexical.DOC_STREAM_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(str(feed))
        )
        q = idx.attach(src, checkpoint=str(tmp_path / ckpt), available_now=True)
        q.awaitTermination(60)

    drain("ck1")
    healthy = sorted(
        idx.search(spark, _BM25_TERMS).collect(), key=lambda r: r.doc_id
    )
    n_docs = idx.stats(spark).collect()[0].n_docs

    # tear one batch: stats gone (crash before the stats write), a
    # postings data file gone (partial overwrite in flight)
    torn = sorted(os.listdir(idx.stats_dir))[-1]
    shutil.rmtree(os.path.join(idx.stats_dir, torn))
    post_dir = os.path.join(idx.postings_dir, torn)
    part = next(
        os.path.join(r, f)
        for r, _, fs in os.walk(post_dir)
        for f in fs
        if f.endswith(".parquet")
    )
    os.remove(part)
    torn_stats = idx.stats(spark)  # None when the only batch was torn
    assert torn_stats is None or torn_stats.collect()[0].n_docs < n_docs

    # replay from scratch: same files -> same batch ids -> overwrite
    drain("ck2")
    assert idx.stats(spark).collect()[0].n_docs == n_docs
    recovered = sorted(
        idx.search(spark, _BM25_TERMS).collect(), key=lambda r: r.doc_id
    )
    assert recovered == healthy


def test_streaming_hybrid_fusion_matches_batch(spark, tmp_path, sf_dir):
    """Serving coherence for the two-leg retrieval stack: RRF-fusing
    the STREAMED postings index's BM25 search with the batch kNN leg
    (rrf_fuse — the exact kernel docs_hybrid_search uses) reproduces
    the batch hybrid query bit-for-bit. With the index search already
    pinned equal to docs_bm25_search, this closes the chain: live
    index -> fused serving ranking == declared batch query."""
    from pyspark.sql import functions as F

    from postgres_cdc_plugin_spark.operators.similarity import (
        docs_hybrid_search,
        embed_knn,
        rrf_fuse,
    )
    from postgres_cdc_plugin_spark.operators.text import _BM25_TERMS
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming import lexical

    docs = load(spark, sf_dir, "documents")
    feed = tmp_path / "hyb_feed"
    feed.mkdir()
    with_ts = docs.withColumn(
        "ts", F.lit("2024-01-01 10:00:00").cast("timestamp")
    )
    cols = ["doc_id", "text", "lang", "source", "n_chars", "ts"]
    with_ts.select(*cols).coalesce(1).write.parquet(str(feed / "chunk"))

    idx = lexical.LexicalPostingsIndex(str(tmp_path / "hyb_index"))
    src = (
        spark.readStream.schema(lexical.DOC_STREAM_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(str(feed))
    )
    q = idx.attach(
        src, checkpoint=str(tmp_path / "hyb_ck"), available_now=True
    )
    q.awaitTermination(60)

    served = rrf_fuse(
        idx.search(spark, _BM25_TERMS), embed_knn(spark, sf_dir)
    ).collect()
    batch = docs_hybrid_search(spark, sf_dir).collect()
    assert served == batch


def test_scd2_ledger_bit_equal_to_batch_time_travel(spark, tmp_path, sf_dir):
    """Scd2HistoryTable.ledger (the streaming every-day point-in-time
    reconstruction) must be BIT-EQUAL to the batch cdc_time_travel_agg
    over the same change log — same delta-fold kernel, fed from a
    multi-batch streamed history instead of one batch window. Streams
    the whole events table as three capture chunks (so cross-batch
    valid_to backfill is genuinely exercised), then compares every
    (day, n_created, n_closed, n_active, total_value) row."""
    import json as _json

    from postgres_cdc_plugin_spark.operators.cdc import cdc_time_travel_agg
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.materialize import Scd2HistoryTable

    _OP = {"signup": "INSERT", "error": "DELETE"}
    rows = sorted(
        load(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .collect(),
        key=lambda r: r.event_id,
    )

    def ch(r):
        op = _OP.get(r.event_type, "UPDATE")
        return {
            "seq": r.event_id,
            "key": str(r.user_id),
            "op": op,
            "table_schema": "public",
            "table_name": "events",
            "old": None,
            # json.dumps emits the shortest round-trip float literal, so
            # get_json_object -> cast double recovers the EXACT double
            "new": None if op == "DELETE" else _json.dumps({"value": r.value}),
            "ts": r.ts.isoformat(),
        }

    feed = tmp_path / "ledger_feed"
    t = Scd2HistoryTable(spark, str(tmp_path / "ledger_history"))
    third = len(rows) // 3
    for part in (rows[:third], rows[third : 2 * third], rows[2 * third :]):
        changefeed.write_chunk(str(feed), [ch(r) for r in part])
        q = (
            changefeed.read_stream(spark, str(feed))
            .writeStream.foreachBatch(t.sink())
            .option("checkpointLocation", str(tmp_path / "ledger_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    led = sorted(map(tuple, t.ledger().collect()))
    bat = sorted(map(tuple, cdc_time_travel_agg(spark, sf_dir).collect()))
    assert led == bat


def test_active_users_ledger_bit_equal_to_batch(spark, tmp_path, sf_dir):
    """ActiveUsersLedger.rolling must be BIT-EQUAL to the batch
    events_dau_wau_mau over the same event log: the events table
    streams in three micro-batches (maxFilesPerTrigger=1 over three
    parquet files), each batch lands its distinct user-days in its own
    dir, replay-safe; the read-back dedups cross-batch user-days and
    runs the shared rolling kernel. Also pins replay idempotence:
    re-applying a batch rewrites the identical ledger."""
    from postgres_cdc_plugin_spark.operators.analytics import (
        events_dau_wau_mau,
    )
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.engagement import (
        EVENT_STREAM_SCHEMA,
        ActiveUsersLedger,
    )

    feed = str(tmp_path / "engage_feed")
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    ev.repartition(3).write.parquet(feed)

    led = ActiveUsersLedger(str(tmp_path / "engage_ledger"))
    stream = (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = led.attach(
        stream, str(tmp_path / "engage_ck"), available_now=True
    )
    q.awaitTermination(120)

    got = sorted(map(tuple, led.rolling(spark).collect()))
    want = sorted(map(tuple, events_dau_wau_mau(spark, sf_dir).collect()))
    assert got == want

    # replay/duplication idempotence: landing the ENTIRE event log
    # again as one more batch (twice — the second apply overwrites the
    # first's dir) only adds user-days the read-back dedup already
    # covers; the rolling numbers do not move
    led.process_batch(ev, 99)
    led.process_batch(ev, 99)
    again = sorted(map(tuple, led.rolling(spark).collect()))
    assert again == want


def test_url_host_ledger_bit_equal_to_batch(spark, tmp_path, sf_dir):
    """UrlHostLedger.host_stats must be BIT-EQUAL to the batch
    docs_url_host_stats over the same corpus: the documents table
    streams in three micro-batches, each batch canonicalizes through
    the shared _url_parts kernel and lands doc-grain rows in its own
    replay-safe dir; the read-back dedups doc redelivery and runs the
    shared host_stats_from_urls kernel. Also pins replay idempotence
    and redelivery collapse: re-landing the ENTIRE corpus as one more
    batch (twice) does not move the stats."""
    from postgres_cdc_plugin_spark.operators.dedup import docs_url_host_stats
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.urls import (
        DOC_STREAM_SCHEMA,
        UrlHostLedger,
    )

    feed = str(tmp_path / "url_feed")
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    docs.repartition(3).write.parquet(feed)

    led = UrlHostLedger(str(tmp_path / "url_ledger"))
    stream = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = led.attach(stream, str(tmp_path / "url_ck"), available_now=True)
    q.awaitTermination(120)

    got = sorted(map(tuple, led.host_stats(spark).collect()))
    want = sorted(map(tuple, docs_url_host_stats(spark, sf_dir).collect()))
    assert got == want

    led.process_batch(docs, 99)
    led.process_batch(docs, 99)
    again = sorted(map(tuple, led.host_stats(spark).collect()))
    assert again == want


def test_url_host_ledger_incremental_checkpoint_resume(spark, tmp_path, sf_dir):
    """Incremental maintenance across stream restarts: drain wave 1,
    stop, land more feed files, re-attach on the SAME checkpoint — the
    resumed stream must process only the new files, and after each wave
    the ledger equals the batch kernel over exactly the documents seen
    so far."""
    import os

    from postgres_cdc_plugin_spark.operators.dedup import (
        _url_parts,
        host_stats_from_urls,
    )
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.urls import (
        DOC_STREAM_SCHEMA,
        UrlHostLedger,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    wave1 = docs.filter("doc_id % 2 = 0")
    wave2 = docs.filter("doc_id % 2 = 1")
    feed = str(tmp_path / "url_feed_inc")
    wave1.coalesce(1).write.parquet(feed)

    led = UrlHostLedger(str(tmp_path / "url_ledger_inc"))
    ck = str(tmp_path / "url_ck_inc")

    def drain():
        stream = spark.readStream.schema(DOC_STREAM_SCHEMA).parquet(feed)
        q = led.attach(stream, ck, available_now=True)
        q.awaitTermination(120)

    def batch_over(subset):
        return sorted(
            map(tuple, host_stats_from_urls(_url_parts(subset)).collect())
        )

    drain()
    assert sorted(map(tuple, led.host_stats(spark).collect())) == batch_over(
        wave1
    )

    n_batch_dirs = len(
        [d for d in os.listdir(led.out_dir) if d.startswith("batch=")]
    )
    wave2.coalesce(1).write.mode("append").parquet(feed)
    drain()
    assert sorted(map(tuple, led.host_stats(spark).collect())) == batch_over(
        docs
    )
    # the resumed stream added new batch dirs rather than reprocessing
    # wave 1 (checkpoint carries the file-source progress)
    assert (
        len([d for d in os.listdir(led.out_dir) if d.startswith("batch=")])
        > n_batch_dirs
    )


def test_gopher_quality_ledger_bit_equal_to_batch(spark, tmp_path, sf_dir):
    """GopherQualityLedger.verdicts must be BIT-EQUAL to the batch
    docs_gopher_rules over the same corpus (ST-family: the quality
    gate joins the incrementally-maintained ledgers, r7 verdict ask
    #5): the documents table streams in three micro-batches, each
    gated through the shared gopher_rules_df kernel into its own
    replay-safe dir. Also pins replay idempotence and redelivery
    collapse: re-landing the ENTIRE corpus as one more batch (twice)
    does not move the verdicts."""
    from postgres_cdc_plugin_spark.operators.text import docs_gopher_rules
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.quality import (
        GATE_STREAM_SCHEMA,
        GopherQualityLedger,
    )

    feed = str(tmp_path / "gate_feed")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    docs.repartition(3).write.parquet(feed)

    led = GopherQualityLedger(str(tmp_path / "gate_ledger"))
    stream = (
        spark.readStream.schema(GATE_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = led.attach(stream, str(tmp_path / "gate_ck"), available_now=True)
    q.awaitTermination(120)

    got = sorted(map(tuple, led.verdicts(spark).collect()))
    want = sorted(map(tuple, docs_gopher_rules(spark, sf_dir).collect()))
    assert got == want
    # the admitted set is exactly the batch gate's keep set
    kept = sorted(r.doc_id for r in led.kept_docs(spark).collect())
    want_kept = sorted(
        r.doc_id
        for r in docs_gopher_rules(spark, sf_dir).filter("keep").collect()
    )
    assert kept == want_kept

    led.process_batch(docs, 99)
    led.process_batch(docs, 99)
    again = sorted(map(tuple, led.verdicts(spark).collect()))
    assert again == want


def test_gopher_quality_ledger_incremental_checkpoint_resume(
    spark, tmp_path, sf_dir
):
    """Incremental gating across stream restarts: drain wave 1, stop,
    land more feed files, re-attach on the SAME checkpoint — the
    resumed stream must gate only the new files, and after each wave
    the ledger equals the batch kernel over exactly the documents
    seen so far."""
    import os

    from postgres_cdc_plugin_spark.operators.text import gopher_rules_df
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.quality import (
        GATE_STREAM_SCHEMA,
        GopherQualityLedger,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    wave1 = docs.filter("doc_id % 2 = 0")
    wave2 = docs.filter("doc_id % 2 = 1")
    feed = str(tmp_path / "gate_feed_inc")
    wave1.coalesce(1).write.parquet(feed)

    led = GopherQualityLedger(str(tmp_path / "gate_ledger_inc"))
    ck = str(tmp_path / "gate_ck_inc")

    def drain():
        stream = spark.readStream.schema(GATE_STREAM_SCHEMA).parquet(feed)
        q = led.attach(stream, ck, available_now=True)
        q.awaitTermination(120)

    def batch_over(subset):
        return sorted(map(tuple, gopher_rules_df(subset).collect()))

    drain()
    assert sorted(map(tuple, led.verdicts(spark).collect())) == batch_over(
        wave1
    )

    n_batch_dirs = len(
        [d for d in os.listdir(led.out_dir) if d.startswith("batch=")]
    )
    wave2.coalesce(1).write.mode("append").parquet(feed)
    drain()
    assert sorted(map(tuple, led.verdicts(spark).collect())) == batch_over(
        docs
    )
    # the resumed stream added new batch dirs rather than re-gating
    # wave 1 (checkpoint carries the file-source progress)
    assert (
        len([d for d in os.listdir(led.out_dir) if d.startswith("batch=")])
        > n_batch_dirs
    )


def test_c4_line_ledger_bit_equal_to_batch(spark, tmp_path, sf_dir):
    """C4LineLedger.dedup must be BIT-EQUAL to the batch
    docs_c4_line_dedup over the same corpus (ST17): the documents table
    streams in three micro-batches, each landing its line relation
    through the shared c4_lines_of kernel; the read-back dedups doc
    redelivery and runs c4_line_dedup_from verbatim — the keep-first
    decision is made at read time over the full maintained relation,
    so cross-batch duplicates resolve exactly like batch. Also pins
    replay idempotence: re-landing the ENTIRE corpus as one more batch
    (twice) does not move the result."""
    from postgres_cdc_plugin_spark.operators.dedup import docs_c4_line_dedup
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.lines import (
        LINES_STREAM_SCHEMA,
        C4LineLedger,
    )

    feed = str(tmp_path / "lines_feed")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    docs.repartition(3).write.parquet(feed)

    led = C4LineLedger(str(tmp_path / "lines_ledger"))
    stream = (
        spark.readStream.schema(LINES_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = led.attach(stream, str(tmp_path / "lines_ck"), available_now=True)
    q.awaitTermination(120)

    got = sorted(map(tuple, led.dedup(spark).collect()))
    want = sorted(map(tuple, docs_c4_line_dedup(spark, sf_dir).collect()))
    assert got == want

    led.process_batch(docs, 99)
    led.process_batch(docs, 99)
    again = sorted(map(tuple, led.dedup(spark).collect()))
    assert again == want


def test_c4_line_ledger_incremental_checkpoint_resume(spark, tmp_path, sf_dir):
    """Incremental maintenance across stream restarts: drain wave 1,
    stop, land more feed files, re-attach on the SAME checkpoint — the
    resumed stream processes only new files, and after each wave the
    ledger equals the batch kernel over exactly the documents seen so
    far (including keep-first flips: a line first seen in wave 2 can
    still lose to a LOWER doc_id arriving in wave 2, but never steals
    a keeper already owned by wave 1's lower doc_ids)."""
    import os

    from postgres_cdc_plugin_spark.operators.dedup import (
        c4_line_dedup_from,
        c4_lines_of,
    )
    from postgres_cdc_plugin_spark.operators.text import _C4_LINES_EXPR
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.lines import (
        LINES_STREAM_SCHEMA,
        C4LineLedger,
    )
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    wave1 = docs.filter("doc_id % 2 = 0")
    wave2 = docs.filter("doc_id % 2 = 1")
    feed = str(tmp_path / "lines_feed_inc")
    wave1.coalesce(1).write.parquet(feed)

    led = C4LineLedger(str(tmp_path / "lines_ledger_inc"))
    ck = str(tmp_path / "lines_ck_inc")

    def drain():
        stream = spark.readStream.schema(LINES_STREAM_SCHEMA).parquet(feed)
        q = led.attach(stream, ck, available_now=True)
        q.awaitTermination(120)

    def batch_over(subset):
        lined = subset.select(
            "doc_id",
            F.expr("filter(split(text, ' '), x -> x != '')").alias("ws"),
        ).select("doc_id", F.expr(_C4_LINES_EXPR).alias("lines"))
        out = c4_line_dedup_from(
            lined.select("doc_id", F.size("lines").alias("n_lines")),
            c4_lines_of(lined),
        )
        return sorted(map(tuple, out.collect()))

    drain()
    assert sorted(map(tuple, led.dedup(spark).collect())) == batch_over(wave1)

    n_batch_dirs = len(
        [d for d in os.listdir(led.out_dir) if d.startswith("batch=")]
    )
    wave2.coalesce(1).write.mode("append").parquet(feed)
    drain()
    assert sorted(map(tuple, led.dedup(spark).collect())) == batch_over(docs)
    assert (
        len([d for d in os.listdir(led.out_dir) if d.startswith("batch=")])
        > n_batch_dirs
    )


def test_mixture_ledger_bit_equal_to_batch(spark, tmp_path, sf_dir):
    """MixtureLedger.sample must be BIT-EQUAL to the batch
    docs_mixture_sample over the same corpus (ST18): the documents
    table streams in three micro-batches, each landing its per-doc
    admission relation through the shared mixture_doc_relation kernel;
    the read-back dedups doc redelivery and runs mixture_sample_from
    verbatim — quotas and admission are decided at read time over the
    full maintained relation, exactly like batch (the ST17
    global-decision pattern: one late document moves every language's
    quota). Also pins replay idempotence and redelivery collapse:
    re-landing the ENTIRE corpus as one more batch (twice) does not
    move the ledger."""
    from postgres_cdc_plugin_spark.operators.text import docs_mixture_sample
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.mixture import (
        MIX_STREAM_SCHEMA,
        MixtureLedger,
    )

    feed = str(tmp_path / "mix_feed")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    docs.repartition(3).write.parquet(feed)

    led = MixtureLedger(str(tmp_path / "mix_ledger"))
    stream = (
        spark.readStream.schema(MIX_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = led.attach(stream, str(tmp_path / "mix_ck"), available_now=True)
    q.awaitTermination(120)

    got = sorted(map(tuple, led.sample(spark).collect()))
    want = sorted(map(tuple, docs_mixture_sample(spark, sf_dir).collect()))
    assert got == want
    # the admitted set is exactly the batch ledger's selected set
    sel = sorted(r.doc_id for r in led.selected_docs(spark).collect())
    want_sel = sorted(
        r.doc_id
        for r in docs_mixture_sample(spark, sf_dir)
        .filter("selected")
        .collect()
    )
    assert sel == want_sel

    led.process_batch(docs, 99)
    led.process_batch(docs, 99)
    again = sorted(map(tuple, led.sample(spark).collect()))
    assert again == want


def test_mixture_ledger_incremental_checkpoint_resume(spark, tmp_path, sf_dir):
    """Incremental admission across stream restarts: drain wave 1,
    stop, land more feed files, re-attach on the SAME checkpoint — the
    resumed stream lands only the new files, and after each wave the
    ledger equals the batch kernel over exactly the documents seen so
    far. Quotas MOVE between waves (wave 2 changes every language's
    share and temperature), which is exactly why admission is decided
    at read time rather than per batch."""
    import os

    from postgres_cdc_plugin_spark.operators.text import (
        mixture_doc_relation,
        mixture_sample_from,
    )
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.mixture import (
        MIX_STREAM_SCHEMA,
        MixtureLedger,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    wave1 = docs.filter("doc_id % 2 = 0")
    wave2 = docs.filter("doc_id % 2 = 1")
    feed = str(tmp_path / "mix_feed_inc")
    wave1.coalesce(1).write.parquet(feed)

    led = MixtureLedger(str(tmp_path / "mix_ledger_inc"))
    ck = str(tmp_path / "mix_ck_inc")

    def drain():
        stream = spark.readStream.schema(MIX_STREAM_SCHEMA).parquet(feed)
        q = led.attach(stream, ck, available_now=True)
        q.awaitTermination(120)

    def batch_over(subset):
        out = mixture_sample_from(mixture_doc_relation(subset))
        return sorted(map(tuple, out.collect()))

    drain()
    assert sorted(map(tuple, led.sample(spark).collect())) == batch_over(
        wave1
    )

    n_batch_dirs = len(
        [d for d in os.listdir(led.out_dir) if d.startswith("batch=")]
    )
    wave2.coalesce(1).write.mode("append").parquet(feed)
    drain()
    assert sorted(map(tuple, led.sample(spark).collect())) == batch_over(docs)
    # the resumed stream added new batch dirs rather than re-landing
    # wave 1 (checkpoint carries the file-source progress)
    assert (
        len([d for d in os.listdir(led.out_dir) if d.startswith("batch=")])
        > n_batch_dirs
    )


def test_mixture_ledger_serves_unimax_bit_equal_with_resume(
    spark, tmp_path, sf_dir
):
    """ST18's second read-time consumer (r11, r10 verdict ask #3): the
    maintained per-doc relation already IS the UniMax input, so
    unimax_alloc()/unimax_sample() must be bit-equal to the batch
    unimax_alloc_from / docs_unimax_sample over the documents seen so
    far — after the first wave, after a checkpoint-resumed second wave
    (the water-fill quotas MOVE: wave 2 changes every language's
    corpus size, hence the capped set, the leftover split, the
    whole-epoch copy counts, and the remainder-prefix cutoff), and
    after redelivering the full corpus as an extra batch (collapse)."""
    import os

    from postgres_cdc_plugin_spark.operators.text import (
        mixture_doc_relation,
        unimax_alloc_from,
        unimax_sample_from,
    )
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.mixture import (
        MIX_STREAM_SCHEMA,
        MixtureLedger,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    wave1 = docs.filter("doc_id % 2 = 0")
    feed = str(tmp_path / "um_feed")
    wave1.coalesce(1).write.parquet(feed)

    led = MixtureLedger(str(tmp_path / "um_ledger"))
    ck = str(tmp_path / "um_ck")

    def drain():
        stream = spark.readStream.schema(MIX_STREAM_SCHEMA).parquet(feed)
        led.attach(stream, ck, available_now=True).awaitTermination(120)

    def batch(fn, subset):
        return sorted(map(tuple, fn(mixture_doc_relation(subset)).collect()))

    def got(fn):
        return sorted(map(tuple, fn(spark).collect()))

    drain()
    assert got(led.unimax_alloc) == batch(unimax_alloc_from, wave1)
    w1_sample = batch(unimax_sample_from, wave1)
    assert got(led.unimax_sample) == w1_sample

    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(
        feed
    )
    drain()
    full_sample = batch(unimax_sample_from, docs)
    assert got(led.unimax_alloc) == batch(unimax_alloc_from, docs)
    assert got(led.unimax_sample) == full_sample
    # the quotas really moved between waves (otherwise this test pins
    # nothing about read-time recomputation)
    assert full_sample != w1_sample

    led.process_batch(docs, 999)  # redelivery collapses via distinct
    assert got(led.unimax_sample) == full_sample


@pytest.mark.slow  # torn-batch replay drain; crash-recovery coverage stays via test_streaming_postings_index_crash_recovery and the url-host incremental resume (r15 verify-gate tier)
def test_torn_batches_are_invisible_until_replay(spark, tmp_path, sf_dir):
    """Crash-window safety across the ledger family (r8-advice class,
    generalized in r9 via streaming/ledger.committed_batch_dirs): a
    batch directory whose parquet job never committed — no _SUCCESS, or
    one sibling relation missing — must be INVISIBLE to every read-back
    (neither a crash nor a half-read), and replaying the batch through
    process_batch makes it appear atomically with the exact rows the
    completed batch produces."""
    import os
    import shutil

    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.lexical import (
        LexicalPostingsIndex,
    )
    from postgres_cdc_plugin_spark.streaming.lines import C4LineLedger
    from postgres_cdc_plugin_spark.streaming.mixture import MixtureLedger
    from postgres_cdc_plugin_spark.streaming.quality import (
        GopherQualityLedger,
    )

    docs = load(spark, sf_dir, "documents")
    wave1 = docs.filter("doc_id % 2 = 0")
    wave2 = docs.filter("doc_id % 2 = 1")

    def snap(df):
        return sorted(map(tuple, df.collect()))

    # --- single-relation ledger: un-committed dir must be skipped ----
    gq = GopherQualityLedger(str(tmp_path / "gq"))
    gq.process_batch(wave1.select("doc_id", "text"), 0)
    before = snap(gq.verdicts(spark))
    torn = os.path.join(gq.out_dir, "batch=1")
    os.makedirs(os.path.join(torn, "_temporary"))  # crashed mid-write
    assert snap(gq.verdicts(spark)) == before
    gq.process_batch(wave2.select("doc_id", "text"), 1)  # the replay
    assert len(snap(gq.verdicts(spark))) == docs.count()

    # --- two-relation ledger (docs+lines): half-written batch hidden -
    cl = C4LineLedger(str(tmp_path / "cl"))
    cl.process_batch(wave1.select("doc_id", "text"), 0)
    before = snap(cl.dedup(spark))
    # simulate the crash between the two writes: lines landed, docs not
    full = os.path.join(cl.out_dir, "batch=1")
    cl.process_batch(wave2.select("doc_id", "text"), 1)
    shutil.rmtree(os.path.join(full, "docs"))
    assert snap(cl.dedup(spark)) == before
    cl.process_batch(wave2.select("doc_id", "text"), 1)  # replay heals
    assert len(snap(cl.dedup(spark))) == docs.count()

    # --- two-root ledger (postings+stats): stats-less batch hidden ---
    lx = LexicalPostingsIndex(str(tmp_path / "lx"))
    lx.process_batch(wave1.select("doc_id", "text"), 0)
    n_docs_before = lx.stats(spark).collect()[0].n_docs
    lx.process_batch(wave2.select("doc_id", "text"), 1)
    shutil.rmtree(os.path.join(lx.stats_dir, "batch=1"))
    assert lx.stats(spark).collect()[0].n_docs == n_docs_before
    assert snap(lx.postings(spark).select("doc_id").distinct()) == snap(
        wave1.select("doc_id")
    )
    lx.process_batch(wave2.select("doc_id", "text"), 1)
    assert lx.stats(spark).collect()[0].n_docs == docs.count()

    # --- global-decision ledger: torn batch doesn't move admission ---
    mx = MixtureLedger(str(tmp_path / "mx"))
    mx.process_batch(wave1.select("doc_id", "text", "lang"), 0)
    before = snap(mx.sample(spark))
    os.makedirs(os.path.join(mx.out_dir, "batch=1", "_temporary"))
    assert snap(mx.sample(spark)) == before
    mx.process_batch(wave2.select("doc_id", "text", "lang"), 1)
    assert len(snap(mx.sample(spark))) == docs.count()

    # --- global-decision ledger (ST20): torn batch can't merge or
    # relabel clusters ---
    from postgres_cdc_plugin_spark.streaming.neardup import (
        NearDupClusterLedger,
    )

    nd_cols = ("doc_id", "text", "lang", "source", "n_chars")
    nd = NearDupClusterLedger(str(tmp_path / "nd"))
    nd.process_batch(wave1.select(*nd_cols), 0)
    before = snap(nd.softdedup_weights(spark))
    os.makedirs(os.path.join(nd.out_dir, "batch=1", "_temporary"))
    assert snap(nd.softdedup_weights(spark)) == before
    nd.process_batch(wave2.select(*nd_cols), 1)
    assert len(snap(nd.softdedup_weights(spark))) == docs.count()

    # --- two-relation LM ledger (ST21): grams landed, docs not — the
    # half-written batch must not move the model ---
    from postgres_cdc_plugin_spark.streaming.lm import BigramCountsLedger

    lm = BigramCountsLedger(str(tmp_path / "lm"))
    lm.process_batch(wave1.select("doc_id", "text", "lang"), 0)
    before = snap(lm.kn_band(spark))
    lm.process_batch(wave2.select("doc_id", "text", "lang"), 1)
    shutil.rmtree(os.path.join(lm.docs_dir, "batch=1"))
    assert snap(lm.kn_band(spark)) == before
    lm.process_batch(wave2.select("doc_id", "text", "lang"), 1)  # replay
    assert len(snap(lm.kn_surprisal(spark).select("doc_id"))) <= docs.count()
    assert sum(r.n_docs for r in lm.kn_band(spark).collect()) == docs.count()


def test_disabled_success_marker_fails_loudly(spark, tmp_path, sf_dir):
    """If mapreduce.fileoutputcommitter.marksuccessfuljobs is disabled,
    every committed batch looks complete (files moved out of
    _temporary) but carries no _SUCCESS — under the r8 visibility rule
    that made every read-back silently return None FOREVER. The guard
    (r9 advice #2) distinguishes that signature from a genuinely torn
    batch and raises instead of hiding all data."""
    import os

    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.lines import C4LineLedger
    from postgres_cdc_plugin_spark.streaming.quality import (
        GopherQualityLedger,
    )

    docs = load(spark, sf_dir, "documents").limit(8)

    # single-relation ledger
    gq = GopherQualityLedger(str(tmp_path / "gq"))
    gq.process_batch(docs.select("doc_id", "text"), 0)
    os.remove(os.path.join(gq.out_dir, "batch=0", "_SUCCESS"))
    with pytest.raises(RuntimeError, match="marksuccessfuljobs"):
        gq.verdicts(spark)
    # one unmarked dir BESIDE a committed batch is the racing-reader
    # window, not the disabled-marker signature: no raise, batch hidden
    gq.process_batch(docs.select("doc_id", "text"), 1)
    assert gq.verdicts(spark) is not None

    # nested two-relation ledger
    cl = C4LineLedger(str(tmp_path / "cl"))
    cl.process_batch(docs.select("doc_id", "text"), 0)
    for sub in ("docs", "lines"):
        os.remove(os.path.join(cl.out_dir, "batch=0", sub, "_SUCCESS"))
    with pytest.raises(RuntimeError, match="marksuccessfuljobs"):
        cl.dedup(spark)


def test_ingest_pipeline_bit_equal_to_batch_chain(spark, tmp_path, sf_dir):
    """ST19: the composed streaming ingest pipeline (gate -> C4 line
    dedup -> mixture admission over one multi-batch feed) must be
    BIT-EQUAL to the batch chain of the same kernels
    (docs_ingest_chain). Also pins redelivery collapse: re-landing the
    ENTIRE corpus as one more batch (twice) does not move any composed
    surface — gate verdicts, dedup rollup, or admission."""
    from postgres_cdc_plugin_spark.operators.dedup import c4_line_dedup_from
    from postgres_cdc_plugin_spark.operators.text import (
        docs_ingest_chain,
        gopher_rules_df,
    )
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.ingest import (
        INGEST_STREAM_SCHEMA,
        IngestPipeline,
    )

    feed = str(tmp_path / "ingest_feed")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    docs.repartition(3).write.parquet(feed)

    pipe = IngestPipeline(str(tmp_path / "ingest"))
    stream = (
        spark.readStream.schema(INGEST_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = pipe.attach(stream, str(tmp_path / "ingest_ck"), available_now=True)
    q.awaitTermination(120)

    def snap(df):
        return sorted(map(tuple, df.collect()))

    want = snap(docs_ingest_chain(spark, sf_dir))
    assert snap(pipe.sample(spark)) == want
    # the gate surface equals the batch gate over the full corpus
    assert snap(pipe.verdicts(spark)) == snap(gopher_rules_df(docs))
    # the dedup surface equals the batch line-dedup over the GATED set
    from pyspark.sql import functions as F

    from postgres_cdc_plugin_spark.operators.dedup import c4_lines_of
    from postgres_cdc_plugin_spark.operators.text import _C4_LINES_EXPR

    gated = docs.join(
        gopher_rules_df(docs).filter("keep").select("doc_id"), "doc_id"
    )
    lined = gated.select(
        "doc_id", F.expr("filter(split(text, ' '), x -> x != '')").alias("ws")
    ).select("doc_id", F.expr(_C4_LINES_EXPR).alias("lines"))
    want_dedup = snap(
        c4_line_dedup_from(
            lined.select("doc_id", F.size("lines").alias("n_lines")),
            c4_lines_of(lined),
        )
    )
    assert snap(pipe.dedup(spark)) == want_dedup
    # a gated-out document never reaches the mixture ledger
    dropped = {
        r.doc_id for r in gopher_rules_df(docs).filter("NOT keep").collect()
    }
    if dropped:
        sampled = {r.doc_id for r in pipe.sample(spark).collect()}
        assert not (dropped & sampled)
    # redelivery collapse
    pipe.process_batch(docs, 99)
    pipe.process_batch(docs, 99)
    assert snap(pipe.sample(spark)) == want
    assert snap(pipe.dedup(spark)) == want_dedup


@pytest.mark.slow  # full-pipeline resume drain; gate semantics stay pinned by test_ingest_pipeline_bit_equal_to_batch_chain (r15 verify-gate tier)
def test_ingest_pipeline_checkpoint_resume_respects_gate(
    spark, tmp_path, sf_dir
):
    """ST19 cross-ledger resume: drain wave 1, stop, land wave 2 on the
    SAME checkpoint — after each wave every composed surface equals the
    batch chain over exactly the documents seen so far (quotas and
    keep-first verdicts MOVE between waves), and a document the gate
    dropped in wave 1 must never surface in langs/lines/admission after
    the resume."""
    import os

    from postgres_cdc_plugin_spark.operators.text import (
        CHAIN_STAGES,
        gopher_rules_df,
        ingest_chain_stages,
    )
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.ingest import (
        INGEST_STREAM_SCHEMA,
        IngestPipeline,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    wave1 = docs.filter("doc_id % 2 = 0")
    wave2 = docs.filter("doc_id % 2 = 1")
    feed = str(tmp_path / "ingest_feed_inc")
    wave1.coalesce(1).write.parquet(feed)

    pipe = IngestPipeline(str(tmp_path / "ingest_inc"))
    ck = str(tmp_path / "ingest_ck_inc")

    def drain():
        stream = spark.readStream.schema(INGEST_STREAM_SCHEMA).parquet(feed)
        q = pipe.attach(stream, ck, available_now=True)
        q.awaitTermination(120)

    def snap(df):
        return sorted(map(tuple, df.collect()))

    drain()
    assert snap(pipe.sample(spark)) == snap(
        ingest_chain_stages(wave1, CHAIN_STAGES).sample
    )

    n_before = len(
        [d for d in os.listdir(pipe.langs_dir) if d.startswith("batch=")]
    )
    wave2.coalesce(1).write.mode("append").parquet(feed)
    drain()
    assert snap(pipe.sample(spark)) == snap(
        ingest_chain_stages(docs, CHAIN_STAGES).sample
    )
    # the resumed stream landed only the new files
    assert (
        len([d for d in os.listdir(pipe.langs_dir) if d.startswith("batch=")])
        > n_before
    )
    # gate discipline across the resume: every doc in the maintained
    # langs relation is gate-kept; every dropped doc is absent
    kept = {
        r.doc_id for r in gopher_rules_df(docs).filter("keep").collect()
    }
    langs_docs = {
        r.doc_id
        for r in spark.read.parquet(
            *(
                os.path.join(pipe.langs_dir, d)
                for d in os.listdir(pipe.langs_dir)
                if d.startswith("batch=")
            )
        ).collect()
    }
    assert langs_docs <= kept


@pytest.mark.slow  # torn-substage drain; the atomic-commit contract stays via test_torn_batches' cheap siblings (r15 verify-gate tier)
def test_ingest_pipeline_torn_substage_is_invisible(spark, tmp_path, sf_dir):
    """ST19 atomicity: a crash between the pipeline's three sub-writes
    (gate landed, langs landed, lines NOT) must leave the batch
    invisible to EVERY composed surface; replay makes it appear
    atomically."""
    import os
    import shutil

    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.ingest import IngestPipeline

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    wave1 = docs.filter("doc_id % 2 = 0")
    wave2 = docs.filter("doc_id % 2 = 1")

    pipe = IngestPipeline(str(tmp_path / "ingest_torn"))
    pipe.process_batch(wave1, 0)

    def snap(df):
        return sorted(map(tuple, df.collect()))

    before_sample = snap(pipe.sample(spark))
    before_verdicts = snap(pipe.verdicts(spark))
    # simulate the crash: batch 1 lands gate + langs but not lines
    pipe.process_batch(wave2, 1)
    shutil.rmtree(os.path.join(pipe.lines.out_dir, "batch=1"))
    assert snap(pipe.sample(spark)) == before_sample
    assert snap(pipe.verdicts(spark)) == before_verdicts
    # the replay completes the batch atomically
    pipe.process_batch(wave2, 1)
    assert len(snap(pipe.verdicts(spark))) == docs.count()


@pytest.mark.slow  # resume drain; the ledger's bit-equality stays via test_streaming_neardup_index (r15 verify-gate tier)
def test_neardup_cluster_ledger_bit_equal_with_resume(spark, tmp_path, sf_dir):
    """ST20 (r11): the streaming near-dup CLUSTER ledger must be
    bit-equal to all three batch cluster policies over the documents
    seen so far — after wave 1 (even doc_ids), after a
    checkpoint-resumed wave 2 (odds), and after redelivering the full
    corpus as an extra batch. Cluster membership is a GLOBAL decision:
    wave 2 adds members to (and merges) wave-1 components, so at least
    one wave-1 document's weight must MOVE between waves — the reason
    labels are decided at read time, not per batch."""
    from postgres_cdc_plugin_spark.operators.dedup import (
        cluster_survivors_from,
        dup_clusters_from,
        softdedup_weights_from,
        _simhash_pairs_df,
    )
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.neardup import (
        NEARDUP_STREAM_SCHEMA,
        NearDupClusterLedger,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    wave1 = docs.filter("doc_id % 2 = 0")
    feed = str(tmp_path / "nd_feed")
    wave1.coalesce(1).write.parquet(feed)

    led = NearDupClusterLedger(str(tmp_path / "nd_ledger"))
    ck = str(tmp_path / "nd_ck")

    def drain():
        stream = spark.readStream.schema(NEARDUP_STREAM_SCHEMA).parquet(feed)
        led.attach(stream, ck, available_now=True).awaitTermination(120)

    def batch(fn, subset):
        return sorted(
            map(tuple, fn(spark, subset, _simhash_pairs_df(subset)).collect())
        )

    drain()
    w1_weights = batch(softdedup_weights_from, wave1)
    assert sorted(map(tuple, led.softdedup_weights(spark).collect())) == (
        w1_weights
    )
    assert sorted(map(tuple, led.survivors(spark).collect())) == batch(
        cluster_survivors_from, wave1
    )
    w1_clusters = sorted(
        map(tuple, dup_clusters_from(spark, _simhash_pairs_df(wave1)).collect())
    )
    assert sorted(map(tuple, led.clusters(spark).collect())) == w1_clusters

    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(
        feed
    )
    drain()
    full_weights = batch(softdedup_weights_from, docs)
    assert sorted(map(tuple, led.softdedup_weights(spark).collect())) == (
        full_weights
    )
    assert sorted(map(tuple, led.survivors(spark).collect())) == batch(
        cluster_survivors_from, docs
    )
    # cluster movement: some even doc's weight changed when the odd
    # wave connected it into a component (read-time recomputation is
    # load-bearing, not decorative)
    w1 = {t[0]: t for t in w1_weights}
    moved = [
        t for t in full_weights if t[0] % 2 == 0 and w1[t[0]] != t
    ]
    assert moved

    led.process_batch(docs, 999)  # redelivery collapses via distinct
    assert sorted(map(tuple, led.softdedup_weights(spark).collect())) == (
        full_weights
    )


def test_lm_ledger_serves_kn_family_bit_equal_with_resume(
    spark, tmp_path, sf_dir
):
    """ST21 (r11): the streaming LM-counts ledger must be bit-equal to
    all three batch KN surfaces over the documents seen so far — after
    wave 1, after a checkpoint-resumed wave 2 (the MODEL moves: new
    documents change corpus counts, context totals, the type total,
    hence every p_kn and band verdict), and after redelivering the
    full corpus as an extra batch. The KN model is a global decision —
    the reason scores are computed at read time, not per batch."""
    import os

    from pyspark.sql import functions as F

    from postgres_cdc_plugin_spark.operators.text import (
        docs_kn_band,
        docs_kn_surprisal,
        token_kneser_ney,
    )
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.lm import (
        LM_STREAM_SCHEMA,
        BigramCountsLedger,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    wave1 = docs.filter("doc_id % 2 = 0")
    feed = str(tmp_path / "lm_feed")
    wave1.coalesce(1).write.parquet(feed)

    led = BigramCountsLedger(str(tmp_path / "lm_ledger"))
    ck = str(tmp_path / "lm_ck")

    def drain():
        stream = spark.readStream.schema(LM_STREAM_SCHEMA).parquet(feed)
        led.attach(stream, ck, available_now=True).awaitTermination(120)

    def snap(df):
        return sorted(map(tuple, df.collect()))

    # batch references over a subset go through a parquet roundtrip so
    # load() sees the same physical corpus shape
    def batch_over(subset_dir):
        return (
            snap(token_kneser_ney(spark, subset_dir)),
            snap(docs_kn_surprisal(spark, subset_dir)),
            snap(docs_kn_band(spark, subset_dir)),
        )

    w1_dir = str(tmp_path / "w1_sf")
    wave1.select("doc_id", "text", "lang").withColumn(
        "source", F.lit("s")
    ).withColumn("n_chars", F.length("text")).write.parquet(
        os.path.join(w1_dir, "documents.parquet")
    )
    drain()
    kn1, sur1, band1 = batch_over(w1_dir)
    assert snap(led.kneser_ney(spark)) == kn1
    assert snap(led.kn_surprisal(spark)) == sur1
    assert snap(led.kn_band(spark)) == band1

    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(
        feed
    )
    drain()
    knF, surF, bandF = batch_over(sf_dir)
    assert snap(led.kneser_ney(spark)) == knF
    assert snap(led.kn_surprisal(spark)) == surF
    assert snap(led.kn_band(spark)) == bandF
    # the model really moved between waves (read-time recomputation is
    # load-bearing): some wave-1 doc's surprisal changed under the
    # fuller model
    s1 = dict((t[0], t) for t in sur1)
    assert any(t[0] in s1 and s1[t[0]] != t for t in surF)

    led.process_batch(docs, 999)  # redelivery collapses via distinct
    assert snap(led.kn_surprisal(spark)) == surF


@pytest.mark.slow  # resume drain; nd-chain equality stays via the sf-parity oracle + test_ingest_pipeline_bit_equal_to_batch_chain (r15 verify-gate tier)
def test_ingest_pipeline_nd_bit_equal_with_resume(spark, tmp_path, sf_dir):
    """The four-stage composed surface (r11): sample_nd() must be
    bit-equal to the batch docs_ingest_chain_nd over the documents
    seen so far — after wave 1, after a checkpoint-resumed wave 2
    (cluster labels AND quotas move), and after redelivering the full
    corpus as an extra batch. Also pins the stage contract: a cluster
    loser never surfaces in the admission ledger, and the four-stage
    admission is a (weak) subset-shift of the three-stage one on the
    same corpus (losers' token mass moved every quota)."""
    from postgres_cdc_plugin_spark.operators.text import (
        CHAIN_ND_STAGES,
        docs_ingest_chain_nd,
        ingest_chain_stages,
    )
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.ingest import (
        INGEST_STREAM_SCHEMA,
        IngestPipeline,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    wave1 = docs.filter("doc_id % 2 = 0")
    feed = str(tmp_path / "nd_ingest_feed")
    wave1.coalesce(1).write.parquet(feed)

    pipe = IngestPipeline(str(tmp_path / "nd_ingest"))
    ck = str(tmp_path / "nd_ingest_ck")

    def drain():
        stream = spark.readStream.schema(INGEST_STREAM_SCHEMA).parquet(feed)
        pipe.attach(stream, ck, available_now=True).awaitTermination(120)

    def snap(df):
        return sorted(map(tuple, df.collect()))

    drain()
    w1 = snap(ingest_chain_stages(wave1, CHAIN_ND_STAGES).sample)
    assert snap(pipe.sample_nd(spark)) == w1

    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(
        feed
    )
    drain()
    want = snap(docs_ingest_chain_nd(spark, sf_dir))
    assert snap(pipe.sample_nd(spark)) == want
    assert want != w1  # labels/quotas really moved between waves

    # stage contract: no cluster loser in the four-stage ledger, and
    # the three-stage ledger contains every nd doc (same gate)
    nd_ids = {t[0] for t in want}
    three_ids = {r.doc_id for r in pipe.sample(spark).collect()}
    assert nd_ids <= three_ids and nd_ids != three_ids

    pipe.process_batch(docs, 999)  # redelivery collapses via distinct
    assert snap(pipe.sample_nd(spark)) == want

@pytest.mark.slow  # resume drain; kn-chain equality stays via the sf-parity oracle + the audit agreement property (r15 verify-gate tier)
def test_ingest_pipeline_kn_bit_equal_with_resume(spark, tmp_path, sf_dir):
    """The five-stage composed surface (r12, r11 ask #5): sample_kn()
    must be bit-equal to the batch docs_ingest_chain_kn over the
    documents seen so far — after wave 1, after a checkpoint-resumed
    wave 2 (the KN model moves: wave-2 bigrams change every p_kn and
    therefore wave-1 band verdicts; cluster labels AND quotas move
    too), and after redelivering the full corpus as an extra batch.
    Also pins the stage contract: the five-stage document set is a
    strict subset of the THREE-stage (gated) set — NOT of the
    four-stage one: KN-dropping a doc removes its near-dup edges, so
    a former cluster loser can legitimately survive the five-stage
    chain (its canonical was band-dropped) — and the KN band really
    dropped documents the near-dup stage had kept."""
    from postgres_cdc_plugin_spark.operators.text import (
        INGEST_STAGES,
        docs_ingest_chain_kn,
        ingest_chain_stages,
    )
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.ingest import (
        INGEST_STREAM_SCHEMA,
        IngestPipeline,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    wave1 = docs.filter("doc_id % 2 = 0")
    feed = str(tmp_path / "kn_ingest_feed")
    wave1.coalesce(1).write.parquet(feed)

    pipe = IngestPipeline(str(tmp_path / "kn_ingest"))
    ck = str(tmp_path / "kn_ingest_ck")

    def drain():
        stream = spark.readStream.schema(INGEST_STREAM_SCHEMA).parquet(feed)
        pipe.attach(stream, ck, available_now=True).awaitTermination(120)

    def snap(df):
        return sorted(map(tuple, df.collect()))

    drain()
    w1 = snap(ingest_chain_stages(wave1, INGEST_STAGES).sample)
    assert snap(pipe.sample_kn(spark)) == w1

    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(
        feed
    )
    drain()
    want = snap(docs_ingest_chain_kn(spark, sf_dir))
    assert snap(pipe.sample_kn(spark)) == want
    assert want != w1  # the model/labels/quotas really moved

    # stage contract: every five-stage doc passed the gate (subset of
    # the three-stage ledger), and the band dropped docs the four-stage
    # chain had kept (the new stage has teeth on this corpus)
    kn_ids = {t[0] for t in want}
    three_ids = {r.doc_id for r in pipe.sample(spark).collect()}
    nd_ids = {r.doc_id for r in pipe.sample_nd(spark).collect()}
    assert kn_ids <= three_ids and kn_ids != three_ids
    assert nd_ids - kn_ids

    pipe.process_batch(docs, 999)  # redelivery collapses via distinct
    assert snap(pipe.sample_kn(spark)) == want


@pytest.mark.slow  # six-stage streaming drain; contam equality stays via the sf-parity oracle + test_ingest_pipeline_audit_bit_equal sibling stages (r15 verify-gate tier)
def test_ingest_pipeline_contam_bit_equal_to_batch_chain(
    spark, tmp_path, sf_dir
):
    """The six-stage composed surface (r14, r13 verdict ask #4):
    sample_contam() must be bit-equal to the batch
    docs_ingest_chain_contam over the documents seen so far — after
    wave 1 (against the chain kernel over the wave-1 subset with the
    SAME external benchmark), after a checkpoint-resumed wave 2 (the
    full corpus: the batch anchor's own src0-derived benchmark), and
    after redelivering the full corpus as an extra batch. Also pins
    the terminal-stage contract: train ⊆ selected with the subset
    strict (decontam has teeth), and no benchmark-split document is
    ever in train (its grams ARE benchmark grams — uniform probe)."""
    from postgres_cdc_plugin_spark.operators.text import (
        INGEST_STAGES,
        _contam_hits_gated,
        contam_sample_from,
        docs_ingest_chain_contam,
        ingest_chain_stages,
    )
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.ingest import (
        INGEST_STREAM_SCHEMA,
        IngestPipeline,
    )

    full = load(spark, sf_dir, "documents")
    docs = full.select("doc_id", "text", "lang")
    bench = full.filter("source = 'src0'").select("doc_id", "text")
    wave1 = docs.filter("doc_id % 2 = 0")
    feed = str(tmp_path / "contam_ingest_feed")
    wave1.coalesce(1).write.parquet(feed)

    pipe = IngestPipeline(str(tmp_path / "contam_ingest"))
    ck = str(tmp_path / "contam_ingest_ck")

    def drain():
        stream = spark.readStream.schema(INGEST_STREAM_SCHEMA).parquet(feed)
        pipe.attach(stream, ck, available_now=True).awaitTermination(120)

    def snap(df):
        return sorted(map(tuple, df.collect()))

    drain()
    st = ingest_chain_stages(wave1, INGEST_STAGES)
    w1 = snap(
        contam_sample_from(
            st.sample, _contam_hits_gated(wave1, st.gate, bench)
        )
    )
    assert snap(pipe.sample_contam(spark, bench)) == w1

    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(
        feed
    )
    drain()
    want = snap(docs_ingest_chain_contam(spark, sf_dir))
    assert snap(pipe.sample_contam(spark, bench)) == want
    assert want != w1  # quotas/verdicts really moved with wave 2

    rows = pipe.sample_contam(spark, bench).collect()
    train_ids = {r.doc_id for r in rows if r.train}
    sel_ids = {r.doc_id for r in rows if r.selected}
    assert train_ids < sel_ids  # terminal stage: strict subset
    bench_ids = {r.doc_id for r in bench.collect()}
    assert not (train_ids & bench_ids)  # the eval split never trains

    pipe.process_batch(docs, 999)  # redelivery collapses via distinct
    assert snap(pipe.sample_contam(spark, bench)) == want


@pytest.mark.slow  # wave-cache eviction drain; cache keying stays exercised by every other pipeline test (r15 verify-gate tier)
def test_ingest_wave_cache_is_bounded_and_shared(spark, tmp_path, sf_dir):
    """The bounded per-wave cache discipline (r13 — the r12 sample_kn
    leak finding generalized): within one wave, a second consumer
    (audit after sample_kn) must REUSE the cached stage relations (same
    DataFrame object back, no rebuild); when the committed batch set
    moves, every stale entry must be UNPERSISTED before its key is
    rebound — a polling consumer holds at most one cache entry per key,
    never one per wave."""
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.ingest import IngestPipeline

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    bench = (
        load(spark, sf_dir, "documents")
        .filter("source = 'src0'")
        .select("doc_id", "text")
    )
    pipe = IngestPipeline(str(tmp_path / "wave_cache"))
    pipe.process_batch(docs.filter("doc_id % 2 = 0"), 0)

    pipe.sample_kn(spark).write.format("noop").mode("overwrite").save()
    wave1 = dict(pipe._wave_cache)
    assert set(wave1) >= {"kn_ids", "kn_losers", "kn_admit"}
    # same wave, second consumer: every entry is handed back, not rebuilt
    pipe.audit(spark, bench).write.format("noop").mode("overwrite").save()
    for key, (ids, df) in wave1.items():
        assert pipe._wave_cache[key][1] is df, f"{key} rebuilt within a wave"
        assert df.storageLevel.useMemory, f"{key} not persisted"
    assert "contam_hits" in pipe._wave_cache  # the audit's 7th-row input

    # new wave: stale entries unpersisted, keys rebound to fresh plans
    pipe.process_batch(docs.filter("doc_id % 2 = 1"), 1)
    pipe.sample_kn(spark).write.format("noop").mode("overwrite").save()
    pipe.audit(spark, bench).write.format("noop").mode("overwrite").save()
    for key, (ids, df) in wave1.items():
        if key in pipe._wave_cache:
            assert pipe._wave_cache[key][1] is not df, f"{key} stale reuse"
        assert not df.storageLevel.useMemory, f"{key} leaked across waves"
    # sample_nd shares the discipline through its own key
    pipe.sample_nd(spark).write.format("noop").mode("overwrite").save()
    assert "nd_losers" in pipe._wave_cache

    # dedup() shares it too (r13 verdict ask #5): a second call in the
    # same wave hands back the SAME persisted DataFrame, not a rebuild
    d1 = pipe.dedup(spark)
    d1.write.format("noop").mode("overwrite").save()
    assert pipe.dedup(spark) is d1
    assert d1.storageLevel.useMemory

    # replayed in-place overwrite of an ALREADY-COMMITTED batch (same
    # id set, same rows, new files): the mtime fingerprint in the wave
    # token must invalidate the cached plan — serving the old one would
    # reference the pre-overwrite parquet files (r13 advice), and the
    # stale entry must be unpersisted on rebind
    tok1 = pipe._wave_cache["line_dedup"][0]
    pipe.process_batch(docs.filter("doc_id % 2 = 1"), 1)
    d2 = pipe.dedup(spark)
    assert d2 is not d1
    # the rebound token moved on the SAME id set (the mtime component
    # did the work); d1.storageLevel is unobservable here — Spark keys
    # cache lookups by plan equality and d2's plan equals d1's, so the
    # rebind is witnessed through the cache map, not the storage level
    tok2 = pipe._wave_cache["line_dedup"][0]
    assert tok1[0] == tok2[0] and tok1 != tok2
    assert sorted(map(tuple, d2.collect())) == sorted(map(tuple, d1.collect()))


@pytest.mark.slow  # resume drain; audit equality stays via test_ingest_chain_audit_agrees_with_the_chain + its oracle (r15 verify-gate tier)
def test_ingest_pipeline_audit_bit_equal_with_resume(spark, tmp_path, sf_dir):
    """The streaming stage-attrition audit (r13, r12 verdict ask #4):
    audit() must be bit-equal to the batch docs_ingest_chain_audit
    over the documents seen so far — after wave 1, after a
    checkpoint-resumed wave 2 (every stage row moves: the KN model,
    cluster labels, keep-first verdicts and quotas are all global
    decisions), and after redelivering the full corpus as an extra
    batch. Also pins agreement with the admission ledger itself: the
    admission row counts exactly sample_kn()'s selected set (the two
    consumers share the wave-cached stage relations)."""
    from postgres_cdc_plugin_spark.operators.text import (
        INGEST_STAGES,
        _contam_hits_gated,
        audit_verdicts_from,
        contam_sample_from,
        docs_ingest_chain_audit,
        ingest_audit_from,
        ingest_chain_stages,
    )
    from postgres_cdc_plugin_spark.session import load
    from postgres_cdc_plugin_spark.streaming.ingest import (
        INGEST_STREAM_SCHEMA,
        IngestPipeline,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    wave1 = docs.filter("doc_id % 2 = 0")
    feed = str(tmp_path / "audit_ingest_feed")
    wave1.coalesce(1).write.parquet(feed)

    pipe = IngestPipeline(str(tmp_path / "audit_ingest"))
    ck = str(tmp_path / "audit_ingest_ck")

    def drain():
        stream = spark.readStream.schema(INGEST_STREAM_SCHEMA).parquet(feed)
        pipe.attach(stream, ck, available_now=True).awaitTermination(120)

    def snap(df):
        return sorted(map(tuple, df.collect()))

    # the benchmark is an EXTERNAL fixed relation (the full corpus's
    # src0 split) — the same set both waves and both surfaces probe
    bench = (
        load(spark, sf_dir, "documents")
        .filter("source = 'src0'")
        .select("doc_id", "text")
    )

    drain()
    gate, kn_ids, nd_ids, admit, sample = ingest_chain_stages(
        wave1, INGEST_STAGES
    )
    final = contam_sample_from(
        sample, _contam_hits_gated(wave1, gate, bench)
    )
    w1 = snap(
        ingest_audit_from(
            audit_verdicts_from(gate), kn_ids, nd_ids, admit, sample, final
        )
    )
    assert snap(pipe.audit(spark, bench)) == w1

    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(
        feed
    )
    drain()
    want = snap(docs_ingest_chain_audit(spark, sf_dir))
    assert snap(pipe.audit(spark, bench)) == want
    assert want != w1  # every stage row really moved with wave 2

    # the audit's admission row IS the admission ledger's selected
    # set, and its decontam row IS the six-stage ledger's train set
    rows = {r.stage: r for r in pipe.audit(spark, bench).collect()}
    sel = pipe.sample_kn(spark).filter("selected")
    assert rows["admission"].n_docs == sel.count()
    trn = pipe.sample_contam(spark, bench).filter("train")
    assert rows["decontam"].n_docs == trn.count()
    assert rows["decontam"].n_docs < rows["admission"].n_docs  # teeth

    pipe.process_batch(docs, 999)  # redelivery collapses via distinct
    assert snap(pipe.audit(spark, bench)) == want
