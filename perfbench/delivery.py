"""The delivery workloads: ``sync_webhook`` and ``async_queue``.

One SYNC (or ASYNC) subscription on INSERT/UPDATE(salary) over a
file-source change feed, delivering to the receiver process. A run:

1. set-up: session, engine, register, start the stream and, for ASYNC,
   the 1 s poller; ``setup_s`` runs from process start until then, less
   the benchmark's own input generation and receiver start;
2. warm-up: a small chunk, delivered before anything is timed;
3. drain: a fixed backlog, staged then renamed into the feed at once;
   ``events_per_s`` is its delivered events per second from the first
   acknowledgement of the backlog to the last;
4. open loop: the generator process appends rows at a fixed offered
   rate for ``seconds``; latency is first receipt minus due time;
5. the receiver's records are checked against the generator's expected
   event ids and row images.

The offered rate is sustained when the generator wrote every chunk
within one poll tick of its schedule and the backlog (events due and
not yet received) grew by at most one batch from the first half of the
window to the second, a batch being the largest burst of receipts the
window saw: one micro-batch or tick. The backlog itself is always more
than one batch on ``async_queue``, where an event waits for capture and
then for the next tick.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from common import (
    CONFIG,
    HERE,
    ROOT,
    ReceiverProcess,
    cpu_times,
    cpus,
    epoch_of,
    median,
    memory_hwm,
    percentile,
    shutdown_spark,
    steal_pct,
)

import generator

P = CONFIG["delivery"]
TRIGGER = {"SYNC": "bench_sync", "ASYNC": "bench_async"}
TICK_MS = 1000.0 * P["poll_cadence_s"]


def _setup(mode: str, work: str, url: str, tracer):
    from postgres_cdc_plugin_spark.config import SubscriptionConfig
    from postgres_cdc_plugin_spark.engine import CdcEngine
    from postgres_cdc_plugin_spark.session import get_spark
    from postgres_cdc_plugin_spark.sources import changefeed

    feed = os.path.join(work, "feed")
    os.makedirs(feed)
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{mode.lower()}")
    session_s = time.perf_counter() - t
    if tracer:
        tracer.attach(spark)
    engine = CdcEngine(spark, os.path.join(work, "engine"))
    cfg = engine.register(
        SubscriptionConfig(
            name=TRIGGER[mode],
            table_name=generator.TABLE,
            webhook_url=url,
            operations=("INSERT", "UPDATE"),
            update_columns=(generator.TRACKED,),
            mode=mode,
        )
    )
    queries = [engine.start(cfg, changefeed.read_stream(spark, feed))]
    if mode == "ASYNC":
        queries.append(engine.start_worker(cfg, cadence_seconds=P["poll_cadence_s"]))
    return session_s, spark, engine, queries, feed


def _bursts(times: list[float], gap_s: float) -> list[int]:
    """Sizes of the runs of receipt times no more than ``gap_s`` apart:
    the events one micro-batch or poll tick delivered."""
    sizes: list[int] = []
    prev = None
    for t in sorted(times):
        if prev is None or t - prev > gap_s:
            sizes.append(0)
        sizes[-1] += 1
        prev = t
    return sizes


def _write_staged(feed: str, stage: str, rows: list[dict], per_chunk: int) -> None:
    """Write chunks outside the feed, then rename them in together, so
    the stream finds the whole backlog at once."""
    from postgres_cdc_plugin_spark.sources.changefeed import write_chunk

    paths = [write_chunk(stage, rows[i:i + per_chunk]) for i in range(0, len(rows), per_chunk)]
    for p in paths:
        os.rename(p, os.path.join(feed, os.path.basename(p)))


def run(mode: str, seed: int, seconds: float, work: str, tracer, started: float) -> dict:
    own = time.perf_counter()
    rate = P["offered_rate_per_s"]
    n_warm, n_backlog, n_open = P["warmup_rows"], P["backlog_rows"], int(rate * seconds)
    rows = generator.changes(seed, n_warm + n_backlog + n_open)
    trigger = TRIGGER[mode]
    exp_warm = generator.expected(rows[:n_warm], trigger)
    exp_backlog = generator.expected(rows[n_warm:n_warm + n_backlog], trigger)
    exp_open = generator.expected(rows[n_warm + n_backlog:], trigger)
    expected = {**exp_warm, **exp_backlog, **exp_open}

    marks = {"start": time.time()}
    receiver = ReceiverProcess(P["receiver_delay_ms"], cpus())
    own = time.perf_counter() - own
    gen = None
    spark = None
    try:
        if tracer:
            tracer.install()
        session_s, spark, engine, queries, feed = _setup(mode, work, receiver.url, tracer)
        setup_s = time.perf_counter() - started - own
        spark.sparkContext.setLogLevel("ERROR")
        marks["setup"] = time.time()

        # warm-up (untimed)
        _write_staged(feed, os.path.join(work, "stage"), rows[:n_warm], 50)
        if not receiver.wait_distinct(len(exp_warm), P["deadline_s"]):
            raise RuntimeError("warm-up events were not delivered")
        if tracer:
            tracer.reset_window()
        cpu0 = cpu_times()
        marks["warmup"] = time.time()

        # drain: fixed pre-written backlog
        backlog = rows[n_warm:n_warm + n_backlog]
        _write_staged(feed, os.path.join(work, "stage"), backlog, 50)
        drain_t0 = time.time()
        receiver.wait_distinct(len(exp_warm) + len(exp_backlog), P["deadline_s"])
        marks["drain"] = time.time()

        # open loop: the generator process appends on schedule
        report = os.path.join(work, "generator.json")
        t0 = time.time() + 0.5
        gen = subprocess.Popen(
            [
                sys.executable,
                os.path.join(HERE, "generator.py"),
                "--feed", feed,
                "--seed", str(seed),
                "--start", str(n_warm + n_backlog),
                "--rate", str(rate),
                "--seconds", str(seconds),
                "--slot-ms", str(P["slot_ms"]),
                "--t0", repr(t0),
                "--report", report,
            ],
            env=dict(os.environ, PYTHONPATH=ROOT),
        )
        gen.wait(timeout=seconds + 60)
        window_end = time.time()
        marks["window"] = window_end
        receiver.wait_distinct(len(expected), P["deadline_s"])
        marks["delivered"] = time.time()
        cpu1 = cpu_times()
        with open(report) as f:
            gen_report = json.load(f)
        progress = [json.loads(p.json) for p in queries[0].recentProgress]
        mem = memory_hwm()
        live = _live_state(engine) if mode == "ASYNC" and tracer else {}
    finally:
        if tracer:
            tracer.uninstall()
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        dump = receiver.dump()
        receiver.close()
        if spark is not None:
            for q in spark.streams.active:
                q.stop()
            shutdown_spark(spark)
    marks["stopped"] = time.time()

    # correctness and timings from the receiver's records
    first: dict[str, list] = {}
    wrong = 0
    for eid, recv_at, ack_at, conn, body in dump["records"]:
        if eid in first:
            continue
        first[eid] = [recv_at, ack_at]
        row = expected.get(eid)
        event = json.loads(body)["event"]
        got = (event["op"], event["data"]["old"], event["data"]["new"])
        if row is None or got != (row["op"], row["old"], row["new"]):
            wrong += 1
    missing = sum(1 for e in expected if e not in first)

    # the drain rate runs from the backlog's first acknowledgement to its
    # last: the pickup and batch set-up before it show in latency instead
    backlog_acks = sorted(first[e][1] for e in exp_backlog if e in first)
    drain_s = backlog_acks[-1] - backlog_acks[0] if len(backlog_acks) > 1 else float("inf")
    events_per_s = (len(backlog_acks) - 1) / drain_s

    start = n_warm + n_backlog
    due = gen_report["due"]
    lat, halves = [], ([], [])
    for e, r in exp_open.items():
        if e in first:
            i = r["seq"] - start
            lat.append((first[e][0] - due[i]) * 1000.0)
            halves[2 * i >= len(due)].append(lat[-1] / 1000.0)
    late_max = max(gen_report["late_ms"])
    # backlog growth from the first half of the window to the second:
    # by Little's law, the event rate times the growth in mean latency
    # (unlike sampled backlog counts, free of the ramp at the start and
    # of the phase of the last batch or tick before a sample)
    backlog_growth = len(exp_open) / seconds * (
        sum(halves[1]) / max(1, len(halves[1])) - sum(halves[0]) / max(1, len(halves[0]))
    )
    # due events not yet received when the generator wrote its last chunk
    backlog_end = sum(
        1 for e, r in exp_open.items()
        if due[r["seq"] - start] <= window_end and (e not in first or first[e][0] > window_end)
    )
    batch_max = max(_bursts([first[e][0] for e in exp_open if e in first], P["burst_gap_s"]) or [0])
    window = [p for p in progress if epoch_of(p["timestamp"]) >= drain_t0 - 1.0 and p.get("numInputRows", 0) > 0]
    tail_q = P["tail_percentile"]
    out = {
        "attempted": len(expected),
        "failed": missing + wrong,
        "session_s": session_s,
        "window_end": marks["delivered"],
        "metrics": {
            "setup_s": setup_s,
            "throughput_per_s": events_per_s,
            "latency_p50_ms": median(lat),
            "latency_tail_ms": percentile(lat, tail_q),
            "peak_rss_mb": mem["jvm"] + mem["driver_py"] + mem["workers"],
        },
        "info": {
            "events_per_s": events_per_s,
            "drain_events": len(backlog_acks),
            "drain_s": drain_s,
            "drain_start_s": backlog_acks[0] - drain_t0 if backlog_acks else None,
            "open_events": len(lat),
            "window_rows": n_backlog + n_open,
            "tail_percentile": tail_q,
            "capture_batches": len(window),
            "generator_late_ms_max": late_max,
            "backlog_end": backlog_end,
            "backlog_growth": backlog_growth,
            "batch_max": batch_max,
            "sustained": late_max <= TICK_MS and backlog_growth <= batch_max,
            "host_steal_pct": steal_pct(cpu0, cpu1),
            "mem": mem,
            "receiver": dump["counters"],
            "phases_s": {k: round(v - marks["start"], 2) for k, v in marks.items()},
            "missing": missing,
            "wrong": wrong,
        },
        "trace": {
            "live": live,
            "progress": window,
            "chunks": gen_report["chunks"],
        },
    }
    return out


def _live_state(engine) -> dict:
    """Queue facts only the live session can give, read after the window."""
    from pyspark.sql import functions as F

    q = engine.queue
    return {
        "log_files_end": len(q._log_files(q.event_log_path)) + len(q._log_files(q.attempts_path)),
        "backlog_end": q.state().filter(F.col("status") == "PENDING").count(),
    }
