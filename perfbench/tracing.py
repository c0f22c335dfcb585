"""Tracing for ``--trace 1`` runs: spans around the calls into each
layer, Spark job groups, and a fold of Spark's own event log.

Spans are recorded from the benchmark's side of each layer boundary:
the engine's modules are wrapped at run time (``install``), never
edited. Every span sets a Spark job group ``<span name>:<span id>`` on
the calling thread, so the event log attributes jobs, stages, tasks,
CPU, GC and shuffle bytes to it. Spans stay in memory and are written
out at the end with each span's self time (its duration minus the part
of it its children cover).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time


_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Tracer:
    def __init__(self, event_log_dir: str) -> None:
        self.event_log_dir = event_log_dir
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.sc = None
        self.window_start = 0.0
        self.overhead_s = 0.0

    # ---- spans ------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record a span; its Spark jobs run in job group ``name:id``.
        The thread's previous job group is restored afterwards (a
        streaming thread carries its own). The span's own bookkeeping
        counts as tracing overhead."""
        t_in = time.perf_counter()
        sid = next(self._ids)
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {"name": name, "id": sid, "parent": stack[-1] if stack else None, **attrs}
        saved = None
        if self.sc is not None:
            saved = [(k, self.sc.getLocalProperty(k)) for k in _GROUP_PROPS]
            self.sc.setJobGroup(f"{name}:{sid}", name)
        stack.append(sid)
        rec["start"] = time.time()
        self._charge(time.perf_counter() - t_in)
        try:
            yield rec
        finally:
            t_out = time.perf_counter()
            rec["end"] = time.time()
            stack.pop()
            for k, v in saved or ():
                self.sc.setLocalProperty(k, v)
            with self._lock:
                self.spans.append(rec)
            self._charge(time.perf_counter() - t_out)

    @contextlib.contextmanager
    def overhead(self):
        """Time work a wrapper does only for the trace."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self._charge(time.perf_counter() - t)

    def _charge(self, secs: float) -> None:
        with self._lock:
            self.overhead_s += secs

    def overhead_pct(self, end: float) -> float:
        """Tracing overhead: the time spent in span bookkeeping and in the
        wrappers' own work since the window opened, as a share of the
        window's wall time up to ``end``. Spark's event log, written by
        the JVM's listener thread, is not included."""
        wall = end - self.window_start
        return 100.0 * self.overhead_s / wall if wall > 0 else 0.0

    def window(self) -> list[dict]:
        return [s for s in self.spans if s["start"] >= self.window_start]

    def reset_window(self) -> None:
        self.window_start = time.time()
        with self._lock:
            self.overhead_s = 0.0

    # ---- wrapping the engine's entry points -------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def install(self) -> None:
        """Wrap capture_pipeline, WebhookSink.__call__,
        EventQueue.enqueue_batch and EventQueue.poll_once."""
        from postgres_cdc_plugin_spark import engine
        from postgres_cdc_plugin_spark.streaming.deliver import WebhookSink
        from postgres_cdc_plugin_spark.streaming.queue import EventQueue

        tracer = self

        def capture(orig):
            def wrapped(changes, cfg):
                with tracer.span("capture.build"):
                    return orig(changes, cfg)
            return wrapped

        def sink(orig):
            def wrapped(self, batch, batch_id):
                a0, d0 = self.n_attempts, self.n_delivered
                with tracer.span("deliver.sink", batch=batch_id) as rec:
                    orig(self, batch, batch_id)
                rec["attempts"] = self.n_attempts - a0
                rec["delivered"] = self.n_delivered - d0
                rec["dead_letters"] = len(self.dead_letters)
            return wrapped

        def enqueue(orig):
            def wrapped(self, batch, cfg, batch_id=None):
                with tracer.overhead():
                    before = len(self._log_files(self.event_log_path))
                with tracer.span("queue.enqueue", batch=batch_id) as rec:
                    orig(self, batch, cfg, batch_id)
                with tracer.overhead():
                    rec["files_added"] = len(self._log_files(self.event_log_path)) - before
            return wrapped

        def poll(orig):
            def wrapped(self, *args, **kwargs):
                with tracer.span("queue.poll") as rec:
                    n = orig(self, *args, **kwargs)
                rec["events"] = n
                return n
            return wrapped

        self._patch(engine, "capture_pipeline", capture)
        self._patch(WebhookSink, "__call__", sink)
        self._patch(EventQueue, "enqueue_batch", enqueue)
        self._patch(EventQueue, "poll_once", poll)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    # ---- output -----------------------------------------------------

    def write(self, path: str) -> None:
        spans = sorted(self.spans, key=lambda s: s["start"])
        children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in spans:
            covered = union_ms([(c["start"], c["end"]) for c in children.get(s["id"], [])])
            s["self_ms"] = (s["end"] - s["start"]) * 1000.0 - covered
        with open(path, "w") as f:
            json.dump(spans, f)


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length in ms of the union of (start, end) second intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


def fold_event_log(event_log_dir: str) -> dict[str, dict]:
    """Fold the newest Spark event log into per-job-group totals: jobs,
    job intervals, stages (duration, (job id, SQL execution id)), tasks,
    executor run/CPU/GC ms, shuffle-write and spill bytes."""
    logs = [os.path.join(event_log_dir, f) for f in os.listdir(event_log_dir)]
    if not logs:
        return {}
    path = max(logs, key=os.path.getmtime)
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    job_of_stage: dict[int, tuple] = {}

    def g(name: str) -> dict:
        return groups.setdefault(
            name,
            {
                "jobs": 0, "intervals": [], "stages": {}, "tasks": 0,
                "exec_run_ms": 0.0, "exec_cpu_ms": 0.0, "gc_ms": 0.0,
                "shuffle_write_bytes": 0, "spill_bytes": 0,
            },
        )

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                grp = props.get("spark.jobGroup.id") or "-"
                jid = ev["Job ID"]
                job_group[jid] = grp
                job_start[jid] = ev["Submission Time"] / 1000.0
                g(grp)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = grp
                    job_of_stage[sid] = (jid, props.get("spark.sql.execution.id"))
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    g(job_group[jid])["intervals"].append(
                        (job_start[jid], ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                grp = stage_group.get(sid, "-")
                if "Submission Time" in info and "Completion Time" in info:
                    g(grp)["stages"][sid] = {
                        "ms": info["Completion Time"] - info["Submission Time"],
                        "job": job_of_stage.get(sid, (-1, None)),
                    }
            elif kind == "SparkListenerTaskEnd":
                grp = stage_group.get(ev.get("Stage ID"), "-")
                m = ev.get("Task Metrics") or {}
                rec = g(grp)
                rec["tasks"] += 1
                rec["exec_run_ms"] += m.get("Executor Run Time", 0)
                rec["exec_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                rec["gc_ms"] += m.get("JVM GC Time", 0)
                rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return groups
