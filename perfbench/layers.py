"""Per-layer summary of a traced run.

Folds the tracer's spans, Spark's event log, the capture stream's
progress reports and the receiver's records into the per-layer metrics
named in ``BENCHMARK.json``. Metrics of a layer a workload does not use are
reported as 0. Writes the span file and the summary (with per-query
detail for ``query_mix``) to the output directory.
"""

from __future__ import annotations

import json
import os

from common import BENCH, CONFIG, epoch_of, median
from tracing import fold_event_log, union_ms


def _p50(values: list[float]) -> float:
    return median(values) if values else 0.0


def _group_totals(groups: dict, spans: list[dict]) -> list[dict]:
    return [groups.get(f"{s['name']}:{s['id']}", {}) for s in spans]


def _sum(totals: list[dict], key: str) -> float:
    return float(sum(t.get(key, 0) for t in totals))


def _delivery(res: dict, spans: list[dict], all_spans: list[dict], groups: dict) -> dict:
    tr = res["trace"]
    out: dict[str, float] = {}
    prog = tr["progress"]
    dur = [p.get("durationMs", {}) for p in prog]
    out["stream.capture.batches"] = len(prog)
    for name, key in (
        ("trigger", "triggerExecution"),
        ("add_batch", "addBatch"),
        ("latest_offset", "latestOffset"),
        ("planning", "queryPlanning"),
        ("commit", "commitOffsets"),
    ):
        out[f"stream.capture.{name}_ms_p50"] = _p50([d.get(key, 0) for d in dur])

    starts = sorted(epoch_of(p["timestamp"]) for p in prog)
    pickup = []
    for _name, written, _lo, _hi in tr["chunks"]:
        nxt = next((s for s in starts if s >= written), None)
        if nxt is not None:
            pickup.append((nxt - written) * 1000.0)
    out["changefeed.pickup_ms_p50"] = _p50(pickup)

    info = res["info"]
    rows_in = info["window_rows"]
    rows_out = info["drain_events"] + info["open_events"]
    out["capture.rows_in"] = rows_in
    out["capture.rows_out"] = rows_out
    out["capture.pass_ratio"] = rows_out / rows_in
    builds = [s for s in all_spans if s["name"] == "capture.build"]
    out["capture.build_ms_p50"] = _p50([(s["end"] - s["start"]) * 1000.0 for s in builds])

    sinks = [s for s in spans if s["name"] == "deliver.sink"]
    st = _group_totals(groups, sinks)
    out["deliver.sink.calls"] = len(sinks)
    out["deliver.sink.busy_ms_p50"] = _p50([(s["end"] - s["start"]) * 1000.0 for s in sinks])
    out["deliver.sink.events_per_call_p50"] = _p50([s.get("delivered", 0) for s in sinks])
    out["deliver.sink.jobs_per_call"] = _sum(st, "jobs") / len(sinks) if sinks else 0.0
    out["deliver.sink.tasks_per_call"] = _sum(st, "tasks") / len(sinks) if sinks else 0.0
    attempts = sum(s.get("attempts", 0) for s in sinks)
    out["deliver.attempts"] = attempts
    out["deliver.retries"] = attempts - sum(s.get("delivered", 0) for s in sinks)
    out["deliver.dead_letters"] = max([s.get("dead_letters", 0) for s in sinks] or [0])

    enq = [s for s in spans if s["name"] == "queue.enqueue"]
    et = _group_totals(groups, enq)
    out["queue.enqueue.calls"] = len(enq)
    out["queue.enqueue.busy_ms_p50"] = _p50([(s["end"] - s["start"]) * 1000.0 for s in enq])
    out["queue.enqueue.files_added"] = sum(s.get("files_added", 0) for s in enq)
    out["queue.enqueue.jobs_per_call"] = _sum(et, "jobs") / len(enq) if enq else 0.0

    ticks = [s for s in spans if s["name"] == "queue.poll"]
    tt = _group_totals(groups, ticks)
    cadence = CONFIG["delivery"]["poll_cadence_s"]
    busy = [(s["end"] - s["start"]) * 1000.0 for s in ticks]
    useful = [s for s in ticks if s.get("events", 0) > 0]
    out["queue.poll.ticks"] = len(ticks)
    out["queue.poll.busy_ms_p50"] = _p50(busy)
    out["queue.poll.idle_ms_p50"] = _p50(
        [(s["end"] - s["start"]) * 1000.0 for s in ticks if not s.get("events")]
    )
    out["queue.poll.useful_ratio"] = len(useful) / len(ticks) if ticks else 0.0
    out["queue.poll.events_per_tick_p50"] = _p50([s.get("events", 0) for s in ticks])
    out["queue.poll.lag_ms_p50"] = _p50([(s["start"] % cadence) * 1000.0 for s in ticks])
    out["queue.poll.jobs_per_tick"] = _sum(tt, "jobs") / len(ticks) if ticks else 0.0
    out["queue.poll.tasks_per_tick"] = _sum(tt, "tasks") / len(ticks) if ticks else 0.0
    # A tick runs three SQL executions in order: the queue-state fold
    # (materialized when poll_once takes its RDD), the attempt-log write
    # whose tasks deliver the events, and the read-back count.
    fold, deliver, tick_stages = [], [], []
    for t in tt:
        stages = sorted(t.get("stages", {}).values(), key=lambda v: v["job"][0])
        tick_stages.append([(v["job"], v["ms"]) for v in stages])
        execs = list(dict.fromkeys(v["job"][1] for v in stages))
        if len(execs) >= 2:
            fold.append(sum(v["ms"] for v in stages if v["job"][1] == execs[0]))
            deliver.append(sum(v["ms"] for v in stages if v["job"][1] == execs[1]))
    out["queue.poll.fold_stage_ms_p50"] = _p50(fold)
    out["queue.poll.deliver_stage_ms_p50"] = _p50(deliver)
    live = tr["live"]
    out["queue.log_files_end"] = live.get("log_files_end", 0)
    out["queue.backlog_end"] = live.get("backlog_end", 0)

    c = info["receiver"]
    out["http.requests"] = c["requests"]
    out["http.non_2xx"] = c["non_2xx"]
    out["http.duplicates"] = c["duplicates"]
    out["http.max_inflight"] = c["max_inflight"]
    out["http.connections"] = c["connections"]
    out["http.requests_per_connection"] = c["requests"] / c["connections"] if c["connections"] else 0.0
    out["generator.late_ms_max"] = info["generator_late_ms_max"]
    out["generator.backlog_growth"] = info["backlog_growth"]
    out["_tick_stages"] = tick_stages
    return out


def _query_mix(res: dict, spans: list[dict], groups: dict) -> tuple[dict, dict]:
    passes = [s for s in spans if s["name"] == "pass"]
    per_pass: list[dict] = []
    per_query: dict[str, list[dict]] = {}
    for p in passes:
        kids = [s for s in spans if s["parent"] == p["id"]]
        qs = [s for s in kids if s["name"].startswith("query:")]
        fb = [s for s in kids if s["name"].startswith("family_build:")]
        totals = _group_totals(groups, kids)
        intervals = [iv for t in totals for iv in t.get("intervals", [])]
        wall_ms = (p["end"] - p["start"]) * 1000.0
        row = {
            "build_ms": sum(s.get("build_ms", 0.0) for s in qs),
            "action_ms": sum((s["end"] - s["start"]) * 1000.0 - s.get("build_ms", 0.0) for s in qs),
            "driver_ms": wall_ms - union_ms(intervals),
            "family_build_ms": sum((s["end"] - s["start"]) * 1000.0 for s in fb),
        }
        for key in ("jobs", "tasks", "exec_run_ms", "exec_cpu_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes"):
            row[key] = _sum(totals, key)
        per_pass.append(row)
        for s in qs:
            t = groups.get(f"{s['name']}:{s['id']}", {})
            per_query.setdefault(s["name"][len("query:"):], []).append(
                {
                    "wall_ms": (s["end"] - s["start"]) * 1000.0,
                    "build_ms": s.get("build_ms", 0.0),
                    "jobs": t.get("jobs", 0),
                    "tasks": t.get("tasks", 0),
                    "exec_run_ms": t.get("exec_run_ms", 0.0),
                    "exec_cpu_ms": t.get("exec_cpu_ms", 0.0),
                    "gc_ms": t.get("gc_ms", 0.0),
                    "shuffle_write_bytes": t.get("shuffle_write_bytes", 0),
                    "spill_bytes": t.get("spill_bytes", 0),
                }
            )
    out = {}
    for key in ("build_ms", "action_ms", "driver_ms", "jobs", "tasks", "exec_run_ms",
                "exec_cpu_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes"):
        out[f"query.{key}"] = _p50([r[key] for r in per_pass])
    out["family_build.ms"] = _p50([r["family_build_ms"] for r in per_pass])
    cache = res["info"]["cache"]
    out["cache.entries_end"] = cache["entries"]
    out["cache.bytes_end"] = cache["bytes"]
    return out, {"per_pass": per_pass, "per_query": per_query}


def summarize(workload: str, res: dict, tracer, out_dir: str, seed: int) -> dict:
    spans = tracer.window()
    groups = fold_event_log(tracer.event_log_dir)
    names = [m["name"] for m in BENCH["per_layer"]]
    out = dict.fromkeys(names, 0.0)
    detail: dict = {}
    if workload == "query_mix":
        q, detail = _query_mix(res, spans, groups)
        out.update(q)
    else:
        out.update(_delivery(res, spans, tracer.spans, groups))
        detail["tick_stages"] = out.pop("_tick_stages")
    mem = res["info"]["mem"]
    out["session.start_s"] = res["session_s"]
    out["mem.jvm_hwm_mb"] = mem["jvm"]
    out["mem.driver_py_hwm_mb"] = mem["driver_py"]
    out["mem.workers_hwm_mb"] = mem["workers"]
    out["host.steal_pct"] = res["info"]["host_steal_pct"]
    out["trace.overhead_pct"] = tracer.overhead_pct(res["window_end"])
    unknown = set(out) - set(names)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")

    tag = f"{workload}-seed{seed}"
    tracer.write(os.path.join(out_dir, f"{tag}-spans.json"))
    with open(os.path.join(out_dir, f"{tag}-layers.json"), "w") as f:
        json.dump({"metrics": out, "end_to_end": res["metrics"], **detail}, f, indent=1)
    res.pop("trace", None)
    return out
