"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload sync_webhook --seed 1 --seconds 6 --trace 0

Prints a human-readable summary, then, as the last line, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Traced runs also write the span file and the per-layer
summary under ``.perfbench_out/``. Each run builds its inputs from the
seed in a fresh work directory under ``.perfbench_work/``, which it
removes at the end.
"""

from __future__ import annotations

import time

STARTED = time.perf_counter()  # setup_s counts from here

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

WORKLOADS = ("sync_webhook", "async_queue", "query_mix")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import common

    # fails (exit 1, no result) where the engine package is absent
    import postgres_cdc_plugin_spark  # noqa: F401

    work = os.path.join(common.ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(common.ROOT, ".perfbench_out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    tracer = None
    try:
        if args.trace:
            import tracing

            tracer = tracing.Tracer(os.path.join(work, "eventlog"))
        common.spark_env(work, tracer.event_log_dir if tracer else None)
        if args.workload == "query_mix":
            import querymix

            res = querymix.run(args.seed, args.seconds, work, tracer, STARTED)
        else:
            import delivery

            mode = "SYNC" if args.workload == "sync_webhook" else "ASYNC"
            res = delivery.run(mode, args.seed, args.seconds, work, tracer, STARTED)
        if tracer:
            import layers

            res["layers"] = layers.summarize(args.workload, res, tracer, out_dir, args.seed)
        res.pop("trace", None)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump(res, f, indent=1)
    units = common.UNITS
    for k, v in res["metrics"].items():
        print(f"{args.workload} {k} = {v:.4f} {units.get(k, '')}")
    print(f"{args.workload} failed_ratio = {res['failed'] / res['attempted']:.4f} 1")
    for k, v in res["info"].items():
        print(f"{args.workload} info {k} = {json.dumps(v)[:200]}")

    if args.trace:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res["metrics"].items()}
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
