"""Small-scale self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload untraced and traced at a tiny scale (the
``selftest`` overrides in config.json: a few dozen change rows, query
tables at sf0.001, a 2 s window) and checks that each run is correct,
prints exactly the metrics BENCHMARK.json names with their units, and
that traced runs write their span and per-layer files. Then checks that
the benchmark fails without printing a result in a directory that holds
only BENCHMARK.json and the benchmark itself. Exits 1 on any failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, workload: str, trace: int, env: dict) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "config.json")) as f:
        config = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    small = {**config, **config["selftest"]}
    for key in ("delivery", "query_mix"):
        small[key] = {**config[key], **config["selftest"].get(key, {})}
    small_path = os.path.join(work, "config.json")
    with open(small_path, "w") as f:
        json.dump(small, f)
    env = dict(os.environ, PERFBENCH_CONFIG=small_path)

    errors = []
    mapped = set(config["layers"])
    listed = {m["name"] for m in bench["per_layer"]}
    if mapped != listed:
        errors.append(f"config.json layers differ from BENCHMARK.json per_layer: {mapped ^ listed}")
    for w in bench["workloads"]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            out = _run(ROOT, w["name"], trace, env)
            tag = f"{w['name']} trace={trace}"
            if out.returncode != 0:
                errors.append(f"{tag}: exit {out.returncode}: {out.stderr[-800:]}")
                continue
            res = json.loads(out.stdout.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in bench[section]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                errors.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                errors.append(f"{tag}: incorrect run {res['attempted']=} {res['failed']=}")
            if got != want:
                errors.append(f"{tag}: metrics differ from BENCHMARK.json: {set(got) ^ set(want)}")
            if trace:
                for suffix in ("spans", "layers"):
                    p = os.path.join(ROOT, ".perfbench_out", f"{w['name']}-seed7-{suffix}.json")
                    if not os.path.exists(p):
                        errors.append(f"{tag}: no {suffix} file")
            print(f"ok {tag}" if not errors else f"checked {tag}", flush=True)

    bare = os.path.join(work, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(bare, bench["workloads"][0]["name"], 0, env)
    if out.returncode == 0 or '"metrics"' in out.stdout:
        errors.append("bare directory: the benchmark did not fail")

    shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print("FAIL", e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
