"""Helpers shared by the workloads: the Spark process environment,
percentiles, the process-tree memory high-water mark, CPU steal, and the
receiver subprocess."""

from __future__ import annotations

import datetime
import json
import os
import shlex
import subprocess
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# PERFBENCH_CONFIG points at a scaled-down copy (selftest.py only)
with open(os.environ.get("PERFBENCH_CONFIG") or os.path.join(HERE, "config.json")) as _f:
    CONFIG = json.load(_f)

# metric names and units come from BENCHMARK.json only
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
UNITS = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def spark_env(work: str, event_log: str | None) -> None:
    """Point every file Spark, the JVM and Python workers write into the
    run's work directory, fix the driver heap, and (traced runs only)
    turn on Spark's event log. Must run before the first session."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = CONFIG["driver_heap"]
    # no /tmp/hsperfdata_<user> files from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Xmn{CONFIG['driver_young_gen']} -XX:-UsePerfData"
            f" -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = [a for k, v in confs.items() for a in ("--conf", shlex.quote(f"{k}={v}"))]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def shutdown_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close() if proc.stdin else None
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def memory_hwm() -> dict[str, float]:
    """Kernel-tracked resident high-water marks, read (not sampled): the
    JVM, this Python driver, and the Python workers below the JVM."""
    kids = _children()
    jpid = jvm_pid()
    workers = []
    stack = list(kids.get(jpid, [])) if jpid else []
    while stack:
        p = stack.pop()
        workers.append(p)
        stack.extend(kids.get(p, []))
    return {
        "jvm": _hwm_mb(jpid) if jpid else 0.0,
        "driver_py": _hwm_mb(os.getpid()),
        "workers": sum(_hwm_mb(p) for p in workers),
    }


def epoch_of(ts: str) -> float:
    """Epoch seconds of a streaming progress report's ISO timestamp."""
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def cpu_times() -> tuple[int, int]:
    """(busy+steal jiffies, steal jiffies) from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = fields[:8]
    return user + nice + system + irq + softirq + steal, steal


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    busy = end[0] - start[0]
    return 100.0 * (end[1] - start[1]) / busy if busy > 0 else 0.0


class ReceiverProcess:
    """The webhook receiver in its own process (see receiver.py)."""

    def __init__(self, delay_ms: float, max_conns: int) -> None:
        self.proc = subprocess.Popen(
            [
                sys.executable,
                os.path.join(HERE, "receiver.py"),
                "--delay-ms",
                str(delay_ms),
                "--max-conns",
                str(max_conns),
            ],
            stdout=subprocess.PIPE,
            text=True,
        )
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "port":
            self.close()
            raise RuntimeError("receiver did not start")
        self.base = f"http://127.0.0.1:{line[1]}"
        self.url = self.base + "/webhook"

    def _get(self, path: str) -> dict:
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def stats(self) -> dict:
        return self._get("/stats")

    def dump(self) -> dict:
        return self._get("/dump")

    def wait_distinct(self, n: int, timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if self.stats()["distinct"] >= n:
                return True
            time.sleep(0.05)
        return False

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        if self.proc.stdout:
            self.proc.stdout.close()
