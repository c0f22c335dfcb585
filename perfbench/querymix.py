"""The ``query_mix`` workload: one closed-loop client running a fixed
list of registered queries over seeded synthetic tables.

A run:

1. set-up: ``setup_s`` runs from process start until the session is
   built and the registry imported;
2. tables generated from the seed (untimed);
3. warm-up: the correctness pass, where each query's result is
   collected and compared with its ``registry.oracle_sql()`` oracle in
   DuckDB (the oracles run in a thread beside it), then
   ``warmup_passes`` unmeasured passes like the measured ones;
4. measured passes, at least ``min_passes``, until ``seconds`` have
   passed: the cache is cleared, the family builds the list consumes run
   first, then each query runs through the noop sink. A query's latency
   is from calling the registered function through the noop write.

Each figure is a median over passes, so one slow pass moves none of
them: ``queries_per_s`` is the median pass's queries per second of pass
wall time; each query gets its median latency over the passes, and
``latency_p50_ms`` is the geometric mean of those medians (the typical
query), ``latency_tail_ms`` the largest (the heaviest query).
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import threading
import time

from common import CONFIG, cpu_times, median, memory_hwm, shutdown_spark, steal_pct

import tables
from tests.conftest import normalize

P = CONFIG["query_mix"]
TABLES = ["region", "nation", "customer", "orders", "lineitem", "events"]


def _oracles(data: str, names: list[str], sql: dict[str, str], out: dict) -> None:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data, t)}.parquet')"
            )
        for n in names:
            out[n] = normalize(con.execute(sql[n]).df())
    finally:
        con.close()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(seed: int, seconds: float, work: str, tracer, started: float) -> dict:
    from postgres_cdc_plugin_spark import registry
    from postgres_cdc_plugin_spark.session import get_spark

    names = P["queries"]
    queries, sql = registry.queries(), registry.oracle_sql()
    builds = {b: registry.family_builds()[b] for b in P["family_builds"]}
    span = tracer.span if tracer else (lambda *a, **k: contextlib.nullcontext({}))

    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark(app_name="perfbench-query-mix")
        session_s = time.perf_counter() - t
        setup_s = time.perf_counter() - started
        spark.sparkContext.setLogLevel("ERROR")
        if tracer:
            tracer.attach(spark)

        data = os.path.join(work, "data")
        tables.write_tables(data, seed, P["scale"])

        # warm-up + correctness pass
        expected: dict = {}
        oracle = threading.Thread(target=_oracles, args=(data, names, sql, expected))
        oracle.start()
        for fn in builds.values():
            for kernel in fn(spark, data):
                _noop(kernel)
        got = {}
        for n in names:
            try:
                got[n] = normalize(queries[n](spark, data).toPandas())
            except Exception as exc:  # a raising query is a failed one
                print(f"query_mix: {n} raised: {str(exc)[:300]}", file=sys.stderr)
        oracle.join()
        wrong = [
            n for n in names
            if n not in got
            or n not in expected
            or list(got[n].columns) != list(expected[n].columns)
            or not got[n].equals(expected[n])
        ]

        def one_pass(lat: dict[str, list[float]]) -> int:
            """Clear the cache, run the family builds, then every query
            through the noop sink; return how many queries raised."""
            raised = 0
            spark.catalog.clearCache()
            with span("pass"):
                for b, fn in builds.items():
                    with span(b):
                        for kernel in fn(spark, data):
                            _noop(kernel)
                for n in names:
                    q0 = time.perf_counter()
                    try:
                        with span(f"query:{n}") as rec:
                            df = queries[n](spark, data)
                            rec["build_ms"] = (time.perf_counter() - q0) * 1000.0
                            _noop(df)
                    except Exception as exc:  # counted, the pass goes on
                        print(f"query_mix: {n} raised: {str(exc)[:300]}", file=sys.stderr)
                        raised += 1
                        continue
                    lat[n].append((time.perf_counter() - q0) * 1000.0)
            return raised

        # unmeasured passes through the noop path: the correctness pass
        # collects instead, and passes keep speeding up for a few rounds
        n_raised = 0
        for _ in range(P["warmup_passes"]):
            n_raised += one_pass({n: [] for n in names})

        if tracer:
            tracer.reset_window()
        cpu0 = cpu_times()
        lat: dict[str, list[float]] = {n: [] for n in names}
        passes = []
        t_start = time.perf_counter()
        while len(passes) < P["min_passes"] or time.perf_counter() - t_start < seconds:
            p0 = time.perf_counter()
            n_raised += one_pass(lat)
            passes.append(time.perf_counter() - p0)
        n_done = sum(len(v) for v in lat.values())
        window_end = time.time()
        cpu1 = cpu_times()
        mem = memory_hwm()
        cache = _cache_state(spark)
    finally:
        if spark is not None:
            shutdown_spark(spark)

    per_query = {n: median(v) for n, v in lat.items() if v}
    qps = median([len(names) / p for p in passes])
    return {
        "attempted": len(names) + n_done + n_raised,
        "failed": len(wrong) + n_raised,
        "session_s": session_s,
        "window_end": window_end,
        "metrics": {
            "setup_s": setup_s,
            "throughput_per_s": qps,
            "latency_p50_ms": statistics.geometric_mean(per_query.values()),
            "latency_tail_ms": max(per_query.values()),
            "peak_rss_mb": mem["jvm"] + mem["driver_py"] + mem["workers"],
        },
        "info": {
            "queries_per_s": qps,
            "passes": passes,
            "executions": n_done,
            "query_median_ms": per_query,
            "wrong": wrong,
            "host_steal_pct": steal_pct(cpu0, cpu1),
            "mem": mem,
            "cache": cache,
        },
    }


def _cache_state(spark) -> dict:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {
        "entries": len(infos),
        "bytes": sum(i.memSize() + i.diskSize() for i in infos),
    }
