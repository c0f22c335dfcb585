"""Seeded synthetic tables for ``query_mix``, in the schema of the
engine's test data (a TPC-H-like star plus an ``events`` stream), so
the registered queries and their DuckDB oracles read them unchanged.
``scale`` = 1.0 gives 100k events, 15k customers, 150k orders and about
600k line items."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _pick(rng, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.array(choices, dtype=object)[rng.integers(0, len(choices), n)])


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_ev = int(100_000 * scale)
    n_users = max(15, int(1_500 * scale))
    n_cust = max(150, int(15_000 * scale))
    n_ord = int(150_000 * scale)
    n_part = max(200, int(20_000 * scale))

    jan = np.datetime64("2024-01-01", "us").astype("int64")
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev, dtype="int64")),
                "ts": _ts(jan + np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
                "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype="int64")),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype="int32")),
                "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
    }
    day0 = np.datetime64("1995-01-01", "us").astype("int64")
    orderdate = day0 + rng.integers(0, 2400, n_ord) * DAY_US
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype="int64")),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
            "o_orderdate": _ts(orderdate),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    n_li = len(okey)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    perm = rng.permutation(n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey[perm]),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype="int64")),
            "l_suppkey": pa.array(rng.integers(0, 100, n_li, dtype="int64")),
            "l_linenumber": pa.array(linenumber[perm]),
            "l_quantity": pa.array(qty),
            # not rounded to cents: with cent prices and whole-percent
            # discounts a group's exact revenue sits on a rounding
            # midpoint about once in a hundred groups, and then the last
            # cent of round(sum(...), 2) follows the summation order,
            # which differs between Spark and the DuckDB oracle
            "l_extendedprice": pa.array(qty * rng.uniform(900.0, 2100.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["O", "F"], n_li),
            "l_shipdate": _ts(orderdate[okey[perm]] + rng.integers(1, 122, n_li) * DAY_US),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
