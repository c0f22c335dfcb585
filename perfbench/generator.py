"""Seeded change-feed generator for the delivery workloads.

``changes(seed, n)`` yields the same change rows for the same seed: row
keys follow a Zipf law over ``KEYS`` rows of a demo ``employees`` table,
the first change to a key is an INSERT, later ones are UPDATEs of the
tracked ``salary`` column, UPDATEs that touch only ``dept`` (the
column-diff gate drops them) or DELETEs (the op filter drops them).
``expected(rows, trigger)`` computes, without the engine, which rows a
subscription on INSERT/UPDATE(salary) must deliver and under which
event id: ``md5(schema:table:trigger:k<key>:s<seq>)``.

Run as a program it is the open-loop writer: it regenerates the stream,
takes the rows ``[start, start + rate * seconds)`` and appends them to
the feed directory with ``changefeed.write_chunk``, one chunk per slot,
on a fixed schedule that does not wait for the engine. Each row is due
at ``t0 + (i - start) / rate``; a slot is written when its last row is
due. It writes a JSON report with the due time of every row and how
late each chunk was written.
"""

from __future__ import annotations

import argparse
import bisect
import hashlib
import itertools
import json
import os
import random
import sys
import time

SCHEMA = "public"
TABLE = "employees"
TRACKED = "salary"
KEYS = 500
ZIPF_S = 1.1
DEPTS = ("eng", "ops", "sales", "hr", "legal")


def changes(seed: int, n: int) -> list[dict]:
    rng = random.Random(seed)
    cum = list(itertools.accumulate(1.0 / (k ** ZIPF_S) for k in range(1, KEYS + 1)))
    rows: dict[int, dict] = {}
    out = []
    for seq in range(n):
        key = bisect.bisect_left(cum, rng.random() * cum[-1]) + 1
        old = rows.get(key)
        r = rng.random()
        if old is None:
            op, new = "INSERT", {
                "id": key,
                "name": f"emp{key}",
                "salary": rng.randrange(40_000, 200_000),
                "dept": rng.choice(DEPTS),
            }
        elif r < 0.55:
            op, new = "UPDATE", dict(old, salary=old["salary"] + rng.randrange(1, 5000))
        elif r < 0.85:
            op, new = "UPDATE", dict(old, dept=rng.choice([d for d in DEPTS if d != old["dept"]]))
        else:
            op, new = "DELETE", None
        if new is None:
            rows.pop(key)
        else:
            rows[key] = new
        out.append(
            {
                "seq": seq,
                "key": str(key),
                "op": op,
                "table_schema": SCHEMA,
                "table_name": TABLE,
                "old": None if old is None else json.dumps(old),
                "new": None if new is None else json.dumps(new),
                "ts": f"2024-01-01T{seq // 3600 % 24:02d}:{seq // 60 % 60:02d}:{seq % 60:02d}Z",
            }
        )
    return out


def event_id(trigger: str, key: str, seq: int) -> str:
    return hashlib.md5(f"{SCHEMA}:{TABLE}:{trigger}:k{key}:s{seq}".encode()).hexdigest()


def expected(rows: list[dict], trigger: str) -> dict[str, dict]:
    """Event id -> change row, for the rows an INSERT/UPDATE subscription
    tracking ``salary`` delivers."""
    out = {}
    for r in rows:
        if r["op"] == "DELETE":
            continue
        if r["op"] == "UPDATE" and json.loads(r["old"])[TRACKED] == json.loads(r["new"])[TRACKED]:
            continue
        out[event_id(trigger, r["key"], r["seq"])] = r
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--feed", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--slot-ms", type=float, default=100.0)
    ap.add_argument("--t0", type=float, required=True, help="epoch time row `start` is due")
    ap.add_argument("--report", required=True)
    args = ap.parse_args()

    from postgres_cdc_plugin_spark.sources.changefeed import write_chunk

    n = int(args.rate * args.seconds)
    rows = changes(args.seed, args.start + n)[args.start:]
    due = [args.t0 + i / args.rate for i in range(n)]
    per_slot = max(1, round(args.rate * args.slot_ms / 1000.0))
    late_ms = []
    chunks = []
    for lo in range(0, n, per_slot):
        hi = min(n, lo + per_slot)
        slot_due = due[hi - 1]
        wait = slot_due - time.time()
        if wait > 0:
            time.sleep(wait)
        path = write_chunk(args.feed, rows[lo:hi])
        written = time.time()
        late_ms.append(max(0.0, (written - slot_due) * 1000.0))
        chunks.append([os.path.basename(path), written, lo, hi])
    with open(args.report, "w") as f:
        json.dump({"due": due, "late_ms": late_ms, "chunks": chunks}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
