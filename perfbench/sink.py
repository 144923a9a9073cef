"""Seeded flaky sink for the delivery workloads.

It is pickled to the PySpark workers, so it keeps no state between
calls: each decision is a hash of (seed, event id, retry attempt).
Every call appends one JSON record to its own file in ``spool_dir``
(workers share the local filesystem), which is how the benchmark sees
what was delivered and how much work the sink was handed.
"""

from __future__ import annotations

import json
import os
import time
import uuid
import zlib

PERMANENT_PER_MILLE = 30  # -> 404, non-retriable, dead-lettered
TRANSIENT_PER_MILLE = 50  # -> 503 on the first attempt, 200 on retry


def outcome(seed: int, event_id: str) -> int:
    """404 or 503 for a seeded share of ids, else 200 (first attempt)."""
    h = zlib.crc32(f"{seed}:{event_id}".encode()) % 1000
    if h < PERMANENT_PER_MILLE:
        return 404
    if h < PERMANENT_PER_MILLE + TRANSIENT_PER_MILLE:
        return 503
    return 200


class FlakySink:
    def __init__(self, seed: int, spool_dir: str):
        self.seed = seed
        self.spool_dir = spool_dir

    def __call__(self, rows):
        t0 = time.perf_counter()
        statuses, ok = [], []
        for r in rows:
            status = outcome(self.seed, r["id"])
            attempts = int((r["attributes"] or {}).get("xvanusretryattempts", 0))
            if status == 503 and attempts >= 1:
                status = 200
            statuses.append(status)
            if status == 200:
                ok.append([r["id"], r["data"]])
        record = {
            "rows": len(rows),
            "ok": ok,
            "n503": statuses.count(503),
            "n404": statuses.count(404),
            "busy_s": time.perf_counter() - t0,
        }
        with open(os.path.join(self.spool_dir, uuid.uuid4().hex), "w") as f:
            json.dump(record, f)
        return statuses


def read_spool(spool_dir: str) -> list[dict]:
    out = []
    for name in os.listdir(spool_dir):
        with open(os.path.join(spool_dir, name)) as f:
            out.append(json.load(f))
    return out
