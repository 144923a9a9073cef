"""deliver_memory: DeliveryLoop.run_stream with the default in-memory
(localCheckpoint) state, as a closed-loop catch-up replay.

The seed controls the event values, how events are split across the
per-tick files, which events carry a delivery time in the future, and
which ids the sink fails (404 permanently, 503 once).
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import shutil
import statistics
import time
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.sink import FlakySink, outcome, read_spool
from vanus_spark.model import ATTR_DELIVERY_TIME, events_to_cloudevents
from vanus_spark.sources import load_table
from vanus_spark.streaming.runner import DeliveryLoop
from vanus_spark.subscription import Subscription

EVENTS_PER_TICK = 2000
# Ticks per stream. Pending-state partitions double every tick, so tick
# time grows; three ticks show that growth while keeping a run bounded.
TICKS_PER_UNIT = 3
WARMUP_EVENTS = 400
DELAYED_SHARE = 0.05
# Delayed events stay parked for the whole run, so where they end up is
# deterministic (pending) whatever the wall clock does.
FAR_FUTURE = "2100-01-01T00:00:00Z"
PASSING_TYPES = ("purchase", "view")
# state read after every traced tick
_PROBES = ("pending_partitions", "held_rdds", "held_storage_bytes")
SUB_SPEC = {
    "filters": [{"any": [{"exact": {"type": t}} for t in PASSING_TYPES]}],
    "transformer": {
        "pipeline": [["MATH_MUL", "$.data.value", "$.data.value", 100]],
        "template": '{"uid":<$.data.user_id>,"cents":<$.data.value>}',
    },
}


def _parse_ts(s: str) -> float:
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000.0


class DeliverMemory:
    name = "deliver_memory"
    step = "tick"

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.units: list[dict] = []

    # ----- set-up ------------------------------------------------------------

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        n = EVENTS_PER_TICK * TICKS_PER_UNIT
        raw = inputs.events(rng, n)
        warm = inputs.events(rng, WARMUP_EVENTS, first_id=10_000_000)
        # seeded split of events across tick files; the warm-up stream
        # reads its own file
        file_of = np.empty(n, dtype=object)
        file_of[rng.permutation(n)] = [f"tick-{i // EVENTS_PER_TICK:03d}" for i in range(n)]
        delayed = set(raw.event_id[rng.random(n) < DELAYED_SHARE].tolist())
        both = pd.concat([raw, warm], ignore_index=True)
        inputs.write(both, os.path.join(self.work, "raw", "events.parquet"), inputs.EVENTS_SCHEMA)
        files = self.spark.createDataFrame(
            pd.DataFrame({"id": both.event_id.astype(str), "_file": list(file_of) + ["warm"] * len(warm)})
        )
        ce = events_to_cloudevents(load_table(self.spark, os.path.join(self.work, "raw"), "events"))
        ce = ce.withColumn(
            "attributes",
            F.when(
                F.col("id").isin([str(i) for i in sorted(delayed)]),
                F.map_concat("attributes", F.create_map(F.lit(ATTR_DELIVERY_TIME), F.lit(FAR_FUTURE))),
            ).otherwise(F.col("attributes")),
        )
        out = os.path.join(self.work, "ce")
        ce.join(F.broadcast(files), "id").coalesce(1).write.partitionBy("_file").parquet(out)
        self.src, self.warm_src = os.path.join(self.work, "src"), os.path.join(self.work, "warm")
        os.makedirs(self.src)
        os.makedirs(self.warm_src)
        for i in range(TICKS_PER_UNIT):
            name = f"tick-{i:03d}"
            (part,) = glob.glob(os.path.join(out, f"_file={name}", "part-*.parquet"))
            shutil.move(part, os.path.join(self.src, f"{name}.parquet"))
            # the file source takes files in modification-time order
            os.utime(os.path.join(self.src, f"{name}.parquet"), (1e9 + i, 1e9 + i))
        (part,) = glob.glob(os.path.join(out, "_file=warm", "part-*.parquet"))
        shutil.move(part, os.path.join(self.warm_src, "warm.parquet"))
        self.schema = self.spark.read.parquet(self.src).schema

        passing = raw[raw.event_type.isin(PASSING_TYPES)]
        self.expected_payload = {
            str(r.event_id): (int(r.user_id), float(r.value) * 100.0)
            for r in passing.itertuples(index=False)
        }
        self.delayed = {str(i) for i in delayed}
        self.expected_dead = {
            i for i in self.expected_payload
            if i not in self.delayed and outcome(self.seed, i) == 404
        }

    def _run_stream(self, src: str, tag: str) -> tuple[DeliveryLoop, list, str]:
        spool = os.path.join(self.work, f"spool-{tag}")
        os.makedirs(spool)
        loop = DeliveryLoop(self.spark, Subscription.from_spec(SUB_SPEC), FlakySink(self.seed, spool))
        stream = self.spark.readStream.schema(self.schema).option("maxFilesPerTrigger", 1).parquet(src)
        q = loop.run_stream(stream, os.path.join(self.work, f"ckpt-{tag}"))
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream {tag} failed: {q.exception()}")
        return loop, q.recentProgress, spool

    def warm_up(self) -> None:
        self._run_stream(self.warm_src, "warm")

    # ----- measured region ---------------------------------------------------

    def _unit(self, k: int) -> dict:
        with self.tracer.span("unit", unit=k) as rec:
            loop, progress, spool = self._run_stream(self.src, f"u{k}")
        ticks = []
        for p in progress:
            start = _parse_ts(p.timestamp)
            tick = self.tracer.record(
                "tick", start, start + p.durationMs["triggerExecution"], parent=rec["id"], batch=p.batchId
            )
            ticks.append(
                {
                    "batch": p.batchId,
                    # numInputRows counts every scan of the micro-batch
                    "source_scans": p.numInputRows / EVENTS_PER_TICK,
                    "start": tick["start"],
                    "end": tick["end"],
                    "id": tick["id"],
                    "duration_ms": dict(p.durationMs),
                }
            )
        if self.tracer.enabled:
            with self.tracer.probe():
                rec["pending_rows_end"] = loop.pending.count()
        return {"loop": loop, "ticks": ticks, "spool": spool, "span": rec}

    def measure(self, seconds: float) -> list[dict]:
        """Fresh streams over the same files until ``seconds`` have
        passed (at least one). Returns one step per tick."""
        deadline = time.perf_counter() + seconds
        while True:
            self.units.append(self._unit(len(self.units)))
            if time.perf_counter() >= deadline:
                break
        return [
            {"start": t["start"], "end": t["end"], "items": EVENTS_PER_TICK, "label": f"u{u['span']['unit']}t{t['batch']}"}
            for u in self.units
            for t in u["ticks"]
        ]

    # ----- correctness -------------------------------------------------------

    def check(self) -> tuple[int, int, dict]:
        attempted = failed = 0
        for u in self.units:
            records = read_spool(u["spool"])
            delivered = [i for r in records for i, _ in r["ok"]]
            payload = {i: d for r in records for i, d in r["ok"]}
            dead = {r.id for r in u["loop"].dead.select("id").collect()}
            pending = {r.id for r in u["loop"].pending.select("id").collect()}
            seen = set(delivered) | dead | pending
            bad = {i for i in self.expected_payload if i not in seen}  # lost
            bad |= {i for i, n in Counter(delivered).items() if n > 1}
            for i, data in payload.items():
                want = self.expected_payload.get(i)
                got = json.loads(data)
                if (
                    want is None
                    or i in self.delayed
                    or got.get("uid") != want[0]
                    or abs(float(got.get("cents")) - want[1]) > 1e-9 * max(1.0, abs(want[1]))
                ):
                    bad.add(i)
            bad |= dead ^ self.expected_dead
            attempted += len(self.expected_payload)
            failed += len(bad)
            u["sink"] = {
                "rows": sum(r["rows"] for r in records),
                "calls": len(records),
                "busy_s": sum(r["busy_s"] for r in records),
                "delivered": len(delivered),
                "retried": sum(r["n503"] for r in records),
                "dead": len(dead),
                "resolved": len(set(delivered) | dead),
            }
        return attempted, failed, {}

    # ----- per-layer ---------------------------------------------------------

    def layer_metrics(self, steps: list[dict], usage) -> tuple[dict, dict]:
        med = statistics.median
        batches = [s for s in self.tracer.spans if s["name"] == "runner.process_batch"]
        ticks = [t for u in self.units for t in u["ticks"]]
        stored = self.storage0
        for t in ticks:
            (b,) = [s for s in batches if t["start"] <= s["start"] <= t["end"]]
            b["parent"] = t["id"]
            t.update(usage(t["start"], t["end"]), **{k: b[k] for k in _PROBES})
            t["state_bytes_written"] = max(0, b["held_storage_bytes"] - stored)
            stored = b["held_storage_bytes"]
        m = {
            "runner.jobs_per_tick": med(t["jobs"] for t in ticks),
            "runner.tasks_per_tick": med(t["tasks"] for t in ticks),
            "runner.task_s_per_tick": med(t["task_s"] for t in ticks),
            "runner.source_scans_per_tick": med(t["source_scans"] for t in ticks),
            "runner.state_bytes_written": med(t["state_bytes_written"] for t in ticks),
        }
        for key in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"):
            m[f"runner.{key}_ms"] = med(t["duration_ms"].get(key, 0) for t in ticks)
        last_unit = self.units[-1]
        end = last_unit["ticks"][-1]
        m["runner.pending_partitions_end"] = end["pending_partitions"]
        m["runner.pending_rows_end"] = last_unit["span"]["pending_rows_end"]
        m["runner.held_rdds_end"] = end["held_rdds"]
        m["runner.held_storage_mb_end"] = end["held_storage_bytes"] / 2**20
        second = last_unit["ticks"][1]
        m["runner.tick_growth"] = (end["end"] - end["start"]) / (second["end"] - second["start"])
        sink = [u["sink"] for u in self.units]
        for key in ("rows", "calls", "busy_s"):
            m[f"delivery.sink_{key}"] = sum(s[key] for s in sink) / len(ticks)
        for key in ("delivered", "retried", "dead"):
            m[f"delivery.{key}"] = sum(s[key] for s in sink) / len(ticks)
        m["delivery.useful_ratio"] = sum(s["resolved"] for s in sink) / sum(s["rows"] for s in sink)
        return m, {"ticks": [{k: v for k, v in t.items() if k not in ("start", "end")} for t in ticks]}

    def trace_hooks(self) -> None:
        tracer, sc = self.tracer, self.spark.sparkContext

        def held_storage_bytes() -> int:
            return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())

        with tracer.probe():
            self.storage0 = held_storage_bytes()
        orig = DeliveryLoop.process_batch

        def process_batch(loop, *args, **kwargs):
            with tracer.span("runner.process_batch") as rec:
                res = orig(loop, *args, **kwargs)
            with tracer.probe():
                rec["pending_partitions"] = loop.pending.rdd.getNumPartitions()
                rec["held_rdds"] = sc._jsc.getPersistentRDDs().size()
                rec["held_storage_bytes"] = held_storage_bytes()
            return res

        DeliveryLoop.process_batch = process_batch

    def trace_after(self) -> None:
        pass
