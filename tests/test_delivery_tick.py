"""Multi-tick guards for DeliveryLoop's per-tick passes.

A tick transforms its batch once and calls the sink once per due row;
its counters are observed on those passes rather than recounted. These
tests pin that over many ticks, with a spool sink recording every row
it is handed (one file per call):

- no (id, attempt) reaches the sink twice, so no pass is re-executed;
- the counters and metrics_df equal a recount from the spool;
- pending keeps a fixed partition count, and the loop holds a fixed
  number of persisted RDDs however many ticks have run.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import shutil
import uuid
from collections import Counter

from tests.test_streaming import T0, _envelope, _row
from vanus_spark.streaming.runner import DeliveryLoop
from vanus_spark.subscription import Subscription

FAR_FUTURE = {"xvanusdeliverytime": "2100-01-01T00:00:00Z"}


class SpoolSink:
    """Statuses by id: 404 for i % 13 == 0, 503 on the first attempt
    for i % 7 == 0, else 200. Writes [id, attempt, status] per row."""

    def __init__(self, spool_dir: str):
        self.spool_dir = spool_dir

    def __call__(self, rows):
        out = []
        for r in rows:
            i = int(r["id"])
            attempts = int((r["attributes"] or {}).get("xvanusretryattempts", 0))
            status = 404 if i % 13 == 0 else 503 if i % 7 == 0 and attempts == 0 else 200
            out.append([r["id"], attempts, status])
        if out:
            with open(os.path.join(self.spool_dir, uuid.uuid4().hex), "w") as f:
                json.dump(out, f)
        return [s for _, _, s in out]


def _read_spool(spool_dir: str, names) -> list[list]:
    rows = []
    for name in names:
        with open(os.path.join(spool_dir, name)) as f:
            rows += json.load(f)
    return rows


def _tick_rows(k: int, n: int):
    """Tick k's events: every 5th is filtered out (type click), every
    9th carries a non-JSON payload (transform error), every 11th a
    far-future delivery time (parks for the whole run)."""
    rows = []
    for i in range(k * n + 1, (k + 1) * n + 1):
        rows.append(
            _row(
                i,
                typ="click" if i % 5 == 0 else "purchase",
                attrs=FAR_FUTURE if i % 11 == 0 else None,
                data="not json" if i % 9 == 0 else '{"v":%d}' % i,
            )
        )
    return rows


def test_ticks_sink_once_and_count_from_the_spool(spark, tmp_path):
    n_ticks, per_tick, cap = 10, 30, 24
    src = tmp_path / "src"
    src.mkdir()
    for k in range(n_ticks):
        out = str(tmp_path / f"w{k}")
        _envelope(spark, _tick_rows(k, per_tick)).coalesce(1).write.parquet(out)
        (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
        dest = str(src / f"tick-{k:02d}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1e9 + k, 1e9 + k))  # the file source reads in mtime order
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    sub = Subscription.from_spec(
        {
            "filters": [{"exact": {"type": "purchase"}}],
            "transformer": {"pipeline": [["MATH_MUL", "$.data.v", "$.data.v", 2]]},
            "config": {"max_uack": cap},
        }
    )
    loop = DeliveryLoop(spark, sub, SpoolSink(spool))

    ticks = []
    process_batch = loop.process_batch

    def traced(*args, **kwargs):
        before = set(os.listdir(spool))
        res = process_batch(*args, **kwargs)
        ticks.append(
            {
                "sink": _read_spool(spool, set(os.listdir(spool)) - before),
                "counts": res.counts,
                "pending_partitions": loop.pending.rdd.getNumPartitions(),
                "pending": loop.pending.count(),
            }
        )
        return res

    loop.process_batch = traced
    stream = spark.readStream.schema(_envelope(spark, []).schema)
    q = loop.run_stream(
        stream.option("maxFilesPerTrigger", 1).parquet(str(src)), str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    assert q.exception() is None
    assert len(ticks) == n_ticks

    def transform_errors(k: int) -> set[str]:
        return {
            r[0] for r in _tick_rows(k, per_tick) if r[3] == "purchase" and r[-1] == "not json"
        }

    tf_error = set().union(*(transform_errors(k) for k in range(n_ticks)))
    all_sink = [r for t in ticks for r in t["sink"]]
    # the sink pass ran once: no (id, attempt) was handed over twice
    assert not [k for k, c in Counter((i, a) for i, a, _ in all_sink).items() if c > 1]
    for k, t in enumerate(ticks):
        c, sink = t["counts"], t["sink"]
        assert len(sink) <= cap
        statuses = Counter(s for _, _, s in sink)
        assert c["delivered"] == statuses[200]
        assert c["retried"] == statuses[503]
        assert c["dead"] == statuses[404] + len(transform_errors(k))
        assert c["pulled"] == per_tick
        assert c["pending"] == t["pending"]
    assert len({t["pending_partitions"] for t in ticks[1:]}) == 1

    statuses = Counter(s for _, _, s in all_sink)
    assert loop.prom_counters == {
        "pull_event_number": n_ticks * per_tick,
        "push_event_number": statuses[200],
        "retry_event_number": statuses[503],
        "dead_letter_event_number": statuses[404] + len(tf_error),
    }
    assert loop.delivered_count == statuses[200]
    metrics = sorted(loop.metrics_df().collect())
    assert [m.epoch for m in metrics] == list(range(n_ticks))
    for m, t in zip(metrics, ticks):
        tick = Counter(s for _, _, s in t["sink"])
        assert (m.delivered, m.new_dead, m.pending) == (
            tick[200], t["counts"]["dead"], t["pending"]
        )
    dead = {r.id for r in loop.dead.collect()}
    assert dead == {i for i, _, s in all_sink if s == 404} | tf_error
    # nothing lost: every passing event is delivered, dead or pending
    passing = {
        r[0] for k in range(n_ticks) for r in _tick_rows(k, per_tick) if r[3] == "purchase"
    }
    delivered = [i for i, _, s in all_sink if s == 200]
    assert len(delivered) == len(set(delivered))
    pending = {r.id for r in loop.pending.collect()}
    assert passing == set(delivered) | dead | pending


def test_held_rdds_stay_flat_over_ticks(spark, tmp_path):
    """In memory, a tick releases the previous tick's passes: the
    loop's persisted RDDs are the same number after 5 and 20 ticks."""
    sc = spark.sparkContext
    first_id = sc.parallelize([0]).id()

    def held() -> int:
        return sum(1 for i in sc._jsc.getPersistentRDDs().keySet() if i > first_id)

    # per tick of 8 fresh events (k*91 is a multiple of 7 and 13):
    # one dead (404), one parked once (503)
    loop = DeliveryLoop(spark, Subscription.from_spec({}), SpoolSink(str(tmp_path)))
    t = T0
    sizes = {}
    for k in range(1, 21):
        rows = [_row(k * 91 + i) for i in range(8)]
        loop.process_batch(_envelope(spark, rows), t)
        sizes[k] = held()
        t += dt.timedelta(seconds=2)
    assert sizes[5] == sizes[20] <= 3
    # and the state still reads: 503s drained on the next tick, 404s dead
    assert loop.pending.count() == 1
    assert loop.dead.count() == 20
