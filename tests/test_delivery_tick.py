"""Multi-tick guards for DeliveryLoop's per-tick passes.

A tick transforms its batch once and calls the sink once per due row;
its counters are observed on those passes rather than recounted. These
tests pin that over many ticks, with a spool sink recording every row
it is handed (one file per call):

- no (id, attempt) reaches the sink twice, so no pass is re-executed;
- the counters and metrics_df equal a recount from the spool;
- pending keeps a fixed partition count, and the loop holds a fixed
  number of persisted RDDs however many ticks have run, none after
  ``close``.

Pending takes as many partitions as its rows fill Arrow batches, so a
steady sink pass runs one task per batch partition and one more; the
loop's empty frames are local relations, which run no task.

On the compiled tier a tick after the first runs at most 3 jobs and
600 py4j round trips, and payloads that drift from the sampled schema
reach the interpreter with the interpreter's result.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import shutil
import uuid
from collections import Counter

import pytest
from pyspark.sql import DataFrameWriter

from tests.test_streaming import T0, _envelope, _row
from vanus_spark import commitlog
from vanus_spark.commitlog import ConcurrentWriterError
from vanus_spark.streaming import runner
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


def _held_over_ticks(spark, tmp_path, ids, state_dir=None) -> tuple[dict, DeliveryLoop]:
    """20 ticks of fresh events ``k * 91 + i`` for i in ``ids`` (k*91 is
    a multiple of 7 and 13: i = 0 is a 404 after a 503, and the 503
    parks once); the loop's persisted RDD count after each tick."""
    sc = spark.sparkContext
    first_id = sc.parallelize([0]).id()
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    loop = DeliveryLoop(spark, Subscription.from_spec({}), SpoolSink(spool), state_dir=state_dir)
    t = T0
    sizes = {}
    for k in range(1, 21):
        loop.process_batch(_envelope(spark, [_row(k * 91 + i) for i in ids]), t)
        sizes[k] = sum(1 for i in sc._jsc.getPersistentRDDs().keySet() if i > first_id)
        t += dt.timedelta(seconds=2)
    return sizes, loop


def test_held_rdds_stay_flat_over_ticks(spark, tmp_path):
    """In memory, a tick releases the previous tick's passes: the
    loop's persisted RDDs are the same number after 5 and 20 ticks."""
    # per tick of 8 events: one dead (404), one parked once (503)
    sizes, loop = _held_over_ticks(spark, tmp_path, range(8))
    assert sizes[5] == sizes[20] <= 3
    # and the state still reads: 503s drained on the next tick, 404s dead
    assert loop.pending.count() == 1
    assert loop.dead.count() == 20
    loop.close()


def test_held_rdds_stay_flat_over_quiet_durable_ticks(spark, tmp_path):
    """A durable loop whose ticks leave nothing pending and nothing dead
    releases each tick's passes too: its pending is the loop's empty
    frame from tick 1 on, and reads none of them."""
    # per tick of 6 events, all delivered
    sizes, loop = _held_over_ticks(spark, tmp_path, range(1, 7), str(tmp_path / "state"))
    assert sizes[5] == sizes[20] <= 3
    assert loop.pending.count() == loop.dead.count() == 0
    loop.close()


def test_a_held_frame_keeps_its_passes(spark, tmp_path):
    """A frame the loop handed out stays readable while someone holds
    it, as when another thread counts ``loop.pending`` while a tick
    ends; its passes are released by the first tick after it is
    dropped."""
    sc = spark.sparkContext
    first_id = sc.parallelize([0]).id()

    def held() -> int:
        return sum(1 for i in sc._jsc.getPersistentRDDs().keySet() if i > first_id)

    def tick(k: int) -> None:
        # one dead (404) and one retry (503) per tick, as above
        rows = [_row(k * 91 + i) for i in range(8)]
        loop.process_batch(_envelope(spark, rows), T0 + dt.timedelta(seconds=2 * k))

    loop = DeliveryLoop(spark, Subscription.from_spec({}), SpoolSink(str(tmp_path)))
    tick(1)
    pending, base = loop.pending, held()
    tick(2)
    assert pending.count() == 1
    assert held() > base
    del pending
    tick(3)
    assert held() == base
    loop.close()


# ----- the compiled tier ---------------------------------------------------

COMPILED_SPEC = {
    "filters": [{"exact": {"type": "purchase"}}],
    "transformer": {
        "pipeline": [["MATH_MUL", "$.data.value", "$.data.value", 100]],
        "template": '{"uid":<$.data.user_id>,"cents":<$.data.value>,"n":"<$.data.name>"}',
    },
}


class StatusSink:
    """A fixed status per id (200 for the rest)."""

    def __init__(self, statuses: dict[str, int]):
        self.statuses = statuses

    def __call__(self, rows):
        return [self.statuses.get(r["id"], 200) for r in rows]


def _conforming(i: int, **kw):
    return _row(i, data='{"user_id":%d,"value":%d.5,"name":"n%d"}' % (i, i, i), **kw)


class _Budget:
    """Spark jobs (by job group) and py4j round trips of one call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.client = self.sc._gateway._gateway_client
        self.trips = 0
        self._send = self.client.send_command

        def send_command(*args, **kwargs):
            self.trips += 1
            return self._send(*args, **kwargs)

        self.client.send_command = send_command

    def run(self, group: str, fn):
        self.sc.setJobGroup(group, group)
        before = self.trips
        try:
            out = fn()
        finally:
            trips = self.trips - before
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                self.sc.setLocalProperty(key, None)
        # the status tracker is fed by the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
        return out, jobs, trips

    def stage_tasks(self, group: str) -> list[list[int]]:
        """The task count of every stage of each of the group's jobs,
        in job order."""
        tracker = self.sc.statusTracker()
        return [
            [tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(j).stageIds]
            for j in sorted(tracker.getJobIdsForGroup(group))
        ]

    def close(self):
        self.client.send_command = self._send


def test_compiled_tick_budget(spark, monkeypatch):
    """A compilable subscription over conforming payloads: after the
    first tick (which samples the schema) a tick is the work pass, the
    sink pass and the dead-state checkpoint, built from Columns the loop
    made once; a tick with one drifted payload adds the interpreter
    pass and nothing else, and one with ``_WIDEN_ROWS`` drifted
    payloads also the exchange that spreads them."""
    monkeypatch.setattr(runner, "_WIDEN_ROWS", 3)
    loop = DeliveryLoop(
        spark, Subscription.from_spec(COMPILED_SPEC), StatusSink({f"{k}00": 404 for k in range(6)})
    )
    budget = _Budget(spark)
    try:
        ticks = []
        for k in range(1, 6):
            rows = [_conforming(k * 100 + i) for i in range(20)]
            drifted = {4: 1, 5: 3}.get(k, 0)
            rows += [
                _row(k * 100 + 50 + i, data='{"user_id":1,"value":2,"name":"x"}')
                for i in range(drifted)
            ]
            batch = _envelope(spark, rows)
            t = T0 + dt.timedelta(seconds=2 * k)
            ticks.append(
                budget.run(f"compiled-tick-{uuid.uuid4().hex}", lambda: loop.process_batch(batch, t))
            )
    finally:
        budget.close()
    assert loop._schema is not None
    for res, _, _ in ticks:
        assert res.counts["dead"] == 1
    (_, jobs2, trips2), (_, jobs3, trips3), (res4, jobs4, _), (res5, jobs5, _) = ticks[1:]
    assert jobs2 <= 3 and jobs3 <= 3, (jobs2, jobs3)
    assert trips2 <= 600 and trips3 <= 600, (trips2, trips3)
    assert jobs4 == jobs3 + 1
    assert jobs5 == jobs3 + 2
    assert res5.counts["delivered"] == 22
    assert res4.counts["delivered"] == 20
    payloads = {r.id: r.data for r in res4.delivered.collect()}
    assert payloads["401"] == '{"uid":401,"cents":40150.0,"n":"n401"}'
    loop.close()


def _drift_rows():
    """(row, sink status) for the second tick: drifted payloads of every
    kind the guard must refuse, plus conforming and drifted rows that
    are due, delayed and failing at the sink."""
    d = lambda i, data, **kw: _row(i, data=data, **kw)  # noqa: E731
    return [
        (_conforming(201), 200),
        (d(202, '{"user_id":2,"value":2.5,"name":"b","extra":true}'), 200),
        (d(203, '{"user_id":"3","value":2.5,"name":"c"}'), 200),
        (d(204, '{"user_id":4,"value":1,"name":"d"}'), 200),
        (d(205, '{"value": 2.5, "user_id": 5, "name": "e"}'), 200),
        (d(206, '{"user_id":6,"value":2.5,"name":"\\u00e9t\\u00e9 \\"q\\""}'), 200),
        (d(207, None), 200),
        (d(208, ""), 200),
        (d(209, "null"), 200),
        (d(210, "[1]"), 200),
        (d(211, "3"), 200),
        (d(212, '{"user_id":12,'), 200),
        (d(213, '{"user_id":13,"value":7}', attrs=FAR_FUTURE), 200),
        (d(214, '{"value":1.5,"user_id":14,"name":"f"}'), 503),
        (d(215, '{"user_id":15,"value":"NaN","name":"g"}'), 404),
        (_conforming(216, attrs=FAR_FUTURE), 200),
        (_conforming(217), 503),
        (_conforming(218), 404),
        (d(219, '{"user_id":19,"value":1}', typ="click"), 200),
    ]


@pytest.mark.parametrize("widen_rows", [runner._WIDEN_ROWS, 1])
def test_drift_rows_match_the_interpreter(spark, monkeypatch, widen_rows):
    """Rows whose payload does not round-trip through the sampled
    schema go to the interpreter, on their own partitions or spread over
    the cores: every id's payload, route, DLQ reason and the tick's
    counts equal ``transform_dataframe`` over the filtered batch
    followed by the reference's routing."""
    monkeypatch.setattr(runner, "_WIDEN_ROWS", widen_rows)
    from pyspark.sql import functions as F

    from vanus_spark.transformer import transform_dataframe

    fixtures = _drift_rows()
    statuses = {r[0]: s for r, s in fixtures if s != 200}
    sub = Subscription.from_spec(COMPILED_SPEC)
    loop = DeliveryLoop(spark, sub, StatusSink(statuses))
    loop.process_batch(_envelope(spark, [_conforming(i) for i in range(1, 30)]), T0)
    assert loop._schema.simpleString() == "struct<user_id:bigint,value:double,name:string>"

    batch = _envelope(spark, [r for r, _ in fixtures])
    now = T0 + dt.timedelta(seconds=2)
    res = loop.process_batch(batch, now)

    oracle = transform_dataframe(batch.where(sub.filter_column()), sub.transformer).withColumn(
        "due", F.try_to_timestamp(F.col("attributes").getItem("xvanusdeliverytime"))
    )
    want_route, want_payload, want_reason = {}, {}, {}
    for r in oracle.collect():
        if r.transform_error:
            want_route[r.id], want_reason[r.id] = "dead", "TransformError"
        elif r.due is not None and r.due > now:
            want_route[r.id] = "pending"
        elif statuses.get(r.id) == 503:
            want_route[r.id] = "retry"
        elif statuses.get(r.id) == 404:
            want_route[r.id], want_reason[r.id] = "dead", "Response404"
        else:
            want_route[r.id] = "delivered"
            want_payload[r.id] = (r.data, r.datacontenttype)

    got_payload = {r.id: (r.data, r.datacontenttype) for r in res.delivered.collect()}
    got_reason = {r.id: r.attributes["xvanusdlreason"] for r in res.dead.collect()}
    retried = {r.id for r in res.retried.collect()}
    got_route = {
        **{i: "delivered" for i in got_payload},
        **{i: "dead" for i in got_reason},
        **{r.id: "pending" for r in loop.pending.collect() if r.id not in retried},
        **{i: "retry" for i in retried},
    }
    assert got_route == want_route
    assert got_payload == want_payload
    assert got_reason == want_reason
    routes = Counter(want_route.values())
    assert res.counts == {
        "pulled": len(fixtures),
        "delivered": routes["delivered"],
        "retried": routes["retry"],
        "dead": routes["dead"],
        "pending": routes["pending"] + routes["retry"],
    }
    loop.close()


def test_schema_freezes_on_the_first_tick_with_rows(spark):
    """The payload sample runs on each empty tick until the first tick
    whose filtered batch has rows, then never again, even when none of
    those rows has a payload to infer a schema from."""
    loop = DeliveryLoop(spark, Subscription.from_spec(COMPILED_SPEC), StatusSink({}))
    budget = _Budget(spark)
    jobs = []
    try:
        nil = [[_row(k, data=None)] for k in range(1, 4)]
        for k, rows in enumerate([[], [], *nil]):
            batch = _envelope(spark, rows)
            t = T0 + dt.timedelta(seconds=2 * k)
            _, n, _ = budget.run(f"sample-tick-{uuid.uuid4().hex}", lambda: loop.process_batch(batch, t))
            jobs.append(n)
    finally:
        budget.close()
    assert loop._schema_frozen and loop._schema is None
    # the sample is a Spark limit, which over a sparse batch may run a
    # job per scaled-up set of partitions: compare tick totals
    assert jobs[0] == jobs[1]
    assert jobs[4] == jobs[3] < jobs[2], jobs
    loop.close()


def test_malformed_delivery_time_is_due_now(spark):
    """A delivery time that does not parse is due now, as if absent:
    the tick completes, that row is delivered once, and the rest are
    routed as without it."""

    def run(rows, ticks=2):
        sink = StatusSink({})
        loop = DeliveryLoop(spark, Subscription.from_spec(COMPILED_SPEC), sink)
        delivered = []
        for k in range(ticks):
            res = loop.process_batch(
                _envelope(spark, rows if k == 0 else []), T0 + dt.timedelta(seconds=2 * k)
            )
            delivered += sorted((r.id, r.data) for r in res.delivered.collect())
        pending = sorted(r.id for r in loop.pending.collect())
        loop.close()
        return delivered, pending

    good = [_conforming(1), _conforming(2, attrs=FAR_FUTURE), _conforming(3)]
    garbage = _conforming(4, attrs={"xvanusdeliverytime": "garbage"})
    delivered, pending = run(good + [garbage])
    base_delivered, base_pending = run(good)
    assert [i for i, _ in delivered] == ["1", "3", "4"]
    assert [d for d in delivered if d[0] != "4"] == base_delivered
    assert pending == base_pending == ["2"]


def test_close_releases_the_loop_checkpoints(spark):
    from vanus_spark.streaming.fanout import TriggerWorker

    sc = spark.sparkContext

    def persisted() -> set[int]:
        return set(sc._jsc.getPersistentRDDs().keySet())

    before = persisted()
    loop = DeliveryLoop(spark, Subscription.from_spec(COMPILED_SPEC), StatusSink({"1": 404}))
    for k in range(2):
        loop.process_batch(_envelope(spark, [_conforming(k * 10 + i) for i in range(1, 4)]), T0)
    held = persisted() - before
    assert held
    loop.close()
    assert not persisted() & held
    loop.close()  # a second close is a no-op

    worker = TriggerWorker(spark).register("a", COMPILED_SPEC, StatusSink({"1": 404}))
    worker.process_batch(_envelope(spark, [_conforming(i) for i in range(1, 4)]), T0)
    held = persisted() - before
    assert held
    worker.unregister("a")
    assert not persisted() & held


# ----- what a tick's passes run over ----------------------------------------


def _plans_an_rdd(df) -> bool:
    """Whether the frame reads a parallelized Python RDD (a LogicalRDD),
    whose every read runs Python tasks."""
    return "LogicalRDD" in df._jdf.queryExecution().analyzed().toString()


def test_empty_state_is_a_local_relation(spark, tmp_path):
    """A fresh loop's pending and dead, and the delivered and dead
    frames of a tick its stopped subscription gates, read no RDD."""
    from vanus_spark.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat.json"))
    ns = cat.create_namespace("default")
    eb = cat.create_eventbus(ns["id"], "demo")
    sub_rec = cat.create_subscription(ns["id"], eb["id"], {})
    loop = DeliveryLoop(
        spark, Subscription.from_spec({}), StatusSink({}), catalog=cat, catalog_sub_id=sub_rec["id"]
    )
    assert not _plans_an_rdd(loop.pending) and not _plans_an_rdd(loop.dead)
    assert loop.pending.count() == loop.dead.count() == 0
    cat.disable_subscription(sub_rec["id"])
    res = loop.process_batch(_envelope(spark, [_row(1)]), T0)
    assert res.counts["pulled"] == 1 and res.counts["delivered"] == 0
    assert not _plans_an_rdd(res.delivered) and not _plans_an_rdd(res.dead)
    assert res.delivered.count() == res.dead.count() == 0


def _parked(first: int, n: int):
    return [_conforming(first + i, attrs=FAR_FUTURE) for i in range(n)]


def test_pending_partitions_follow_its_rows(spark):
    """Pending takes one partition per Arrow batch its rows fill, at
    least one and at most the session's default parallelism."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    width = spark.sparkContext.defaultParallelism
    loop = DeliveryLoop(spark, Subscription.from_spec(COMPILED_SPEC), StatusSink({}))
    t = iter(T0 + dt.timedelta(seconds=2 * k) for k in range(10))

    def parts() -> int:
        return loop.pending.rdd.getNumPartitions()

    loop.process_batch(_envelope(spark, [_conforming(1)]), next(t))
    assert parts() == 1  # nothing carried
    loop.process_batch(_envelope(spark, [_conforming(2), *_parked(100, 3)]), next(t))
    assert parts() == 1
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        # 3 + 4 carried rows: ceil(7 / 2)
        loop.process_batch(_envelope(spark, _parked(200, 4)), next(t))
        assert parts() == 4
        # more rows than width batches fill
        res = loop.process_batch(_envelope(spark, _parked(300, 2 * width)), next(t))
        assert res.counts["pending"] == 7 + 2 * width
        assert parts() == width
    finally:
        spark.conf.set(key, old)
    assert loop.pending.count() == 7 + 2 * width
    loop.close()


def test_sink_pass_runs_a_task_per_batch_partition_and_one(spark):
    """In steady state the carried pending adds one partition to the
    batch's, so the sink pass starts one Python task per batch
    partition and one more, however many ticks have parked rows."""
    loop = DeliveryLoop(spark, Subscription.from_spec(COMPILED_SPEC), StatusSink({}))
    budget = _Budget(spark)
    ticks = []
    try:
        for k in range(1, 5):
            rows = [_conforming(k * 100 + i) for i in range(20)] + _parked(k * 100 + 50, 3)
            batch = _envelope(spark, rows).coalesce(2)
            t = T0 + dt.timedelta(seconds=2 * k)
            group = f"sink-tasks-{uuid.uuid4().hex}"
            res, jobs, _ = budget.run(group, lambda: loop.process_batch(batch, t))
            ticks.append((res, jobs, budget.stage_tasks(group), batch.rdd.getNumPartitions()))
    finally:
        budget.close()
    for res, jobs, tasks, fresh in ticks[1:]:
        assert res.counts["delivered"] == 20
        # the work and sink passes, nothing dead
        assert jobs == 2
        assert max(n for job in tasks for n in job) <= fresh + 1, (tasks, fresh)
    assert loop.pending.count() == 12
    loop.close()


def _sorted_rows(df) -> list[str]:
    return sorted(map(repr, df.collect()))


def test_durable_state_is_read_back_with_its_schema(spark, tmp_path):
    """A durable tick reads its pending and dead state back with the
    loop's state schemas, so persisting runs only the writes — one per
    state with rows — and no schema-inference job. The read-back
    schemas equal the inferred ones, and a new loop over the directory
    restores both."""
    state = str(tmp_path / "state")
    loop = DeliveryLoop(
        spark, Subscription.from_spec(COMPILED_SPEC), StatusSink({"101": 404}), state_dir=state
    )
    budget = _Budget(spark)
    persist, jobs = loop._commit_state, []

    def counted(*args):
        jobs.append(budget.run(f"persist-{uuid.uuid4().hex}", lambda: persist(*args))[1])

    loop._commit_state = counted
    try:
        for k in (1, 2):
            rows = [_conforming(k * 100 + i) for i in range(5)] + _parked(k * 100 + 50, 2)
            loop.process_batch(_envelope(spark, rows), T0 + dt.timedelta(seconds=2 * k))
    finally:
        budget.close()
    # tick 1 writes pending and dead, tick 2 (nothing dead) only
    # pending; each inferred read-back would be one more job
    assert jobs == [2, 1]
    entries = commitlog.read(state).entries
    (pending_dir,) = [f"{state}/data/{e}" for e in entries if e.startswith("p")]
    (dead_dir,) = [f"{state}/data/{e}" for e in entries if e.startswith("d")]
    assert loop.pending.schema == spark.read.parquet(pending_dir).schema
    assert loop.dead.schema == spark.read.parquet(dead_dir).schema

    restored = DeliveryLoop(
        spark, Subscription.from_spec(COMPILED_SPEC), StatusSink({}), state_dir=state
    )
    assert _sorted_rows(restored.pending) == _sorted_rows(loop.pending)
    assert len(_sorted_rows(restored.pending)) == 4
    assert _sorted_rows(restored.dead) == _sorted_rows(loop.dead)
    assert [r.id for r in restored.dead.collect()] == ["101"]


def test_quiet_durable_tick_runs_two_jobs(spark, tmp_path):
    """A durable tick that parks nothing and dead-letters nothing
    writes nothing: it runs the work and sink passes, as an in-memory
    tick does, and still commits."""
    state = str(tmp_path / "state")
    loop = DeliveryLoop(
        spark, Subscription.from_spec(COMPILED_SPEC), StatusSink({}), state_dir=state
    )
    budget = _Budget(spark)
    jobs = []
    try:
        for k in range(1, 4):
            batch = _envelope(spark, [_conforming(k * 100 + i) for i in range(10)])
            t = T0 + dt.timedelta(seconds=k)
            group = f"quiet-{uuid.uuid4().hex}"
            jobs.append(budget.run(group, lambda: loop.process_batch(batch, t))[1])
    finally:
        budget.close()
    # the first tick also samples the payload schema
    assert jobs[1:] == [2, 2]
    assert commitlog.read(state)[:2] == (3, [])
    loop.close()


# two ticks that each dead-letter one id, retry one and park one
_DURABLE_STATUSES = {"1": 404, "2": 503, "11": 404, "12": 503}
_DURABLE_TICKS = [
    ([_row(1), _row(2), _row(3), _row(4, attrs=FAR_FUTURE)], T0),
    (
        [_row(11), _row(12), _row(13), _row(14, attrs=FAR_FUTURE)],
        T0 + dt.timedelta(milliseconds=500),
    ),
]


@pytest.mark.parametrize(
    "crash", ["after the pending write", "after the dead write", "at the COMMITTED swap"]
)
def test_durable_tick_replayed_after_a_crash_applies_once(spark, tmp_path, monkeypatch, crash):
    """A tick that crashes after writing its pending rows, after writing
    its dead letters, or at the manifest swap leaves the state of the
    last committed tick; replaying its batch on a restarted loop gives
    the state of a run that never crashed, with one dead letter per
    404 id."""
    sub = Subscription.from_spec({})

    def loop_on(state):
        return DeliveryLoop(spark, sub, StatusSink(_DURABLE_STATUSES), "sub-d", state_dir=state)

    uncrashed = loop_on(str(tmp_path / "uncrashed"))
    for rows, t in _DURABLE_TICKS:
        uncrashed.process_batch(_envelope(spark, rows), t)

    state = str(tmp_path / "state")
    loop = loop_on(state)
    (rows0, t0), (rows1, t1) = _DURABLE_TICKS
    loop.process_batch(_envelope(spark, rows0), t0)
    committed = (_sorted_rows(loop.pending), _sorted_rows(loop.dead))
    if crash == "at the COMMITTED swap":
        real_replace = os.replace

        def replace(src, dst):
            if dst.endswith("COMMITTED"):
                raise OSError(crash)
            real_replace(src, dst)

        monkeypatch.setattr(os, "replace", replace)
    else:
        kind = "p" if "pending" in crash else "d"
        real_parquet = DataFrameWriter.parquet

        def parquet(self, path, *args, **kwargs):
            real_parquet(self, path, *args, **kwargs)
            if os.path.basename(path).startswith(kind):
                raise OSError(crash)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(OSError):
        loop.process_batch(_envelope(spark, rows1), t1)
    monkeypatch.undo()

    restarted = loop_on(state)
    assert (_sorted_rows(restarted.pending), _sorted_rows(restarted.dead)) == committed
    restarted.process_batch(_envelope(spark, rows1), t1)
    for replayed in (restarted, loop_on(state)):
        assert sorted(r.id for r in replayed.dead.collect()) == ["1", "11"]
        assert sorted(r.id for r in replayed.pending.collect()) == ["12", "14", "2", "4"]
        assert _sorted_rows(replayed.pending) == _sorted_rows(uncrashed.pending)
        assert _sorted_rows(replayed.dead) == _sorted_rows(uncrashed.dead)


def test_durable_replayed_batch_calls_no_sink(spark, tmp_path):
    """A batch id at or below the committed one is a replay: the tick
    calls no sink and leaves the state as it is, on the loop that
    committed it and on a restarted one. The next batch id runs."""
    spool, state = str(tmp_path / "spool"), str(tmp_path / "state")
    os.makedirs(spool)
    sub = Subscription.from_spec({})
    loop = DeliveryLoop(spark, sub, SpoolSink(spool), "sub-d", state_dir=state)
    # 7 fails its first attempt, 13 is a 404, 15 is delivered
    batch = _envelope(spark, [_row(7), _row(13), _row(15)])
    loop.process_batch(batch, T0, batch_id=3)
    manifest = commitlog.read(state)
    assert manifest.meta == {"applied_epoch": "3"}

    def sunk():
        return sorted(_read_spool(spool, os.listdir(spool)))

    assert sunk() == [["13", 0, 404], ["15", 0, 200], ["7", 0, 503]]

    restarted = DeliveryLoop(spark, sub, SpoolSink(spool), "sub-d", state_dir=state)
    later = T0 + dt.timedelta(seconds=5)  # 7's retry is due
    for replayed in (loop, restarted):
        for batch_id in (2, 3):
            res = replayed.process_batch(batch, later, batch_id=batch_id)
            assert res.counts == {
                "pulled": 0, "delivered": 0, "retried": 0, "dead": 0, "pending": 1
            }
        assert len(sunk()) == 3
        assert commitlog.read(state) == manifest
        assert [r.id for r in replayed.dead.collect()] == ["13"]
        assert [r.id for r in replayed.pending.collect()] == ["7"]

    res = restarted.process_batch(_envelope(spark, []), later, batch_id=4)
    assert [r.id for r in res.delivered.collect()] == ["7"]
    assert len(sunk()) == 4
    assert commitlog.read(state).meta == {"applied_epoch": "4"}


def test_second_durable_loop_on_a_state_dir_is_fenced(spark, tmp_path):
    """Two loops over one state_dir: the one that commits second read
    an older epoch, so its commit raises ``ConcurrentWriterError`` and
    the first loop's state stands."""
    state = str(tmp_path / "state")
    sub = Subscription.from_spec({})
    first = DeliveryLoop(spark, sub, StatusSink({"1": 404}), "sub-d", state_dir=state)
    second = DeliveryLoop(spark, sub, StatusSink({"2": 404}), "sub-d", state_dir=state)
    first.process_batch(_envelope(spark, [_row(1), _row(3, attrs=FAR_FUTURE)]), T0)
    with pytest.raises(ConcurrentWriterError):
        second.process_batch(_envelope(spark, [_row(2), _row(4, attrs=FAR_FUTURE)]), T0)
    restored = DeliveryLoop(spark, sub, StatusSink({}), "sub-d", state_dir=state)
    assert [r.id for r in restored.dead.collect()] == ["1"]
    assert [r.id for r in restored.pending.collect()] == ["3"]


def test_durable_stream_skips_a_replayed_micro_batch(spark, tmp_path):
    """``run_stream`` commits each foreachBatch id with the tick. A
    stream restarted after a crash between that commit and the stream's
    own re-runs its last batch; the loop skips it, so no row reaches
    the sink again and no dead letter lands twice."""
    src, spool, state = (str(tmp_path / d) for d in ("src", "spool", "state"))
    os.makedirs(spool)
    for k in range(2):
        # two 404s (multiples of 13) and one delivered id
        rows = [_row(13 * (2 * k + j)) for j in (1, 2)] + [_row(100 * k + 1)]
        _envelope(spark, rows).coalesce(1).write.mode("append").parquet(src)
    ckpt = str(tmp_path / "ckpt")
    sub = Subscription.from_spec({})

    def run():
        loop = DeliveryLoop(spark, sub, SpoolSink(spool), "sub-d", state_dir=state)
        stream = spark.readStream.schema(_envelope(spark, []).schema)
        q = loop.run_stream(stream.option("maxFilesPerTrigger", 1).parquet(src), ckpt)
        q.awaitTermination()
        assert q.exception() is None
        return loop

    run()
    with open(f"{ckpt}/metadata") as f:
        query_id = json.load(f)["id"]
    assert commitlog.read(state).meta == {"applied_epoch": "1", "stream": query_id}
    calls = sorted(os.listdir(spool))
    for name in ("1", ".1.crc"):  # the stream had not committed batch 1
        os.remove(f"{ckpt}/commits/{name}")
    loop = run()
    assert [m["epoch"] for m in loop.metrics] == [1]
    assert sorted(os.listdir(spool)) == calls
    dead = sorted(r.id for r in loop.dead.collect())
    assert dead == sorted(i for name in calls for i, _, s in _read_spool(spool, [name]) if s == 404)
    assert len(dead) == len(set(dead)) == 4


def test_new_checkpoint_on_a_durable_state_dir_delivers(spark, tmp_path):
    """Batch ids count within one stream: a stream started with a new
    checkpoint over a ``state_dir`` that an older stream committed
    batch 1 to restarts its ids at 0, and the loop delivers its batches
    rather than skipping them as replays."""
    spool, state = str(tmp_path / "spool"), str(tmp_path / "state")
    os.makedirs(spool)
    sub = Subscription.from_spec({})
    schema = _envelope(spark, []).schema

    def run(name: str, files: list[list[int]]) -> DeliveryLoop:
        # one file a batch, every id delivered on its first attempt
        src = str(tmp_path / f"src-{name}")
        for ids in files:
            _envelope(spark, [_row(i) for i in ids]).coalesce(1).write.mode("append").parquet(src)
        loop = DeliveryLoop(spark, sub, SpoolSink(spool), "sub-d", state_dir=state)
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        q = loop.run_stream(stream.parquet(src), str(tmp_path / f"ckpt-{name}"))
        q.awaitTermination()
        assert q.exception() is None
        assert commitlog.read(state).meta == {"applied_epoch": "1", "stream": str(q.id)}
        return loop

    run("a", [[101, 102], [103, 106]])
    loop = run("b", [[201, 202], [204, 205]])
    assert [m["epoch"] for m in loop.metrics] == [0, 1]
    assert loop.delivered_count == 4
    sunk = sorted(i for i, _, _ in _read_spool(spool, os.listdir(spool)))
    assert sunk == ["101", "102", "103", "106", "201", "202", "204", "205"]


def test_dead_letter_directories_fold_at_the_listing_threshold(spark, tmp_path):
    """A durable loop adds a dead-letter directory on each tick with
    dead rows; at Spark's parallel-listing threshold the next such tick
    folds them all into its own, so a dead tick keeps its job count
    and the dead letters read back once each, on the loop and on a
    restored one."""
    state = str(tmp_path / "state")
    key = runner._LISTING_THRESHOLD
    threshold = spark.conf.get(key)
    spark.conf.set(key, "3")
    budget = _Budget(spark)
    try:
        statuses = {str(13 * k): 404 for k in range(1, 9)}
        loop = DeliveryLoop(
            spark, Subscription.from_spec({}), StatusSink(statuses), "sub-d", state_dir=state
        )
        jobs, dead_dirs = [], []
        for k in range(1, 9):
            batch = _envelope(spark, [_row(13 * k), _row(13 * k + 1)])
            t = T0 + dt.timedelta(seconds=k)
            group = f"fold-{uuid.uuid4().hex}"
            jobs.append(budget.run(group, lambda: loop.process_batch(batch, t))[1])
            dead_dirs.append(sum(e.startswith("d") for e in commitlog.read(state).entries))
        restored = DeliveryLoop(spark, Subscription.from_spec({}), StatusSink({}), state_dir=state)
        restored_dead = sorted(r.id for r in restored.dead.collect())
    finally:
        budget.close()
        spark.conf.set(key, threshold)
    # the work and sink passes and the dead-letter write; a listing job
    # would make it 4
    assert jobs == [3] * 8
    assert dead_dirs == [1, 2, 3, 1, 2, 3, 1, 2]
    expected = sorted(str(13 * k) for k in range(1, 9))
    assert sorted(r.id for r in loop.dead.collect()) == restored_dead == expected
    loop.close()
