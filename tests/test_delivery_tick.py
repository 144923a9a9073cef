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

from tests.test_streaming import T0, _envelope, _row
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


def test_durable_state_is_read_back_with_its_schema(spark, tmp_path):
    """A durable tick reads its pending and dead state back with the
    schema they were written with, so persisting runs the two writes
    and no schema-inference job. The read-back schemas equal the
    inferred ones, and a new loop over the directory restores both."""
    state = str(tmp_path / "state")
    loop = DeliveryLoop(
        spark, Subscription.from_spec(COMPILED_SPEC), StatusSink({"101": 404}), state_dir=state
    )
    budget = _Budget(spark)
    persist, jobs = loop._persist_state, []

    def counted(new_dead):
        jobs.append(budget.run(f"persist-{uuid.uuid4().hex}", lambda: persist(new_dead))[1])

    loop._persist_state = counted
    try:
        for k in (1, 2):
            rows = [_conforming(k * 100 + i) for i in range(5)] + _parked(k * 100 + 50, 2)
            loop.process_batch(_envelope(spark, rows), T0 + dt.timedelta(seconds=2 * k))
    finally:
        budget.close()
    # the pending write and the dead append; each inferred read-back
    # would be one more job
    assert jobs == [2, 2]
    assert loop.pending.schema == spark.read.parquet(loop._pending_dir(loop._epoch)).schema
    assert loop.dead.schema == spark.read.parquet(f"{state}/dead").schema

    restored = DeliveryLoop(
        spark, Subscription.from_spec(COMPILED_SPEC), StatusSink({}), state_dir=state
    )
    rows = lambda df: sorted(map(repr, df.collect()))  # noqa: E731
    assert rows(restored.pending) == rows(loop.pending)
    assert len(rows(restored.pending)) == 4
    assert rows(restored.dead) == rows(loop.dead)
    assert [r.id for r in restored.dead.collect()] == ["101"]
