"""Deterministic batch-replay tests for the delivery loop (no wall
clock — logical batch timestamps, per SURVEY §5)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from vanus_spark.streaming.runner import DeliveryLoop
from vanus_spark.subscription import Subscription

T0 = dt.datetime(2024, 6, 1, 12, 0, 0)


def _envelope(spark, rows):
    return spark.createDataFrame(
        rows,
        "id string, source string, specversion string, type string, "
        "time timestamp, datacontenttype string, dataschema string, "
        "subject string, attributes map<string,string>, data string",
    )


def _row(i, typ="purchase", attrs=None, data='{"v":1}'):
    return (str(i), "/s", "1.0", typ, T0, "application/json", None, None, attrs or {}, data)


class FlakySink:
    """Fails ids in `fail_ids` with `status` until attempt `heal_after`."""

    def __init__(self, fail_ids, status=503):
        self.fail_ids = set(fail_ids)
        self.status = status

    def __call__(self, rows):
        return [self.status if r["id"] in self.fail_ids else 200 for r in rows]


def test_happy_path_delivery(spark):
    loop = DeliveryLoop(spark, Subscription.from_spec({}), lambda rows: [200] * len(rows))
    res = loop.process_batch(_envelope(spark, [_row(1), _row(2)]), T0)
    assert res.delivered.count() == 2
    assert loop.pending.count() == 0 and loop.dead.count() == 0


def test_filter_applies(spark):
    sub = Subscription.from_spec({"filters": [{"exact": {"type": "purchase"}}]})
    loop = DeliveryLoop(spark, sub, lambda rows: [200] * len(rows))
    res = loop.process_batch(
        _envelope(spark, [_row(1, "purchase"), _row(2, "click")]), T0
    )
    assert [r.id for r in res.delivered.collect()] == ["1"]


def test_retry_then_heal(spark):
    sink = FlakySink({"1"})
    loop = DeliveryLoop(spark, Subscription.from_spec({}), sink)
    res1 = loop.process_batch(_envelope(spark, [_row(1), _row(2)]), T0)
    assert res1.delivered.count() == 1  # id 2
    pend = loop.pending.collect()
    assert len(pend) == 1
    assert pend[0].attributes["xvanusretryattempts"] == "1"
    # due 1s later (attempt 1 backoff)
    assert pend[0].due_ts == T0 + dt.timedelta(seconds=1)

    # next tick before due: nothing delivered
    res2 = loop.process_batch(_envelope(spark, []), T0 + dt.timedelta(milliseconds=500))
    assert res2.delivered.count() == 0 and loop.pending.count() == 1

    # heal the sink; tick after due: retry delivered
    sink.fail_ids = set()
    res3 = loop.process_batch(_envelope(spark, []), T0 + dt.timedelta(seconds=2))
    assert [r.id for r in res3.delivered.collect()] == ["1"]
    assert loop.pending.count() == 0


def test_404_goes_to_dlq(spark):
    loop = DeliveryLoop(spark, Subscription.from_spec({}), FlakySink({"1"}, status=404))
    res = loop.process_batch(_envelope(spark, [_row(1)]), T0)
    assert res.delivered.count() == 0 and loop.pending.count() == 0
    d = loop.dead.collect()
    assert len(d) == 1 and d[0].attributes["xvanusdlreason"] == "Response404"


def test_transform_error_goes_to_dlq(spark):
    sub = Subscription.from_spec({"transformer": {"pipeline": [["CREATE", "$.data.x", 1]]}})
    loop = DeliveryLoop(spark, sub, lambda rows: [200] * len(rows))
    res = loop.process_batch(
        _envelope(spark, [_row(1, data="not-json{"), _row(2)]), T0
    )
    assert res.delivered.count() == 1
    d = loop.dead.collect()
    assert len(d) == 1 and d[0].attributes["xvanusdlreason"] == "TransformError"


def test_delayed_event_parks_until_due(spark):
    delay_attr = {"xvanusdeliverytime": "2024-06-01T12:05:00Z"}
    loop = DeliveryLoop(spark, Subscription.from_spec({}), lambda rows: [200] * len(rows))
    res1 = loop.process_batch(_envelope(spark, [_row(1, attrs=delay_attr)]), T0)
    assert res1.delivered.count() == 0 and loop.pending.count() == 1
    res2 = loop.process_batch(_envelope(spark, []), T0 + dt.timedelta(minutes=4))
    assert res2.delivered.count() == 0
    res3 = loop.process_batch(_envelope(spark, []), T0 + dt.timedelta(minutes=5))
    assert [r.id for r in res3.delivered.collect()] == ["1"]


def test_run_stream_with_checkpoint(spark, cloudevents, tmp_path):
    """Real Structured Streaming source + foreachBatch + checkpoint
    resume (no reprocessing on restart)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    ce = cloudevents.limit(100)
    ce.write.parquet(src)
    sub = Subscription.from_spec({"filters": [{"exact": {"type": "purchase"}}]})
    loop = DeliveryLoop(spark, sub, lambda rows: [200] * len(rows))

    q = loop.run_stream(spark.readStream.schema(ce.schema).parquet(src), ckpt)
    q.processAllAvailable()
    q.stop()
    expected = ce.where("type = 'purchase'").count()
    assert loop.delivered_count == expected

    q2 = loop.run_stream(spark.readStream.schema(ce.schema).parquet(src), ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert loop.delivered_count == expected  # checkpoint: no reprocessing


def test_streaming_windowed_agg_with_watermark(spark, cloudevents, tmp_path):
    """Event-time windowed aggregation with watermark over the bus —
    the Structured Streaming surface the reference lacks natively."""
    src = str(tmp_path / "wsrc")
    ce = cloudevents.limit(500)
    ce.write.parquet(src)
    stream = spark.readStream.schema(ce.schema).parquet(src)
    agg = (
        stream.withWatermark("time", "1 hour")
        .groupBy(F.window("time", "1 day"), "type")
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.window.start.date().isoformat(), r.type): r.n
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    expected = {
        (r.d.date().isoformat(), r.type): r.n
        for r in ce.groupBy(F.date_trunc("day", "time").alias("d"), "type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expected


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """Append-mode windowed aggregation with a watermark DROPS events
    that arrive after their window has closed (the late-data rule the
    complete-mode test can't see). Two deterministic micro-batches:
    batch 1 advances the watermark past the 09:00 window; batch 2
    replays a late 09:10 event plus an on-time one — only the on-time
    event may count."""
    import os
    import time as _time

    src = str(tmp_path / "late_src")
    os.makedirs(src)
    schema = "ts timestamp, k string"

    def write_batch(name, rows, mtime):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        import glob, shutil

        [part] = glob.glob(str(tmp_path / name / "part-*.parquet"))
        dst = os.path.join(src, name + ".parquet")
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))  # deterministic file order

    t = dt.datetime(2024, 1, 1, 9, 0, 0)
    base = _time.time()
    # batch 1: events at 09:10 and 12:00 -> watermark = 12:00 - 1h = 11:00
    write_batch("b1", [(t + dt.timedelta(minutes=10), "a"),
                       (t + dt.timedelta(hours=3), "a")], base - 30)
    # batch 2: on-time only; the 09:00 window (end 10:00 < wm 11:00)
    # is evicted + emitted at this batch boundary
    write_batch("b2", [(t + dt.timedelta(hours=3, minutes=10), "a")], base - 20)
    # batch 3: a LATE 09:20 event (its window already closed and
    # emitted -> dropped) plus an on-time 12:30 event
    write_batch("b3", [(t + dt.timedelta(minutes=20), "a"),
                       (t + dt.timedelta(hours=3, minutes=30), "a")], base - 10)
    # batch 4: push the watermark far ahead so every surviving window
    # closes and emits in append mode
    write_batch("b4", [(t + dt.timedelta(days=2), "a")], base)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "k")
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.window.start.strftime("%H:%M"), r.n)
        for r in spark.sql("SELECT * FROM late_out").collect()
    }
    # 09:00 window counts ONLY the batch-1 event (the late replay was
    # dropped after eviction); 12:00 window counts all three on-time
    # events
    assert ("09:00", 1) in got
    assert ("12:00", 3) in got
    assert ("09:00", 2) not in got


def test_session_windows_survives_below_watermark_straggler(spark, tmp_path):
    """A late event arriving after the watermark passed its session's
    end + gap must form/close its own stale session — NOT set a
    below-watermark timeout and crash the query (reproduced pre-fix:
    PySparkValueError INVALID_TIMEOUT_TIMESTAMP aborting the stream,
    and again on every restart)."""
    import glob
    import os
    import shutil
    import time as _time

    from vanus_spark.streaming.stateful import session_windows

    src = str(tmp_path / "lag_src")
    os.makedirs(src)
    schema = "ts timestamp, user_id long"

    def write_batch(name, rows, mtime):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        [part] = glob.glob(str(tmp_path / name / "part-*.parquet"))
        dst = os.path.join(src, name + ".parquet")
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    base = _time.time()
    # batch 1: far-future event -> watermark jumps to ~day 3
    write_batch("b1", [(t0 + dt.timedelta(days=3), 1)], base - 20)
    # batch 2: straggler at 09:00 (points-in-time far below watermark)
    write_batch("b2", [(t0, 2)], base - 10)
    # batch 3: advance the watermark again so the straggler's clamped
    # timeout fires
    write_batch("b3", [(t0 + dt.timedelta(days=6), 3)], base)

    q = (
        session_windows(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            gap_s=1800,
            watermark_delay="1 minute",
        )
        .writeStream.format("memory")
        .queryName("straggler_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    assert q.exception() is None  # the stream survived
    q.stop()
    rows = spark.sql("select * from straggler_out").collect()
    stale = [r for r in rows if r.user_id == 2]
    assert len(stale) == 1 and stale[0].closed_by == "timeout"
    assert stale[0].n_events == 1


def test_session_windows_backward_gap_splits(spark, tmp_path):
    """An in-watermark out-of-order event more than a gap BEFORE the
    open session's start must form its own (already-over) session —
    not be absorbed into one window that gap semantics say is two."""
    import glob
    import os
    import shutil
    import time as _time

    from vanus_spark.streaming.stateful import session_windows

    src = str(tmp_path / "bg_src")
    os.makedirs(src)
    schema = "ts timestamp, user_id long"

    def write_batch(name, rows, mtime):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        [part] = glob.glob(str(tmp_path / name / "part-*.parquet"))
        dst = os.path.join(src, name + ".parquet")
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    base = _time.time()
    # batch 1: open session at 10:00 (watermark stays far behind: 2h)
    write_batch("b1", [(t0 + dt.timedelta(hours=1), 1)], base - 20)
    # batch 2: out-of-order 09:00 event — in-watermark, but 60 min
    # (2x the gap) BEFORE the open session's start
    write_batch("b2", [(t0, 1)], base - 10)
    # batch 3: advance the watermark so everything closes
    write_batch("b3", [(t0 + dt.timedelta(days=2), 2)], base)

    q = (
        session_windows(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            gap_s=1800,
            watermark_delay="2 hours",
        )
        .writeStream.format("memory")
        .queryName("backgap_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    assert q.exception() is None
    q.stop()
    rows = [
        r
        for r in spark.sql("select * from backgap_out").collect()
        if r.user_id == 1
    ]
    assert len(rows) == 2  # TWO sessions, not one merged window
    rows.sort(key=lambda r: r.session_start)
    assert rows[0].session_start == rows[0].session_end == t0
    assert rows[0].n_events == 1 and rows[0].closed_by == "gap"
    assert rows[1].session_start == t0 + dt.timedelta(hours=1)
    assert rows[1].n_events == 1


def test_session_windows_late_event_bridges_split_segments(spark, tmp_path):
    """Regression (r4 advisor): two gap-split segments were emitted
    eagerly, so an in-watermark out-of-order event arriving in a LATER
    batch could no longer bridge them — the true single session came
    out as two with wrong boundaries. Emission now defers until the
    watermark passes end + gap (the built-in session_window rule), so
    the bridge event merges the retained segments."""
    import glob
    import os
    import shutil
    import time as _time

    from vanus_spark.streaming.stateful import session_windows

    src = str(tmp_path / "bridge_src")
    os.makedirs(src)
    schema = "ts timestamp, user_id long"

    def write_batch(name, rows, mtime):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        [part] = glob.glob(str(tmp_path / name / "part-*.parquet"))
        dst = os.path.join(src, name + ".parquet")
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    base = _time.time()
    # batch 1: 09:00 and 10:00 — 60 min apart, gap is 35 min -> split
    write_batch(
        "b1", [(t0, 1), (t0 + dt.timedelta(hours=1), 1)], base - 20
    )
    # batch 2: out-of-order 09:30 (in-watermark) — within 35 min of
    # BOTH segments: bridges them into one session
    write_batch("b2", [(t0 + dt.timedelta(minutes=30), 1)], base - 10)
    # batch 3: advance the watermark so the merged session closes
    write_batch("b3", [(t0 + dt.timedelta(days=2), 2)], base)

    q = (
        session_windows(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            gap_s=2100,  # 35 minutes
            watermark_delay="2 hours",
        )
        .writeStream.format("memory")
        .queryName("bridge_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    assert q.exception() is None
    q.stop()
    rows = [
        r
        for r in spark.sql("select * from bridge_out").collect()
        if r.user_id == 1
    ]
    assert len(rows) == 1  # ONE bridged session, not two fragments
    assert rows[0].session_start == t0
    assert rows[0].session_end == t0 + dt.timedelta(hours=1)
    assert rows[0].n_events == 3
    assert rows[0].closed_by == "timeout"


def test_backoff_escalates_across_retries(spark):
    sink = FlakySink({"1"})
    loop = DeliveryLoop(spark, Subscription.from_spec({}), sink)
    t = T0
    loop.process_batch(_envelope(spark, [_row(1)]), t)
    expected_delays = [5, 10, 30]  # attempts 2,3,4
    for exp in expected_delays:
        pend = loop.pending.collect()[0]
        t = pend.due_ts
        loop.process_batch(_envelope(spark, []), t)  # due again, fails again
        new_pend = loop.pending.collect()[0]
        assert new_pend.due_ts == t + dt.timedelta(seconds=exp)


def test_durable_state_survives_restart(spark, tmp_path):
    """Pending retries and DLQ persist across loop restarts."""
    state = str(tmp_path / "state")
    sink = FlakySink({"1"})
    loop = DeliveryLoop(spark, Subscription.from_spec({}), sink, "sub-d", state_dir=state)
    loop.process_batch(_envelope(spark, [_row(1), _row(2)]), T0)
    assert loop.pending.count() == 1

    # simulate crash: brand-new loop over the same state dir
    sink2 = FlakySink(set())  # healed
    loop2 = DeliveryLoop(spark, Subscription.from_spec({}), sink2, "sub-d", state_dir=state)
    assert loop2.pending.count() == 1  # parked retry restored
    res = loop2.process_batch(_envelope(spark, []), T0 + dt.timedelta(seconds=2))
    assert [r.id for r in res.delivered.collect()] == ["1"]
    assert loop2.pending.count() == 0


def test_durable_dead_letter_accumulates(spark, tmp_path):
    state = str(tmp_path / "state2")
    loop = DeliveryLoop(
        spark, Subscription.from_spec({}), FlakySink({"1", "2"}, status=404),
        "sub-d2", state_dir=state,
    )
    loop.process_batch(_envelope(spark, [_row(1)]), T0)
    loop.process_batch(_envelope(spark, [_row(2)]), T0 + dt.timedelta(seconds=5))
    loop2 = DeliveryLoop(
        spark, Subscription.from_spec({}), lambda rows: [200] * len(rows),
        "sub-d2", state_dir=state,
    )
    assert loop2.dead.count() == 2


def test_durable_epoch_marker_survives_a_failed_swap(spark, tmp_path, monkeypatch):
    """The EPOCH marker is replaced atomically: a tick that fails at the
    marker swap leaves the previous epoch and its pending table
    restorable (an in-place write could leave an empty marker)."""
    import os

    state = str(tmp_path / "state3")
    loop = DeliveryLoop(
        spark, Subscription.from_spec({}), FlakySink({"1"}), "sub-d3", state_dir=state
    )
    loop.process_batch(_envelope(spark, [_row(1)]), T0)  # epoch 1: "1" parks

    real_replace = os.replace

    def crash_at_marker(src, dst):
        if dst.endswith("EPOCH"):
            raise OSError("crash at the marker swap")
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_at_marker)
    with pytest.raises(OSError):
        loop.process_batch(_envelope(spark, [_row(2)]), T0 + dt.timedelta(seconds=1))
    monkeypatch.undo()
    loop2 = DeliveryLoop(
        spark, Subscription.from_spec({}), FlakySink(set()), "sub-d3", state_dir=state
    )
    assert loop2._epoch == 1
    assert [r.id for r in loop2.pending.collect()] == ["1"]


def test_max_uack_caps_each_tick_and_drains_fifo(spark):
    """max_uack (reference: offset/offset.go:29-63) bounds what reaches
    the sender per tick; the overflow parks and drains FIFO."""
    sub = Subscription.from_spec({"config": {"max_uack": 3}})
    loop = DeliveryLoop(spark, sub, lambda rows: [200] * len(rows))
    batch = _envelope(spark, [_row(i) for i in range(10)])

    delivered_ids = []
    t = T0
    for tick in range(4):
        res = loop.process_batch(batch if tick == 0 else _envelope(spark, []), t)
        got = [r.id for r in res.delivered.collect()]
        assert len(got) <= 3  # the enforced bound
        delivered_ids += got
        t += dt.timedelta(seconds=1)
    # everything delivered exactly once, nothing lost
    assert sorted(delivered_ids, key=int) == [str(i) for i in range(10)]
    assert loop.pending.count() == 0
    # FIFO by (time, id): first tick sends the lexicographically-first ids
    assert sorted(delivered_ids[:3]) == delivered_ids[:3]


def test_rate_limit_integrates_over_tick(spark):
    """rate_limit × tick_seconds bounds the send (trigger.go:247)."""
    sub = Subscription.from_spec({"config": {"rate_limit": 4}})
    loop = DeliveryLoop(spark, sub, lambda rows: [200] * len(rows))
    batch = _envelope(spark, [_row(i) for i in range(10)])
    # tick of 2s at 4 ev/s -> 8 events allowed
    res1 = loop.process_batch(batch, T0, tick_seconds=2.0)
    assert res1.delivered.count() == 8
    assert loop.pending.count() == 2
    res2 = loop.process_batch(
        _envelope(spark, []), T0 + dt.timedelta(seconds=2), tick_seconds=2.0
    )
    assert res2.delivered.count() == 2
    assert loop.pending.count() == 0


def test_throttled_events_still_retry_on_failure(spark):
    """Backpressure composes with the retry path: a throttled event that
    later fails gets the normal backoff, not a second throttle-park."""
    sink = FlakySink({"9"})
    sub = Subscription.from_spec({"config": {"max_uack": 5}})
    loop = DeliveryLoop(spark, sub, sink)
    batch = _envelope(spark, [_row(i) for i in range(10)])
    loop.process_batch(batch, T0)                                   # sends 0-4
    loop.process_batch(_envelope(spark, []), T0 + dt.timedelta(seconds=1))  # 5-9, 9 fails
    pend = loop.pending.collect()
    assert len(pend) == 1 and pend[0].id == "9"
    assert pend[0].attributes["xvanusretryattempts"] == "1"


def test_source_cap_bounds_micro_batch_reads(spark, cloudevents, tmp_path):
    """maxFilesPerTrigger is honored end-to-end: no micro-batch reads
    more than one file's rows (the source-side backpressure layer)."""
    src = str(tmp_path / "capped_src")
    ckpt = str(tmp_path / "capped_ckpt")
    ce = cloudevents.limit(100)
    # 4 files of <=25 rows each
    ce.repartition(4).write.option("maxRecordsPerFile", 25).parquet(src)
    per_file_max = 25

    sizes = []

    def on_batch(df, epoch_id):
        sizes.append(df.count())

    q = (
        spark.readStream.schema(ce.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert sum(sizes) == 100
    assert len(sizes) >= 4
    assert max(sizes) <= per_file_max


def test_stream_with_both_backpressure_layers(spark, cloudevents, tmp_path):
    """Source cap + subscription max_uack together through run_stream:
    every event still delivered exactly once overall."""
    src = str(tmp_path / "bp_src")
    ckpt = str(tmp_path / "bp_ckpt")
    ce = cloudevents.limit(60)
    ce.repartition(3).write.option("maxRecordsPerFile", 20).parquet(src)
    sub = Subscription.from_spec({"config": {"max_uack": 7}})
    loop = DeliveryLoop(spark, sub, lambda rows: [200] * len(rows))
    q = loop.run_stream(
        spark.readStream.schema(ce.schema).option("maxFilesPerTrigger", 1).parquet(src),
        ckpt,
    )
    q.processAllAvailable()
    q.stop()
    # throttled leftovers drain on extra empty ticks, <=7 per tick
    total = loop.delivered_count
    t = dt.datetime.now(dt.timezone.utc)
    for _ in range(12):
        if loop.pending.count() == 0:
            break
        t += dt.timedelta(seconds=1)
        n = loop.process_batch(_envelope(spark, []), t).delivered.count()
        assert n <= 7
        total += n
    assert loop.pending.count() == 0
    assert total == 60  # exactly once across both layers

class FileRecordingSink:
    """Durable delivery record: append each delivered id to a file, so
    delivery counts survive across loop INSTANCES (a restart), unlike
    the in-memory delivered_count. Picklable; line appends are atomic
    on Linux for these short writes."""

    def __init__(self, path):
        self.path = path

    def __call__(self, rows):
        with open(self.path, "a") as f:
            for r in rows:
                f.write(r["id"] + "\n")
        return [200] * len(rows)


def test_checkpoint_recovery_fresh_loop_no_double_delivery(spark, tmp_path):
    """The committed-offset restart story (reference:
    server/trigger/offset/offset.go:84-139): run a real readStream ->
    foreachBatch to completion, STOP, then restart with a BRAND-NEW
    DeliveryLoop (fresh instance — nothing in memory survives) against
    the same checkpoint after more data arrived. The resumed query
    must deliver only the new file's events: every id exactly once
    across both runs."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    log = str(tmp_path / "delivered.log")
    sink = FileRecordingSink(log)
    schema = (
        "id string, source string, specversion string, type string, "
        "time timestamp, datacontenttype string, dataschema string, "
        "subject string, attributes map<string,string>, data string"
    )

    _envelope(spark, [_row(i) for i in range(10)]).write.parquet(src)
    loop1 = DeliveryLoop(spark, Subscription.from_spec({}), sink)
    q1 = loop1.run_stream(spark.readStream.schema(schema).parquet(src), ckpt)
    q1.processAllAvailable()
    q1.stop()
    with open(log) as f:
        first = sorted(f.read().split())
    assert first == sorted(str(i) for i in range(10))

    # more data lands while the pipeline is DOWN
    _envelope(spark, [_row(i) for i in range(10, 20)]).write.mode("append").parquet(src)

    loop2 = DeliveryLoop(spark, Subscription.from_spec({}), sink)  # fresh instance
    q2 = loop2.run_stream(spark.readStream.schema(schema).parquet(src), ckpt)
    q2.processAllAvailable()
    q2.stop()
    with open(log) as f:
        delivered = f.read().split()
    # offset resumed: old events NOT re-delivered, new ones delivered once
    assert sorted(delivered) == sorted(str(i) for i in range(20))
    assert len(delivered) == len(set(delivered))
    assert loop2.delivered_count == 10


def test_apply_in_pandas_with_state_running_stats(spark, events, tmp_path):
    """Arbitrary per-key state across micro-batches: totals accumulate
    batch-over-batch and restore from the checkpoint on restart."""
    from vanus_spark.streaming.stateful import running_user_stats

    src = str(tmp_path / "ssrc")
    b1 = events.where("event_id < 200").select("event_id", "user_id", "value")
    b2 = events.where("event_id >= 200 AND event_id < 400").select(
        "event_id", "user_id", "value"
    )
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("event_id long, user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        running_user_stats(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("ustats")
        .option("checkpointLocation", str(tmp_path / "sckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM ustats").collect()
    # the LAST emission per user must equal the full two-batch totals
    last = {}
    for r in rows:
        last[r.user_id] = r  # memory sink appends in batch order
    both = b1.unionByName(b2)
    expected = {
        r.user_id: (r.n, r.t)
        for r in both.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    for uid, (n, t) in expected.items():
        assert last[uid].n_events == n
        assert abs(last[uid].total_value - t) < 1e-9
    # a user active in both batches emitted twice with growing counts
    twice = [r for r in rows if r.user_id == list(expected)[0]]
    if len(twice) == 2:
        assert twice[0].n_events < twice[1].n_events


def test_run_stream_metrics(spark, tmp_path):
    """One tagged-union job per tick feeds the metrics table:
    delivered / newly-dead / parked counts per epoch."""
    src = str(tmp_path / "src")
    rows = [_row(i) for i in range(6)] + [_row(100, typ="purchase")]
    df = _envelope(spark, rows)
    df.coalesce(1).write.parquet(src)
    sink = FlakySink({"100"}, status=404)
    loop = DeliveryLoop(spark, Subscription.from_spec({}), sink)
    q = loop.run_stream(spark.readStream.schema(df.schema).parquet(src), str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    m = loop.metrics_df().collect()
    assert sum(r.delivered for r in m) == 6
    assert sum(r.new_dead for r in m) == 1
    assert m[-1].pending == 0
    assert loop.delivered_count == 6


def test_session_windows_gap_and_timeout_close(spark, tmp_path):
    """Custom sessionizer (applyInPandasWithState + EventTimeTimeout):
    a within-stream gap closes a session immediately; the event-time
    timeout closes the final idle session when the watermark passes
    end + gap — all under deterministic batch replay."""
    import glob
    import os
    import shutil
    import time as _time

    from vanus_spark.streaming.stateful import session_windows

    src = str(tmp_path / "sess_src")
    os.makedirs(src)
    schema = "ts timestamp, user_id long"

    def write_batch(name, rows, mtime):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        [part] = glob.glob(str(tmp_path / name / "part-*.parquet"))
        dst = os.path.join(src, name + ".parquet")
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    base = _time.time()
    # batch 1: user 7 events at 09:00 and 09:05 (one session)
    write_batch("b1", [(t0, 7), (t0 + dt.timedelta(minutes=5), 7)], base - 20)
    # batch 2: user 7 at 11:00 -> >30min gap closes session 1 ('gap');
    # user 8 opens a session
    write_batch(
        "b2",
        [(t0 + dt.timedelta(hours=2), 7), (t0 + dt.timedelta(hours=2), 8)],
        base - 10,
    )
    # batch 3: far-future event pushes the watermark past every
    # open session's end + gap -> remaining sessions close by timeout
    write_batch("b3", [(t0 + dt.timedelta(days=3), 9)], base)

    out = session_windows(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        gap_s=1800,
        watermark_delay="1 minute",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "select * from sessions_out order by user_id, session_start"
    ).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    s1 = by_user[7][0]
    assert s1.closed_by == "gap"
    assert s1.n_events == 2
    assert s1.session_start == t0
    assert s1.session_end == t0 + dt.timedelta(minutes=5)
    # user 7's 11:00 session and user 8's session close by timeout
    assert by_user[7][1].closed_by == "timeout"
    assert by_user[7][1].n_events == 1
    assert by_user[8][0].closed_by == "timeout"


def test_catalog_phase_gates_delivery(spark, tmp_path):
    """disable => no delivery (batch NOT consumed) => resume =>
    delivery continues with offsets intact (the reference's trigger
    worker descheduling on DisableSubscription, controller.go:305-361)."""
    from vanus_spark.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat.json"))
    ns = cat.create_namespace("default")
    eb = cat.create_eventbus(ns["id"], "demo")
    sub_rec = cat.create_subscription(ns["id"], eb["id"], {})
    loop = DeliveryLoop(
        spark,
        Subscription.from_spec({}),
        lambda rows: [200] * len(rows),
        catalog=cat,
        catalog_sub_id=sub_rec["id"],
    )
    batch1 = _envelope(spark, [_row(1), _row(2)])
    assert loop.process_batch(batch1, T0).delivered.count() == 2

    cat.disable_subscription(sub_rec["id"])
    batch2 = _envelope(spark, [_row(3), _row(4)])
    res = loop.process_batch(batch2, T0)
    assert res.delivered.count() == 0  # nothing delivered while stopped
    assert loop.pending.count() == 0  # and nothing consumed into state

    cat.resume_subscription(sub_rec["id"])
    res = loop.process_batch(batch2, T0)  # caller redelivers from offset
    assert sorted(r["id"] for r in res.delivered.collect()) == ["3", "4"]


def test_replays_on_two_threads_restore_the_shuffle_setting(spark, tmp_path):
    """Two streaming replays through the registry's replay
    helper on two threads: both return their rows, and the
    session-wide shuffle-partition setting the helper pins to 4 ends
    at its previous value. Replay b enters the helper while a is
    starting its query and starts its own only after a stopped, so
    without one lock across pin, run and restore b would save a's pin
    and restore 4 last."""
    import threading

    import pandas as pd

    from vanus_spark.queries.tables import _replay

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    a_starting, a_stopped = threading.Event(), threading.Event()
    errors: list[BaseException] = []

    class Staged:
        """The writer handed to the helper, reporting a's start and
        stop and holding b's start until a stopped."""

        def __init__(self, writer, tag):
            self.writer, self.tag = writer, tag

        def start(self):
            if self.tag == "b":
                a_stopped.wait(timeout=120)
                return self.writer.start()
            a_starting.set()
            self.q = self.writer.start()
            return self

        def processAllAvailable(self):
            self.q.processAllAvailable()

        def stop(self):
            self.q.stop()
            a_stopped.set()

    def replay(tag: str, n: int) -> None:
        try:
            src = tmp_path / tag
            src.mkdir()
            pd.DataFrame({"k": [i % 3 for i in range(n)]}).to_parquet(src / "b0.parquet")
            counts = (
                spark.readStream.schema("k long").parquet(str(src)).groupBy("k").count()
            )
            writer = (
                counts.writeStream.format("memory")
                .queryName(f"replay_{tag}")
                .outputMode("complete")
            )
            if tag == "b":
                a_starting.wait(timeout=120)
            _replay(spark, Staged(writer, tag))
        except Exception as e:  # noqa: BLE001 - reported by the main thread
            errors.append(e)

    try:
        threads = [
            threading.Thread(target=replay, args=(tag, n))
            for tag, n in (("a", 30), ("b", 60))
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        assert spark.conf.get(key) == "7"
        for tag, n in (("a", 30), ("b", 60)):
            rows = {r.k: r["count"] for r in spark.table(f"replay_{tag}").collect()}
            assert rows == {0: n // 3, 1: n // 3, 2: n // 3}
    finally:
        spark.conf.set(key, prev)
