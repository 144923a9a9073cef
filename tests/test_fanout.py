"""Multi-subscription fan-out: one bus scan, N subscription plans
(reference: server/trigger/worker.go:58-100 triggerMap — but the
reference reads the bus once PER trigger; the shared-scan form here
reads it once total)."""

from __future__ import annotations

import datetime as dt
import json

from vanus_spark.streaming.fanout import TriggerWorker, fanout_apply

T0 = dt.datetime(2024, 6, 1, 12, 0, 0)


def _envelope(spark, rows):
    return spark.createDataFrame(
        rows,
        "id string, source string, specversion string, type string, "
        "time timestamp, datacontenttype string, dataschema string, "
        "subject string, attributes map<string,string>, data string",
    )


def _row(i, typ="purchase", data='{"v":1}'):
    return (str(i), "/s", "1.0", typ, T0, "application/json", None, None, {}, data)


class Recorder:
    def __init__(self, status=200):
        self.status = status

    def __call__(self, rows):
        return [self.status] * len(rows)


def test_fanout_apply_tags_and_filters(spark):
    df = _envelope(
        spark, [_row(1, "purchase"), _row(2, "click"), _row(3, "purchase")]
    )
    out = fanout_apply(
        df,
        {
            "sub-p": {"filters": [{"exact": {"type": "purchase"}}]},
            "sub-c": {"filters": [{"exact": {"type": "click"}}]},
            "sub-all": {},
        },
    )
    got = sorted((r["sub_id"], r["id"]) for r in out.collect())
    assert got == [
        ("sub-all", "1"), ("sub-all", "2"), ("sub-all", "3"),
        ("sub-c", "2"), ("sub-p", "1"), ("sub-p", "3"),
    ]


def test_fanout_apply_independent_transforms(spark):
    df = _envelope(spark, [_row(1)])
    out = fanout_apply(
        df,
        {
            "a": {"transformer": {"pipeline": [["MATH_ADD", "$.data.t", "$.data.v", 1]]}},
            "b": {"transformer": {"pipeline": [["MATH_ADD", "$.data.t", "$.data.v", 10]]}},
        },
    )
    got = {r["sub_id"]: json.loads(r["data"])["t"] for r in out.collect()}
    assert got == {"a": 2, "b": 11}


def test_worker_shared_batch_independent_state(spark):
    """Each subscription keeps its own retry/DLQ state over the shared
    batch: one sub's failure must not affect the other's delivery."""
    w = TriggerWorker(spark)
    w.register("ok", {"filters": [{"exact": {"type": "purchase"}}]}, Recorder(200))
    w.register("down", {}, Recorder(503))
    batch = _envelope(spark, [_row(1, "purchase"), _row(2, "click")])
    res = w.process_batch(batch, T0)
    assert res["ok"].delivered.count() == 1
    assert res["down"].delivered.count() == 0
    assert w.loops["down"].pending.count() == 2  # parked for retry
    assert w.loops["ok"].pending.count() == 0
    # heal: due retries drain on a later tick for 'down' only
    w.loops["down"].sink_fn = Recorder(200)
    res2 = w.process_batch(
        _envelope(spark, []), T0 + dt.timedelta(seconds=30)
    )
    assert res2["down"].delivered.count() == 2
    assert res2["ok"].delivered.count() == 0


def test_worker_run_stream_one_scan_all_subs(spark, tmp_path):
    """End-to-end: one streaming scan fans out to two subscriptions
    with different filters; per-sub delivered counts are right."""
    src = tmp_path / "bus"
    _envelope(
        spark, [_row(i, "purchase" if i % 2 else "click") for i in range(10)]
    ).coalesce(1).write.mode("overwrite").parquet(str(src))

    from vanus_spark.sources.streams import read_envelope_stream

    stream = read_envelope_stream(spark, str(src), "parquet")
    w = TriggerWorker(spark)
    w.register("p", {"filters": [{"exact": {"type": "purchase"}}]}, Recorder())
    w.register("c", {"filters": [{"exact": {"type": "click"}}]}, Recorder())
    q = w.run_stream(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert w.delivered_counts() == {"c": 5, "p": 5}


def test_worker_run_stream_exports_per_loop_counters(spark, tmp_path):
    """Each loop under a streaming worker keeps the same counters and
    metrics rows as a loop streamed on its own: every loop pulls the
    whole shared batch, and pushes or retries only its own matches."""
    src = tmp_path / "bus"
    _envelope(
        spark, [_row(i, "purchase" if i % 2 else "click") for i in range(10)]
    ).coalesce(1).write.mode("overwrite").parquet(str(src))

    from vanus_spark.sources.streams import read_envelope_stream

    stream = read_envelope_stream(spark, str(src), "parquet")
    w = TriggerWorker(spark)
    w.register("p", {"filters": [{"exact": {"type": "purchase"}}]}, Recorder())
    w.register("c", {"filters": [{"exact": {"type": "click"}}]}, Recorder(503))
    q = w.run_stream(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert w.loops["p"].prom_counters == {
        "pull_event_number": 10,
        "push_event_number": 5,
        "retry_event_number": 0,
        "dead_letter_event_number": 0,
    }
    assert w.loops["c"].prom_counters == {
        "pull_event_number": 10,
        "push_event_number": 0,
        "retry_event_number": 5,
        "dead_letter_event_number": 0,
    }
    assert w.delivered_counts() == {"c": 0, "p": 5}
    last = max(w.loops["c"].metrics_df().collect())
    assert (last.delivered, last.new_dead, last.pending) == (0, 0, 5)


def test_worker_run_stream_skips_a_replayed_micro_batch(spark, tmp_path):
    """The worker's stream passes its foreachBatch id to every loop: a
    durable loop commits it, and a restarted stream that re-runs the
    batch (the stream had not committed it) delivers nothing again."""
    from vanus_spark import commitlog
    from vanus_spark.sources.streams import read_envelope_stream

    src, ckpt, state = (str(tmp_path / d) for d in ("bus", "ckpt", "state"))
    _envelope(spark, [_row(i) for i in range(4)]).coalesce(1).write.parquet(src)

    def run():
        w = TriggerWorker(spark).register("p", {}, Recorder(404), state_dir=state)
        q = w.run_stream(read_envelope_stream(spark, src, "parquet"), ckpt)
        q.awaitTermination(120)
        return w.loops["p"]

    assert run().prom_counters["dead_letter_event_number"] == 4
    with open(f"{ckpt}/metadata") as f:
        query_id = json.load(f)["id"]
    assert commitlog.read(state).meta == {"applied_epoch": "0", "stream": query_id}
    for name in ("0", ".0.crc"):
        (tmp_path / "ckpt" / "commits" / name).unlink()
    replayed = run()
    assert replayed.metrics == [{"epoch": 0, "delivered": 0, "new_dead": 0, "pending": 0}]
    assert replayed.dead.count() == 4
