"""Streaming delivery loop: the Spark-native replacement for the
reference's trigger worker + timing wheel + retry/DLQ buses.

Reference dataflow (server/trigger/trigger/trigger.go:594-643): reader
-> filter+transform -> batcher -> sender -> ack/offset-commit, with
failed events written to retry (timer) buses and a DLQ bus, and
delayed events parked in the timing wheel.

Spark design (SURVEY §7.4): ONE pending-events table replaces the 130
timer eventbuses; each micro-batch is one pass per side effect:

  1. work pass: transform(filter(batch)) ∪ carried pending, each row
     tagged send / park / transform-error / interp (due_ts <= batch_time
     is due; a future xvanusdeliverytime parks; one that does not parse
     is due now), materialized once with an eager localCheckpoint. The
     transform runs on the compiled tier (plans/compiler.py) under a
     payload schema the loop infers once, from a driver-side sample of
     its first tick with rows. A row whose payload does not round-trip
     byte for byte through that schema (schema_infer.round_trips) is
     tagged interp and keeps its raw payload
  2. drift pass, only on ticks whose work pass observed interp rows:
     the interpreter over those rows' raw payloads, materialized once;
     on their own partitions, or spread over the session's cores by
     one exchange once there are ``_WIDEN_ROWS`` of them
  3. sink pass: the due rows — capped FIFO by (time, id) under
     max_uack / rate_limit — delivered executor-side (mapInPandas over
     the sink callable, no driver round-trip, partition-parallel),
     materialized once
  4. route: ok / retry / dead split the sink pass, transform errors
     go to the DLQ; the new pending (parked ∪ retries with their
     backoff ∪ capped overflow) is a lazy view over the passes,
     coalesced to the partitions its rows need: one per Arrow batch
     of ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, at most
     the session's default parallelism
  5. counters come from Observations on the passes (no count job);
     the previous tick's passes are released

Every Column a tick uses is built once per loop, and the tick's time
enters as one ``_now`` literal column, so a tick costs a few hundred
py4j round trips rather than thousands.

The loop is a pure function of (batch, pending, batch_time), so tests
replay deterministic batches with logical timestamps (no wall clock),
exactly like the reference's own unit strategy for the wheel.

At scale: pending is small relative to throughput (only failures and
delays), so the union is cheap. A tick runs two jobs (the work and sink
passes), one more when rows die (the in-memory dead state's checkpoint,
or the durable dead-letter write), one more when a durable tick leaves
rows pending (their write), and one more on a tick with drift rows (the
interpreter pass; two with its exchange once there are ``_WIDEN_ROWS``
of them). Compiled ticks have no exchange. A loop's first tick with
rows also takes its payload sample (one small job and one more source
scan), as does each empty tick before it.
A loop whose transformer does not compile, or that has no schema yet,
runs the interpreter behind ``repartition_for_compute``, whose
round-robin exchange AQE runs as one more job. A max_uack / rate_limit
cap adds the TakeOrdered exchange and the overflow's anti-join.
Each pass runs one task per partition of the work pass: the batch's
own partitions plus the few the carried pending needs, so a sink pass
starts no Python worker for an empty carried partition. The loop's
empty frames (its initial state, a gated tick's results) are local
relations, which run no task at all.

With a ``state_dir`` the pending and dead state is durable through the
shared commit log (``vanus_spark.commitlog``): each tick writes its
pending rows and its new dead letters, when it has any, to fresh
generation directories and commits them in one epoch-fenced manifest
swap, with the stream's batch id as ``applied_epoch`` and its query id
as ``stream``. A crash before the swap leaves orphans no restore reads;
a replayed batch of the same stream at or below the applied epoch is
skipped, so its dead letters never land twice; a second writer on the
directory is fenced. Once the dead-letter directories reach Spark's
parallel-listing threshold, the tick that adds one folds them all into
it, so no read of them runs a listing job.
"""

from __future__ import annotations

import os
import uuid
import weakref
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from vanus_spark import commitlog
from vanus_spark.delivery import (
    ERR_TRANSFORM_CODE,
    ORDER_EVENT_CODE,
    failed_event_columns,
)
from vanus_spark.model import ATTR_DELIVERY_TIME, ENVELOPE_SCHEMA
from vanus_spark.schema_infer import infer_sample_schema, round_trips
from vanus_spark.session import local_frame, rdd_id
from vanus_spark.subscription import Subscription
from vanus_spark.transformer import interpret_dataframe

# sink: rows (list of dict) -> list of int status codes (2xx = success)
SinkFn = Callable[[list[dict[str, Any]]], list[int]]


@dataclass
class SinkResult:
    """What one tick did. The frames read the tick's materialized
    passes, which the loop keeps while any of them (or the tick's
    pending) is referenced and releases on a later ``process_batch``
    once none is; ``close`` releases them at once."""

    delivered: DataFrame
    pending: DataFrame
    dead: DataFrame
    # newly-parked retries this tick (None for control-plane-gated
    # ticks), mirroring the reference's TriggerRetryEventCounter
    retried: DataFrame | None = None
    # per-tick totals observed on the passes that did the work:
    # pulled / delivered / retried / dead / pending
    counts: dict[str, int] = field(default_factory=dict)


# work-pass route tag: where each row of the tick goes
_ROUTE = "_route"
_SEND, _PARK, _TF_ERROR, _INTERP = "send", "park", "transform_error", "interp"
# the tick's batch_time, bound as one literal column per tick
_NOW = "_now"
# the compiled tier's round-trip guard, and the raw payload a row that
# fails it keeps for the interpreter
_CONFORM, _RAW = "_conform", "_raw"
_RAW_TYPE = "struct<data: string, datacontenttype: string>"
# rows sampled (once per loop) to infer the compiled tier's schema
_SAMPLE_ROWS = 1000
# drift rows from which the interpreter pass is spread over the session's
# cores by one exchange rather than run on the work pass's partitions,
# where a narrow source leaves them in one task. Measured on 4 local
# cores (the interpreter alone, one partition vs widened): 2,000 rows
# 0.31 vs 0.45 s, 5,000 rows 0.48 vs 0.50 s, 20,000 rows 1.02 vs 0.66 s.
_WIDEN_ROWS = 5000
# the id Structured Streaming gives a query and keeps in its checkpoint,
# set on the thread that runs the query's batches
_QUERY_ID = "sql.streaming.queryId"
# the number of paths above which Spark lists a read's files with a job
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


_STATUS_SCHEMA_SUFFIX = ", status int, error string"


def _deliver_with_sink(df: DataFrame, sink_fn: SinkFn) -> DataFrame:
    """Run the sink executor-side per Arrow batch; returns df + status.

    The sink callable must be picklable (it ships to executors, like
    the reference's sender goroutines ship the HTTP client config).
    """
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        + _STATUS_SCHEMA_SUFFIX
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = pdf.to_dict("records")
            try:
                statuses = sink_fn(rows)
            except Exception as e:  # noqa: BLE001 — sink blew up: all fail
                statuses = [500] * len(rows)
                pdf = pdf.assign(status=statuses, error=str(e))
                yield pdf
                continue
            pdf = pdf.assign(
                status=statuses,
                error=["" if 200 <= s < 300 else f"status={s}" for s in statuses],
            )
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


class DeliveryLoop:
    """Per-subscription micro-batch delivery with retry/DLQ/delay."""

    def __init__(
        self,
        spark: SparkSession,
        subscription: Subscription,
        sink_fn: SinkFn,
        sub_id: str = "sub-0",
        state_dir: str | None = None,
        catalog=None,
        catalog_sub_id: int | None = None,
    ):
        """``state_dir`` makes pending/dead state durable through the
        shared commit log: each tick commits its pending directory and
        every dead-letter directory so far in one manifest, so a
        restarted loop resumes its parked retries/delays and a crash
        mid-tick leaves the last committed tick intact. In-memory
        (localCheckpoint) otherwise — fine for tests, not restarts."""
        self.spark = spark
        self.sub = subscription
        self.sink_fn = sink_fn
        self.sub_id = sub_id
        self.state_dir = state_dir
        # Optional control-plane gate: when bound to a Catalog
        # subscription, a disabled phase stops delivery at the top of
        # every tick (the reference's trigger worker is descheduled on
        # DisableSubscription, controller.go:305-336); the batch is NOT
        # consumed, so offsets stand still and a later resume redelivers
        # from where delivery stopped.
        self.catalog = catalog
        self.catalog_sub_id = catalog_sub_id
        # durable state: the manifest epoch this loop last observed, and
        # the last stream batch id committed with it and the query id of
        # its stream (None outside a stream)
        self._epoch = 0
        self._applied = -1
        self._stream: str | None = None
        self._writer_id = uuid.uuid4().hex[:8]
        # local relations: reading them runs no task
        self.empty_envelope = local_frame(
            spark,
            [],
            "id string, source string, specversion string, type string, "
            "time timestamp, datacontenttype string, dataschema string, "
            "subject string, attributes map<string,string>, data string",
        )
        self.pending: DataFrame = self.empty_envelope.withColumn(
            "due_ts", F.lit(None).cast("timestamp")
        )
        self.dead: DataFrame = self.empty_envelope
        # the initial state, whose schemas the durable state is read with
        self._empty = {"p": self.pending, "d": self.dead}
        # this loop's local checkpoints, each as (RDD ids, weak references
        # to the frames handed out that read them): a tick's passes with
        # its pending and SinkResult frames, the in-memory dead state
        # with itself
        self._held: list[tuple[list[int], list[weakref.ref]]] = []
        # the compiled tier: the schema is sampled on the first tick
        # whose filtered batch has rows, then frozen with its guard
        self._schema = None
        self._schema_frozen = False
        self._guard: dict | None = None
        self._cols = self._tick_columns()
        self.metrics: list[dict] = []
        # Prometheus-shaped counters (reference pkg/observability/
        # metrics/trigger.go): monotonic totals accumulated per tick by
        # record_tick, exported with the reference's metric names via
        # vanus_spark.observability. Kept separate from self.metrics so
        # the metrics_df schema (a query surface) stays frozen.
        self.prom_counters: dict[str, int] = {
            "pull_event_number": 0,
            "push_event_number": 0,  # result=success pushes
            "retry_event_number": 0,
            "dead_letter_event_number": 0,
        }
        if state_dir:
            os.makedirs(state_dir, exist_ok=True)  # the commit lock's home
            self._restore_state()

    # ----- durable state ---------------------------------------------------

    # One commit per tick. Its entries name the tick's pending directory
    # ("p<generation>-<writer>") and every dead-letter directory so far
    # ("d..."), all under data/. A directory is written only when the
    # tick has such rows, with mode("error"); the writer token keeps two
    # live loops out of one directory, and the fence refuses the later
    # commit. State is read back with the schemas of the loop's initial
    # state, so no read infers one; the dead-letter directories are
    # folded into one before a read of them would take Spark's listing
    # job.

    def _read_state(self, entries: list[str], kind: str) -> DataFrame:
        dirs = [f"{self.state_dir}/data/{e}" for e in entries if e.startswith(kind)]
        if not dirs:
            return self._empty[kind]
        return self.spark.read.schema(self._empty[kind].schema).parquet(*dirs)

    def _restore_state(self) -> None:
        self._epoch, entries, meta = commitlog.read(self.state_dir)
        self._applied = int(meta.get("applied_epoch", -1))
        self._stream = meta.get("stream")
        self.pending = self._read_state(entries, "p")
        self.dead = self._read_state(entries, "d")

    def _commit_state(
        self,
        pending: DataFrame,
        new_dead: DataFrame,
        counts: dict[str, int],
        batch_id: int | None,
        stream: str | None,
    ) -> None:
        """Write the tick's pending and new dead rows, commit them (the
        fence raises ``ConcurrentWriterError`` when another writer
        committed since this loop read the log), then drop the
        directories the last two commits no longer name. A tick whose
        dead letters would take the dead-letter directories past
        Spark's listing threshold writes them with all the committed
        ones, and its commit names that directory alone."""
        data = f"{self.state_dir}/data"
        entries = [e for e in commitlog.read(self.state_dir).entries if e.startswith("d")]
        if counts["dead"] and len(entries) >= int(self.spark.conf.get(_LISTING_THRESHOLD)):
            new_dead, entries = self._read_state(entries, "d").unionByName(new_dead), []
        written = []
        gen = commitlog.next_generation([data])
        for kind, df, rows in (("p", pending, counts["pending"]), ("d", new_dead, counts["dead"])):
            if rows:
                name = f"{kind}{gen}-{self._writer_id}"
                df.write.mode("error").parquet(f"{data}/{name}")
                written.append(name)
        if batch_id is None:
            batch_id, stream = self._applied, self._stream
        meta = {"applied_epoch": str(batch_id), **({"stream": stream} if stream else {})}
        entries += written
        self._epoch = commitlog.commit(self.state_dir, self._epoch, entries, meta)
        self._applied, self._stream = batch_id, stream
        commitlog.vacuum(self.state_dir, [data], retain_epochs=2)
        self.pending = self._read_state(written, "p")
        if counts["dead"]:
            self.dead = self._read_state(entries, "d")

    def _data_schema(self, batch_df: DataFrame):
        """The payload schema the compiled tier runs under, frozen for
        the life of the loop: inferred on the driver from the payloads
        of at most ``_SAMPLE_ROWS`` rows of the first tick whose
        filtered batch has any (one small job, run again on each empty
        tick before it). None when those payloads give no field, or
        when the transformer has nothing to compile (no sample then).
        A compiled schema also fixes the guard columns the batch gets
        before the transform."""
        if self._schema_frozen or not self.sub.transforms:
            return self._schema
        sample = (
            batch_df.where(self.sub.filter_column())
            .select("data")
            .limit(_SAMPLE_ROWS)
            .collect()
        )
        if not sample:
            return None
        self._schema_frozen = True
        self._schema = infer_sample_schema(r[0] for r in sample)
        if self.sub.compiled_transformer(self._schema) is not None:
            conform = round_trips(self._schema)
            self._guard = {
                _CONFORM: conform,
                _RAW: F.when(~conform, F.struct("data", "datacontenttype")),
            }
        return self._schema

    def _tick_columns(self) -> dict[str, Any]:
        """Every Column a tick uses, built once per loop; the tick's time
        reaches them as the ``_NOW`` column."""
        route, status, due = F.col(_ROUTE), F.col("status"), F.col("due_ts")
        now = F.col(_NOW)
        ok = (status >= 200) & (status < 300)
        retriable, retry_attributes, dead_attributes = failed_event_columns(
            self.sub_id, now, self.sub.max_retry_attempts
        )
        # a malformed delivery time is due now, like an absent one
        due_ts = F.try_to_timestamp(F.col("attributes").getItem(ATTR_DELIVERY_TIME))
        by_time = F.when(due > now, _PARK).otherwise(_SEND)
        interp_route = F.when(F.col("transform_error"), _TF_ERROR).otherwise(by_time)
        is_route = {r: route == r for r in (_SEND, _PARK, _TF_ERROR, _INTERP)}
        unguarded = {_CONFORM: F.lit(True), _RAW: F.lit(None).cast(_RAW_TYPE)}
        return {
            **is_route,
            "compiled": ~is_route[_INTERP],
            "due_ts": due_ts,
            "unguarded": unguarded,
            "carried": {"transform_error": F.lit(False), **unguarded},
            "raw_payload": {k: F.col(_RAW).getField(k) for k in ("data", "datacontenttype")},
            "route": F.when(~F.col(_CONFORM), _INTERP).otherwise(interp_route),
            "interp_route": interp_route,
            "pulled": [F.count(F.lit(1)).alias("n")],
            "route_counts": [F.count(F.when(p, 1)).alias(r) for r, p in is_route.items()],
            "drift_counts": [
                F.count(F.when(is_route[r], 1)).alias(r) for r in (_SEND, _PARK, _TF_ERROR)
            ],
            "fifo": [F.col("time").asc_nulls_last(), F.col("id")],
            "ok": ok,
            "failed": ~ok,
            "ordered_status": F.when(ok, status).otherwise(ORDER_EVENT_CODE),
            "sent_counts": [
                F.count(F.lit(1)).alias("sent"),
                F.count(F.when(ok, 1)).alias("delivered"),
                F.count(F.when(~ok & retriable, 1)).alias("retried"),
                F.count(F.when(~ok & ~retriable, 1)).alias("dead"),
            ],
            "retriable": retriable,
            "not_retriable": ~retriable,
            "retry_attributes": retry_attributes,
            "dead_attributes": dead_attributes,
            "tf_status": {
                "status": F.lit(ERR_TRANSFORM_CODE),
                "error": F.lit("transform error"),
            },
        }

    def process_batch(
        self,
        batch_df: DataFrame,
        batch_time,
        tick_seconds: float = 1.0,
        batch_id: int | None = None,
    ) -> SinkResult:
        """One micro-batch tick; updates pending/dead state and returns
        what happened. The tick is eager: the batch is transformed once
        and the sink is called once, each in one materializing pass
        whose observed counters become ``SinkResult.counts``.

        An ``xvanusdeliverytime`` that does not parse as a timestamp is
        due now, the same as an absent one.

        Backpressure/rate limiting are ENFORCED here, not passed
        through: ``config.max_uack`` (reference: offset/offset.go:29-63
        maxUACK) and ``config.rate_limit`` × ``tick_seconds``
        (reference: trigger.go:130-132,247) bound how many events reach
        the sender this tick; the excess parks in pending (due
        immediately) and drains FIFO — by (time, id) — on later ticks,
        exactly the bounded-unacked-window behavior of the reference's
        offset tracker.

        ``batch_id`` is the stream's micro-batch id (``run_stream``
        passes foreachBatch's). A durable loop commits it with the
        tick's state, and with the query id Structured Streaming sets
        on the thread running the batch. It skips a batch of the same
        query at or below the committed id — a replay after a crash
        between the commit and the stream's own — without calling the
        sink or changing the state. A batch of another query (a new
        checkpoint, whose ids restart at 0) runs."""
        # 0. a replayed batch, or a stopped subscription, receives nothing
        stream = None
        if self.state_dir and batch_id is not None:
            stream = self.spark.sparkContext.getLocalProperty(_QUERY_ID)
            if stream == self._stream and batch_id <= self._applied:
                return self._idle(0)
        if self.catalog is not None and self.catalog_sub_id is not None:
            self.catalog.refresh()
            if not self.catalog.subscription_is_active(self.catalog_sub_id):
                return self._idle(batch_df.count())
        c = self._cols
        now = F.lit(batch_time).cast("timestamp")
        width = self.spark.sparkContext.defaultParallelism

        # 1. work pass: the transformed batch and the carried pending,
        # each row tagged with its route, materialized once. Rows the
        # compiled tier did not take wait for the interpreter, transform
        # errors route to the DLQ, future delivery times park, the rest
        # is due now.
        schema = self._data_schema(batch_df)
        pulled, routed = Observation(), Observation()
        batch = batch_df.observe(pulled, *c["pulled"])
        if self._guard is not None:
            # the compiled plan reads the payload at the schema's types:
            # mark the rows whose payload does, and keep the others' raw
            batch = batch.withColumns(self._guard)
        fresh = self.sub.apply(batch, data_schema=schema)
        if self._guard is None:
            fresh = fresh.withColumns(c["unguarded"])
        work = (
            fresh.withColumn("due_ts", c["due_ts"])
            .unionByName(self.pending.withColumns(c["carried"]))
            .withColumn(_NOW, now)
            .withColumn(_ROUTE, c["route"])
            .drop("transform_error", _CONFORM)
            .observe(routed, *c["route_counts"])
            .localCheckpoint(eager=True)
        )
        r = routed.get
        passes = [work]
        tick, n = work.drop(_RAW), {k: r[k] for k in (_SEND, _PARK, _TF_ERROR)}
        if r[_INTERP]:
            # drift pass: the interpreter over the raw payloads of the
            # work pass's rows the compiled tier did not take
            drift = Observation()
            drifted = (
                work.where(c[_INTERP])
                .withColumns(c["raw_payload"])
                .select(*ENVELOPE_SCHEMA.fieldNames())
            )
            if r[_INTERP] >= _WIDEN_ROWS:
                drifted = drifted.repartition(width)
            interpreted = (
                interpret_dataframe(drifted, self.sub.transformer)
                .withColumns({"due_ts": c["due_ts"], _NOW: now})
                .withColumn(_ROUTE, c["interp_route"])
                .drop("transform_error")
                .observe(drift, *c["drift_counts"])
                .localCheckpoint(eager=True)
            )
            passes.append(interpreted)
            tick = work.where(c["compiled"]).drop(_RAW).unionByName(interpreted)
            n = {k: v + drift.get[k] for k, v in n.items()}

        # 2. sink pass over what is due, materialized once. Backpressure
        # caps it (sort+limit is TakeOrdered — memory bounded by the
        # cap, never a full global sort); the overflow parks below.
        to_send = tick.where(c[_SEND]).drop(_ROUTE, "due_ts", _NOW)
        cap = self.sub.batch_cap(tick_seconds)
        if cap is not None:
            to_send = to_send.orderBy(*c["fifo"]).limit(cap)
        sent = _deliver_with_sink(to_send, self.sink_fn)
        if self.sub.ordered:
            # ordered mode: a failed send never retries — straight to
            # DLQ with reason OrderEvent (reference: trigger.go:427-434)
            sent = sent.withColumn("status", c["ordered_status"])
        outcome = Observation()
        sent = sent.observe(outcome, *c["sent_counts"]).localCheckpoint(eager=True)
        passes.append(sent)

        # 3. route: every frame below is a view over the passes
        failed = sent.where(c["failed"]).withColumn(_NOW, now)
        retry = (
            failed.where(c["retriable"])
            .withColumn("attributes", c["retry_attributes"])
            .drop("status", "error", _NOW)
        )
        dead = failed.where(c["not_retriable"])
        tf_dead = tick.where(c[_TF_ERROR]).drop(_ROUTE, "due_ts").withColumns(c["tf_status"])
        new_dead = (
            dead.unionByName(tf_dead)
            .withColumn("attributes", c["dead_attributes"])
            .drop("status", "error", _NOW)
        )
        # retries re-enter pending with their backoff due_ts; throttled
        # overflow parks due now
        pending = tick.where(c[_PARK]).drop(_ROUTE, _NOW).unionByName(
            retry.withColumn("due_ts", c["due_ts"])
        )
        if cap is not None:
            throttled = (
                tick.where(c[_SEND])
                .drop(_ROUTE, _NOW)
                .join(sent.select("id"), "id", "left_anti")
                .withColumn("due_ts", now)
            )
            pending = pending.unionByName(throttled)

        o = outcome.get
        counts = {
            "pulled": pulled.get["n"],
            "delivered": o["delivered"],
            "retried": o["retried"],
            "dead": o["dead"] + n[_TF_ERROR],
            # parked + throttled overflow + new retries
            "pending": n[_PARK] + n[_SEND] - o["sent"] + o["retried"],
        }
        # one partition per Arrow batch of its rows, at most the
        # session's cores: each carried partition is one more Python task
        # in the next sink pass, and the union would otherwise add the
        # batch's partitions to the carried ones on every tick
        pending = pending.coalesce(self._pending_width(counts["pending"], width))
        if self.state_dir:
            self._commit_state(pending, new_dead, counts, batch_id, stream)
        else:
            self.pending = pending
            if counts["dead"]:
                self.dead = (
                    self.dead.unionByName(new_dead).coalesce(width).localCheckpoint(eager=True)
                )
        res = SinkResult(
            delivered=sent.where(c["ok"]).drop("status", "error"),
            pending=self.pending,
            dead=new_dead,
            retried=retry,
            counts=counts,
        )
        handed = [res.delivered, new_dead, retry]
        if not self.state_dir:
            # a durable pending reads its parquet, not this tick's passes
            handed.append(self.pending)
        entries = [([rdd_id(df) for df in passes], [weakref.ref(df) for df in handed])]
        if not self.state_dir and counts["dead"]:
            entries.append(([rdd_id(self.dead)], [weakref.ref(self.dead)]))
        # release what no frame reads any more: the state now reads this
        # tick's passes only, and a frame handed out before (an earlier
        # pending or SinkResult, a replaced dead state) keeps its passes
        # while someone holds it — say a reader on another thread that is
        # counting it. Not before this point, so a tick that fails midway
        # leaves the old state readable.
        keep, stale = [], []
        for entry in self._held:
            (keep if any(r() is not None for r in entry[1]) else stale).append(entry)
        self._held = keep + entries
        self._unpersist(stale)
        return res

    def _idle(self, pulled: int) -> SinkResult:
        """A tick that delivers nothing and leaves the state as it is."""
        return SinkResult(
            delivered=self.empty_envelope,
            pending=self.pending,
            dead=self.empty_envelope,
            counts={
                "pulled": pulled,
                "delivered": 0,
                "retried": 0,
                "dead": 0,
                "pending": self.pending.count(),
            },
        )

    def _pending_width(self, rows: int, width: int) -> int:
        """Partitions for ``rows`` carried rows: one per
        ``spark.sql.execution.arrow.maxRecordsPerBatch`` of them (one
        when that is unbounded), at least 1 and at most ``width``."""
        batch = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        if batch <= 0:
            return 1
        return max(1, min(width, -(-rows // batch)))

    def _unpersist(self, entries: list[tuple[list[int], list[weakref.ref]]]) -> None:
        """Drop the blocks of local checkpoints (see ``session.rdd_id``)."""
        sc = self.spark.sparkContext._jsc.sc()
        for ids, _ in entries:
            for rid in ids:
                sc.unpersistRDD(rid, False)

    def close(self) -> None:
        """Release the loop's local checkpoints: the last tick's passes
        and the in-memory dead state. Its in-memory pending and dead
        frames cannot be read afterwards (durable state stays on disk).
        A second call does nothing."""
        held, self._held = self._held, []
        self._unpersist(held)

    # ----- Structured Streaming wiring -------------------------------------

    @property
    def delivered_count(self) -> int:
        return self.prom_counters["push_event_number"]

    def record_tick(self, epoch_id: int, counts: dict[str, int]) -> None:
        """Fold one streamed tick's ``SinkResult.counts`` into the
        counters and the ``metrics_df`` rows — the reference's
        TriggerDeliveryEventCounter surface: delivered / newly-dead /
        parked per tick."""
        self.prom_counters["pull_event_number"] += counts["pulled"]
        self.prom_counters["push_event_number"] += counts["delivered"]
        self.prom_counters["retry_event_number"] += counts["retried"]
        self.prom_counters["dead_letter_event_number"] += counts["dead"]
        self.metrics.append(
            {
                "epoch": int(epoch_id),
                "delivered": counts["delivered"],
                "new_dead": counts["dead"],
                "pending": counts["pending"],
            }
        )

    def metrics_df(self) -> DataFrame:
        """Per-tick delivery metrics as a DataFrame (delivered /
        newly-dead / parked per processed micro-batch — the
        observability surface of the reference's delivery counters)."""
        schema = "epoch long, delivered long, new_dead long, pending long"
        return local_frame(self.spark, self.metrics, schema)

    _HEARTBEAT_ID = "__heartbeat__"

    def _heartbeat_stream(self) -> DataFrame:
        """A rate-source stream shaped like the envelope: one marker
        row per second whose only job is to make the trigger fire so
        parked retries/delays drain on a QUIET input stream. Without
        it, a file/kafka source with no new data never invokes
        foreachBatch, and a retry due at T+5s waits for the next
        unrelated event — the reference's loop is clock-driven
        (trigger.go:594-643), so ours must tick on the clock too."""
        rate = self.spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        return rate.select(
            F.lit(self._HEARTBEAT_ID).alias("id"),
            F.lit("/heartbeat").alias("source"),
            F.lit("1.0").alias("specversion"),
            F.lit(self._HEARTBEAT_ID).alias("type"),
            F.col("timestamp").alias("time"),
            F.lit(None).cast("string").alias("datacontenttype"),
            F.lit(None).cast("string").alias("dataschema"),
            F.lit(None).cast("string").alias("subject"),
            F.create_map().cast("map<string,string>").alias("attributes"),
            F.lit(None).cast("string").alias("data"),
        )

    def run_stream(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        tick_seconds: float = 1.0,
        heartbeat: bool = False,
        **trigger_kwargs,
    ):
        """Attach the loop to a streaming DataFrame via foreachBatch.
        Offsets/exactly-once come from the checkpoint (the Spark
        equivalent of the reference's committed-offset store).

        Backpressure / rate limiting are enforced at TWO layers: the
        source's maxOffsetsPerTrigger / maxFilesPerTrigger options
        bound what each micro-batch READS (set them on ``stream_df``'s
        reader), and the subscription's max_uack / rate_limit config
        bounds what each tick SENDS (process_batch parks the excess in
        pending). ``tick_seconds`` should match the trigger interval
        so rate_limit integrates correctly; pass
        ``processingTime='...'`` here to pace the ticks.

        ``heartbeat=True`` unions a 1-row/s rate-source marker stream
        so ticks fire even when the input is quiet — REQUIRED for
        long-lived processingTime streams with retries/delays (a file
        source with no new files never triggers a batch, which would
        strand parked retries until the next unrelated event). Leave
        off for availableNow/replay runs, where a drain loop would
        never terminate."""
        if heartbeat:
            stream_df = stream_df.unionByName(self._heartbeat_stream())

        def on_batch(batch_df: DataFrame, epoch_id: int):
            import datetime as _dt

            if heartbeat:
                batch_df = batch_df.where(F.col("id") != self._HEARTBEAT_ID)
            counts = self.process_batch(
                batch_df, _dt.datetime.now(_dt.timezone.utc), tick_seconds, epoch_id
            ).counts
            self.record_tick(epoch_id, counts)

        return (
            stream_df.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**(trigger_kwargs or {"availableNow": True}))
            .start()
        )
