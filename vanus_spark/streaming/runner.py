"""Streaming delivery loop: the Spark-native replacement for the
reference's trigger worker + timing wheel + retry/DLQ buses.

Reference dataflow (server/trigger/trigger/trigger.go:594-643): reader
-> filter+transform -> batcher -> sender -> ack/offset-commit, with
failed events written to retry (timer) buses and a DLQ bus, and
delayed events parked in the timing wheel.

Spark design (SURVEY §7.4): ONE pending-events table replaces the 130
timer eventbuses; each micro-batch is one pass per side effect:

  1. work pass: transform(filter(batch)) ∪ carried pending, each row
     tagged send / park / transform-error (due_ts <= batch_time is
     due; a future xvanusdeliverytime parks), materialized once
     with an eager localCheckpoint
  2. sink pass: the due rows — capped FIFO by (time, id) under
     max_uack / rate_limit — delivered executor-side (mapInPandas over
     the sink callable, no driver round-trip, partition-parallel),
     materialized once
  3. route: ok / retry / dead split the sink pass, transform errors
     go to the DLQ; the new pending (parked ∪ retries with their
     backoff ∪ capped overflow) is a lazy view over the two passes,
     coalesced to the session's default parallelism
  4. counters come from Observations on the two passes (no count
     job); the previous tick's passes are released

The loop is a pure function of (batch, pending, batch_time), so tests
replay deterministic batches with logical timestamps (no wall clock),
exactly like the reference's own unit strategy for the wheel.

At scale: pending is small relative to throughput (only failures and
delays), so the union is cheap. A tick runs two jobs (the two passes),
one more when rows die and the dead state is in memory (its own
checkpoint), and one more under AQE when the interpreted transformer
widens a narrow batch: ``repartition_for_compute`` adds a round-robin
exchange, whose map stage AQE runs as a separate job. A max_uack /
rate_limit cap adds the TakeOrdered exchange and the overflow's
anti-join. Delivery parallelism = the work pass's partitions. For
exactly-once bookkeeping the delivered/dead tables would be
Delta/Iceberg appends keyed by (eventlog, offset) — plain parquet
appends here since those jars aren't in the test image.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from vanus_spark.commitlog import write_atomic
from vanus_spark.delivery import (
    ERR_TRANSFORM_CODE,
    ORDER_EVENT_CODE,
    retriable_col,
    route_failed_events,
)
from vanus_spark.model import ATTR_DELIVERY_TIME
from vanus_spark.subscription import Subscription

# sink: rows (list of dict) -> list of int status codes (2xx = success)
SinkFn = Callable[[list[dict[str, Any]]], list[int]]


@dataclass
class SinkResult:
    """What one tick did. The frames read the tick's materialized
    passes and stay valid until the loop's next ``process_batch``,
    which releases those passes."""

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
_SEND, _PARK, _TF_ERROR = "send", "park", "transform_error"


def _release(checkpointed: DataFrame) -> None:
    """Drop the blocks behind a frame returned by localCheckpoint, as
    the context cleaner does for a garbage-collected RDD (RDD.unpersist
    would also log that a local checkpoint cannot be recomputed)."""
    jrdd = checkpointed._jdf.queryExecution().logical().rdd()
    jrdd.context().unpersistRDD(jrdd.id(), False)


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
        """``state_dir`` makes pending/dead state durable: the pending
        table snapshots per epoch (alternating dirs, so a crash mid-
        write leaves the previous epoch intact) and the DLQ appends —
        a restarted loop resumes its parked retries/delays. In-memory
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
        self._epoch = 0
        self.empty_envelope = spark.createDataFrame(
            [],
            "id string, source string, specversion string, type string, "
            "time timestamp, datacontenttype string, dataschema string, "
            "subject string, attributes map<string,string>, data string",
        )
        self.pending: DataFrame = self.empty_envelope.withColumn(
            "due_ts", F.lit(None).cast("timestamp")
        ).limit(0)
        self.dead: DataFrame = self.empty_envelope
        # this loop's local checkpoints: the last tick's work and sink
        # passes, and the in-memory dead state
        self._held: list[DataFrame] = []
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
            self._restore_state()

    # ----- durable state ---------------------------------------------------

    def _pending_dir(self, epoch: int) -> str:
        return f"{self.state_dir}/pending_e{epoch % 2}"

    def _restore_state(self) -> None:
        import os

        marker = f"{self.state_dir}/EPOCH"
        if os.path.exists(marker):
            with open(marker) as f:
                self._epoch = int(f.read().strip())
            self.pending = self.spark.read.parquet(self._pending_dir(self._epoch))
        dead_dir = f"{self.state_dir}/dead"
        if os.path.isdir(dead_dir) and any(
            f.endswith(".parquet") for f in os.listdir(dead_dir)
        ):
            self.dead = self.spark.read.parquet(dead_dir)

    def _persist_state(self, new_dead: DataFrame) -> None:
        self._epoch += 1
        path = self._pending_dir(self._epoch)
        self.pending.write.mode("overwrite").parquet(path)
        self.pending = self.spark.read.parquet(path)
        new_dead.write.mode("append").parquet(f"{self.state_dir}/dead")
        self.dead = self.spark.read.parquet(f"{self.state_dir}/dead")
        write_atomic(f"{self.state_dir}/EPOCH", str(self._epoch))

    def _with_due_ts(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "due_ts",
            F.to_timestamp(F.col("attributes").getItem(ATTR_DELIVERY_TIME)),
        )

    def process_batch(
        self, batch_df: DataFrame, batch_time, tick_seconds: float = 1.0
    ) -> SinkResult:
        """One micro-batch tick; updates pending/dead state and returns
        what happened. The tick is eager: the batch is transformed once
        and the sink is called once, each in one materializing pass
        whose observed counters become ``SinkResult.counts``.

        Backpressure/rate limiting are ENFORCED here, not passed
        through: ``config.max_uack`` (reference: offset/offset.go:29-63
        maxUACK) and ``config.rate_limit`` × ``tick_seconds``
        (reference: trigger.go:130-132,247) bound how many events reach
        the sender this tick; the excess parks in pending (due
        immediately) and drains FIFO — by (time, id) — on later ticks,
        exactly the bounded-unacked-window behavior of the reference's
        offset tracker."""
        # 0. control-plane gate: a stopped subscription receives nothing
        if self.catalog is not None and self.catalog_sub_id is not None:
            self.catalog.refresh()
            if not self.catalog.subscription_is_active(self.catalog_sub_id):
                return SinkResult(
                    delivered=self.empty_envelope,
                    pending=self.pending,
                    dead=self.empty_envelope,
                    counts={
                        "pulled": batch_df.count(),
                        "delivered": 0,
                        "retried": 0,
                        "dead": 0,
                        "pending": self.pending.count(),
                    },
                )
        now = F.lit(batch_time).cast("timestamp")
        route = F.col(_ROUTE)
        width = self.spark.sparkContext.defaultParallelism

        # 1. work pass: the transformed batch and the carried pending,
        # each row tagged with its route, materialized once. Transform
        # errors route to the DLQ, future delivery times park, the rest
        # is due now.
        pulled, routed = Observation(), Observation()
        fresh = self._with_due_ts(
            self.sub.apply(batch_df.observe(pulled, F.count(F.lit(1)).alias("n")))
        ).withColumn(
            _ROUTE,
            F.when(F.col("transform_error"), _TF_ERROR)
            .when(F.col("due_ts") > now, _PARK)
            .otherwise(_SEND),
        ).drop("transform_error")
        carried = self.pending.withColumn(
            _ROUTE,
            F.when(F.col("due_ts") <= now, _SEND).when(F.col("due_ts") > now, _PARK),
        )
        work = (
            fresh.unionByName(carried)
            .observe(
                routed,
                *[F.count(F.when(route == r, 1)).alias(r) for r in (_SEND, _PARK, _TF_ERROR)],
            )
            .localCheckpoint(eager=True)
        )

        # 2. sink pass over what is due, materialized once. Backpressure
        # caps it (sort+limit is TakeOrdered — memory bounded by the
        # cap, never a full global sort); the overflow parks below.
        to_send = work.where(route == _SEND).drop(_ROUTE, "due_ts")
        cap = self.sub.batch_cap(tick_seconds)
        if cap is not None:
            to_send = to_send.orderBy(F.col("time").asc_nulls_last(), "id").limit(cap)
        status = F.col("status")
        ok = (status >= 200) & (status < 300)
        sent = _deliver_with_sink(to_send, self.sink_fn)
        if self.sub.ordered:
            # ordered mode: a failed send never retries — straight to
            # DLQ with reason OrderEvent (reference: trigger.go:427-434)
            sent = sent.withColumn("status", F.when(ok, status).otherwise(ORDER_EVENT_CODE))
        retriable = retriable_col(self.sub.max_retry_attempts)
        outcome = Observation()
        sent = sent.observe(
            outcome,
            F.count(F.lit(1)).alias("sent"),
            F.count(F.when(ok, 1)).alias("delivered"),
            F.count(F.when(~ok & retriable, 1)).alias("retried"),
            F.count(F.when(~ok & ~retriable, 1)).alias("dead"),
        ).localCheckpoint(eager=True)

        # 3. route: every frame below is a view over the two passes
        retry, dead = route_failed_events(
            sent.where(~ok), self.sub_id, batch_time, self.sub.max_retry_attempts
        )
        tf_failed = (
            work.where(route == _TF_ERROR)
            .drop(_ROUTE, "due_ts")
            .withColumn("status", F.lit(ERR_TRANSFORM_CODE))
            .withColumn("error", F.lit("transform error"))
        )
        _, tf_dead = route_failed_events(
            tf_failed, self.sub_id, batch_time, self.sub.max_retry_attempts
        )
        new_dead = dead.unionByName(tf_dead)
        # retries re-enter pending with their backoff due_ts; throttled
        # overflow parks due now
        pending = work.where(route == _PARK).drop(_ROUTE).unionByName(
            self._with_due_ts(retry)
        )
        if cap is not None:
            throttled = (
                work.where(route == _SEND)
                .drop(_ROUTE)
                .join(sent.select("id"), "id", "left_anti")
                .withColumn("due_ts", now)
            )
            pending = pending.unionByName(throttled)
        # a fixed width: the union would otherwise add the batch's
        # partitions to the carried ones on every tick
        self.pending = pending.coalesce(width)

        r, o = routed.get, outcome.get
        counts = {
            "pulled": pulled.get["n"],
            "delivered": o["delivered"],
            "retried": o["retried"],
            "dead": o["dead"] + r[_TF_ERROR],
            # parked + throttled overflow + new retries
            "pending": r[_PARK] + r[_SEND] - o["sent"] + o["retried"],
        }
        if self.state_dir:
            self._persist_state(new_dead)
        elif counts["dead"]:
            self.dead = (
                self.dead.unionByName(new_dead).coalesce(width).localCheckpoint(eager=True)
            )
        # the state now reads this tick's passes only: release the
        # previous tick's (and a replaced dead state) — not before, so a
        # tick that fails midway leaves the old state readable
        stale, self._held = self._held, [work, sent]
        if not self.state_dir and self.dead is not self.empty_envelope:
            self._held.append(self.dead)
        for df in stale:
            if all(df is not h for h in self._held):
                _release(df)
        return SinkResult(
            delivered=sent.where(ok).drop("status", "error"),
            pending=self.pending,
            dead=new_dead,
            retried=retry,
            counts=counts,
        )

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
        return self.spark.createDataFrame(self.metrics, schema)

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
                batch_df, _dt.datetime.now(_dt.timezone.utc), tick_seconds
            ).counts
            self.record_tick(epoch_id, counts)

        return (
            stream_df.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**(trigger_kwargs or {"availableNow": True}))
            .start()
        )
