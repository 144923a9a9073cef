"""Multi-subscription fan-out: one bus scan feeding N subscription
plans.

The reference's trigger worker hosts many subscriptions
(``triggerMap map[vanus.ID]trigger.Trigger``,
server/trigger/worker.go:58,78) — but each trigger runs its OWN bus
reader, so N subscriptions on one bus read the log N times. Spark can
do strictly better: in a single ``foreachBatch`` the micro-batch is
persisted once and every subscription's compiled plan (filter Column →
transform → sink) evaluates over the cached batch. At 100 TB this is
the difference between N full-log scans and one — the scan cost is
amortized across every subscription on the bus, and each
subscription's filter still prunes executor-side (a cached batch
filter is a codegen'd scan of in-memory columnar blocks).

Batch form (``fanout_apply``) is the same idea for one-shot queries:
the shared input is evaluated under each subscription spec and the
union is tagged with ``sub_id`` — one logical plan Catalyst can reuse
a shuffle-free cached scan for.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from vanus_spark.streaming.runner import DeliveryLoop, SinkFn, SinkResult
from vanus_spark.subscription import Subscription


def fanout_apply(
    envelope_df: DataFrame,
    specs: dict[str, dict[str, Any]],
    data_schema=None,
) -> DataFrame:
    """Apply N subscription specs to one envelope DataFrame; returns
    the union of their outputs tagged with ``sub_id``.

    Every branch reads the SAME child plan — with the input cached (or
    a file scan, where Catalyst dedupes the scan via exchange/subquery
    reuse under AQE) the source is materialized once however many
    subscriptions fan out of it.
    """
    if not specs:
        raise ValueError("fanout_apply: specs must be non-empty")
    branches = []
    for sub_id, spec in sorted(specs.items()):
        sub = Subscription.from_spec(spec)
        out = sub.apply(envelope_df, data_schema=data_schema)
        branches.append(out.withColumn("sub_id", F.lit(sub_id)))
    result = branches[0]
    for b in branches[1:]:
        result = result.unionByName(b)
    return result


class TriggerWorker:
    """N DeliveryLoops sharing one stream: the Spark analogue of the
    reference's trigger worker (server/trigger/worker.go:58-100), with
    the shared-scan optimization its per-trigger readers lack.

    Each subscription keeps its OWN retry/DLQ/pending state and its
    own sink — only the source scan is shared. One checkpoint governs
    the source offsets (deliver-at-least-once per subscription, as the
    reference's committed-offset store does per trigger)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.loops: dict[str, DeliveryLoop] = {}

    def register(
        self,
        sub_id: str,
        spec: dict[str, Any] | Subscription,
        sink_fn: SinkFn,
        state_dir: str | None = None,
    ) -> "TriggerWorker":
        """AddSubscription (reference: worker.go RegisterSubscription)."""
        sub = spec if isinstance(spec, Subscription) else Subscription.from_spec(spec)
        self.loops[sub_id] = DeliveryLoop(
            self.spark, sub, sink_fn, sub_id=sub_id, state_dir=state_dir
        )
        return self

    def unregister(self, sub_id: str) -> None:
        self.loops.pop(sub_id, None)

    def process_batch(
        self, batch_df: DataFrame, batch_time, tick_seconds: float = 1.0
    ) -> dict[str, SinkResult]:
        """One shared tick: cache the batch, run every subscription's
        loop over it, release. Results keyed by sub_id.

        The unpersist in the finally block is only safe because each
        DeliveryLoop.process_batch EAGERLY materializes its work pass
        (the transformed batch, as a localCheckpoint) and its sink pass
        before returning, and every returned frame reads those — if
        that eager step is ever removed, results would lazily re-read
        an unpersisted batch and the shared-scan guarantee silently
        degrades to N re-scans."""
        cached = batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            return {
                sub_id: loop.process_batch(cached, batch_time, tick_seconds)
                for sub_id, loop in sorted(self.loops.items())
            }
        finally:
            cached.unpersist()

    def delivered_counts(self) -> dict[str, int]:
        return {sid: lp.delivered_count for sid, lp in sorted(self.loops.items())}

    def run_stream(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        tick_seconds: float = 1.0,
        on_tick: Callable[[dict[str, SinkResult]], None] | None = None,
        **trigger_kwargs,
    ):
        """ONE foreachBatch for all subscriptions — the bus is read
        once per micro-batch no matter how many subscriptions fan out."""

        def on_batch(batch_df: DataFrame, epoch_id: int):
            import datetime as _dt

            results = self.process_batch(
                batch_df, _dt.datetime.now(_dt.timezone.utc), tick_seconds
            )
            for sub_id, res in results.items():
                self.loops[sub_id].record_tick(epoch_id, res.counts)
            if on_tick:
                on_tick(results)

        return (
            stream_df.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**(trigger_kwargs or {"availableNow": True}))
            .start()
        )
