"""Subscription: the reference's "continuous query", compiled to a
Spark plan.

A Subscription = Filters + Transformer + Sink + Config (rate limit,
retry, ordered, offset start) (reference: pkg/subscription.go:31-45,
74-84,102-111,157-161). The reference compiles it once per
subscription ("plan once, evaluate per event",
server/trigger/trigger/trigger.go:106-136); here the compile step
emits ``df.where(<filter Column>).select(<transform>)`` and Catalyst
owns the rest (pushdown, codegen) — the batch plan and the
foreachBatch streaming plan share this code path.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, functions as F

from vanus_spark.filters import compile_filter
from vanus_spark.transformer import Transformer, transform_dataframe

DEFAULT_MAX_RETRY_ATTEMPTS = 32  # reference: pkg/constants.go:32


@dataclass
class Subscription:
    """Parsed subscription spec."""

    filters: list | dict | None = None
    transformer: dict[str, Any] | None = None
    sink: str | None = None
    config: dict[str, Any] = field(default_factory=dict)
    # compiled Columns, keyed by the spec (and schema) they came from
    _plans: dict = field(default_factory=dict, init=False, repr=False, compare=False)

    @classmethod
    def from_spec(cls, spec: dict[str, Any]) -> "Subscription":
        return cls(
            filters=spec.get("filters") or spec.get("filter"),
            transformer=spec.get("transformer"),
            sink=spec.get("sink"),
            config=spec.get("config") or {},
        )

    @property
    def max_retry_attempts(self) -> int:
        return int(self.config.get("max_retry_attempts", DEFAULT_MAX_RETRY_ATTEMPTS))

    @property
    def rate_limit(self) -> float | None:
        """Events/second cap (reference: config.RateLimit,
        server/trigger/trigger/trigger.go:130-132,247)."""
        v = self.config.get("rate_limit")
        return float(v) if v is not None else None

    @property
    def max_uack(self) -> int | None:
        """Max in-flight (sent, unacked) events per tick (reference:
        maxUACK, server/trigger/offset/offset.go:29-63)."""
        v = self.config.get("max_uack")
        return int(v) if v is not None else None

    def batch_cap(self, tick_seconds: float = 1.0) -> int | None:
        """Events allowed into the sender this tick: min of the uack
        window and the rate limit integrated over the tick. None = no
        cap configured.

        Floors at 1 so a sub-1-event/tick rate limit still drains
        slowly (truncating to 0 would re-park everything every tick —
        permanent starvation, unlike the reference's token-bucket
        limiter)."""
        caps = []
        if self.max_uack is not None:
            caps.append(self.max_uack)
        if self.rate_limit is not None:
            caps.append(max(1, int(self.rate_limit * tick_seconds)))
        return min(caps) if caps else None

    @property
    def ordered(self) -> bool:
        return bool(self.config.get("ordered_event", False))

    @property
    def transforms(self) -> bool:
        """The transformer has a define, pipeline or template: something
        for the compiled tier to take."""
        tf = self.transformer or {}
        return bool(tf.get("pipeline") or tf.get("define") or tf.get("template"))

    def _plan(self, key: tuple, build: Callable[[], Any]) -> Any:
        key = tuple(json.dumps(k, sort_keys=True, default=repr) for k in key)
        if key not in self._plans:
            self._plans[key] = build()
        return self._plans[key]

    def filter_column(self) -> Column:
        """The compiled filter, built once per filter spec."""
        return self._plan(("filter", self.filters), lambda: compile_filter(self.filters))

    def compiled_transformer(self, data_schema) -> Callable[[DataFrame], DataFrame] | None:
        """``compile_transformer`` of this transformer under
        ``data_schema``, built once per (transformer, schema); None when
        there is no schema, nothing to compile, or the spec falls back
        to the interpreter."""
        if data_schema is None or not self.transforms:
            return None
        from vanus_spark.plans import CompileFallback, compile_transformer

        def build():
            try:
                return compile_transformer(self.transformer, data_schema)
            except CompileFallback:
                return None  # dynamic transformer -> interpreter

        schema_key = data_schema if isinstance(data_schema, str) else data_schema.json()
        return self._plan(("transformer", self.transformer, schema_key), build)

    def apply(self, envelope_df: DataFrame, data_schema=None) -> DataFrame:
        """Batch path: filter then transform (filter BEFORE transform,
        as the reference pipelines it — trigger.go:316-336 — which is
        also Catalyst's pushdown order).

        When ``data_schema`` is given and the whole transformer —
        define vars, action pipeline, AND output template — is inside
        the static subset, it compiles to a pure Column plan
        (plans/compiler.py compile_transformer) — whole-stage codegen,
        no Python at eval time; otherwise the Arrow-batched
        interpreter runs. Both paths are exact for a payload that
        ``data_schema`` describes (the equivalence is test-gated). The
        compiled plan reads the payload through ``data_schema``, so a
        field the schema does not declare is dropped from its output
        (``{"x": "kept?"}`` under a schema without ``x`` loses ``x``);
        this is why ``DeliveryLoop`` sends every payload that fails
        ``schema_infer.round_trips`` to the interpreter. The filter and
        the compiled plan are built once and reused by later calls."""
        out = envelope_df.where(self.filter_column())
        compiled = self.compiled_transformer(data_schema)
        if compiled is not None:
            return compiled(out)
        return transform_dataframe(out, self.transformer)

    def dry_run(self, envelope_df: DataFrame) -> DataFrame:
        """ValidateSubscription-style dry run: returns filter result
        AND transformed payload for each input event
        (reference: proxy.go:799-858) — the built-in oracle."""
        matched = envelope_df.withColumn(
            "filter_result", F.coalesce(self.filter_column(), F.lit(False))
        )
        tf = Transformer(self.transformer)
        if tf.is_noop:
            return matched.withColumn("transformed", F.col("data"))
        transformed = transform_dataframe(
            matched.where("filter_result").drop("filter_result"), self.transformer
        ).select(F.col("id").alias("t_id"), F.col("data").alias("transformed"))
        return matched.join(transformed, matched.id == transformed.t_id, "left").drop("t_id")
