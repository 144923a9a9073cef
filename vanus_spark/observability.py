"""Metrics export with the reference's Prometheus names.

The reference exposes per-module Prometheus collectors
(pkg/observability/metrics/{trigger,gateway,timer}.go) with the fully
qualified name ``namespace_subsystem_name`` — e.g. the trigger
worker's push counter is ``vanus_trigger_worker_push_event_number``
with labels (trigger, eventbus, retry, result)
(metrics/trigger.go:92-97). The engine keeps the equivalent per-loop
totals (``DeliveryLoop.prom_counters``, accumulated from the same
per-tick observed counters that feed ``metrics_df``); this module maps
them onto the reference's metric NAMES so an operator's dashboards
and alert rules port unchanged:

- vanus_trigger_worker_pull_event_number   {trigger}
- vanus_trigger_worker_push_event_number   {trigger, result="success"}
- vanus_trigger_worker_retry_event_number  {trigger}
- vanus_trigger_worker_dead_letter_event_number {trigger}
- vanus_gateway_event_received_total       {protocol}
  (gateway.go:22-26 — fed by the caller from ingest counts)

Two export surfaces: a queryable DataFrame (metric, labels, value) and
the Prometheus text exposition format. Spark's own executor metrics
remain the engine-internal layer; this is the REFERENCE-compatible
surface on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_NAMESPACE = "vanus"
_TRIGGER_SUBSYSTEM = "trigger_worker"

# prom_counters key -> (reference metric name, fixed extra labels)
_TRIGGER_COUNTERS = {
    "pull_event_number": ("pull_event_number", {}),
    "push_event_number": ("push_event_number", {"result": "success"}),
    "retry_event_number": ("retry_event_number", {}),
    "dead_letter_event_number": ("dead_letter_event_number", {}),
}


def _qualify(subsystem: str, name: str) -> str:
    return f"{_NAMESPACE}_{subsystem}_{name}"


def trigger_counter_rows(loop, trigger: str | None = None) -> list[dict]:
    """Counter rows for one DeliveryLoop, labeled like the reference's
    TriggerWorker collectors (LabelTrigger = the subscription id)."""
    trig = trigger if trigger is not None else loop.sub_id
    rows = []
    for key, (name, extra) in _TRIGGER_COUNTERS.items():
        rows.append(
            {
                "metric": _qualify(_TRIGGER_SUBSYSTEM, name),
                "labels": {"trigger": trig, **extra},
                "value": int(loop.prom_counters[key]),
            }
        )
    return rows


def gateway_counter_rows(
    received: dict[str, int], protocol: str = "http"
) -> list[dict]:
    """vanus_gateway_event_received_total rows from per-bus ingest
    counts (the caller tallies these at publish time — the reference
    increments GatewayEventReceivedCountVec in its CloudEvents
    handler)."""
    return [
        {
            "metric": _qualify("gateway", "event_received_total"),
            "labels": {"eventbus": bus, "protocol": protocol},
            "value": int(n),
        }
        for bus, n in sorted(received.items())
    ]


def metrics_view(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """The queryable export surface: one row per (metric, labels)."""
    flat = [
        (
            r["metric"],
            dict(sorted(r["labels"].items())),
            int(r["value"]),
        )
        for r in rows
    ]
    return spark.createDataFrame(
        flat, "metric string, labels map<string,string>, value long"
    )


def render_exposition(rows: list[dict]) -> str:
    """Prometheus text exposition format (one HELP-less counter line
    per row): ``name{label="v",...} value``. Labels render sorted for
    deterministic output."""
    lines = []
    for r in sorted(rows, key=lambda r: (r["metric"], sorted(r["labels"].items()))):
        labels = ",".join(
            f'{k}="{v}"' for k, v in sorted(r["labels"].items())
        )
        lines.append(f"{r['metric']}{{{labels}}} {r['value']}")
    return "\n".join(lines) + "\n"
