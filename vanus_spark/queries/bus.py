"""Bus, filter and delivery queries: the nine filter dialects, event-log
addressing, offsets, delivery routing and retry, dead letters, sinks,
subscriptions and the vsctl CLI."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from vanus_spark.queries.common import _NORM, _cloudevents, _events, _t


def _filter_query(spec):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from vanus_spark.filters import compile_filter

        ce = _cloudevents(spark, sf_dir)
        return ce.where(compile_filter(spec)).select(
            F.col("id").cast("long").alias("event_id")
        )

    return q


q_filter_any_all = _filter_query(
    {
        "any": [
            {"exact": {"type": "error"}},
            {"all": [{"prefix": {"type": "sign"}}, {"suffix": {"type": "up"}}]},
        ]
    }
)


q_filter_cel_data = _filter_query(
    {"cel": "$props.k.(int64) >= 50 && $value.(double) < 100.0"}
)


q_filter_cesql = _filter_query(
    {"ce_sql": "type = 'error' AND EXISTS partitionkey"}
)


q_filter_cel = _filter_query({"cel": "$user_id.(int64) > 10"})


q_filter_multi_data = _filter_query(
    {
        "all": [
            {"prefix": {"type": "s"}},
            {"exact": {"data.props.k": "12"}},
            {"prefix": {"data.user_id": "1"}},
        ]
    }
)


q_filter_data_jsonpath = _filter_query({"exact": {"data.props.k": "12"}})


q_filter_data_raw_prefix = _filter_query(
    {"prefix": {"data": '{"user_id":1,'}}
)


q_filter_exact = _filter_query({"exact": {"type": "purchase"}})


q_filter_prefix = _filter_query({"prefix": {"type": "sign"}})


q_filter_suffix = _filter_query({"suffix": {"type": "up"}})


q_filter_not_missing = _filter_query({"not": {"exact": {"subject": "x"}}})


q_filter_cesql_like_in = _filter_query(
    {"ce_sql": "type LIKE 's%p' OR type IN ('error', 'view')"}
)


def q_bus_offset_by_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from vanus_spark.bus import assign_addresses, lookup_offset_by_time

    bus = assign_addresses(_events(spark, sf_dir))
    return lookup_offset_by_time(bus, dt.datetime(2024, 1, 15))


def q_bus_get_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vanus_spark.bus import assign_addresses, get_event

    bus = assign_addresses(_events(spark, sf_dir))
    return get_event(bus, eventlog=1, offset=5, number=10).select(
        "eventlog", "offset", "event_id"
    )


def q_bus_event_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch by the 16-byte base64 global event ID
    (reference: proxy.go:860-900)."""
    from vanus_spark.bus import assign_addresses, get_event_by_id
    from vanus_spark.model import encode_event_id

    bus = assign_addresses(_events(spark, sf_dir))
    eid = encode_event_id(2, 7)  # deterministic address
    return get_event_by_id(bus, eid).select("eventlog", "offset", "event_id")


def q_bus_earliest_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vanus_spark.bus import assign_addresses, earliest_latest_offsets

    return earliest_latest_offsets(assign_addresses(_events(spark, sf_dir)))


def q_offset_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vanus_spark.bus import assign_addresses
    from vanus_spark.delivery import committed_offsets_df

    bus = assign_addresses(_events(spark, sf_dir))
    # deterministic ack pattern: offsets not divisible by 7 are acked
    received = bus.select(
        "eventlog", "offset", (F.col("offset") % 7 != 0).alias("acked")
    )
    return committed_offsets_df(received)


def q_delivery_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vanus_spark.delivery import backoff_seconds_col

    return spark.range(1, 33).select(
        F.col("id").cast("int").alias("attempt"),
        backoff_seconds_col(F.col("id")).cast("long").alias("delay_s"),
    )


def q_delivery_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vanus_spark.delivery import no_retry_reason_col, should_retry_col

    ev = _events(spark, sf_dir)
    # deterministic synthetic status per event
    status = F.element_at(
        F.array(
            F.lit(200), F.lit(404), F.lit(429), F.lit(500), F.lit(503), F.lit(1), F.lit(-1)
        ),
        (F.col("event_id") % 7 + 1).cast("int"),
    )
    return ev.select(
        "event_id",
        status.alias("status"),
        should_retry_col(status).alias("should_retry"),
        no_retry_reason_col(status).alias("no_retry_reason"),
    )


def q_delayed_due_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from vanus_spark.delivery import split_due_events

    ev = _events(spark, sf_dir).withColumn("due_ts", F.col("ts"))
    due, _ = split_due_events(ev, dt.datetime(2024, 1, 10))
    return due.select("event_id")


def q_subscription_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A complete subscription — CESQL filter + static pipeline +
    compiled JSON template — running 100%% JVM-side: the fast-path
    composition of the whole reference data plane."""
    from vanus_spark.filters import compile_filter
    from vanus_spark.plans import compile_pipeline
    from vanus_spark.templates import compile_json_template

    ce = _cloudevents(spark, sf_dir)
    schema = "user_id long, value double, props struct<k: int>"
    filtered = ce.where(
        compile_filter({"ce_sql": "type IN ('purchase', 'signup') AND EXISTS partitionkey"})
    )
    transformed = compile_pipeline(
        [
            ["MATH_MUL", "$.data.value", "$.data.value", 100],
            ["CONDITION_IF", "$.data.tier", "$.data.value", ">=", 10000, "gold", "basic"],
        ],
        schema,
    )(filtered)
    rendered = transformed.withColumn(
        "data",
        compile_json_template(
            '{"uid":<$.data.user_id>,"cents":<$.data.value>,"tier":"<$.data.tier>","t":"<type>"}',
            "user_id long, value double, tier string",
        ),
    )
    return rendered.select(
        F.col("id").cast("long").alias("event_id"), F.col("data").alias("payload")
    )


def q_fanout_multi_sub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-subscription fan-out: ONE bus scan feeding three
    subscription plans with different filter dialects, union tagged by
    sub_id (reference: server/trigger/worker.go:58,78 triggerMap — the
    reference reads the bus once PER trigger; the shared-scan form
    reads it once total, the N× scan saving at 100 TB)."""
    from vanus_spark.streaming.fanout import fanout_apply

    ce = _cloudevents(spark, sf_dir)
    out = fanout_apply(
        ce,
        {
            "purchases": {"filters": [{"exact": {"type": "purchase"}}]},
            "clicks": {"filters": [{"prefix": {"type": "cl"}}]},
            "big_spenders": {
                "filters": [{"ce_sql": "type = 'purchase' OR type = 'signup'"}]
            },
        },
    )
    return out.select(
        F.col("sub_id"), F.col("id").cast("long").alias("event_id")
    )


def q_http_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live HTTP CloudEvents gateway roundtrip (reference:
    server/gateway/proxy/proxy.go:166-231 Publish): the first 200
    events are POSTed in binary content mode to an embedded receiver,
    spooled with ingest-assigned (eventlog, offset) addresses
    (round-robin over 4 logs, client/pkg/policy/policy.go:25-57), and
    read back through the envelope schema. The bounded collect() here
    is the HTTP *client* half of the harness (an external producer),
    not a data-plane operator — the engine-side path is
    file-source -> envelope schema, fully distributed."""
    import json as _json
    import tempfile
    import urllib.request

    from vanus_spark.sources.http_ingest import CloudEventsReceiver

    rows = _events(spark, sf_dir).orderBy("event_id").limit(200).collect()
    spool = tempfile.mkdtemp(prefix="vs_http_ingest_")
    with CloudEventsReceiver(spool, n_logs=4) as r:
        url = f"{r.url}/gateway/v1/eventbus/driverbus/events"
        for e in rows:
            req = urllib.request.Request(
                url,
                data=_json.dumps({"user_id": e["user_id"]}).encode(),
                headers={
                    "ce-id": str(e["event_id"]),
                    "ce-source": "/driver",
                    "ce-specversion": "1.0",
                    "ce-type": e["event_type"],
                    "Content-Type": "application/json",
                },
                method="POST",
            )
            with urllib.request.urlopen(req, timeout=5) as resp:
                assert resp.status == 200
        r.flush()
    ingested = spark.read.schema(
        "id STRING, source STRING, specversion STRING, type STRING, "
        "time TIMESTAMP, datacontenttype STRING, dataschema STRING, "
        "subject STRING, attributes MAP<STRING,STRING>, data STRING, "
        "eventlog LONG, offset LONG"
    ).json(spool + "/driverbus")
    return ingested.select(
        F.col("id").cast("long").alias("event_id"),
        F.col("type"),
        "eventlog",
        "offset",
    )


def q_dlq_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeliveryLoop batch-replay: purchase events whose
    user_id % 5 == 0 get a 404 sink -> DLQ with Response404; the rest
    deliver. Returns the dead-letter set."""
    import datetime as dt

    from vanus_spark.streaming.runner import DeliveryLoop
    from vanus_spark.subscription import Subscription

    sub = Subscription.from_spec({"filters": [{"exact": {"type": "purchase"}}]})

    def sink(rows):
        return [404 if int(r["attributes"]["partitionkey"]) % 5 == 0 else 200 for r in rows]

    loop = DeliveryLoop(spark, sub, sink, "sub-oracle")
    loop.process_batch(_cloudevents(spark, sf_dir), dt.datetime(2024, 6, 1, 12, 0, 0))
    return loop.dead.select(
        F.col("id").cast("long").alias("event_id"),
        F.col("attributes").getItem("xvanusdlreason").alias("dl_reason"),
    )


def q_dlq_resend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ResendDeadLetterEvent strips DLQ attrs (deadletter.go:156-263)."""
    import datetime as dt

    from vanus_spark.delivery import resend_dead_letter
    from vanus_spark.streaming.runner import DeliveryLoop
    from vanus_spark.subscription import Subscription

    sub = Subscription.from_spec({"filters": [{"exact": {"type": "error"}}]})
    loop = DeliveryLoop(spark, sub, lambda rows: [404] * len(rows), "sub-oracle")
    loop.process_batch(_cloudevents(spark, sf_dir), dt.datetime(2024, 6, 1, 12, 0, 0))
    resent = resend_dead_letter(loop.dead)
    return resent.select(
        F.col("id").cast("long").alias("event_id"),
        F.array_join(F.array_sort(F.map_keys("attributes")), ",").alias("attr_keys"),
    )


def q_cesql_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CESQL built-in function surface: LENGTH/CONCAT/UPPER/SUBSTRING/
    LEFT/RIGHT/ABS in one projection query."""
    from vanus_spark.cesql import cesql_expr_column
    from vanus_spark.filters import compile_filter

    ce = _cloudevents(spark, sf_dir)
    return ce.where(
        compile_filter({"ce_sql": "LENGTH(type) >= 5 AND UPPER(LEFT(type, 2)) != 'ER'"})
    ).select(
        F.col("id").cast("long").alias("event_id"),
        cesql_expr_column("CONCAT(type, ':', RIGHT(type, 2))").alias("concat_r"),
        cesql_expr_column("SUBSTRING(type, 2, 3)").alias("substr_r"),
        cesql_expr_column("ABS(0 - LENGTH(type))").cast("long").alias("abs_len"),
    )


def q_publish_roundrobin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publish write policy: round-robin eventlog assignment
    (reference: client/pkg/policy/policy.go:25-57)."""
    from vanus_spark.bus import publish_round_robin

    return publish_round_robin(_events(spark, sf_dir)).select("event_id", "eventlog")


def q_retry_refilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retry-bus re-filter: redelivered events must match sub id and
    re-pass the filter (reference: trigger.go:256-302)."""
    from vanus_spark.delivery import refilter_retry_events
    from vanus_spark.filters import compile_filter

    ce = _cloudevents(spark, sf_dir)
    # synthesize a retry bus: alternate events belong to sub-a / sub-b
    retry_bus = ce.withColumn(
        "attributes",
        F.map_concat(
            "attributes",
            F.create_map(
                F.lit("xvanussubid"),
                F.when(F.col("id").cast("long") % 2 == 0, "sub-a").otherwise("sub-b"),
            ),
        ),
    )
    out = refilter_retry_events(
        retry_bus, "sub-a", compile_filter({"exact": {"type": "purchase"}})
    )
    return out.select(F.col("id").cast("long").alias("event_id"))


def q_debezium_mongo_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium CDC -> MongoDB sink command adapter
    (reference: convert_to_mongodb_sink.go:33-113). Op derives from
    event_id: r/c -> insert, u -> update (unique key stripped),
    d -> delete."""
    from vanus_spark.transformer import transform_dataframe

    ce = _cloudevents(spark, sf_dir)
    op = F.element_at(
        F.array(F.lit("r"), F.lit("c"), F.lit("u"), F.lit("d")),
        (F.col("id").cast("long") % 4 + 1).cast("int"),
    )
    with_op = ce.withColumn(
        "attributes", F.map_concat("attributes", F.create_map(F.lit("iodebeziumop"), op))
    )
    spec = {"pipeline": [["DEBEZIUM_CONVERT_TO_MONGODB_SINK", "user_id", "$.data.user_id"]]}
    out = transform_dataframe(with_op, spec)
    return out.where(~F.col("transform_error")).select(
        F.col("id").cast("long").alias("event_id"),
        F.col("attributes").getItem("iodebeziumop").alias("op"),
        F.get_json_object("data", "$.inserts[0].user_id").cast("long").alias("ins_uid"),
        F.get_json_object("data", "$.updates[0].filter.user_id").cast("long").alias("upd_uid"),
        F.get_json_object("data", "$.updates[0].update.$set.value").cast("double").alias("upd_value"),
        F.get_json_object("data", "$.deletes[0].filter.user_id").cast("long").alias("del_uid"),
    )


def q_ordered_delivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-mode delivery disposition (reference:
    trigger.go:427-434): a failed send never retries — straight to
    DLQ with reason OrderEvent even when the status itself (503)
    would be retriable in unordered mode. Routes through the real
    route_failed_events; the retry branch must contribute ZERO rows
    for the row count to match the oracle."""
    import datetime as dt

    from vanus_spark.delivery import ORDER_EVENT_CODE, route_failed_events
    from vanus_spark.model import ATTR_DL_REASON

    ce = _cloudevents(spark, sf_dir)
    status = F.when(F.col("type") == "error", F.lit(503)).otherwise(F.lit(200))
    sent = ce.withColumn("status", status).withColumn(
        "error", F.when(F.col("status") != 200, F.lit("connection refused"))
    )
    ok = sent.where(F.col("status") == 200)
    failed = sent.where(F.col("status") != 200).withColumn(
        "status", F.lit(ORDER_EVENT_CODE)
    )
    retry, dead = route_failed_events(failed, "sub-ordered", dt.datetime(2024, 2, 1))
    eid = F.col("id").cast("long").alias("event_id")
    return (
        ok.select(eid, F.lit("delivered").alias("outcome"),
                  F.lit(None).cast("string").alias("reason"))
        .unionByName(dead.select(
            eid, F.lit("dead").alias("outcome"),
            F.col("attributes").getItem(ATTR_DL_REASON).alias("reason")))
        .unionByName(retry.select(
            eid, F.lit("retry").alias("outcome"),
            F.lit(None).cast("string").alias("reason")))
    )


def q_filter_cel_data_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEL over a SCHEMA-FREE heterogeneous payload (fields appear and
    vanish row-to-row, one is array-indexed): the schema is SAMPLE-
    INFERRED (schema_infer.infer_data_schema — the spark.read.json
    inference pass over a bounded sample), then the whole 3-variable
    predicate binds ONE from_json over it (test_filters pins the
    single-parse plan shape: from_json x1, get_json_object x0). The
    oracle re-states the predicate from the payload's generating
    residues, so inference + resolution + coercion are all checked
    end-to-end. Exercises every leaf class: long (clicks), string via
    array index (tags[0]), fractional-declared-double (score)."""
    from vanus_spark.filters import compile_filter
    from vanus_spark.schema_infer import infer_data_schema

    ev = _t(spark, sf_dir, "events")
    payload = F.to_json(
        F.struct(
            F.col("user_id"),
            F.when(
                F.col("event_id") % 3 != 0,
                F.struct(
                    (F.col("event_id") % 7).alias("clicks"),
                    F.col("value").alias("score"),
                ),
            ).alias("metrics"),
            F.when(
                F.col("event_id") % 2 == 0,
                F.array(F.col("event_type"), F.lit("x")),
            ).alias("tags"),
        )
    )
    df = ev.select("event_id", payload.alias("data"))
    schema = infer_data_schema(df, "data")
    spec = {
        "cel": '$metrics.clicks.(int64) >= 3 && $tags[0].(string) == "view"'
        " && $metrics.score.(double) < 150.0"
    }
    return df.where(compile_filter(spec, data_schema=schema)).select("event_id")


def q_sink_payload_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FaaS/gRPC sink SERIALIZATION path under the oracle: every
    envelope row renders through the real
    ``sinks.event_row_to_cloudevent_json`` (the Lambda / gcloud /
    grpc payload builder — reference lambda.go:33-80,
    gcloud_functions.go:36-88) on EXECUTORS via mapInPandas, then the
    payload parses back to typed fields. The oracle re-derives each
    field from the raw events table, so id/type/time-RFC3339/
    extension-attribute flattening/data-embedding all hash-check;
    transport delivery itself stays pytest-gated (no HTTP in the
    image)."""
    ce = _cloudevents(spark, sf_dir)

    def render(batches):
        import pandas as pd

        from vanus_spark.sinks import event_row_to_cloudevent_json

        for pdf in batches:
            rows = pdf.to_dict("records")
            yield pd.DataFrame(
                {
                    "payload": [
                        event_row_to_cloudevent_json(r) for r in rows
                    ]
                }
            )

    payloads = ce.mapInPandas(render, "payload string")
    j = F.from_json(
        F.col("payload"),
        "specversion string, id string, source string, type string, "
        "datacontenttype string, time string, partitionkey string, "
        "data struct<user_id: long, value: double, props: struct<k: int>>",
    )
    return payloads.select(j.alias("j")).select(
        F.col("j.id").cast("long").alias("event_id"),
        F.col("j.specversion").alias("specversion"),
        F.col("j.source").alias("source"),
        F.col("j.type").alias("event_type"),
        F.col("j.datacontenttype").alias("datacontenttype"),
        F.col("j.time").alias("time_rfc3339"),
        F.col("j.partitionkey").alias("partitionkey"),
        F.col("j.data.user_id").alias("user_id"),
        F.col("j.data.value").alias("value"),
        F.col("j.data.props.k").alias("prop_k"),
    )


def q_vsctl_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vsctl CLI end-to-end under the oracle: drive the REAL
    argv entrypoint (`tools/vsctl.py get`), capture its stdout JSON
    lines, and re-materialize them as a DataFrame — so the CLI's
    argument parsing, bus loading, address assignment, and output
    serialization are all hash-checked against the same SQL that
    gates bus_get_event (reference: tool/vsctl/command/event.go)."""
    rows = _run_vsctl(
        "get",
        "--bus", f"{sf_dir}/events.parquet",
        "--eventlog", "1", "--offset", "5", "--number", "20",
    )
    return spark.createDataFrame(
        [
            (int(r["eventlog"]), int(r["offset"]), int(r["event_id"]))
            for r in rows
        ],
        "eventlog long, offset long, event_id long",
    )


def q_ingest_metrics_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-growth observability: the documents corpus replayed as
    FOUR micro-batches (doc_id % 4) through the exact-digest ingest
    tier (lsh=False — cross-batch check probes the stored digest
    table), then the per-batch metrics roll up into tumbling windows
    of 2 batches with acceptance rates. The oracle re-derives every
    batch's accepted count from one rank-per-digest window."""
    from vanus_spark.streaming.dedup_ingest import DedupIngestLoop, windowed_metrics

    docs = _t(spark, sf_dir, "documents")
    loop = DedupIngestLoop(spark, lsh=False)
    for k in range(4):
        loop.process_batch(docs.where(F.col("doc_id") % 4 == k))
    return windowed_metrics(loop.metrics_df(), every=2)


def q_authz_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch RBAC authorization (authz.authorize_requests — the
    faithful port of the reference's pkg/authorization, including the
    eventbus/subscription role-alias quirk): 10k audit-log requests
    derived from events, role bindings derived from nation, resource
    ownership by expression; decisions via three broadcast joins
    (clusterAdmin, direct grant, namespace escalation). The oracle
    restates the role->action table as a VALUES literal and re-derives
    every decision in SQL."""
    from vanus_spark.authz import authorize_requests

    ev = _t(spark, sf_dir, "events")
    kind = F.element_at(
        F.array(F.lit("eventbus"), F.lit("subscription"), F.lit("namespace")),
        (F.col("event_id") % 3 + 1).cast("int"),
    )
    eb_act = F.element_at(
        F.array(*[F.lit(a) for a in (
            "eventbus:read", "eventbus:write", "eventbus:get",
            "eventbus:delete")]),
        (F.col("event_id") % 4 + 1).cast("int"),
    )
    sub_act = F.element_at(
        F.array(*[F.lit(a) for a in (
            "subscription:get", "subscription:update",
            "subscription:delete", "subscription:create")]),
        (F.col("event_id") % 4 + 1).cast("int"),
    )
    ns_act = F.element_at(
        F.array(*[F.lit(a) for a in (
            "namespace:get", "namespace:grant", "namespace:revoke")]),
        (F.col("user_id") % 3 + 1).cast("int"),
    )
    requests = ev.select(
        F.col("event_id").alias("req_id"),
        F.concat(F.lit("u"), F.col("user_id") % 8).alias("user"),
        kind.alias("resource_kind"),
        (F.col("user_id") % 6 + 1).alias("resource_id"),
        F.when(kind == "eventbus", eb_act)
        .when(kind == "subscription", sub_act)
        .otherwise(ns_act)
        .alias("action"),
    )
    nat = _t(spark, sf_dir, "nation")
    rkind = F.element_at(
        F.array(*[F.lit(k) for k in (
            "namespace", "eventbus", "subscription", "namespace", "cluster")]),
        (F.col("n_regionkey") + 1).cast("int"),
    )
    roles = nat.select(
        F.concat(F.lit("u"), F.col("n_nationkey") % 8).alias("user"),
        F.when(rkind == "cluster", F.lit("clusterAdmin"))
        .otherwise(
            F.element_at(
                F.array(*[F.lit(r) for r in ("admin", "edit", "view", "read")]),
                (F.col("n_nationkey") % 4 + 1).cast("int"),
            )
        )
        .alias("role"),
        rkind.alias("resource_kind"),
        F.when(rkind == "cluster", F.lit(0))
        .otherwise(F.col("n_nationkey") % 6 + 1)
        .cast("long")
        .alias("resource_id"),
    )
    ids = spark.range(1, 7)
    resources = (
        ids.select(
            F.lit("eventbus").alias("resource_kind"),
            F.col("id").alias("resource_id"),
            (F.col("id") % 3 + 1).alias("namespace_id"),
        )
        .unionByName(
            ids.select(
                F.lit("subscription").alias("resource_kind"),
                F.col("id").alias("resource_id"),
                (F.col("id") % 3 + 1).alias("namespace_id"),
            )
        )
    )
    return authorize_requests(requests, roles, resources)


def _run_vsctl(*argv: str) -> list[dict]:
    """Drive the REAL tools/vsctl.py argv entrypoint in-process and
    return its stdout parsed as JSON lines (the CLI-gate pattern
    established by q_vsctl_get)."""
    import contextlib
    import io
    import json as _json
    import os as _os
    import sys as _sys

    # tools/ sits at the checkout root, three levels above this module
    root = _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))
    tools_dir = _os.path.join(root, "tools")
    if tools_dir not in _sys.path:
        _sys.path.insert(0, tools_dir)
    import vsctl

    old, buf = _sys.argv, io.StringIO()
    _sys.argv = ["vsctl", *argv]
    try:
        with contextlib.redirect_stdout(buf):
            vsctl.main()
    finally:
        _sys.argv = old
    return [_json.loads(ln) for ln in buf.getvalue().splitlines() if ln.strip()]


def q_subscription_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subscription lifecycle end-to-end through the vsctl CLI
    (reference: tool/vsctl/command/subscription.go:287-581,
    server/controller/trigger/controller.go:145-171,224-361):
    create -> disable -> reset-offset-to-timestamp -> update (only
    legal while stopped) -> resume -> info, plus the wrong-phase guard
    (a second resume must raise ResourceCanNotOp). The reset offsets
    come from the real bus.lookup_offset_by_time over the events
    parquet, so the oracle re-derives them per eventlog in SQL;
    phases/sink/guard are the deterministic lifecycle outcomes."""
    import tempfile

    from vanus_spark.catalog import ResourceCanNotOpError

    cat = tempfile.mkdtemp(prefix="lifecycle_") + "/catalog.json"
    _run_vsctl("namespace", "create", "--catalog", cat, "--name", "default")
    _run_vsctl(
        "eventbus", "create", "--catalog", cat,
        "--namespace", "default", "--name", "demo",
    )
    sub = _run_vsctl(
        "subscription", "create", "--catalog", cat,
        "--namespace", "default", "--eventbus", "demo",
        "--spec", '{"filters": [{"exact": {"type": "error"}}]}',
    )[0]
    sid = str(sub["id"])
    disabled = _run_vsctl("subscription", "disable", "--catalog", cat, "--id", sid)[0]
    reset = _run_vsctl(
        "subscription", "reset-offset", "--catalog", cat, "--id", sid,
        "--bus", f"{sf_dir}/events.parquet", "--time", "2024-01-15T00:00:00",
    )[0]
    _run_vsctl(
        "subscription", "update", "--catalog", cat, "--id", sid,
        "--spec", '{"sink": "http://example/hook"}',
    )
    resumed = _run_vsctl("subscription", "resume", "--catalog", cat, "--id", sid)[0]
    info = _run_vsctl("subscription", "info", "--catalog", cat, "--id", sid)[0]
    try:
        _run_vsctl("subscription", "resume", "--catalog", cat, "--id", sid)
        guard = "missing"
    except ResourceCanNotOpError:
        guard = "resource_can_not_op"
    rows = [
        (
            int(log), int(off), sub["phase"], disabled["phase"],
            resumed["phase"], info["spec"]["sink"], guard,
        )
        for log, off in info["offsets"].items()
    ]
    assert info["offsets"] == reset["offsets"] or all(
        str(k) in info["offsets"] for k in reset["offsets"]
    )
    return spark.createDataFrame(
        rows,
        "eventlog long, reset_offset long, phase_created string, "
        "phase_disabled string, phase_resumed string, sink string, "
        "wrong_phase_guard string",
    )


def q_dlq_resend_cli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`vsctl dead-letter resend` end-to-end (reference:
    tool/vsctl/command/deadletter.go:101-127 + proxy's
    ResendDeadLetterEvent, deadletter.go:156-263): the DLQ is built by
    the REAL DeliveryLoop (every matching event 404s into the dead
    letter log), persisted as the subscription's DLQ parquet with
    deterministic positions, then the CLI resends the range
    [start=2, end) and its stdout — DLQ attrs stripped — is what gets
    hash-checked."""
    import datetime as dt
    import tempfile

    from vanus_spark.bus import distributed_row_number
    from vanus_spark.streaming.runner import DeliveryLoop
    from vanus_spark.subscription import Subscription

    sub = Subscription.from_spec({"filters": [{"exact": {"type": "error"}}]})
    loop = DeliveryLoop(spark, sub, lambda rows: [404] * len(rows), "sub-oracle")
    loop.process_batch(_cloudevents(spark, sf_dir), dt.datetime(2024, 6, 1, 12, 0, 0))
    dlq_path = tempfile.mkdtemp(prefix="dlq_") + "/dlq.parquet"
    dead = loop.dead.withColumn("_idl", F.col("id").cast("long"))
    distributed_row_number(dead, [], ["_idl"], "dlq_offset").drop("_idl").write.parquet(
        dlq_path
    )
    rows = _run_vsctl("dead-letter", "resend", "--dlq", dlq_path, "--start", "2")
    return spark.createDataFrame(
        [(int(r["id"]), r["attr_keys"]) for r in rows],
        "event_id long, attr_keys string",
    )


def _authz_ra_values() -> str:
    """The reference's built-in role->action table restated as a SQL
    VALUES literal (independent of vanus_spark.authz — re-derived from
    the reference's pkg/authorization/role.go:90-110, with the
    eventbus/subscription alias collapse applied)."""
    table = {
        ("namespace", "admin"): [
            "namespace:get", "namespace:grant", "namespace:revoke",
            "eventbus:create", "eventbus:delete", "eventbus:grant",
            "eventbus:revoke", "eventbus:update", "eventbus:get",
            "eventbus:read", "eventbus:write",
            "subscription:create", "subscription:delete",
            "subscription:grant", "subscription:revoke",
            "subscription:update", "subscription:get",
        ],
        ("namespace", "edit"): [
            "namespace:get",
            "eventbus:create", "eventbus:delete", "eventbus:grant",
            "eventbus:revoke", "eventbus:update", "eventbus:get",
            "eventbus:read", "eventbus:write",
            "subscription:create", "subscription:delete",
            "subscription:grant", "subscription:revoke",
            "subscription:update", "subscription:get",
        ],
        ("namespace", "view"): [
            "namespace:get", "eventbus:get", "subscription:get",
        ],
        ("eventbus", "admin"): [
            "eventbus:create", "eventbus:grant", "eventbus:revoke",
            "eventbus:update", "eventbus:get", "eventbus:read",
            "eventbus:write",
        ],
        ("subscription", "admin"): [
            "subscription:create", "subscription:grant",
            "subscription:revoke", "subscription:update",
            "subscription:get",
        ],
    }
    return ",\n              ".join(
        f"('{k}', '{r}', '{a}')"
        for (k, r), acts in table.items()
        for a in acts
    )


def oracle_sql() -> dict[str, str]:
    """DuckDB twins of this family's queries, keyed by query name."""
    norm_text = _NORM.format(c="text")
    return {
        # Lifecycle: the reset offsets re-derived per eventlog (the same
        # LookupOffset skeleton as bus_offset_by_time); the phase
        # progression, updated sink, and wrong-phase guard are the
        # deterministic controller outcomes (controller.go:145-361).
        "subscription_lifecycle": """
            WITH bus AS (
              SELECT *, user_id % 4 AS eventlog,
                     row_number() OVER (PARTITION BY user_id % 4
                                        ORDER BY ts, event_id) - 1 AS "offset"
              FROM events)
            SELECT eventlog,
                   coalesce(min(CASE WHEN ts >= TIMESTAMP '2024-01-15' THEN "offset" END),
                            max("offset") + 1) AS reset_offset,
                   'created' AS phase_created,
                   'stopped' AS phase_disabled,
                   'created' AS phase_resumed,
                   'http://example/hook' AS sink,
                   'resource_can_not_op' AS wrong_phase_guard
            FROM bus GROUP BY eventlog
        """,
        # DLQ positions = rank among dead (type='error') events by id;
        # resend [2, inf) strips the x-vanus DLQ attributes.
        "dlq_resend_cli": """
            WITH dead AS (
              SELECT event_id,
                     row_number() OVER (ORDER BY event_id) - 1 AS dlq_offset
              FROM events WHERE event_type = 'error')
            SELECT event_id, 'partitionkey,xvanussubid' AS attr_keys
            FROM dead WHERE dlq_offset >= 2
        """,
        "filter_exact": "SELECT event_id FROM events WHERE event_type = 'purchase'",
        "filter_prefix": "SELECT event_id FROM events WHERE event_type LIKE 'sign%'",
        "filter_suffix": "SELECT event_id FROM events WHERE event_type LIKE '%up'",
        "filter_data_jsonpath": (
            "SELECT event_id FROM events WHERE json_extract_string(props, '$.k') = '12'"
        ),
        "filter_not_missing": "SELECT event_id FROM events",
        "filter_data_raw_prefix": "SELECT event_id FROM events WHERE user_id = 1",
        "filter_any_all": (
            "SELECT event_id FROM events WHERE event_type = 'error' "
            "OR (event_type LIKE 'sign%' AND event_type LIKE '%up')"
        ),
        "filter_cesql": "SELECT event_id FROM events WHERE event_type = 'error'",
        "filter_cesql_like_in": (
            "SELECT event_id FROM events WHERE event_type LIKE 's%p' "
            "OR event_type IN ('error', 'view')"
        ),
        "filter_cel": "SELECT event_id FROM events WHERE user_id > 10",
        "filter_cel_data": (
            "SELECT event_id FROM events WHERE "
            "json_extract_string(props, '$.k')::BIGINT >= 50 AND value < 100.0"
        ),
        # the dynamic-schema query's payload is SYNTHESIZED from events
        # columns by known residues — the oracle states the predicate
        # straight from those residues, checking inference + binding +
        # coercion end-to-end without re-implementing them
        "filter_cel_data_dynamic": """
            SELECT event_id FROM events
            WHERE event_id % 3 != 0 AND event_id % 7 >= 3
              AND event_id % 2 = 0 AND event_type = 'view'
              AND value < 150.0
        """,
        "filter_multi_data": (
            "SELECT event_id FROM events WHERE event_type LIKE 's%' "
            "AND json_extract_string(props, '$.k') = '12' "
            "AND starts_with(user_id::VARCHAR, '1')"
        ),
        "bus_offset_by_time": """
            WITH bus AS (
              SELECT *, user_id % 4 AS eventlog,
                     row_number() OVER (PARTITION BY user_id % 4
                                        ORDER BY ts, event_id) - 1 AS "offset"
              FROM events)
            SELECT eventlog,
                   coalesce(min(CASE WHEN ts >= TIMESTAMP '2024-01-15' THEN "offset" END),
                            max("offset") + 1) AS "offset"
            FROM bus GROUP BY eventlog
        """,
        "bus_get_event": """
            WITH bus AS (
              SELECT *, user_id % 4 AS eventlog,
                     row_number() OVER (PARTITION BY user_id % 4
                                        ORDER BY ts, event_id) - 1 AS "offset"
              FROM events)
            SELECT eventlog, "offset", event_id FROM bus
            WHERE eventlog = 1 AND "offset" >= 5 ORDER BY "offset" LIMIT 10
        """,
        "bus_event_by_id": """
            WITH bus AS (
              SELECT *, user_id % 4 AS eventlog,
                     row_number() OVER (PARTITION BY user_id % 4
                                        ORDER BY ts, event_id) - 1 AS "offset"
              FROM events)
            SELECT eventlog, "offset", event_id FROM bus
            WHERE eventlog = 2 AND "offset" = 7
        """,
        "bus_earliest_latest": """
            WITH bus AS (
              SELECT *, user_id % 4 AS eventlog,
                     row_number() OVER (PARTITION BY user_id % 4
                                        ORDER BY ts, event_id) - 1 AS "offset"
              FROM events)
            SELECT eventlog, min("offset") AS earliest, max("offset") AS latest,
                   count(*) AS length
            FROM bus GROUP BY eventlog
        """,
        "offset_commit": """
            WITH bus AS (
              SELECT *, user_id % 4 AS eventlog,
                     row_number() OVER (PARTITION BY user_id % 4
                                        ORDER BY ts, event_id) - 1 AS "offset"
              FROM events)
            SELECT eventlog,
                   coalesce(min(CASE WHEN "offset" % 7 = 0 THEN "offset" END),
                            max("offset") + 1) AS committed_offset
            FROM bus GROUP BY eventlog
        """,
        "delivery_backoff": """
            SELECT attempt::INTEGER AS attempt,
                   (CASE WHEN attempt >= 10 THEN 3600
                         WHEN attempt >= 4 THEN (30 * 2**(attempt-4))::BIGINT
                         WHEN attempt >= 2 THEN 5 * (attempt - 1)
                         ELSE 1 END)::BIGINT AS delay_s
            FROM generate_series(1, 32) t(attempt)
        """,
        "delivery_routing": """
            WITH s AS (
              SELECT event_id,
                     ([200, 404, 429, 500, 503, 1, -1])[(event_id % 7 + 1)::INTEGER]
                       AS status
              FROM events)
            SELECT event_id, status,
                   CASE WHEN status = 1 THEN false
                        WHEN status = -1 THEN false
                        WHEN status >= 400 AND status < 500 THEN status = 429
                        ELSE true END AS should_retry,
                   CASE WHEN status = 1 THEN 'TransformError'
                        WHEN status = -1 THEN 'OrderEvent'
                        WHEN status >= 400 AND status < 500 AND status != 429
                          THEN 'Response' || status::VARCHAR
                        ELSE NULL END AS no_retry_reason
            FROM s
        """,
        "delayed_due_split": (
            "SELECT event_id FROM events WHERE ts <= TIMESTAMP '2024-01-10'"
        ),
        "authz_decisions": f"""
            WITH ra(resource_kind, role, action) AS (VALUES
              {_authz_ra_values()}),
            req AS (
              SELECT event_id AS req_id,
                     'u' || (user_id % 8) AS "user",
                     CASE event_id % 3 WHEN 0 THEN 'eventbus'
                                       WHEN 1 THEN 'subscription'
                                       ELSE 'namespace' END AS resource_kind,
                     user_id % 6 + 1 AS resource_id,
                     CASE WHEN event_id % 3 = 0 THEN
                            CASE event_id % 4 WHEN 0 THEN 'eventbus:read'
                                              WHEN 1 THEN 'eventbus:write'
                                              WHEN 2 THEN 'eventbus:get'
                                              ELSE 'eventbus:delete' END
                          WHEN event_id % 3 = 1 THEN
                            CASE event_id % 4 WHEN 0 THEN 'subscription:get'
                                              WHEN 1 THEN 'subscription:update'
                                              WHEN 2 THEN 'subscription:delete'
                                              ELSE 'subscription:create' END
                          ELSE
                            CASE user_id % 3 WHEN 0 THEN 'namespace:get'
                                             WHEN 1 THEN 'namespace:grant'
                                             ELSE 'namespace:revoke' END
                     END AS action
              FROM events),
            rol AS (
              SELECT 'u' || (n_nationkey % 8) AS "user",
                     CASE WHEN n_regionkey = 4 THEN 'clusterAdmin'
                          ELSE CASE n_nationkey % 4 WHEN 0 THEN 'admin'
                                                    WHEN 1 THEN 'edit'
                                                    WHEN 2 THEN 'view'
                                                    ELSE 'read' END
                     END AS role,
                     CASE n_regionkey WHEN 0 THEN 'namespace'
                                      WHEN 1 THEN 'eventbus'
                                      WHEN 2 THEN 'subscription'
                                      WHEN 3 THEN 'namespace'
                                      ELSE 'cluster' END AS resource_kind,
                     CASE WHEN n_regionkey = 4 THEN 0
                          ELSE n_nationkey % 6 + 1 END::BIGINT AS resource_id
              FROM nation),
            res AS (
              SELECT 'eventbus' AS resource_kind, i AS resource_id,
                     i % 3 + 1 AS namespace_id
              FROM range(1, 7) t(i)
              UNION ALL
              SELECT 'subscription', i, i % 3 + 1 FROM range(1, 7) t(i)),
            grants AS (
              SELECT r."user" AS g_user, r.resource_id AS g_rid, ra.action
              FROM rol r JOIN ra USING (resource_kind, role)),
            ok AS (
              SELECT req_id FROM req
              WHERE "user" IN (SELECT "user" FROM rol
                               WHERE role = 'clusterAdmin')
              UNION
              SELECT req_id FROM req JOIN grants g
                ON req."user" = g.g_user AND req.resource_id = g.g_rid
                   AND req.action = g.action
              UNION
              SELECT req_id FROM req
                JOIN res USING (resource_kind, resource_id)
                JOIN grants g ON req."user" = g.g_user
                             AND res.namespace_id = g.g_rid
                             AND req.action = g.action
              WHERE req.resource_kind IN ('eventbus', 'subscription'))
            SELECT req.req_id, req."user", req.resource_kind,
                   req.resource_id, req.action,
                   (req.req_id IN (SELECT req_id FROM ok)) AS allowed
            FROM req
        """,
        "publish_roundrobin": """
            SELECT event_id,
                   (row_number() OVER (ORDER BY event_id) - 1) % 4 AS eventlog
            FROM events
        """,
        "retry_refilter": """
            SELECT event_id FROM events
            WHERE event_id % 2 = 0 AND event_type = 'purchase'
        """,
        "debezium_mongo_sink": """
            WITH s AS (
              SELECT *, (['r','c','u','d'])[(event_id % 4 + 1)::INTEGER] AS op
              FROM events)
            SELECT event_id, op,
                   CASE WHEN op IN ('r','c') THEN user_id END AS ins_uid,
                   CASE WHEN op = 'u' THEN user_id END AS upd_uid,
                   CASE WHEN op = 'u' THEN value END AS upd_value,
                   CASE WHEN op = 'd' THEN user_id END AS del_uid
            FROM s
        """,
        "dlq_replay": """
            SELECT event_id, 'Response404' AS dl_reason FROM events
            WHERE event_type = 'purchase' AND user_id % 5 = 0
        """,
        "dlq_resend": """
            SELECT event_id, 'partitionkey,xvanussubid' AS attr_keys FROM events
            WHERE event_type = 'error'
        """,
        "cesql_functions": """
            SELECT event_id,
                   event_type || ':' || right(event_type, 2) AS concat_r,
                   substr(event_type, 2, 3) AS substr_r,
                   abs(0 - length(event_type))::BIGINT AS abs_len
            FROM events
            WHERE length(event_type) >= 5
              AND upper(left(event_type, 2)) != 'ER'
        """,
        "subscription_full": """
            SELECT event_id,
                   '{"uid":' || user_id::VARCHAR
                   || ',"cents":' || (value * 100)::VARCHAR
                   || ',"tier":"'
                   || (CASE WHEN value * 100 >= 10000 THEN 'gold' ELSE 'basic' END)
                   || '","t":"' || event_type || '"}' AS payload
            FROM events
            WHERE event_type IN ('purchase', 'signup')
        """,
        "fanout_multi_sub": """
            SELECT 'purchases' AS sub_id, event_id FROM events
            WHERE event_type = 'purchase'
            UNION ALL
            SELECT 'clicks' AS sub_id, event_id FROM events
            WHERE event_type LIKE 'cl%'
            UNION ALL
            SELECT 'big_spenders' AS sub_id, event_id FROM events
            WHERE event_type = 'purchase' OR event_type = 'signup'
        """,
        "http_ingest_roundtrip": """
            WITH sel AS (
                SELECT event_id, event_type,
                       row_number() OVER (ORDER BY event_id) - 1 AS rk
                FROM (SELECT * FROM events ORDER BY event_id LIMIT 200)
            )
            SELECT event_id,
                   event_type AS type,
                   (rk % 4)::BIGINT AS eventlog,
                   (rk // 4)::BIGINT AS "offset"
            FROM sel
        """,
        "sink_payload_roundtrip": """
            SELECT event_id,
                   '1.0' AS specversion,
                   '/test/source' AS source,
                   event_type,
                   'application/json' AS datacontenttype,
                   strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS time_rfc3339,
                   user_id::VARCHAR AS partitionkey,
                   user_id,
                   value,
                   json_extract(props, '$.k')::INTEGER AS prop_k
            FROM events
        """,
        "vsctl_get": """
            WITH bus AS (
              SELECT *, user_id % 4 AS eventlog,
                     row_number() OVER (PARTITION BY user_id % 4
                                        ORDER BY ts, event_id) - 1 AS "offset"
              FROM events)
            SELECT eventlog, "offset", event_id FROM bus
            WHERE eventlog = 1 AND "offset" >= 5 ORDER BY "offset" LIMIT 20
        """,
        "ingest_metrics_windowed": f"""
            WITH d AS (
              SELECT doc_id, doc_id % 4 AS batch, md5({norm_text}) AS dg
              FROM documents),
            r AS (SELECT batch,
                         CASE WHEN row_number() OVER (PARTITION BY dg
                                ORDER BY batch, doc_id) = 1
                              THEN 1 ELSE 0 END AS acc
                  FROM d),
            b AS (SELECT batch, count(*) AS n_in, sum(acc) AS accepted
                  FROM r GROUP BY batch)
            SELECT (batch // 2)::BIGINT AS win,
                   min(batch)::BIGINT AS first_batch,
                   max(batch)::BIGINT AS last_batch,
                   sum(n_in)::BIGINT AS n_in,
                   sum(accepted)::BIGINT AS accepted,
                   (sum(n_in) - sum(accepted))::BIGINT AS rejected,
                   round(sum(accepted)::DOUBLE / greatest(sum(n_in), 1), 6)
                     AS acceptance_rate
            FROM b GROUP BY batch // 2
        """,
        "ordered_delivery": """
            SELECT event_id,
                   CASE WHEN event_type = 'error' THEN 'dead'
                        ELSE 'delivered' END AS outcome,
                   CASE WHEN event_type = 'error' THEN 'OrderEvent' END AS reason
            FROM events
        """,
    }
