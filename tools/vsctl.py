"""vsctl-style CLI over the Spark eventbus (reference:
tool/vsctl/command/event.go — `vsctl event put/get/query`).

Usage:
  python tools/vsctl.py get   --bus <parquet> --eventlog 1 --offset 5 --number 3
  python tools/vsctl.py get   --bus <parquet> --event-id <base64id>
  python tools/vsctl.py query --bus <parquet> --time 2024-01-15T00:00:00
  python tools/vsctl.py put   --bus <outdir> --data '{"k":1}' --type demo [--delay 2024-..]
  python tools/vsctl.py validate --subscription '<json spec>' --event '<json envelope>'

`validate` mirrors the reference's ValidateSubscription dry-run oracle
(server/gateway/proxy/proxy.go:799-858): prints the filter result and
the transformed payload for one event.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spark():
    from vanus_spark.session import get_spark

    return get_spark("vsctl", int(os.environ.get("SPARK_GRAFT_CPUS", "8")))


def _load_bus(spark, path):
    from vanus_spark.bus import assign_addresses
    from vanus_spark.sources.tables import load_table

    if path.endswith("events.parquet"):
        return assign_addresses(load_table(spark, os.path.dirname(path), "events"))
    return spark.read.parquet(path)


def cmd_get(args):
    from vanus_spark.bus import get_event, get_event_by_id

    spark = _spark()
    bus = _load_bus(spark, args.bus)
    if args.event_id:
        df = get_event_by_id(bus, args.event_id)
    else:
        df = get_event(bus, args.eventlog, args.offset, args.number)
    for r in df.collect():
        print(json.dumps({k: str(v) for k, v in r.asDict().items()}))


def cmd_query(args):
    from vanus_spark.bus import lookup_offset_by_time

    spark = _spark()
    bus = _load_bus(spark, args.bus)
    t = dt.datetime.fromisoformat(args.time)
    for r in lookup_offset_by_time(bus, t).orderBy("eventlog").collect():
        print(json.dumps({"eventlog": r.eventlog, "offset": r.offset}))


def cmd_put(args):
    from pyspark.sql import functions as F

    from vanus_spark.bus import route_delayed_publish

    spark = _spark()
    attrs = {}
    if args.delay:
        attrs["xvanusdeliverytime"] = args.delay
    row = [(
        args.id or "1", args.source, "1.0", args.type,
        dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
        "application/json", None, None, attrs, args.data,
    )]
    df = spark.createDataFrame(
        row,
        "id string, source string, specversion string, type string, "
        "time timestamp, datacontenttype string, dataschema string, "
        "subject string, attributes map<string,string>, data string",
    )
    direct, timer = route_delayed_publish(df)
    direct.write.mode("append").parquet(os.path.join(args.bus, "events"))
    timer.write.mode("append").parquet(os.path.join(args.bus, "timer"))
    print(json.dumps({"published": direct.count(), "delayed": timer.count()}))


def cmd_validate(args):
    from vanus_spark.filters import compile_filter
    from vanus_spark.subscription import Subscription
    from vanus_spark.transformer import Transformer

    spec = json.loads(args.subscription)
    event = json.loads(args.event)
    sub = Subscription.from_spec(spec)
    spark = _spark()
    df = spark.createDataFrame(
        [(
            str(event.get("id", "1")), event.get("source", "/"), "1.0",
            event.get("type", ""), None, event.get("datacontenttype"),
            None, event.get("subject"),
            {k: str(v) for k, v in (event.get("attributes") or {}).items()},
            json.dumps(event.get("data")) if not isinstance(event.get("data"), str)
            else event["data"],
        )],
        "id string, source string, specversion string, type string, "
        "time timestamp, datacontenttype string, dataschema string, "
        "subject string, attributes map<string,string>, data string",
    )
    matched = df.where(compile_filter(sub.filters)).count() > 0
    result = {"filter_result": matched}
    if matched and sub.transformer:
        tf = Transformer(sub.transformer)
        r = df.first()
        attrs = {k: v for k, v in r.asDict().items() if v is not None and k != "data"}
        attrs.pop("attributes", None)
        attrs.update(r.attributes or {})
        _, data, err = tf.execute_event(attrs, r.data)
        result["transform_error"] = err
        result["transformed"] = data
    print(json.dumps(result))


def _catalog(args):
    from vanus_spark.catalog import Catalog

    return Catalog(args.catalog)


def _ns_by_name(cat, name):
    for ns in cat.list_namespaces():
        if ns["name"] == name:
            return ns
    raise SystemExit(f"vsctl: namespace not found: {name}")


def _eb_by_name(cat, ns_id, name):
    for eb in cat.list_eventbuses(ns_id):
        if eb["name"] == name:
            return eb
    raise SystemExit(f"vsctl: eventbus not found: {name}")


def cmd_namespace(args):
    cat = _catalog(args)
    if args.action == "create":
        print(json.dumps(cat.create_namespace(args.name)))
    elif args.action == "delete":
        ns = _ns_by_name(cat, args.name)
        cat.delete_namespace(ns["id"])
        print(json.dumps({"deleted": ns["id"]}))
    else:
        for ns in cat.list_namespaces():
            print(json.dumps(ns))


def cmd_eventbus(args):
    cat = _catalog(args)
    ns = _ns_by_name(cat, args.namespace)
    if args.action == "create":
        print(
            json.dumps(
                cat.create_eventbus(ns["id"], args.name, args.log_number)
            )
        )
    elif args.action == "delete":
        eb = _eb_by_name(cat, ns["id"], args.name)
        cat.delete_eventbus(eb["id"])
        print(json.dumps({"deleted": eb["id"]}))
    elif args.action == "info":
        # `vsctl eventbus info` (reference: tool/vsctl/command/
        # eventbus.go:129-180): the metadata record plus the
        # per-eventlog earliest/latest/length view of the bus data
        # (the reference renders per-eventlog segments; the Spark port's
        # storage unit is the eventlog itself).
        eb = _eb_by_name(cat, ns["id"], args.name)
        row = dict(eb)
        if args.bus:
            from vanus_spark.bus import earliest_latest_offsets

            spark = _spark()
            bus = _load_bus(spark, args.bus)
            row["eventlogs"] = sorted(
                (
                    {k: int(v) for k, v in r.asDict().items()}
                    for r in earliest_latest_offsets(bus).collect()
                ),
                key=lambda d: d["eventlog"],
            )
        print(json.dumps(row, sort_keys=True))
    else:
        for eb in cat.list_eventbuses(ns["id"]):
            print(json.dumps(eb))


def cmd_subscription(args):
    """Subscription lifecycle verbs (reference:
    tool/vsctl/command/subscription.go:287-581 update/delete/resume/
    disable/reset-offset/info; the controller-side phase rules live in
    vanus_spark.catalog)."""
    cat = _catalog(args)
    if args.action == "create":
        ns = _ns_by_name(cat, args.namespace)
        eb = _eb_by_name(cat, ns["id"], args.eventbus)
        spec = json.loads(args.spec) if args.spec else {}
        print(
            json.dumps(
                cat.create_subscription(
                    ns["id"], eb["id"], spec, disable=args.disable
                )
            )
        )
    elif args.action == "list":
        ns = _ns_by_name(cat, args.namespace)
        eb = _eb_by_name(cat, ns["id"], args.eventbus) if args.eventbus else None
        for s in cat.list_subscriptions(eb["id"] if eb else None):
            print(json.dumps(s))
    elif args.action == "info":
        print(json.dumps(cat.get_subscription(args.id)))
    elif args.action == "update":
        print(json.dumps(cat.update_subscription(args.id, json.loads(args.spec))))
    elif args.action == "delete":
        cat.delete_subscription(args.id)
        print(json.dumps({"subscription_id": args.id}))
    elif args.action == "disable":
        print(json.dumps(cat.disable_subscription(args.id, args.declaratively)))
    elif args.action == "resume":
        print(json.dumps(cat.resume_subscription(args.id)))
    elif args.action == "reset-offset":
        # ResetOffsetToTimestamp: per-eventlog LookupOffset(ts) over the
        # bus, committed into the catalog (requires disabled phase).
        from vanus_spark.bus import lookup_offset_by_time

        spark = _spark()
        bus = _load_bus(spark, args.bus)
        t = dt.datetime.fromisoformat(args.time.replace("Z", "+00:00"))
        if t.tzinfo is not None:
            t = t.astimezone(dt.timezone.utc).replace(tzinfo=None)
        offsets = {
            int(r["eventlog"]): int(r["offset"])
            for r in lookup_offset_by_time(bus, t).collect()
        }
        cat.reset_subscription_offsets(args.id, offsets)
        print(json.dumps({"offsets": offsets, "subscription_id": args.id}, sort_keys=True))


def cmd_deadletter(args):
    """`vsctl dead-letter get|resend` (reference:
    tool/vsctl/command/deadletter.go:50,101). The DLQ is a parquet
    eventlog per subscription; get pages by offset/number, resend
    strips the x-vanus DLQ attributes (delivery.resend_dead_letter)
    for the half-open [start, end) offset range (no --end = no upper
    bound; --end 0 is an expressible empty-from-0 bound, not a
    sentinel) and either prints the restored envelopes or appends
    them to --out."""
    import pyspark.sql.functions as F

    spark = _spark()
    dead = spark.read.parquet(args.dlq)
    # DLQ position = arrival order within the dead-letter log; the
    # writer stamps it, but tolerate raw frames by deriving from id.
    if "dlq_offset" not in dead.columns:
        from vanus_spark.bus import distributed_row_number

        dead = distributed_row_number(dead, [], ["id"], "dlq_offset")
    if args.action == "get":
        rows = (
            dead.where(F.col("dlq_offset") >= args.offset)
            .orderBy("dlq_offset")
            .limit(args.number)
            .collect()
        )
        for r in rows:
            d = r.asDict()
            attrs = d.get("attributes") or {}
            print(
                json.dumps(
                    {
                        "dlq_offset": int(d["dlq_offset"]),
                        "id": str(d.get("id")),
                        "type": str(d.get("type")),
                        "attributes": dict(sorted(attrs.items())),
                    },
                    sort_keys=True,
                )
            )
    else:  # resend
        from vanus_spark.delivery import resend_dead_letter

        sel = dead.where(F.col("dlq_offset") >= args.start)
        if args.end is not None:
            sel = sel.where(F.col("dlq_offset") < args.end)
        resent = resend_dead_letter(sel.drop("dlq_offset"))
        if args.out:
            resent.write.mode("append").parquet(args.out)
            print(json.dumps({"resent": resent.count(), "out": args.out}))
        else:
            for r in resent.orderBy("id").collect():
                d = r.asDict()
                print(
                    json.dumps(
                        {
                            "id": str(d.get("id")),
                            "attr_keys": ",".join(sorted((d.get("attributes") or {}).keys())),
                        },
                        sort_keys=True,
                    )
                )


def cmd_user(args):
    cat = _catalog(args)
    if args.action == "create":
        print(json.dumps(cat.create_user(args.identifier)))
    elif args.action == "delete":
        cat.delete_user(args.identifier)
        print(json.dumps({"deleted": args.identifier}))
    elif args.action == "roles":
        for r in cat.user_roles(args.identifier):
            print(json.dumps(r))
    else:
        for u in cat.list_users():
            print(json.dumps(u))


def cmd_token(args):
    cat = _catalog(args)
    if args.action == "create":
        print(json.dumps(cat.create_token(args.user)))
    elif args.action == "delete":
        cat.delete_token(args.token)
        print(json.dumps({"deleted": True}))
    else:
        for t in cat.list_tokens(args.user):
            print(json.dumps(t))


def cmd_permission(args):
    cat = _catalog(args)
    if args.action == "grant":
        print(
            json.dumps(
                cat.grant_role(args.user, args.role, args.kind, args.id)
            )
        )
    else:
        cat.revoke_role(args.user, args.role, args.kind, args.id)
        print(json.dumps({"revoked": True}))


def cmd_table(args):
    """Lakehouse maintenance verbs over a ManifestTable (the vsrepair
    counterpart for the Spark-native store): fsck integrity report,
    OPTIMIZE-style small-file compaction, generation vacuum, and the
    commit history."""
    from vanus_spark import commitlog
    from vanus_spark.sources.manifest_table import ManifestTable

    spark = _spark()
    t = ManifestTable(
        spark, args.path, args.key, n_buckets=args.buckets
    )
    if args.action == "fsck":
        print(json.dumps(t.fsck(), default=str))
    elif args.action == "compact":
        print(json.dumps(t.compact_files(max_files=args.max_files)))
    elif args.action == "vacuum":
        print(json.dumps({"removed_generations": t.vacuum(args.retain)}))
    elif args.action == "history":
        print(
            json.dumps(
                [
                    {"epoch": e, "buckets": len(commitlog.read(args.path, e).entries)}
                    for e in commitlog.epochs(args.path)
                ]
            )
        )


def _load_config_file(path):
    """Cluster/connector config loader: JSON, with a flat 'key: value'
    YAML-subset fallback (the reference reads YAML specs,
    cluster.go:243-247 / connector.go:169-177; PyYAML is not a
    dependency here, so nested specs use JSON)."""
    with open(path) as f:
        text = f.read()
    try:
        return json.loads(text)
    except json.JSONDecodeError:
        out = {}
        for line in text.splitlines():
            line = line.split("#", 1)[0].strip()
            if not line or ":" not in line:
                continue
            k, v = line.split(":", 1)
            v = v.strip().strip("'\"")
            if v.isdigit():
                v = int(v)
            out[k.strip()] = v
        return out


_CLUSTER_TEMPLATE = """\
# vanus_spark cluster spec (vsctl cluster generate)
# the analog of the reference's cluster config template
# (tool/vsctl/command/cluster.go genClusterCommand): version drives
# create/upgrade; replica counts drive scale; storage knobs map to
# the warehouse layout instead of k8s PVCs.
version: v0.9.0
etcd_replicas: 3
store_replicas: 3
trigger_replicas: 3
"""


def cmd_cluster(args):
    """Cluster lifecycle verbs (reference: tool/vsctl/command/
    cluster.go — create/delete/upgrade/scale/status/generate). The
    reference drives a k8s operator over HTTP; here the cluster spec
    is catalog state (SURVEY §1.3: orchestration replaced by
    config), with the SAME CLI validations: --config-file required on
    create with a version in the supported list, scale targets
    store|trigger, upgrade rejects the running version."""
    from vanus_spark.catalog import (
        SUPPORTED_CLUSTER_VERSIONS,
        ResourceNotFoundError,
    )

    cat = _catalog(args)
    try:
        _run_cluster_action(args, cat, SUPPORTED_CLUSTER_VERSIONS,
                            ResourceNotFoundError)
    except (ValueError, RuntimeError) as e:
        raise SystemExit(f"vsctl: {e}")


def _run_cluster_action(args, cat, SUPPORTED_CLUSTER_VERSIONS,
                        ResourceNotFoundError):
    if args.action == "create":
        if args.list:
            for v in SUPPORTED_CLUSTER_VERSIONS:
                print(json.dumps({"version": v}))
            return
        if not args.config_file:
            raise SystemExit("vsctl: the --config-file flag MUST be set")
        spec = _load_config_file(args.config_file)
        if "version" not in spec:
            raise SystemExit("vsctl: cluster config invaild")
        print(json.dumps(cat.create_cluster(
            str(spec["version"]),
            {k: str(v) for k, v in spec.items() if k != "version"},
        )))
    elif args.action == "delete":
        cat.delete_cluster(force=args.force)
        print(json.dumps({"deleted": "cluster"}))
    elif args.action == "upgrade":
        if not args.version:
            raise SystemExit("vsctl: the --version flag MUST be set")
        print(json.dumps(cat.upgrade_cluster(args.version)))
    elif args.action == "scale":
        if not args.component:
            raise SystemExit("vsctl: scale needs store|trigger")
        print(json.dumps(cat.scale_cluster(args.component, args.replicas)))
    elif args.action == "status":
        try:
            c = cat.get_cluster()
        except ResourceNotFoundError:
            raise SystemExit("vsctl: cluster not found")
        print(json.dumps({"status": c["status"], "version": c["version"],
                          "replicas": c["replicas"]}))
    elif args.action == "generate":
        out = args.config_file or "cluster.yaml.example"
        with open(out, "w") as f:
            f.write(_CLUSTER_TEMPLATE)
        print(json.dumps({"generated": out}))


def cmd_connector(args):
    """Connector registry verbs (reference: tool/vsctl/command/
    connector.go — install/uninstall/list/info), with the reference's
    validation ladder: kind in source|sink, DNS-1123 name, supported
    (kind, type, version) triple, --config-file required on
    install."""
    from vanus_spark.catalog import (
        SUPPORTED_CONNECTORS,
        ResourceNotFoundError,
    )

    cat = _catalog(args)
    if args.action == "install":
        if args.list:
            for kind, ctype, ver in sorted(SUPPORTED_CONNECTORS):
                print(json.dumps(
                    {"kind": kind, "type": ctype, "version": ver}
                ))
            return
        for flag, val in (
            ("--kind", args.kind),
            ("--name", args.name),
            ("--ctype", args.ctype),
            ("--config-file", args.config_file),
        ):
            if not val:
                raise SystemExit(
                    f"vsctl: the {flag} flag MUST be set"
                )
        config = _load_config_file(args.config_file)
        annotations = {}
        if args.annotations:
            for pair in args.annotations.split(","):
                if "=" not in pair:
                    raise SystemExit(
                        f"vsctl: invalid format of annotations: {pair}"
                    )
                k, v = pair.split("=", 1)
                annotations[k] = v
        try:
            print(json.dumps(cat.install_connector(
                args.kind, args.name, args.ctype,
                version=args.version, config=config,
                annotations=annotations,
            )))
        except (ValueError, RuntimeError) as e:
            raise SystemExit(f"vsctl: {e}")
    elif args.action == "uninstall":
        if not args.name:
            raise SystemExit("vsctl: the --name flag MUST be set")
        try:
            cat.uninstall_connector(args.name)
        except (ResourceNotFoundError, ValueError, RuntimeError) as e:
            raise SystemExit(f"vsctl: {e}")
        print(json.dumps({"uninstalled": args.name}))
    elif args.action == "list":
        for c in cat.list_connectors():
            print(json.dumps({
                "kind": c["kind"], "name": c["name"], "type": c["type"],
                "version": c["version"], "status": c["status"],
                "reason": c["reason"],
            }))
    elif args.action == "info":
        if not args.name:
            raise SystemExit("vsctl: the --name flag MUST be set")
        try:
            print(json.dumps(cat.get_connector(args.name)))
        except ResourceNotFoundError:
            raise SystemExit(f"vsctl: connector not found: {args.name}")


def main():
    p = argparse.ArgumentParser(prog="vsctl")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("get")
    g.add_argument("--bus", required=True)
    g.add_argument("--eventlog", type=int, default=0)
    g.add_argument("--offset", type=int, default=0)
    g.add_argument("--number", type=int, default=1)
    g.add_argument("--event-id")
    g.set_defaults(fn=cmd_get)

    q = sub.add_parser("query")
    q.add_argument("--bus", required=True)
    q.add_argument("--time", required=True)
    q.set_defaults(fn=cmd_query)

    u = sub.add_parser("put")
    u.add_argument("--bus", required=True)
    u.add_argument("--data", required=True)
    u.add_argument("--type", default="demo")
    u.add_argument("--source", default="/vsctl")
    u.add_argument("--id")
    u.add_argument("--delay")
    u.set_defaults(fn=cmd_put)

    v = sub.add_parser("validate")
    v.add_argument("--subscription", required=True)
    v.add_argument("--event", required=True)
    v.set_defaults(fn=cmd_validate)

    n = sub.add_parser("namespace")
    n.add_argument("action", choices=["create", "list", "delete"])
    n.add_argument("--catalog", required=True)
    n.add_argument("--name")
    n.set_defaults(fn=cmd_namespace)

    e = sub.add_parser("eventbus")
    e.add_argument("action", choices=["create", "list", "delete", "info"])
    e.add_argument("--catalog", required=True)
    e.add_argument("--namespace", required=True)
    e.add_argument("--name")
    e.add_argument("--log-number", type=int, default=4)
    e.add_argument("--bus", help="events parquet for the per-eventlog view (info)")
    e.set_defaults(fn=cmd_eventbus)

    s = sub.add_parser("subscription")
    s.add_argument(
        "action",
        choices=[
            "create", "list", "info", "update", "delete",
            "disable", "resume", "reset-offset",
        ],
    )
    s.add_argument("--catalog", required=True)
    s.add_argument("--namespace", default="default")
    s.add_argument("--eventbus")
    s.add_argument("--spec")
    s.add_argument("--id", type=int)
    s.add_argument("--disable", action="store_true",
                   help="create in the stopped phase")
    s.add_argument("--declaratively", action="store_true")
    s.add_argument("--bus", help="events parquet (reset-offset)")
    s.add_argument("--time", help="RFC3339 timestamp (reset-offset)")
    s.set_defaults(fn=cmd_subscription)

    dl = sub.add_parser("dead-letter")
    dl.add_argument("action", choices=["get", "resend"])
    dl.add_argument("--dlq", required=True, help="DLQ parquet path")
    dl.add_argument("--offset", type=int, default=0)
    dl.add_argument("--number", type=int, default=1)
    dl.add_argument("--start", type=int, default=0)
    dl.add_argument("--end", type=int, default=None,
                    help="exclusive upper offset bound; omit for open-ended")
    dl.add_argument("--out", help="append resent events to this parquet")
    dl.set_defaults(fn=cmd_deadletter)

    u2 = sub.add_parser("user")
    u2.add_argument("action", choices=["create", "delete", "list", "roles"])
    u2.add_argument("--catalog", required=True)
    u2.add_argument("--identifier")
    u2.set_defaults(fn=cmd_user)

    t2 = sub.add_parser("token")
    t2.add_argument("action", choices=["create", "delete", "list"])
    t2.add_argument("--catalog", required=True)
    t2.add_argument("--user")
    t2.add_argument("--token")
    t2.set_defaults(fn=cmd_token)

    pm = sub.add_parser("permission")
    pm.add_argument("action", choices=["grant", "revoke"])
    pm.add_argument("--catalog", required=True)
    pm.add_argument("--user", required=True)
    pm.add_argument("--role", required=True)
    pm.add_argument("--kind", required=True)
    pm.add_argument("--id", type=int, required=True)
    pm.set_defaults(fn=cmd_permission)

    tb = sub.add_parser("table")
    tb.add_argument("action", choices=["fsck", "compact", "vacuum", "history"])
    tb.add_argument("--path", required=True)
    tb.add_argument("--key", default="k")
    tb.add_argument("--buckets", type=int, default=8)
    tb.add_argument("--max-files", type=int, default=1)
    tb.add_argument("--retain", type=int, default=1)
    tb.set_defaults(fn=cmd_table)

    cl = sub.add_parser("cluster")
    cl.add_argument(
        "action",
        choices=["create", "delete", "upgrade", "scale", "status",
                 "generate"],
    )
    cl.add_argument("--catalog", required=True)
    cl.add_argument("--config-file", dest="config_file")
    cl.add_argument("--version")
    cl.add_argument("--force", action="store_true")
    cl.add_argument("--list", action="store_true")
    cl.add_argument("component", nargs="?",
                    choices=["store", "trigger"])
    cl.add_argument("--replicas", type=int, default=3)
    cl.set_defaults(fn=cmd_cluster)

    cn = sub.add_parser("connector")
    cn.add_argument(
        "action", choices=["install", "uninstall", "list", "info"]
    )
    cn.add_argument("--catalog", required=True)
    cn.add_argument("--kind")
    cn.add_argument("--name")
    cn.add_argument("--ctype")
    cn.add_argument("--version", default="latest")
    cn.add_argument("--config-file", dest="config_file")
    cn.add_argument("--annotations")
    cn.add_argument("--list", action="store_true")
    cn.set_defaults(fn=cmd_connector)

    args = p.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
