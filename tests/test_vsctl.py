"""CLI e2e: the vsctl-style command surface (reference tool/vsctl)
driven in-process (argv-parsed through the real main(), stdout
captured) so each command exercises the same code path a shell user
hits — without paying a fresh JVM per invocation."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _vsctl(capsys, *argv) -> list[dict]:
    spec = importlib.util.spec_from_file_location(
        "vsctl_under_test", os.path.join(TOOLS, "vsctl.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    old = sys.argv
    sys.argv = ["vsctl", *argv]
    try:
        m.main()
    finally:
        sys.argv = old
    out = capsys.readouterr().out
    return [json.loads(line) for line in out.splitlines() if line.strip()]


def test_cli_get_and_query(spark, sf_dir, capsys):
    bus = f"{sf_dir}/events.parquet"
    rows = _vsctl(capsys, "get", "--bus", bus, "--eventlog", "1", "--offset", "0",
                  "--number", "3")
    assert len(rows) == 3
    assert all(r["eventlog"] == "1" for r in rows)
    assert [int(r["offset"]) for r in rows] == [0, 1, 2]

    q = _vsctl(capsys, "query", "--bus", bus, "--time", "2024-01-02T00:00:00")
    assert len(q) >= 1
    assert all("eventlog" in r and "offset" in r for r in q)


def test_cli_put_and_validate(spark, tmp_path, capsys):
    out = _vsctl(
        capsys, "put", "--bus", str(tmp_path), "--data", '{"k": 1}',
        "--type", "demo",
    )
    assert out[-1] == {"published": 1, "delayed": 0}

    delayed = _vsctl(
        capsys, "put", "--bus", str(tmp_path), "--data", '{"k": 2}',
        "--type", "demo", "--delay", "2099-01-01T00:00:00Z",
    )
    assert delayed[-1] == {"published": 0, "delayed": 1}

    v = _vsctl(
        capsys, "validate",
        "--subscription",
        json.dumps({
            "filters": [{"exact": {"type": "demo"}}],
            "transformer": {"pipeline": [["UPPER_CASE", "$.data.s"]]},
        }),
        "--event",
        json.dumps({"id": "9", "type": "demo", "data": {"s": "hello"}}),
    )
    assert v[-1]["filter_result"] is True
    assert v[-1]["transform_error"] is False
    assert json.loads(v[-1]["transformed"]) == {"s": "HELLO"}

    miss = _vsctl(
        capsys, "validate",
        "--subscription", json.dumps({"filters": [{"exact": {"type": "other"}}]}),
        "--event", json.dumps({"id": "9", "type": "demo", "data": {}}),
    )
    assert miss[-1] == {"filter_result": False}


def test_cli_catalog_management(tmp_path, capsys):
    cat = str(tmp_path / "cat.json")
    ns = _vsctl(capsys, "namespace", "create", "--catalog", cat,
                "--name", "default")[0]
    assert ns["name"] == "default" and ns["id"] > 0
    eb = _vsctl(capsys, "eventbus", "create", "--catalog", cat,
                "--namespace", "default", "--name", "orders",
                "--log-number", "8")[0]
    assert eb["log_number"] == 8 and eb["namespace_id"] == ns["id"]
    sub = _vsctl(capsys, "subscription", "create", "--catalog", cat,
                 "--namespace", "default", "--eventbus", "orders",
                 "--spec", '{"filters": [{"exact": {"type": "x"}}]}')[0]
    assert sub["eventbus_id"] == eb["id"]
    listed = _vsctl(capsys, "eventbus", "list", "--catalog", cat,
                    "--namespace", "default")
    assert [b["name"] for b in listed] == ["orders"]
    subs = _vsctl(capsys, "subscription", "list", "--catalog", cat,
                  "--namespace", "default", "--eventbus", "orders")
    assert len(subs) == 1 and subs[0]["spec"]["filters"][0]["exact"]["type"] == "x"


def test_cli_user_token_permission(tmp_path, capsys):
    cat = str(tmp_path / "cat2.json")
    ns = _vsctl(capsys, "namespace", "create", "--catalog", cat,
                "--name", "default")[0]
    u = _vsctl(capsys, "user", "create", "--catalog", cat,
               "--identifier", "alice")[0]
    assert u["identifier"] == "alice"
    tok = _vsctl(capsys, "token", "create", "--catalog", cat,
                 "--user", "alice")[0]
    assert tok["user"] == "alice" and tok["token"]
    g = _vsctl(capsys, "permission", "grant", "--catalog", cat,
               "--user", "alice", "--role", "edit", "--kind", "namespace",
               "--id", str(ns["id"]))[0]
    assert g["role"] == "edit"
    roles = _vsctl(capsys, "user", "roles", "--catalog", cat,
                   "--identifier", "alice")
    assert len(roles) == 1 and roles[0]["resource_id"] == ns["id"]
    _vsctl(capsys, "permission", "revoke", "--catalog", cat,
           "--user", "alice", "--role", "edit", "--kind", "namespace",
           "--id", str(ns["id"]))
    assert _vsctl(capsys, "user", "roles", "--catalog", cat,
                  "--identifier", "alice") == []


def test_cli_table_maintenance(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    from vanus_spark.sources.manifest_table import ManifestTable

    path = str(tmp_path / "t")
    t = ManifestTable(spark, path, "k", n_buckets=4)
    # the clustered generation write leaves one file per bucket, so
    # fragment via the per-file row cap to give compact work to do
    # (same approach as tests/test_manifest_table.py::_fragmented_write)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "30")
    try:
        t.write_full(
            spark.range(200)
            .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
            .repartition(8)
        )
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    t.merge(spark.createDataFrame([(3, 999)], "k long, v long"))

    fsck = _vsctl(capsys, "table", "fsck", "--path", path, "--key", "k",
                  "--buckets", "4")[0]
    assert fsck.get("ok", fsck.get("healthy", True)) in (True, 1)

    hist = _vsctl(capsys, "table", "history", "--path", path)[0]
    assert [h["epoch"] for h in hist] == sorted(h["epoch"] for h in hist)
    assert len(hist) >= 2

    comp = _vsctl(capsys, "table", "compact", "--path", path, "--key", "k",
                  "--buckets", "4")[0]
    assert comp["compacted_buckets"] >= 1
    assert comp["files_after"] < comp["files_before"]

    vac = _vsctl(capsys, "table", "vacuum", "--path", path, "--key", "k",
                 "--buckets", "4", "--retain", "1")[0]
    assert vac["removed_generations"] >= 0
    # data intact after the full maintenance pass
    t2 = ManifestTable(spark, path, "k", n_buckets=4)
    rows = {r.k: r.v for r in t2.read().collect()}
    assert rows[3] == 999 and rows[10] == 20 and len(rows) == 200


def _mk_dlq(spark, tmp_path):
    """A small DLQ parquet built by the real DeliveryLoop (all events 404)."""
    import datetime as dt

    import pyspark.sql.functions as F

    from vanus_spark.bus import distributed_row_number
    from vanus_spark.streaming.runner import DeliveryLoop
    from vanus_spark.subscription import Subscription

    rows = [
        (str(i), "/s", "1.0", "error", dt.datetime(2024, 6, 1), None, None,
         None, {}, '{"v":1}')
        for i in range(6)
    ]
    env = spark.createDataFrame(
        rows,
        "id string, source string, specversion string, type string, "
        "time timestamp, datacontenttype string, dataschema string, "
        "subject string, attributes map<string,string>, data string",
    )
    loop = DeliveryLoop(spark, Subscription.from_spec({}), lambda r: [404] * len(r))
    loop.process_batch(env, dt.datetime(2024, 6, 1, 12))
    path = str(tmp_path / "dlq.parquet")
    dead = loop.dead.withColumn("_idl", F.col("id").cast("long"))
    distributed_row_number(dead, [], ["_idl"], "dlq_offset").drop("_idl") \
        .write.parquet(path)
    return path


def test_cli_dead_letter_get_pages_by_offset(spark, tmp_path, capsys):
    dlq = _mk_dlq(spark, tmp_path)
    rows = _vsctl(capsys, "dead-letter", "get", "--dlq", dlq,
                  "--offset", "2", "--number", "3")
    assert [r["dlq_offset"] for r in rows] == [2, 3, 4]
    assert all("xvanussubid" in r["attributes"] for r in rows)
    assert all("xvanusdlreason" in r["attributes"] for r in rows)


def test_cli_dead_letter_resend_strips_attrs_and_bounds(spark, tmp_path, capsys):
    dlq = _mk_dlq(spark, tmp_path)
    rows = _vsctl(capsys, "dead-letter", "resend", "--dlq", dlq,
                  "--start", "1", "--end", "4")
    # --end is EXCLUSIVE (round-7 advice: [start, end) as documented;
    # None default makes an upper bound of 0 expressible)
    assert [r["id"] for r in rows] == ["1", "2", "3"]
    for r in rows:
        keys = r["attr_keys"].split(",") if r["attr_keys"] else []
        assert not any(k.startswith("xvanusdl") or k.startswith("xvanuslastdl") for k in keys)
        assert "xvanusretryattempts" not in keys

    # --out appends restored envelopes to a parquet eventlog
    out = str(tmp_path / "resent.parquet")
    res = _vsctl(capsys, "dead-letter", "resend", "--dlq", dlq,
                 "--start", "0", "--out", out)
    assert res[0]["resent"] == 6
    back = spark.read.parquet(out)
    assert back.count() == 6 and "dlq_offset" not in back.columns


def test_cli_subscription_lifecycle_verbs(spark, sf_dir, tmp_path, capsys):
    import pytest as _pytest

    from vanus_spark.catalog import ResourceCanNotOpError

    cat = str(tmp_path / "cat.json")
    _vsctl(capsys, "namespace", "create", "--catalog", cat, "--name", "default")
    _vsctl(capsys, "eventbus", "create", "--catalog", cat,
           "--namespace", "default", "--name", "demo")
    sub = _vsctl(capsys, "subscription", "create", "--catalog", cat,
                 "--namespace", "default", "--eventbus", "demo",
                 "--spec", '{"filters": []}')[0]
    sid = str(sub["id"])
    assert sub["phase"] == "created"

    with _pytest.raises(ResourceCanNotOpError):
        _vsctl(capsys, "subscription", "reset-offset", "--catalog", cat,
               "--id", sid, "--bus", f"{sf_dir}/events.parquet",
               "--time", "2024-01-15T00:00:00")

    assert _vsctl(capsys, "subscription", "disable", "--catalog", cat,
                  "--id", sid)[0]["phase"] == "stopped"
    reset = _vsctl(capsys, "subscription", "reset-offset", "--catalog", cat,
                   "--id", sid, "--bus", f"{sf_dir}/events.parquet",
                   "--time", "2024-01-15T00:00:00")[0]
    assert reset["offsets"]  # one entry per eventlog
    _vsctl(capsys, "subscription", "update", "--catalog", cat, "--id", sid,
           "--spec", '{"sink": "http://hook"}')
    assert _vsctl(capsys, "subscription", "resume", "--catalog", cat,
                  "--id", sid)[0]["phase"] == "created"
    info = _vsctl(capsys, "subscription", "info", "--catalog", cat, "--id", sid)[0]
    assert info["spec"]["sink"] == "http://hook"
    assert {int(k) for k in info["offsets"]} == {int(k) for k in reset["offsets"]}
    _vsctl(capsys, "subscription", "delete", "--catalog", cat, "--id", sid)
    assert _vsctl(capsys, "subscription", "list", "--catalog", cat,
                  "--namespace", "default") == []


def test_cli_eventbus_info_per_eventlog_view(spark, sf_dir, tmp_path, capsys):
    """`vsctl eventbus info`: metadata + per-eventlog
    earliest/latest/length (reference eventbus.go:129-180)."""
    cat = str(tmp_path / "cat.json")
    _vsctl(capsys, "namespace", "create", "--catalog", cat, "--name", "default")
    _vsctl(capsys, "eventbus", "create", "--catalog", cat,
           "--namespace", "default", "--name", "demo")
    info = _vsctl(capsys, "eventbus", "info", "--catalog", cat,
                  "--namespace", "default", "--name", "demo",
                  "--bus", f"{sf_dir}/events.parquet")[0]
    assert info["name"] == "demo"
    logs = info["eventlogs"]
    assert [d["eventlog"] for d in logs] == [0, 1, 2, 3]
    for d in logs:
        assert d["earliest"] == 0
        assert d["latest"] == d["length"] - 1  # dense offsets
    # without --bus it's the pure metadata record
    meta = _vsctl(capsys, "eventbus", "info", "--catalog", cat,
                  "--namespace", "default", "--name", "demo")[0]
    assert "eventlogs" not in meta and meta["id"] == info["id"]


def test_cli_cluster_lifecycle(tmp_path, capsys):
    """cluster generate -> create -> status -> scale -> upgrade ->
    delete, mirroring tool/vsctl/command/cluster.go's verb set with
    the same validations (version in the supported list, scale
    targets store|trigger, store replicas odd)."""
    import pytest

    cat = str(tmp_path / "cat.json")
    spec = str(tmp_path / "spec.yaml")
    out = _vsctl(capsys, "cluster", "generate", "--catalog", cat,
                 "--config-file", spec)
    assert out[-1] == {"generated": spec}

    versions = _vsctl(capsys, "cluster", "create", "--catalog", cat,
                      "--list")
    assert {"version": "v0.9.0"} in versions

    created = _vsctl(capsys, "cluster", "create", "--catalog", cat,
                     "--config-file", spec)[-1]
    assert created["version"] == "v0.9.0"
    assert created["replicas"] == {"etcd": 3, "store": 3, "trigger": 3}

    # duplicate create / missing config-file / bad version all exit
    with pytest.raises(SystemExit):
        _vsctl(capsys, "cluster", "create", "--catalog", cat,
               "--config-file", spec)
    with pytest.raises(SystemExit):
        _vsctl(capsys, "cluster", "create", "--catalog", cat)

    scaled = _vsctl(capsys, "cluster", "scale", "trigger",
                    "--catalog", cat, "--replicas", "6")[-1]
    assert scaled["replicas"]["trigger"] == 6
    with pytest.raises(SystemExit):  # even store replicas: Raft quorum
        _vsctl(capsys, "cluster", "scale", "store", "--catalog", cat,
               "--replicas", "4")
    ok = _vsctl(capsys, "cluster", "scale", "store", "--catalog", cat,
                "--replicas", "5")[-1]
    assert ok["replicas"]["store"] == 5

    up = _vsctl(capsys, "cluster", "upgrade", "--catalog", cat,
                "--version", "v0.9.1")[-1]
    assert up["version"] == "v0.9.1"
    with pytest.raises(SystemExit):  # same-version upgrade rejected
        _vsctl(capsys, "cluster", "upgrade", "--catalog", cat,
               "--version", "v0.9.1")

    st = _vsctl(capsys, "cluster", "status", "--catalog", cat)[-1]
    assert st == {"status": "Running", "version": "v0.9.1",
                  "replicas": {"etcd": 3, "store": 5, "trigger": 6}}

    _vsctl(capsys, "cluster", "delete", "--catalog", cat)
    with pytest.raises(SystemExit):
        _vsctl(capsys, "cluster", "status", "--catalog", cat)


def test_cli_connector_registry(tmp_path, capsys):
    """connector install/list/info/uninstall with the reference's
    validation ladder (connector.go:136-162): kind gate, DNS-1123
    name, supported-triple gate, annotations k=v parsing."""
    import pytest

    cat = str(tmp_path / "cat.json")
    conf = tmp_path / "conn.json"
    conf.write_text('{"port": 8080}')

    sup = _vsctl(capsys, "connector", "install", "--catalog", cat,
                 "--list")
    assert {"kind": "source", "type": "http", "version": "latest"} in sup
    assert {"kind": "sink", "type": "feishu", "version": "latest"} in sup

    inst = _vsctl(
        capsys, "connector", "install", "--catalog", cat,
        "--kind", "source", "--name", "my-http", "--ctype", "http",
        "--config-file", str(conf), "--annotations", "a=1,b=2",
    )[-1]
    assert inst["config"] == {"port": 8080}
    assert inst["annotations"] == {"a": "1", "b": "2"}
    assert inst["status"] == "Running"

    # invalid kind / non-DNS-1123 name / unsupported triple all exit
    for argv in (
        ["--kind", "pump", "--name", "x", "--ctype", "http"],
        ["--kind", "sink", "--name", "Bad_Name", "--ctype", "feishu"],
        ["--kind", "sink", "--name", "ok-name", "--ctype", "mysql"],
    ):
        with pytest.raises(SystemExit):
            _vsctl(capsys, "connector", "install", "--catalog", cat,
                   *argv, "--config-file", str(conf))

    listed = _vsctl(capsys, "connector", "list", "--catalog", cat)
    assert [c["name"] for c in listed] == ["my-http"]
    info = _vsctl(capsys, "connector", "info", "--catalog", cat,
                  "--name", "my-http")[-1]
    assert info["kind"] == "source" and info["type"] == "http"

    _vsctl(capsys, "connector", "uninstall", "--catalog", cat,
           "--name", "my-http")
    assert _vsctl(capsys, "connector", "list", "--catalog", cat) == []
    with pytest.raises(SystemExit):
        _vsctl(capsys, "connector", "info", "--catalog", cat,
               "--name", "my-http")
    # uninstall of a missing connector exits with the clean vsctl
    # message, not a raw traceback (round-9 advice)
    with pytest.raises(SystemExit, match="vsctl: "):
        _vsctl(capsys, "connector", "uninstall", "--catalog", cat,
               "--name", "missing")
