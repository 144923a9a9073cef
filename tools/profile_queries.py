"""Per-query time attribution for the optimization rounds.

Runs each named registry query once (same noop-sink methodology as
bench.py) with the Spark event log enabled, then parses the log to
attribute wall time per query:

  build   = Python/py4j DataFrame construction (queries() fn call)
  jobs    = sum of Spark job wall times (JobStart..JobEnd)
  njobs   = number of Spark jobs the query launched
  task    = total executor task time across its stages (parallel work)
  gap     = wall - build - jobs  (driver-side analysis/collect/other)

Usage: python tools/profile_queries.py q1 q2 ...
       python tools/profile_queries.py --top N
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")


def _read_lines(path: str) -> list[str]:
    import subprocess

    if path.endswith(".zstd"):
        out = subprocess.run(
            ["zstd", "-d", "-c", path], capture_output=True, check=True
        )
        return out.stdout.decode().splitlines()
    with open(path) as f:
        return f.readlines()


def main() -> None:
    args = sys.argv[1:]
    if args and args[0] == "--parse":
        # offline re-parse: --parse <eventlog path or dir>
        spans = json.load(open("/tmp/profile_spans.json"))
        _report(args[1], spans, list(spans))
        return
    names: list[str] = []
    if "--top" in args:
        i = args.index("--top")
        n = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
        rec = json.load(open(os.path.join(ROOT, "BENCH_FULL.json")))["queries"]
        names += [k for k, _ in sorted(rec.items(), key=lambda kv: -kv[1])[:n]]
    names += args

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = tempfile.mkdtemp(prefix="vs_evlog_")

    import __spark_entry__ as entry_mod
    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile_queries")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", evdir)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    qs = entry_mod.queries()
    qs["filter_exact"](spark, sf_dir).count()

    spans: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        spans[name] = {
            "wall": round(t2 - t0, 3),
            "build": round(t1 - t0, 3),
        }
        spark.catalog.clearCache()
        import gc

        gc.collect()
        spark.sparkContext.setJobDescription(None)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    with open("/tmp/profile_spans.json", "w") as f:
        json.dump(spans, f)

    # parse the event log (Spark 4 writes a rolling-log DIRECTORY
    # eventlog_v2_<appid>/events_* unless single-file logging)
    path = os.path.join(evdir, app_id)
    if not os.path.exists(path):
        cand = [p for p in os.listdir(evdir) if app_id in p]
        path = os.path.join(evdir, cand[0])
    _report(path, spans, names)


def _report(path: str, spans: dict, names: list[str]) -> None:
    if os.path.isdir(path):
        lines: list[str] = []
        for p in sorted(os.listdir(path)):
            if p.startswith("events"):
                lines += _read_lines(os.path.join(path, p))
    else:
        lines = _read_lines(path)
    job_wall: dict[str, float] = {}
    job_n: dict[str, int] = {}
    task_time: dict[str, float] = {}
    job_desc: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    if True:
        for line in lines:
            try:
                e = json.loads(line)
            except Exception:
                continue
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                jid = e["Job ID"]
                desc = (e.get("Properties") or {}).get(
                    "spark.job.description", ""
                )
                job_desc[jid] = desc
                job_start[jid] = e["Submission Time"]
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif ev == "SparkListenerJobEnd":
                jid = e["Job ID"]
                d = job_desc.get(jid, "")
                if d in spans:
                    job_wall[d] = job_wall.get(d, 0.0) + (
                        e["Completion Time"] - job_start[jid]
                    ) / 1000.0
                    job_n[d] = job_n.get(d, 0) + 1
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                jid = stage_job.get(si["Stage ID"])
                d = job_desc.get(jid, "") if jid is not None else ""
                # task time: not in StageCompleted directly; skip
            elif ev == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                jid = stage_job.get(sid)
                d = job_desc.get(jid, "") if jid is not None else ""
                if d in spans:
                    ti = e.get("Task Info", {})
                    dur = (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1000.0
                    task_time[d] = task_time.get(d, 0.0) + dur

    print(
        f"{'query':34s} {'wall':>6s} {'build':>6s} {'jobs':>6s} "
        f"{'njobs':>5s} {'task':>7s} {'gap':>6s}"
    )
    for name in names:
        s = spans[name]
        jw = job_wall.get(name, 0.0)
        gap = s["wall"] - s["build"] - jw
        print(
            f"{name:34s} {s['wall']:6.2f} {s['build']:6.2f} {jw:6.2f} "
            f"{job_n.get(name, 0):5d} {task_time.get(name, 0.0):7.2f} {gap:6.2f}"
        )
    print("eventlog:", path)


if __name__ == "__main__":
    main()
