"""Benchmark entry point: one seeded workload per run.

    python3 perfbench/run.py --workload deliver_memory --seed 1 --seconds 20 --trace 0

Run it from the repository root. It builds a local Spark session
pinned to this machine, generates the workload's inputs from the seed,
warms up, measures for ``--seconds``, checks the outputs and prints one
JSON object as the last line of standard output. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` turns on the event log, spans
and py4j counting and reports the per-layer metrics. Every run leaves a
record (machine sample, settings, metrics, per-step series and, when
traced, the spans) under ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
CORES = min(4, os.cpu_count() or 1)
HEAP = "4g"

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "items_per_s": "1/s",
    "step_p50_s": "s",
}
PER_LAYER = {
    "runner.jobs_per_tick": "count",
    "runner.tasks_per_tick": "count",
    "runner.task_s_per_tick": "s",
    "runner.source_scans_per_tick": "count",
    "runner.addBatch_ms": "ms",
    "runner.queryPlanning_ms": "ms",
    "runner.walCommit_ms": "ms",
    "runner.commitOffsets_ms": "ms",
    "runner.latestOffset_ms": "ms",
    "runner.state_bytes_written": "bytes",
    "runner.pending_partitions_end": "count",
    "runner.pending_rows_end": "count",
    "runner.held_rdds_end": "count",
    "runner.held_storage_mb_end": "MB",
    "runner.tick_growth": "ratio",
    "subscription.apply_s": "s",
    "subscription.compiled_share": "ratio",
    "delivery.sink_rows": "count",
    "delivery.sink_calls": "count",
    "delivery.sink_busy_s": "s",
    "delivery.delivered": "count",
    "delivery.retried": "count",
    "delivery.dead": "count",
    "delivery.useful_ratio": "ratio",
    "curate.components_s": "s",
    "llm.dedup.candidate_pairs": "count",
    "llm.dedup.verified_pairs": "count",
    "llm.dedup.pair_precision": "ratio",
    "llm.pipeline.survivors": "count",
    "interactive.build_s": "s",
    "interactive.py4j_calls_per_query": "count",
    "interactive.jobs_per_query": "count",
    "interactive.task_s": "s",
    "interactive.driver_gap_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "trace.items_per_s": "1/s",
    "trace.step_p50_s": "s",
    "trace.probe_share": "ratio",
}
WORKLOADS = ("deliver_memory", "interactive_mix")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str, trace: bool) -> None:
    """Keep every file the run writes (Spark scratch, temp dirs, event
    log) inside the work dir, and pin the session to this machine
    through the knobs get_spark reads."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    args = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
    if trace:
        log = os.path.join(work, "eventlog")
        os.makedirs(log)
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf spark.eventLog.dir=file://{log}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = None


def stop_spark(spark) -> None:
    """Stop the session, the gateway JVM and the workers it forked,
    and wait until each process has ended."""
    from perfbench.trace import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 60
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def wrap_subscription(tracer) -> None:
    """Time every Subscription.apply and note whether the compiled tier
    could be taken (it needs ``data_schema``)."""
    from vanus_spark.subscription import Subscription

    orig = Subscription.apply

    def apply(sub, envelope_df, data_schema=None):
        with tracer.span("subscription.apply", compiled=data_schema is not None):
            return orig(sub, envelope_df, data_schema)

    Subscription.apply = apply


def end_to_end(setup_s: float, rss_mb: float, steps: list[dict]) -> dict:
    durations = [(s["end"] - s["start"]) / 1000.0 for s in steps]
    return {
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "items_per_s": sum(s["items"] for s in steps) / sum(durations),
        "step_p50_s": statistics.median(durations),
    }


def per_layer(wl, tracer, log: dict, steps: list[dict], e2e: dict, probe_share: float) -> tuple[dict, dict]:
    from perfbench.trace import spark_usage

    def usage(start, end):
        return spark_usage(log, start, end)

    m = dict.fromkeys(PER_LAYER, 0.0)
    layer, series = wl.layer_metrics(steps, usage)
    m.update(layer)
    n = len(steps)
    total = usage(steps[0]["start"], steps[-1]["end"])
    for key in ("jobs", "tasks", "task_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        m[f"spark.{key}"] = total[key] / n
    applies = [s for s in tracer.spans if s["name"] == "subscription.apply"]
    m["subscription.apply_s"] = sum(s["end"] - s["start"] for s in applies) / 1000.0 / n
    m["subscription.compiled_share"] = sum(s["compiled"] for s in applies) / len(applies) if applies else 0.0
    m["trace.items_per_s"] = e2e["items_per_s"]
    m["trace.step_p50_s"] = e2e["step_p50_s"]
    m["trace.probe_share"] = probe_share
    return m, series


def main(argv=None) -> int:
    args = parse_args(argv)
    trace = bool(args.trace)
    work = os.path.join(OUT, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work, trace)
    sys.path.insert(0, ROOT)

    from perfbench.trace import Tracer, descendants, machine_sample, peak_rss_mb, read_event_log
    from vanus_spark import get_spark

    machine_before = machine_sample()
    tracer = Tracer(trace)
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    spark.range(1).collect()
    session_s = time.perf_counter() - t0
    try:
        if args.workload == "deliver_memory":
            from perfbench.deliver import DeliverMemory

            wl = DeliverMemory(spark, args.seed, work, tracer)
        else:
            from perfbench.interactive import InteractiveMix

            wl = InteractiveMix(spark, args.seed, work, tracer, ROOT)
        t1 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t1
        wl.warm_up()
        setup_s = time.perf_counter() - t0
        if trace:
            tracer.count_py4j(spark)
            wrap_subscription(tracer)
            wl.trace_hooks()
        t2 = time.perf_counter()
        with tracer.span("run", workload=args.workload, seed=args.seed):
            steps = wl.measure(args.seconds)
        measured_s = time.perf_counter() - t2
        probe_share = tracer.probe_s / measured_s
        rss_mb = peak_rss_mb(descendants(os.getpid()))
        e2e = end_to_end(setup_s, rss_mb, steps)
        if trace:
            wl.trace_after()
        attempted, failed, check_detail = wl.check()
    finally:
        stop_spark(spark)
    machine_after = machine_sample()

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": CORES,
        "heap": HEAP,
        "machine_before": machine_before,
        "machine_after": machine_after,
        "setup": {"session_s": session_s, "generate_s": gen_s, "total_s": setup_s},
        "measured_s": measured_s,
        "steps": len(steps),
        "step_s": [[s["label"], (s["end"] - s["start"]) / 1000.0] for s in steps],
        "attempted": attempted,
        "failed": failed,
        "check": check_detail,
        "end_to_end": e2e,
    }
    if trace:
        log = read_event_log(os.path.join(work, "eventlog"))
        metrics, series = per_layer(wl, tracer, log, steps, e2e, probe_share)
        record.update(per_layer=metrics, series=series, spans=tracer.spans)
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    path = os.path.join(OUT, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    print(
        f"# {args.workload} seed={args.seed} cores={CORES} heap={HEAP} "
        f"loadavg_1m={machine_before['loadavg_1m']:.2f}->{machine_after['loadavg_1m']:.2f} "
        f"step={wl.step} steps={len(steps)} record={os.path.relpath(path, ROOT)}"
    )
    for name, value in e2e.items():
        print(f"{name} {value:.6g} {END_TO_END[name]}")
    print(f"failed_frac {failed / attempted:.6g} ratio")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
