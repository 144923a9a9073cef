"""Solo per-query measurement for the optimization rounds.

Times individual registry queries in isolation with the same
methodology as bench.py (noop sink forces every output column, median
of N runs, cache cleared between queries) and optionally captures
`.explain("formatted")` into plans/<tag>/<query>_<suffix>.txt so plan
claims in OPTIMIZATION_r*.md are reproducible.

Usage:
  python tools/solo_bench.py q1 q2 ...          # time only
  python tools/solo_bench.py --plans before q1  # also write plans/r10/q1_before.txt
  python tools/solo_bench.py --top N            # N slowest from BENCH_FULL.json
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_RUNS (default 3).
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")

PLANS_DIR = os.environ.get("SPARK_GRAFT_PLANS_DIR", os.path.join(ROOT, "plans", "r11"))


def main() -> None:
    args = sys.argv[1:]
    suffix = None
    if "--plans" in args:
        i = args.index("--plans")
        suffix = args[i + 1]
        args = args[:i] + args[i + 2 :]
    names: list[str] = []
    if "--top" in args:
        i = args.index("--top")
        n = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
        rec = json.load(open(os.path.join(ROOT, "BENCH_FULL.json")))["queries"]
        names += [k for k, _ in sorted(rec.items(), key=lambda kv: -kv[1])[:n]]
    names += args

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    import __spark_entry__ as entry_mod
    from vanus_spark.session import get_spark

    spark = get_spark("solo_bench")
    qs = entry_mod.queries()

    # warmup (same as bench.py)
    qs["filter_exact"](spark, sf_dir).count()

    split = os.environ.get("SPARK_GRAFT_BENCH_SPLIT") == "1"
    out: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(name)
        samples = []
        builds = []
        for _ in range(runs):
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
            builds.append(t1 - t0)
        out[name] = round(statistics.median(samples), 3)
        extra = (
            f"  build={round(statistics.median(builds), 3)}" if split else ""
        )
        print(
            f"{out[name]:8.3f}  {name}  (runs: {[round(s,2) for s in samples]}){extra}",
            flush=True,
        )
        if suffix:
            os.makedirs(PLANS_DIR, exist_ok=True)
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(f"{PLANS_DIR}/{name}_{suffix}.txt", "w") as f:
                f.write(plan)
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(out, sort_keys=True))


if __name__ == "__main__":
    main()
