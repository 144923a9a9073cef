"""Bloom prefilter sweep: false-positive rate and prefilter
selectivity vs bit budget, on the lineitem ⋈ urgent-orders fixture at
sf0.01. Prints one JSON line per (num_bits, num_hashes) point:
bits/key, measured FP rate among non-matching fact rows, and the
fraction of fact rows surviving the prefilter. Interprets into
SCALING.md (the operator's tuning table)."""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    from vanus_spark import get_spark
    from vanus_spark.operators.bloom import _probe_filter, bloom_bitmap

    spark = get_spark("bloom_sweep", 8)
    sf = os.environ.get("SPARK_GRAFT_SWEEP_SF", "/root/testdata/sf0.01")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    od = spark.read.parquet(f"{sf}/orders.parquet").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    n_keys = od.select("o_orderkey").distinct().count()
    n_fact = li.count()
    n_match = li.join(od, li.l_orderkey == od.o_orderkey, "left_semi").count()
    print(
        json.dumps(
            {"n_keys": n_keys, "n_fact": n_fact, "n_matching_fact": n_match}
        )
    )
    for num_bits in (1 << 12, 1 << 14, 1 << 16, 1 << 18):
        for k in (1, 3, 5):
            kept = _probe_filter(
                li.crossJoin(
                    F.broadcast(bloom_bitmap(od, "o_orderkey", num_bits, k))
                ),
                "l_orderkey",
                num_bits,
                k,
            ).count()
            fp = (kept - n_match) / max(n_fact - n_match, 1)
            print(
                json.dumps(
                    {
                        "num_bits": num_bits,
                        "bits_per_key": round(num_bits / n_keys, 1),
                        "num_hashes": k,
                        "kept_fraction": round(kept / n_fact, 4),
                        "fp_rate": round(fp, 5),
                    }
                ),
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
