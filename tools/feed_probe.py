"""Scale probe for the change feed and the Count-Min sketch.

Claim 1 (ManifestTable.changes): a feed between adjacent epochs reads
ONLY buckets the intervening commit touched — so as the TABLE grows,
the feed's scanned-file count tracks the commit's bucket footprint,
not table size, and wall time stays flat.

Claim 2 (cm_sketch): the build's output is capped at depth*width rows
whatever the corpus size — wall time grows ~linearly with input (one
scan), shuffle rows stay constant.

Usage: python tools/feed_probe.py [multiples...]   (default 1 4 16)
One JSON line per measurement; SCALING.md interprets.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    from vanus_spark import get_spark
    from vanus_spark.sources import load_table
    from vanus_spark.sources.manifest_table import ManifestTable

    multiples = [int(a) for a in sys.argv[1:]] or [1, 4, 16]
    spark = get_spark("feed_probe")
    orders = load_table(spark, "/root/testdata/sf0.1", "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base_n = orders.count()

    for r in multiples:
        reps = F.explode(F.sequence(F.lit(0), F.lit(r - 1))).alias("rep")
        big = orders.select("o_orderkey", "o_totalprice", reps).select(
            (F.col("o_orderkey") + F.col("rep") * 10_000_000).alias("k"),
            F.col("o_totalprice").alias("v"),
        )
        path = tempfile.mkdtemp(prefix=f"vs_feed_probe_{r}_")
        t = ManifestTable(spark, path, "k", n_buckets=64)
        t.write_full(big)
        # a commit with a FIXED bucket footprint (keys of 2 of the 64
        # buckets): 1500 random keys would coupon-collect every bucket
        # and the probe would show nothing — a real ingest tick that
        # routes by key locality touches few buckets, and THAT is the
        # case the manifest diff prunes
        upd = (
            big.where(
                F.pmod(F.xxhash64(F.col("k")), F.lit(64)) < 2
            )
            .limit(1500)
            .select("k", (F.col("v") * 2).alias("v"))
        )
        t.merge(upd)
        total_files = sum(
            len(files)
            for _, _, files in os.walk(os.path.join(path, "data"))
        )
        t0 = time.monotonic()
        feed = t.changes(1, 2)
        n_changes = feed.count()
        wall = time.monotonic() - t0
        scanned = len(feed.inputFiles())
        print(
            json.dumps(
                {
                    "probe": "table_changes",
                    "multiple": r,
                    "table_rows": base_n * r,
                    "feed_rows": n_changes,
                    "files_scanned": scanned,
                    "files_total": total_files,
                    "wall_s": round(wall, 2),
                }
            ),
            flush=True,
        )
        shutil.rmtree(path, ignore_errors=True)

    from vanus_spark.llm.search import tokens_df
    from vanus_spark.operators.countmin import cm_sketch

    docs = load_table(spark, "/root/testdata/sf0.1", "documents")
    for r in multiples:
        reps = F.explode(F.sequence(F.lit(0), F.lit(r - 1))).alias("rep")
        big = docs.select("doc_id", "text", reps).select(
            (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
            "text",
        )
        toks = tokens_df(big)
        t0 = time.monotonic()
        sk = cm_sketch(toks, "term", depth=4, width=512)
        rows = sk.count()
        wall = time.monotonic() - t0
        print(
            json.dumps(
                {
                    "probe": "cm_sketch",
                    "multiple": r,
                    "sketch_rows": rows,
                    "wall_s": round(wall, 2),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
