"""ANN recall/cost frontier sweep: recall@k and wall time of every
ANN variant across its tuning knobs, against the brute-force cosine
ground truth.

- lsh_ann:        n_planes in {4, 6, 8, 10}
- lsh_ann_multi:  n_planes x n_tables in {4,6,8} x {2,3,5}
- ivf_ann:        n_clusters x n_probe in {8,16} x {1,2,4}

Usage: python tools/ann_sweep.py [sf_dir]   (default /root/testdata/sf0.1)
Writes one JSON line per operating point:
  {"method": ..., "params": {...}, "recall": r, "candidates": c, "sec": s}
and a final frontier summary. The ann_recall query pins ONE point of
this sweep under the DuckDB oracle; this tool documents the curve.

Interpretation at 100 TB: `candidates` is the per-query scored-row
count — the fraction of the corpus each probe actually touches. The
knee of the recall-vs-candidates curve is the operating point; wall
time at sf0.1 is dominated by fixed plan overhead, so candidates is
the scale-faithful cost axis.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from vanus_spark.session import get_spark
    from vanus_spark.llm.similarity import (
        cosine_topk,
        ivf_ann,
        kmeans_centroids,
        lsh_ann,
        lsh_ann_multi,
    )

    spark = get_spark("ann_sweep")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.count()
    queries = emb.where(F.col("vec_id") < 8)
    k = 5
    truth = (
        cosine_topk(emb, queries, k=k)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    n_truth = truth.count()

    def measure(name: str, params: dict, df, candidates: int) -> dict:
        t0 = time.perf_counter()
        hits = truth.join(
            df.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        ).count()
        sec = round(time.perf_counter() - t0, 3)
        row = {
            "method": name,
            "params": params,
            "recall": round(hits / n_truth, 4),
            "candidates": candidates,
            "sec": sec,
        }
        print(json.dumps(row), flush=True)
        return row

    from vanus_spark.llm.similarity import (
        _nearest_clusters,
        lsh_signature,
        random_hyperplanes,
    )

    def lsh_cands(n_planes: int, n_tables: int = 1) -> int:
        """Scored candidate pairs = bucket collisions (distinct pair
        across tables) — the true probe cost of the LSH variants."""
        pairs = None
        for t in range(n_tables):
            planes = random_hyperplanes(64, n_planes, 42 + (1000 * t if n_tables > 1 else 0))
            c = emb.select(
                F.col("vec_id").alias("neighbor_id"),
                lsh_signature(F.col("embedding"), planes).alias("b"),
            )
            q = queries.select(
                F.col("vec_id").alias("query_id"),
                lsh_signature(F.col("embedding"), planes).alias("b"),
            )
            p = c.join(F.broadcast(q), "b").where(
                F.col("neighbor_id") != F.col("query_id")
            ).select("query_id", "neighbor_id")
            pairs = p if pairs is None else pairs.unionByName(p)
        return pairs.distinct().count()

    def ivf_cands(cents, n_probe: int) -> int:
        inv = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            _nearest_clusters(F.col("embedding").cast("array<double>"), cents, 1)[0].alias("cluster"),
        )
        pr = queries.select(
            F.col("vec_id").alias("query_id"),
            F.explode(
                _nearest_clusters(F.col("embedding").cast("array<double>"), cents, n_probe)
            ).alias("cluster"),
        )
        return (
            inv.join(F.broadcast(pr), "cluster")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .count()
        )

    rows = []
    for n_planes in (4, 6, 8, 10):
        d = lsh_ann(emb, queries, k=k, n_planes=n_planes)
        rows.append(
            measure("lsh_ann", {"n_planes": n_planes}, d, lsh_cands(n_planes))
        )
    for n_planes in (4, 6, 8):
        for n_tables in (2, 3, 5):
            d = lsh_ann_multi(
                emb, queries, k=k, n_planes=n_planes, n_tables=n_tables
            )
            rows.append(
                measure(
                    "lsh_ann_multi",
                    {"n_planes": n_planes, "n_tables": n_tables},
                    d,
                    lsh_cands(n_planes, n_tables),
                )
            )
    for n_clusters in (8, 16):
        cents = kmeans_centroids(emb, n_clusters, iters=1)
        for n_probe in (1, 2, 4):
            d = ivf_ann(
                emb,
                queries,
                k=k,
                n_clusters=n_clusters,
                n_probe=n_probe,
                centroids=cents,
            )
            rows.append(
                measure(
                    "ivf_ann",
                    {"n_clusters": n_clusters, "n_probe": n_probe},
                    d,
                    ivf_cands(cents, n_probe),
                )
            )

    # frontier: best recall at or below each candidate budget
    rows.sort(key=lambda r: (r["candidates"], -r["recall"]))
    frontier, best = [], -1.0
    for r in rows:
        if r["recall"] > best:
            frontier.append(r)
            best = r["recall"]
    print(
        json.dumps(
            {
                "frontier": [
                    {
                        "method": r["method"],
                        "params": r["params"],
                        "recall": r["recall"],
                        "candidates": r["candidates"],
                    }
                    for r in frontier
                ]
            }
        )
    )


if __name__ == "__main__":
    main()
