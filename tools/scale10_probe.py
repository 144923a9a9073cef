"""10x scale probe for the heaviest registry queries (round-5 verdict
next-step #8): no sf1 fixture exists, so this materializes a synthetic
one — an sf-dir-shaped directory whose `documents` and `customer`
tables are DETERMINISTIC 10x replications of sf0.1 (word-rotated texts
/ offset custkeys, so replicas are distinct records, not dedup
collapse) and whose other tables symlink to sf0.1 — then times the
REAL registry queries from __spark_entry__.py against both dirs.

The question this answers is the one that matters at 100 TB: does each
heavy query's wall time grow ~linearly (or better) when its input
grows 10x, or does a hidden quadratic candidate generator blow up?

Usage: python tools/scale10_probe.py [query ...]
Writes one JSON line per (query, scale) and a ratio summary table
(SCALING.md records the result).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

# the checkout this script sits in
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ.setdefault("PYTHONPATH", ROOT)

from pyspark.sql import functions as F  # noqa: E402

BASE = "/root/testdata/sf0.1"
DEFAULT_QUERIES = [
    "entity_resolution",
    "er_golden_record",
    "dedup_lsh_recall",
    "dedup_jaccard_exact",
    "video_phash_neardup",
    "link_communities",
    "corpus_ngram_diversity",
    # round-7 additions (verdict #7): the r6 newcomers + the fixed
    # hilbert key + the new approx diversity path
    "pack_sft_masks",
    "semantic_dedup_calibration",
    "er_fellegi_sunter",
    "link_ppr",
    "layout_hilbert",
    "corpus_ngram_diversity_approx",
    # round-7 second session: the inference suite's data-touching
    # members (anova/spearman are single partial-agg shuffles — flat
    # by construction, not probed)
    "events_ks_test",
    "events_ab_fdr",
    "orders_bootstrap_ci",
    "corpus_jsd",
]
REPLICAS = 10


def build_scaled_dir(spark) -> str:
    out = tempfile.mkdtemp(prefix="sfx10_")
    scaled_tables = (
        "documents.parquet",
        "customer.parquet",
        "embeddings.parquet",
        "events.parquet",
        "orders.parquet",
        "lineitem.parquet",
    )
    for name in os.listdir(BASE):
        if name not in scaled_tables:
            os.symlink(os.path.join(BASE, name), os.path.join(out, name))

    from vanus_spark.sources import load_table

    reps = F.explode(F.sequence(F.lit(0), F.lit(REPLICAS - 1))).alias("rep")

    docs = load_table(spark, BASE, "documents")
    words = F.split(F.col("text"), " ")
    k = F.col("rep") % F.greatest(F.size(words), F.lit(1))
    rotated = F.concat(
        F.slice(words, k + 1, F.size(words) - k), F.slice(words, 1, k)
    )
    docs.select(*docs.columns, reps).select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
        F.array_join(rotated, " ").alias("text"),
        *[c for c in docs.columns if c not in ("doc_id", "text")],
    ).write.parquet(os.path.join(out, "documents.parquet"))

    # customer: replicas also shift acctbal by a per-rep lattice
    # constant so BLOCKING KEYS (nation x balance-block in the linkage
    # queries) grow with the data — unshifted replicas would pile 10x
    # members into each existing block and the blocked candidate join
    # would grow 100x, an artifact of replication rather than a
    # property of the operator (real corpus growth spans new blocks;
    # the same reason documents get word-rotation above)
    cust = load_table(spark, BASE, "customer")
    cust.select(*cust.columns, reps).select(
        (F.col("c_custkey") + F.col("rep") * 10_000_000).alias("c_custkey"),
        F.round(F.col("c_acctbal") + F.col("rep") * 11170.0, 2).alias(
            "c_acctbal"
        ),
        *[c for c in cust.columns if c not in ("c_custkey", "c_acctbal")],
    ).write.parquet(os.path.join(out, "customer.parquet"))

    # embeddings: replicas are dimension-ROTATED copies (coordinate
    # permutation by rep) — norms and within-replica geometry are
    # preserved, but a vector and its rotation are as dissimilar as
    # random pairs, so the TRUE near-dup pair volume stays linear in
    # the replica count (a small additive shift would leave replicas
    # within every similarity threshold and quadratically inflate the
    # true pair set — fixture artifact, not operator behavior)
    emb = load_table(spark, BASE, "embeddings")
    rotated = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda j: F.element_at(
            F.col("embedding"), ((j + F.col("rep")) % 64 + 1).cast("int")
        ),
    )
    emb.select(*emb.columns, reps).select(
        (F.col("vec_id") + F.col("rep") * 1_000_000).alias("vec_id"),
        rotated.alias("embedding"),
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    ).write.parquet(os.path.join(out, "embeddings.parquet"))

    # events: replicas are NEW USERS (user_id shifted per rep) with
    # values nudged onto fresh lattice points — per-user aggregates
    # (KS, Mann-Whitney, segment A/B) see 10x the population, and the
    # distinct-value tables the prefix machinery walks grow with the
    # data instead of piling replicas onto existing support points
    ev = load_table(spark, BASE, "events")
    ev.select(*ev.columns, reps).select(
        (F.col("event_id") + F.col("rep") * 100_000_000).alias("event_id"),
        (F.col("user_id") + F.col("rep") * 1_000_000).alias("user_id"),
        F.round(F.col("value") + F.col("rep") * 0.07, 2).alias("value"),
        *[
            c
            for c in ev.columns
            if c not in ("event_id", "user_id", "value")
        ],
    ).write.parquet(os.path.join(out, "events.parquet"))

    # orders: fresh order keys so the bootstrap's per-key md5 draws
    # are new draws, not 10 copies of the same weight vector
    orders = load_table(spark, BASE, "orders")
    orders.select(*orders.columns, reps).select(
        (F.col("o_orderkey") + F.col("rep") * 100_000_000).alias(
            "o_orderkey"
        ),
        (F.col("o_custkey") + F.col("rep") * 10_000_000).alias("o_custkey"),
        *[
            c
            for c in orders.columns
            if c not in ("o_orderkey", "o_custkey")
        ],
    ).write.parquet(os.path.join(out, "orders.parquet"))

    # lineitem (round 9: the backfill probes include per-part lineitem
    # stats): order keys shift in lockstep with orders so order-line
    # joins stay consistent; part/supp keys stay — 10x growth piles
    # lines onto the FIXED catalog, which is what real volume growth
    # does to per-part aggregates
    li = load_table(spark, BASE, "lineitem")
    li.select(*li.columns, reps).select(
        (F.col("l_orderkey") + F.col("rep") * 100_000_000).alias(
            "l_orderkey"
        ),
        *[c for c in li.columns if c != "l_orderkey"],
    ).write.parquet(os.path.join(out, "lineitem.parquet"))
    return out


def main() -> None:
    import importlib.util

    from vanus_spark import get_spark
    from vanus_spark.queries import dedup, graphs

    names = sys.argv[1:] or DEFAULT_QUERIES
    spec = importlib.util.spec_from_file_location(
        "entry_probe", os.path.join(ROOT, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    spark = get_spark("scale10_probe")
    qs = entry.queries()

    scaled = build_scaled_dir(spark)
    print(f"# scaled dir: {scaled} ({REPLICAS}x documents/customer)")

    def run(name: str, sf_dir: str) -> float:
        # isolate: per-session memos (ER chain, Jaccard pairs) would let
        # the second of a shared pair measure ~0; clear them so each
        # query pays its full chain here
        graphs._ER_TAGGED_MEMO.clear()
        dedup._JACCARD_05_MEMO.clear()
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    results = []
    for name in names:
        base_t = min(run(name, BASE) for _ in range(2))
        big_t = min(run(name, scaled) for _ in range(2))
        ratio = big_t / max(base_t, 1e-9)
        row = {
            "query": name,
            "sf0.1_sec": round(base_t, 2),
            "x10_sec": round(big_t, 2),
            "time_ratio_at_10x_data": round(ratio, 2),
        }
        results.append(row)
        print(json.dumps(row))

    print("\n| query | sf0.1 | 10x | time ratio |")
    print("|---|---|---|---|")
    for r in results:
        flag = " **super-linear**" if r["time_ratio_at_10x_data"] > 10 else ""
        print(
            f"| {r['query']} | {r['sf0.1_sec']} s | {r['x10_sec']} s "
            f"| {r['time_ratio_at_10x_data']}x{flag} |"
        )
    shutil.rmtree(scaled, ignore_errors=True)


if __name__ == "__main__":
    main()
