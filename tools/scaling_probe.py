"""Scaling probe: how do the headline LLM operators grow with corpus
size? Replicates the sf0.1 documents corpus R times (deterministic
word-rotation per replica, so replicas are mostly UNIQUE documents —
measuring throughput scaling, not dedup collapse) and times each
operator at every multiple.

Usage: python tools/scaling_probe.py [R ...]   (default 1 2 5 10)
Writes one JSON line per (operator, R) and a summary table; the
SCALING.md report interprets the result.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")

from pyspark.sql import DataFrame, functions as F  # noqa: E402


def replicate_docs(docs: DataFrame, r: int) -> DataFrame:
    """R near-unique copies: replica k rotates each text by k words and
    offsets ids — deterministic, shingle-distinct, same length stats."""
    if r == 1:
        return docs
    reps = F.explode(F.sequence(F.lit(0), F.lit(r - 1))).alias("rep")
    base = docs.select("doc_id", "text", "lang", reps)
    words = F.split(F.col("text"), " ")

    def rotated(w):
        k = F.col("rep") % F.greatest(F.size(w), F.lit(1))
        return F.concat(
            F.slice(w, k + 1, F.size(w) - k), F.slice(w, 1, k)
        )

    return base.select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
        F.array_join(rotated(words), " ").alias("text"),
        "lang",
    )


def main() -> None:
    from vanus_spark import get_spark
    from vanus_spark.sources import load_table

    multiples = [int(a) for a in sys.argv[1:]] or [1, 2, 5, 10]
    spark = get_spark("scaling_probe")
    docs0 = load_table(spark, "/root/testdata/sf0.1", "documents")

    def ops(docs: DataFrame, n_docs: int) -> dict:
        from vanus_spark.llm.dedup import (
            minhash_lsh_pairs,
            near_dup_pairs,
            simhash_df,
        )
        from vanus_spark.llm.graphs import pagerank
        from vanus_spark.llm.pipeline import best_representative_dedup, corpus_clean
        from vanus_spark.llm.qualityrules import (
            intra_doc_line_dedup,
            nb_score,
            nb_train,
        )
        from vanus_spark.llm.textstats import lang_id_df
        from vanus_spark.llm.versioning import hash_split

        return {
            "minhash_lsh_pairs": lambda: minhash_lsh_pairs(
                docs, num_hashes=16, bands=8
            ).count(),
            "near_dup_pairs": lambda: near_dup_pairs(
                docs, threshold=0.8, num_hashes=16, bands=8
            ).count(),
            "simhash": lambda: simhash_df(docs, bits=16).count(),
            "lang_id": lambda: lang_id_df(docs).count(),
            "corpus_clean": lambda: corpus_clean(docs).count(),
            "best_rep_dedup": lambda: best_representative_dedup(
                docs, num_hashes=16, bands=8
            ).count(),
            "nb_classifier": lambda: nb_score(
                docs, *nb_train(
                    docs.withColumn(
                        "label", (F.col("lang") == "en").cast("int")
                    )
                ),
            ).count(),
            "intra_doc_dedup": lambda: intra_doc_line_dedup(docs).count(),
            "hash_split": lambda: hash_split(docs).count(),
            "pagerank3": lambda: pagerank(
                docs.select(
                    F.col("doc_id").alias("src"),
                    ((F.col("doc_id") * 7 + 3) % n_docs).alias("dst"),
                ),
                iters=3,
            ).count(),
        }

    def corpus_ops(docs: DataFrame, n_docs: int) -> dict:
        """Round-5 additions: the corpus-management family + a
        HEAVY-TAILED pagerank (dst = floor(n/u), u uniform — dst=1
        receives ~half of ALL edges, the skew-join/partial-agg stress
        the uniform out-degree-1 fixture never exercised)."""
        from vanus_spark.llm.curation import shard_assignment
        from vanus_spark.llm.dedup import exact_dedup, md5_long, normalize_text
        from vanus_spark.llm.graphs import pagerank
        from vanus_spark.llm.qualityrules import gopher_flags
        from vanus_spark.llm.textstats import lang_id_df, quality_score
        from vanus_spark.llm.versioning import (
            corpus_diff,
            deterministic_shuffle,
            diff_summary,
        )

        # a perturbed snapshot: ~9% of ids removed, ~14% of texts
        # changed, ~5% added — the realistic diff workload
        removed = docs.where(F.col("doc_id") % 11 != 0)
        changed = removed.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
            "lang",
        )
        snapshot2 = changed.unionByName(
            docs.where(F.col("doc_id") % 19 == 0).select(
                (F.col("doc_id") + 50_000_000).alias("doc_id"), "text", "lang"
            )
        )

        def funnel() -> int:
            uniq = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
            gopher = gopher_flags(docs).select(
                "doc_id", F.col("keep").alias("g_keep")
            )
            langs = lang_id_df(docs).select(
                "doc_id", (F.col("lang_pred") == "en").alias("l_keep")
            )
            staged = (
                docs.select(
                    "doc_id",
                    (F.round(quality_score(F.col("text")), 6) >= 0.5).alias(
                        "q_keep"
                    ),
                )
                .join(uniq.withColumn("u_keep", F.lit(True)), "doc_id", "left")
                .join(gopher, "doc_id")
                .join(langs, "doc_id")
            )
            return staged.agg(
                F.count("*"),
                F.sum(F.coalesce("u_keep", F.lit(False)).cast("long")),
                F.sum((F.col("g_keep") & F.col("q_keep")).cast("long")),
            ).count()

        def manifest() -> int:
            shards = shard_assignment(docs, target_tokens=2000, group_col="lang")
            checks = docs.select(
                "doc_id", md5_long(normalize_text(F.col("text"))).alias("_dg")
            )
            mod = 2_305_843_009_213_693_951
            return (
                shards.join(checks, "doc_id")
                .groupBy("lang", "shard")
                .agg(
                    F.count("*"),
                    F.sum("n_tokens"),
                    F.pmod(
                        F.sum(F.col("_dg").cast("decimal(38,0)")), F.lit(mod)
                    ),
                )
                .count()
            )

        u = 1 + F.pmod(md5_long(F.col("doc_id")), F.lit(n_docs))
        skew_edges = docs.select(
            F.col("doc_id").alias("src"),
            F.floor(F.lit(n_docs) / u).cast("long").alias("dst"),
        )
        return {
            "corpus_diff": lambda: diff_summary(
                corpus_diff(docs, snapshot2)
            ).count(),
            "corpus_shuffle": lambda: deterministic_shuffle(docs, 8).count(),
            "export_manifest": manifest,
            "quality_funnel": funnel,
            "pagerank3_skew": lambda: pagerank(skew_edges, iters=3).count(),
        }

    def r5_ops(docs: DataFrame, n_docs: int) -> dict:
        """Round-5 operators: EWMA (synthetic per-doc event values),
        weighted sampling, hard negatives (fixed query count — cost
        should track the corpus scan), triangles (ring+chord+hash
        graph), sketch aggregations."""
        from vanus_spark.llm.curation import weighted_sample
        from vanus_spark.operators.timeseries import ewma

        ts = F.timestamp_seconds(1_700_000_000 + (F.col("doc_id") % 86_400))
        evs = docs.select(
            "doc_id",
            (F.col("doc_id") % 500).alias("key"),
            ts.alias("ts"),
            (F.col("doc_id") % 97).cast("double").alias("value"),
        )

        def triangles() -> int:
            e = None
            for expr in (
                (F.col("doc_id") + 1) % n_docs,
                (F.col("doc_id") + 2) % n_docs,
                (F.col("doc_id") * 7 + 3) % n_docs,
            ):
                part = docs.select(
                    F.col("doc_id").alias("src"), expr.alias("dst")
                )
                e = part if e is None else e.unionByName(part)
            und = (
                e.where(F.col("src") != F.col("dst"))
                .select(
                    F.least("src", "dst").alias("a"),
                    F.greatest("src", "dst").alias("b"),
                )
                .distinct()
            )
            tri = (
                und.alias("e1")
                .join(und.alias("e2"), F.col("e1.b") == F.col("e2.a"))
                .join(
                    und.alias("e3"),
                    (F.col("e1.a") == F.col("e3.a"))
                    & (F.col("e2.b") == F.col("e3.b")),
                )
            )
            return tri.agg(F.count("*")).count()

        return {
            "ewma": lambda: ewma(
                evs, "value", "ts", "key", "doc_id", k=32
            ).agg(F.sum("ewma")).count(),
            "weighted_sample": lambda: weighted_sample(
                docs.withColumn("w", (F.col("doc_id") % 13 + 1).cast("double")),
                "w",
                k=100,
            ).count(),
            "triangles": triangles,
            "sketch_stats": lambda: evs.groupBy("key")
            .agg(
                F.approx_count_distinct("doc_id", 0.02),
                F.percentile_approx("value", [0.5, 0.95, 0.99], 10_000),
            )
            .count(),
        }

    def r5b_ops(docs: DataFrame, n_docs: int) -> dict:
        """Late-round-5 operators: BM25 (fixed query count — cost should
        track index build), fuzzy name pairs (ID-like names synthesized
        from doc ids, pair volume grows with colliding neighborhoods),
        gap-fill + CUSUM (synthetic per-key series), heavy hitters."""
        from vanus_spark.llm.search import bm25_search, tokens_df
        from vanus_spark.operators.fuzzy import fuzzy_self_pairs
        from vanus_spark.operators.sketch_topk import heavy_hitters
        from vanus_spark.operators.timeseries import cusum, gapfill

        ts = F.timestamp_seconds(
            1_700_000_000 + (F.col("doc_id") % 500) * 3600 * 3
        )
        evs = docs.select(
            "doc_id",
            (F.col("doc_id") % 200).alias("key"),
            ts.alias("ts"),
            (F.col("doc_id") % 97).cast("double").alias("value"),
        )
        names = docs.select(
            F.col("doc_id").alias("id"),
            F.format_string("Name#%09d", F.col("doc_id")).alias("name"),
        )
        queries = docs.where(F.col("doc_id").isin(3, 17, 31, 59)).select(
            F.col("doc_id").alias("query_id"),
            F.substring("text", 1, 30).alias("query_text"),
        )
        mt_state: dict = {}

        def merge_probe() -> int:
            """COW MERGE cost vs table size: write_full once (warm
            call), then time a 100-key upsert — the pruned rewrite
            should track the AFFECTED BUCKETS' size, not the table."""
            import tempfile

            from vanus_spark.sources.manifest_table import ManifestTable

            if "t" not in mt_state:
                tmp = tempfile.mkdtemp(prefix="vs_probe_mt_")
                t = ManifestTable(
                    docs.sparkSession, f"{tmp}/t", "doc_id", n_buckets=64
                )
                t.write_full(docs.select("doc_id", "text"))
                mt_state["t"] = t
            t = mt_state["t"]
            upd = docs.where(F.col("doc_id") % 997 == 0).select(
                "doc_id", F.upper("text").alias("text")
            )
            return t.merge(upd)["rewritten_buckets"]

        return {
            "bm25_search": lambda: bm25_search(docs, queries, k=10).count(),
            "merge_pruned": merge_probe,
            "fuzzy_pairs": lambda: fuzzy_self_pairs(names, "name", "id").count(),
            "gapfill": lambda: gapfill(evs, "ts", "key", "value").count(),
            "cusum": lambda: cusum(
                evs, "value", "ts", "key", "doc_id", target=48.0, slack=5.0
            ).agg(F.sum("cusum")).count(),
            "heavy_hitters": lambda: heavy_hitters(
                tokens_df(docs), "term", k=25, capacity=1024
            ).count(),
        }

    def r5c_ops(docs: DataFrame, n_docs: int) -> dict:
        """Round-5 fourth-session operators: Bloom-pruned join vs the
        plain shuffle join it replaces (broadcast disabled — the
        operator targets dims ABOVE the broadcast threshold; at real
        scale the dim would be too big to ship whole), and the
        perceptual-hash near-dup chain (synthesize -> decode -> aHash
        -> pigeonhole pairs; pair volume tracks variant-group count)."""
        from vanus_spark.llm.multimodal import (
            ahash_near_pairs,
            image_ahash,
            synthesize_ppm_block_images,
        )
        from vanus_spark.operators.bloom import bloom_prune_join

        spark = docs.sparkSession
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # docs rows are too few to expose shuffle cost — widen the fact
        # 80x (payload string ~ the row weight a real fact table has);
        # dim keys hit ~0.5% of the fact
        fact = (
            docs.select("doc_id")
            .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(79))))
            .select(
                (F.col("doc_id") * 80 + F.col("rep")).alias("k"),
                F.sha2(F.concat(F.col("doc_id").cast("string")), 256).alias(
                    "payload"
                ),
            )
        )
        dim = docs.select((F.col("doc_id") * 80).alias("dk")).where(
            F.col("dk") % (199 * 80) == 0
        )

        def timed_join(j):
            j.write.format("noop").mode("overwrite").save()
            return j.count()

        return {
            "plain_join": lambda: timed_join(fact.join(dim, fact.k == dim.dk)),
            "bloom_join": lambda: timed_join(
                bloom_prune_join(fact, dim, "k", "dk", num_bits=1 << 17)
            ),
            "ahash_neardup": lambda: ahash_near_pairs(
                image_ahash(synthesize_ppm_block_images(docs)), max_hamming=2
            ).count(),
        }

    op_set = {
        "corpus": corpus_ops,
        "r5": r5_ops,
        "r5b": r5b_ops,
        "r5c": r5c_ops,
    }.get(os.environ.get("PROBE_SET", ""), ops)
    results: dict[str, dict[int, float]] = {}
    for r in multiples:
        docs = replicate_docs(docs0, r).localCheckpoint(eager=True)
        n = docs.count()
        for name, fn in op_set(docs, n).items():
            fn()  # warm the shape
            t0 = time.perf_counter()
            out = fn()
            dt = round(time.perf_counter() - t0, 2)
            results.setdefault(name, {})[r] = dt
            print(
                json.dumps(
                    {"op": name, "multiple": r, "rows": n, "sec": dt, "out": out}
                ),
                flush=True,
            )
        docs.unpersist()

    print("\n== scaling summary (seconds; columns = corpus multiple) ==")
    header = "op".ljust(20) + "".join(f"{r:>8}x" for r in multiples)
    print(header)
    for name, times in results.items():
        row = name.ljust(20) + "".join(
            f"{times.get(r, float('nan')):>9.2f}" for r in multiples
        )
        base = times.get(multiples[0])
        last = times.get(multiples[-1])
        if base and last:
            row += f"   ({last / base:.1f}x time at {multiples[-1]}x data)"
        print(row)


if __name__ == "__main__":
    main()
