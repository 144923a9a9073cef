"""interactive_mix: a fixed list of registry queries from
``__spark_entry__.queries()``, each forced through a noop write, in a
seeded order per pass.

The seed controls the generated sf0.1-shaped tables (including the
planted duplicates in ``documents``) and the order of every pass.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import time

import numpy as np

from perfbench import inputs

# Short filter / action / subscription fan-out / retry queries, a
# manifest-table writer, and best-representative dedup (llm.pipeline:
# LSH near-dup pairs, then connected components, an iterative driver
# loop). The list is sized so that a cold pass plus a timed pass fit one
# run; every entry but the dedup hash-matches its DuckDB twin on the
# generated tables.
QUERIES = [
    "filter_prefix",
    "filter_cesql",
    "action_math",
    "retry_refilter",
    "fanout_multi_sub",
    "merge_upsert",
    "dedup_best_rep",
]
# The DuckDB twin of dedup_best_rep takes about 2 minutes on these tables
# (it iterates a transitive closure), so its output is checked by the
# planted-duplicate invariants instead.
INVARIANT_CHECKED = {"dedup_best_rep"}
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.02
TABLES = ("events", "documents")


def load_registry(root: str):
    spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(root, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class InteractiveMix:
    name = "interactive_mix"
    step = "query"

    def __init__(self, spark, seed: int, work: str, tracer, root: str):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        registry = load_registry(root)
        self.queries = registry.queries()
        self.oracle = registry.oracle_sql()
        self.rng = np.random.default_rng(seed)

    def generate(self) -> None:
        rng, d = self.rng, os.path.join(self.work, "tables")
        self.tables = d
        inputs.write(inputs.events(rng, 100_000), f"{d}/events.parquet", inputs.EVENTS_SCHEMA)
        docs, self.near, self.exact = inputs.documents(rng, 5_000, NEAR_DUP_SHARE, EXACT_DUP_SHARE)
        inputs.write(docs, f"{d}/documents.parquet", inputs.DOCS_SCHEMA)
        self.doc_text = dict(zip(docs.doc_id, docs.text))

    def warm_up(self) -> None:
        """One untimed pass in list order; its collected outputs are the
        ones checked against the DuckDB twins after the measured region."""
        self.outputs = {name: self.queries[name](self.spark, self.tables).toPandas() for name in QUERIES}

    def measure(self, seconds: float) -> list[dict]:
        """Whole passes, each in a seeded order, until ``seconds`` have passed."""
        steps = []
        deadline = time.perf_counter() + seconds
        passes = 0
        while passes == 0 or time.perf_counter() < deadline:
            for name in self.rng.permutation(QUERIES):
                with self.tracer.span("query", query=str(name), round=passes) as rec:
                    with self.tracer.span("registry.build") as build:
                        df = self.queries[name](self.spark, self.tables)
                    df.write.format("noop").mode("overwrite").save()
                steps.append({"start": rec["start"], "end": rec["end"], "items": 1, "label": str(name), "span": rec, "build": build})
            passes += 1
        self.steps = steps
        return steps

    def check(self) -> tuple[int, int, dict]:
        import duckdb

        from tools.oracle_check import table_hash

        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
        wrong = set()
        for name in QUERIES:
            if name in INVARIANT_CHECKED:
                continue
            got, want = self.outputs[name], con.sql(self.oracle[name]).df()
            if (
                len(got) != len(want)
                or sorted(got.columns) != sorted(want.columns)
                or table_hash(got) != table_hash(want)
            ):
                wrong.add(name)
        con.close()
        # planted duplicates: never both members of a pair, and never two
        # identical texts, among the dedup survivors
        pairs = self.near + self.exact
        for name in INVARIANT_CHECKED:
            survivors = set(self.outputs[name]["doc_id"].tolist())
            texts = [self.doc_text[i] for i in survivors]
            if any(a in survivors and b in survivors for a, b in pairs) or len(set(texts)) != len(texts):
                wrong.add(name)
        attempted = len(self.steps)
        failed = sum(s["span"]["query"] in wrong for s in self.steps)
        return attempted, failed, {"wrong_queries": sorted(wrong)}

    def layer_metrics(self, steps: list[dict], usage) -> dict:
        med = statistics.median
        rows = []
        for s in steps:
            q, b = usage(s["start"], s["end"]), usage(s["build"]["start"], s["build"]["end"])
            wall = (s["end"] - s["start"]) / 1000.0
            build = (s["build"]["end"] - s["build"]["start"]) / 1000.0 - b["job_busy_s"]
            rows.append(
                {
                    "query": s["span"]["query"],
                    "py4j_calls": s["span"]["py4j_calls"],
                    "wall_s": wall,
                    "build_s": build,
                    "jobs": q["jobs"],
                    "task_s": q["task_s"],
                    "gap_s": max(0.0, wall - build - q["job_busy_s"]),
                }
            )
        m = {
            "interactive.build_s": med(r["build_s"] for r in rows),
            "interactive.py4j_calls_per_query": med(r["py4j_calls"] for r in rows),
            "interactive.jobs_per_query": med(r["jobs"] for r in rows),
            "interactive.task_s": med(r["task_s"] for r in rows),
            "interactive.driver_gap_s": med(r["gap_s"] for r in rows),
        }
        m["curate.components_s"] = med(r["wall_s"] for r in rows if r["query"] == "dedup_best_rep")
        m["llm.pipeline.survivors"] = len(self.outputs["dedup_best_rep"])
        m.update(self.dedup_pairs)
        return m, {"queries": rows}

    def trace_after(self) -> None:
        """Candidate and verified near-dup pair counts, with the
        parameters dedup_best_rep uses (trace-only, after timing)."""
        from vanus_spark.llm.dedup import minhash_lsh_pairs, near_dup_pairs
        from vanus_spark.sources import load_table

        with self.tracer.probe():
            docs = load_table(self.spark, self.tables, "documents")
            cand = minhash_lsh_pairs(docs, num_hashes=16, bands=8).count()
            verified = near_dup_pairs(docs, 0.8, num_hashes=16, bands=8).count()
        self.dedup_pairs = {
            "llm.dedup.candidate_pairs": cand,
            "llm.dedup.verified_pairs": verified,
            "llm.dedup.pair_precision": verified / cand if cand else 0.0,
        }

    def trace_hooks(self) -> None:
        pass
