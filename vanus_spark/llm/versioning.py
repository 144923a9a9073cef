"""Corpus versioning operators: snapshot diff and deterministic
training-order shuffle.

A training-data pipeline re-crawls and re-cleans continuously; two
needs fall out that the dedup/cleaning operators don't cover:

- ``corpus_diff``: classify every document across two corpus
  snapshots as added / removed / changed / unchanged, by content
  digest. At 100 TB this is one full outer join keyed by doc id —
  shuffle ~#docs rows of (id, digest), never the text (the digests
  are computed in the scan projection, so only 32-byte hashes move).

- ``deterministic_shuffle``: a seeded, reproducible global shuffle +
  shard assignment for training order. Hash-derived order keys mean
  no global sort of data rows is required at scale: shard = hash %
  n_shards is a map-side computation, and the within-shard position
  window partitions BY SHARD (each window task sees ~N/n_shards
  rows, never a single global-window task).

No counterpart in the reference (vanus is an event bus); these are
the Spark-native corpus-management layer around its LLM-pipeline
surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from vanus_spark.llm.dedup import md5_long, normalize_text
from vanus_spark.session import local_frame


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, status, old_digest, new_digest): per-document diff between
    two corpus snapshots.

    status: 'added' (id only in ``new``), 'removed' (only in
    ``old``), 'changed' (both, digest differs), 'unchanged'. Digests
    are md5 of the normalized text (same canon as exact dedup), so a
    whitespace-only edit is 'unchanged' — content diff, not byte
    diff."""
    o = old.select(
        F.col(id_col),
        F.md5(normalize_text(F.col(text_col))).alias("old_digest"),
    )
    n = new.select(
        F.col(id_col),
        F.md5(normalize_text(F.col(text_col))).alias("new_digest"),
    )
    joined = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") == F.col("new_digest"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        F.col(id_col), status.alias("status"), "old_digest", "new_digest"
    )


def diff_summary(diff: DataFrame) -> DataFrame:
    """(status, n_docs): the snapshot-over-snapshot change report."""
    return diff.groupBy("status").agg(F.count("*").alias("n_docs"))


def deterministic_shuffle(
    docs: DataFrame,
    n_shards: int = 8,
    seed: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, shard, pos, shuffle_key): seeded reproducible global
    shuffle for training order.

    shuffle_key = md5_long(seed || id) — uniform, engine-portable
    (DuckDB re-derives it exactly). shard = key % n_shards; pos =
    rank of the key within its shard. Re-running with the same seed
    reproduces the exact order; a new seed gives an independent
    permutation. The window partitions by shard, so the sort is
    n_shards parallel ~N/n_shards sorts, not one global task."""
    key = md5_long(F.col(id_col), seed=seed)
    w = Window.partitionBy("shard").orderBy("shuffle_key", id_col)
    return (
        docs.select(
            F.col(id_col),
            key.alias("shuffle_key"),
            F.pmod(key, F.lit(n_shards)).cast("int").alias("shard"),
        )
        .withColumn("pos", F.row_number().over(w))
        .select(id_col, "shard", "pos", "shuffle_key")
    )


def hash_split(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    seed: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment by id hash (the
    standard leakage-safe split: membership is a pure function of
    (seed, id), so re-runs, incremental appends, and different
    machines all agree — no sampling state to persist).

    ``weights`` maps split name -> fraction (default 0.98/0.01/0.01);
    names are assigned in insertion order over contiguous hash
    ranges. Zero shuffle: one hash + one CASE per row."""
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    total = float(sum(weights.values()))
    u = (md5_long(F.col(id_col), seed=seed) % 1_000_000) / 1_000_000.0
    expr, acc = None, 0.0
    names = list(weights)
    for name in names[:-1]:
        # round the cumulative threshold so 0.8+0.1 is 0.9, not
        # 0.9000000000000001 — u is a 1e-6-granular double and the
        # boundary must be the same double everywhere
        acc = round(acc + weights[name] / total, 12)
        cond = u < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    split = (
        F.lit(names[0]) if expr is None else expr.otherwise(names[-1])
    )
    return docs.withColumn("split", split)


def _flatten_schema(schema, prefix: str = "") -> dict[str, str]:
    """{dotted.path: typeName} for every leaf AND interior field of a
    StructType (arrays render as element<...> one level deep)."""
    from pyspark.sql.types import ArrayType, StructType

    out: dict[str, str] = {}
    for f in schema.fields:
        path = f"{prefix}{f.name}"
        dt = f.dataType
        if isinstance(dt, StructType):
            out[path] = "struct"
            out.update(_flatten_schema(dt, path + "."))
        elif isinstance(dt, ArrayType):
            out[path] = f"array<{dt.elementType.typeName()}>"
        else:
            out[path] = dt.typeName()
    return out


def schema_drift(spark, old_schema, new_schema) -> DataFrame:
    """(field, status, old_type, new_type): the schema-contract diff
    between two payload snapshots — 'added', 'removed', 'type_changed'
    or 'unchanged' per (nested) field path. Pairs with
    ``schema_infer.infer_data_schema``: infer both corpus versions'
    payload schemas (one bounded sample pass each), then diff the
    RESULTING driver-side structs — the corpora themselves are never
    rescanned, so the report costs the same at any corpus size. This
    is the detection half of a data contract: a pipeline gates its
    deploy on 'no removed/type_changed fields'."""
    old_f = _flatten_schema(old_schema) if old_schema is not None else {}
    new_f = _flatten_schema(new_schema) if new_schema is not None else {}
    rows = []
    for path in sorted(set(old_f) | set(new_f)):
        o, n = old_f.get(path), new_f.get(path)
        if o is None:
            status = "added"
        elif n is None:
            status = "removed"
        elif o != n:
            status = "type_changed"
        else:
            status = "unchanged"
        rows.append({"field": path, "status": status, "old_type": o, "new_type": n})
    return local_frame(
        spark, rows, "field string, status string, old_type string, new_type string"
    )


def population_stability(
    base: DataFrame,
    cur: DataFrame,
    value_col: str,
    edges: list[float],
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column — the CONTENT-distribution counterpart of ``schema_drift``
    (shape) and ``corpus_diff`` (membership): did the value
    distribution move between corpus versions?

    Buckets are explicit shared ``edges`` (bucket = #edges <= value, so
    values below the first edge land in bucket 0); per-bucket
    fractions are clamped at ``eps`` before the log so empty buckets
    contribute a finite penalty (the standard PSI convention).

    Returns one row per occupied bucket: (bucket, base_frac, cur_frac,
    term) plus the total ``psi`` repeated on each row.  PSI > 0.25 is
    the conventional "significant shift" flag.

    Scale: one partial-aggregate shuffle per snapshot (bucket counts),
    everything after runs on <= len(edges)+1 rows. The edges array is
    ONE expression literal (the py4j element-per-call trap), and the
    bucket index is a filter-count over it — no CASE-chain codegen
    blowup for fine grids.
    """
    arr = F.expr(
        "array(" + ",".join(f"{float(e)!r}D" for e in edges) + ")"
    )

    def bucket_counts(df: DataFrame, out: str) -> DataFrame:
        b = F.size(F.filter(arr, lambda e: F.col(value_col) >= e)).alias(
            "bucket"
        )
        return df.select(b).groupBy("bucket").agg(F.count("*").alias(out))

    joined = (
        bucket_counts(base, "base_n")
        .join(bucket_counts(cur, "cur_n"), "bucket", "full")
        .select(
            "bucket",
            F.coalesce("base_n", F.lit(0)).alias("base_n"),
            F.coalesce("cur_n", F.lit(0)).alias("cur_n"),
        )
    )
    totals = joined.agg(
        F.sum("base_n").alias("_bt"), F.sum("cur_n").alias("_ct")
    )
    p = F.greatest(F.col("base_n") / F.col("_bt"), F.lit(eps))
    q = F.greatest(F.col("cur_n") / F.col("_ct"), F.lit(eps))
    detail = joined.join(F.broadcast(totals)).select(
        "bucket",
        F.round(F.col("base_n") / F.col("_bt"), 9).alias("base_frac"),
        F.round(F.col("cur_n") / F.col("_ct"), 9).alias("cur_frac"),
        F.round((p - q) * F.log(p / q), 9).alias("term"),
    )
    psi = detail.agg(F.round(F.sum("term"), 6).alias("psi"))
    return detail.join(F.broadcast(psi))


def js_divergence(
    tokens_a: DataFrame, tokens_b: DataFrame, term_col: str = "term"
) -> DataFrame:
    """Jensen-Shannon divergence between two token-frequency
    distributions — PSI's bounded, symmetric sibling for CATEGORICAL
    distributions (vocabularies): JSD = KL(P||M)/2 + KL(Q||M)/2 with
    M = (P+Q)/2, which is finite on disjoint support (terms absent
    from one side contribute p/2 * ln 2 — no eps clamping needed, so
    the result is exactly the textbook quantity both engines agree
    on). Emits one row: shared/only-a/only-b vocabulary accounting,
    token totals, jsd_nats, and jsd_bits (= nats / ln 2, in [0, 1]).

    Scale: one map-side-combined count shuffle per side, one full
    outer join keyed by term (counts only — the text never moves),
    totals broadcast from a 1-row aggregate, one final fold. The
    standard drift check run between corpus versions / mixture
    sources before a retrain."""
    ca = tokens_a.groupBy(term_col).agg(F.count("*").alias("_na"))
    cb = tokens_b.groupBy(term_col).agg(F.count("*").alias("_nb"))
    j = ca.join(cb, term_col, "full").select(
        F.coalesce("_na", F.lit(0)).alias("_na"),
        F.coalesce("_nb", F.lit(0)).alias("_nb"),
    )
    totals = j.agg(F.sum("_na").alias("_ta"), F.sum("_nb").alias("_tb"))
    wide = j.crossJoin(F.broadcast(totals))
    p = F.col("_na") / F.col("_ta")
    q = F.col("_nb") / F.col("_tb")
    m = (p + q) / 2
    term = F.when(p > 0, p * F.log(p / m) / 2).otherwise(0.0) + F.when(
        q > 0, q * F.log(q / m) / 2
    ).otherwise(0.0)
    return wide.agg(
        F.count("*").alias("vocab"),
        F.sum((F.col("_na") > 0).cast("long")).alias("vocab_a"),
        F.sum((F.col("_nb") > 0).cast("long")).alias("vocab_b"),
        F.first("_ta").alias("n_tokens_a"),
        F.first("_tb").alias("n_tokens_b"),
        F.round(F.sum(term), 6).alias("jsd_nats"),
        F.round(F.sum(term) / F.lit(0.6931471805599453), 6).alias(
            "jsd_bits"
        ),
    )
