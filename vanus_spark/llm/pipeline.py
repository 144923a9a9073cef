"""End-to-end corpus cleaning: the composition a 100 TB training-data
pipeline actually runs.

    raw documents
      -> exact dedup           (content-hash groupBy)
      -> near-dup removal      (MinHash LSH -> Jaccard >= t, greedy
                                keep-lowest-id per pair)
      -> quality filter        (composite score >= threshold)
      -> language filter       (marker-based lang id)
      -> profile               (token counts etc. for training stats)

Every stage is a DataFrame transform; the whole pipeline is ONE lazy
plan, so Catalyst fuses the scans and the only shuffles are the two
dedup aggregations and the LSH bucket join. The greedy near-dup rule
(drop the higher id of every surviving pair) is the standard scalable
approximation of connected-component clustering — one anti-join
instead of an iterative algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel

from vanus_spark.llm.dedup import (
    DEFAULT_BUCKET_CAP,
    exact_dedup_rows,
    minhash_lsh_pairs,
    minhash_signatures_df,
    ngram_jaccard_pairs,
    shingles_df,
)
from vanus_spark.llm.textstats import lang_id_df, quality_score, text_profile


def corpus_clean(
    docs: DataFrame,
    jaccard_threshold: float = 0.8,
    quality_threshold: float = 0.5,
    languages: tuple[str, ...] = ("en",),
    id_col: str = "doc_id",
    text_col: str = "text",
    persist_signatures: bool = True,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Returns the cleaned corpus (surviving rows of ``docs``).

    The persisted artifact is the SIGNATURE table ``(doc_id, sig)`` —
    16 longs per doc, O(#docs × 128 B) — never the shingle arrays
    (~3× the text volume). Shingles are a transient expression inside
    the signature projection; for Jaccard verification they are
    recomputed only for the candidate-pair docs (a semi-join against
    ``docs`` — a tiny subset of the corpus). At 100 TB the persist
    becomes a written ``(doc_id, sig)`` table bucketed by band key;
    the plan shape is identical. ``bucket_cap`` bounds degenerate LSH
    buckets (see minhash_lsh_pairs)."""
    # Signatures are computed on the scan-rooted frame (narrow chain,
    # so the parallelism guard widens a single-file scan and the heavy
    # hash work never lands on an AQE-coalesced post-join frame), then
    # semi-joined down to the exact-dedup survivors — the only waste
    # is signatures for exact-dup copies, proportional to the dup rate.
    survivors = exact_dedup_rows(docs, text_col, id_col)
    surv_ids = survivors.select(id_col)
    sig = minhash_signatures_df(docs, text_col, id_col).join(
        surv_ids, id_col, "left_semi"
    )
    if persist_signatures:
        sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    cands = minhash_lsh_pairs(
        survivors, text_col, id_col, sig_df=sig, bucket_cap=bucket_cap
    )
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    cand_docs = docs.join(cand_ids, id_col, "left_semi")
    cand_sh = shingles_df(cand_docs, text_col, id_col)
    dup_pairs = ngram_jaccard_pairs(
        survivors, cands, text_col, id_col, shingle_df=cand_sh
    ).where(F.col("jaccard") >= jaccard_threshold)
    drop_ids = dup_pairs.select(F.col("id_b").alias(id_col)).distinct()
    survivors = survivors.join(drop_ids, id_col, "left_anti")
    survivors = survivors.where(
        F.round(quality_score(F.col(text_col)), 6) >= quality_threshold
    )
    langs = lang_id_df(survivors, text_col, id_col)
    survivors = survivors.join(
        langs.where(F.col("lang_pred").isin(*languages)).select(id_col), id_col, "left_semi"
    )
    return survivors


def corpus_clean_report(docs: DataFrame, **kwargs) -> DataFrame:
    """Cleaned corpus + per-document profile (the training-stats row)."""
    cleaned = corpus_clean(docs, **kwargs)
    return text_profile(cleaned)


def best_representative_dedup(
    docs: DataFrame,
    jaccard_threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    **near_dup_kwargs,
) -> DataFrame:
    """Cluster-aware dedup that keeps the BEST copy, not the lowest
    id: connected components over the near-dup pair graph, then each
    component keeps its highest-quality member (ties to lowest id).
    Production pipelines prefer this to greedy drop-the-higher-id —
    the survivor of a boilerplate cluster is the cleanest capture,
    not the one that happened to be crawled first.

    Shape: the pair graph + components as in duplicate_components;
    only the clustered docs (a small subset of the corpus) are scored,
    and the best-of-cluster pick is one per-component window over them.
    The result is ``docs`` minus the clustered docs whose id is not
    their component's best, one anti-join. A null-id doc is never kept,
    and every row of a kept id stays (a repeated best id keeps all its
    rows; a repeated non-best id loses all of them)."""
    from vanus_spark.llm.dedup import duplicate_components, near_dup_pairs

    pairs = near_dup_pairs(
        docs, jaccard_threshold, text_col, id_col, **near_dup_kwargs
    )
    comp = duplicate_components(pairs, id_col)
    scored = comp.join(docs.select(id_col, text_col), id_col).withColumn(
        "_q", F.round(quality_score(F.col(text_col)), 6)
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("_q"), F.asc(id_col)
    )
    dropped = (
        scored.withColumn("_best", F.first(id_col).over(w))
        .where(F.col(id_col) != F.col("_best"))
        .select(id_col)
    )
    return docs.where(F.col(id_col).isNotNull()).join(
        dropped, id_col, "left_anti"
    )
