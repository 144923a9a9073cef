"""Similarity and search: embedding top-k, ANN indexes and recall,
embedding analytics, BM25, hybrid ranking and search evaluation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from vanus_spark.queries.common import (
    _COSINE_SQL,
    _NORM,
    _kmeans_step_ctes,
    _planes_bucket_sql,
    _t,
)


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vanus_spark.llm.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    out = cosine_topk(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_similarity_neardup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vanus_spark.llm.similarity import embedding_near_dup

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup(emb, threshold=0.5, n_planes=6).select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


def q_similarity_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vanus_spark.llm.similarity import lsh_ann

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    return lsh_ann(emb, queries, k=5, n_planes=6).select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_similarity_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN (similarity.py ivf_ann): 1-iteration seeded
    k-means inverted lists, 2-probe search, cosine top-5. The oracle
    re-derives the SAME centroids in SQL (seed = 8 lowest ids, one
    Lloyd step, means rounded to 3 decimals) — exercising the whole
    train/assign/probe chain, not just the final ranking."""
    from vanus_spark.llm.similarity import ivf_ann

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    out = ivf_ann(emb, queries, k=5, n_clusters=8, n_probe=2, iters=1)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining over the embeddings corpus: per query
    vector (vec_id < 8), the top-5 most similar vectors with a
    DIFFERENT label — the contrastive-training counterpart of
    similarity_topk, broadcast queries + one corpus scan + per-query
    top-k window."""
    from vanus_spark.llm.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    out = hard_negatives(emb, emb.where(F.col("vec_id") < 8), k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        "neg_label",
        F.round("cosine", 6).alias("cosine"),
        "rank",
    )


def q_embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: 4 subvector k-means codebooks (8
    codewords each, seeded + 1 Lloyd iteration), per-vector codes +
    reconstruction MSE. The chosen codeword's squared distance IS the
    subvector error, so Spark and the oracle share one float path
    (the |x|^2 - 2x.c + |c|^2 expansion, identical parenthesization)."""
    from vanus_spark.llm.similarity import pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    out = pq_encode(emb, m=4, n_clusters=8, iters=1, dim=64)
    return out.select(
        "vec_id",
        F.to_json("codes").alias("codes_json"),
        F.round("mse", 9).alias("mse"),
    )


def q_similarity_lsh_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified LSH ANN: 3 independent 6-plane tables, candidates
    = collision in ANY table, cosine top-5 on the distinct union."""
    from vanus_spark.llm.similarity import lsh_ann_multi

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    return lsh_ann_multi(emb, queries, k=5, n_planes=6, n_tables=3).select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of every ANN variant against the brute-force cosine
    ground truth, in ONE DataFrame: (method, n_truth, n_hits, recall).

    This puts a NUMBER on the recall-tuning claims (n_probe,
    OR-amplification): lsh_ann_multi must dominate lsh_ann by
    construction (its candidate set is a superset), ivf_ann's recall
    reflects the 2-of-8 probed partitions. Ground truth is computed
    once (lazy localCheckpoint) and semi-joined against each method's
    top-k — the hit count never shuffles more than q*k rows."""
    from vanus_spark.llm.similarity import (
        cosine_topk,
        ivf_ann,
        lsh_ann,
        lsh_ann_multi,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 8)
    # eager: all three method branches of the final union semi-join
    # this frame inside ONE job — a lazy checkpoint would be computed
    # by the first branch to touch it and raced/recomputed by the
    # others (measured 3x the brute-force cost); materializing it up
    # front makes every branch a checkpoint-block read
    truth = (
        cosine_topk(emb, queries_df, k=5)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    methods = [
        ("ivf_ann", ivf_ann(emb, queries_df, k=5, n_clusters=8, n_probe=2, iters=1)),
        ("lsh_ann", lsh_ann(emb, queries_df, k=5, n_planes=6)),
        ("lsh_ann_multi", lsh_ann_multi(emb, queries_df, k=5, n_planes=6, n_tables=3)),
    ]
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    # ONE tagged union + ONE join + ONE aggregate instead of a
    # semi-join + count + crossJoin per method (r10 deferred item):
    # each method's top-k is distinct in (query_id, neighbor_id) by
    # construction (per-query rank), so the inner-join count equals the
    # old semi-join count; a literal method table left-joins the counts
    # back so a 0-hit method still emits its row. Same values, 1/3 the
    # branch plan.
    tagged = None
    for name, df in methods:
        p = df.select(
            F.lit(name).alias("method"), "query_id", "neighbor_id"
        )
        tagged = p if tagged is None else tagged.unionByName(p)
    hits = (
        tagged.join(truth, ["query_id", "neighbor_id"])
        .groupBy("method")
        .agg(F.count("*").alias("n_hits"))
    )
    names = spark.createDataFrame(
        [(n,) for n, _ in methods], "method string"
    )
    return (
        names.join(F.broadcast(hits), "method", "left")
        .crossJoin(F.broadcast(n_truth))
        .select(
            "method",
            "n_truth",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.col("n_truth"), 6
            ).alias("recall"),
        )
    )


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar quantization of the embedding corpus: per-dimension
    min/max model (bounded driver collect, like the k-means model),
    then codes + reconstruction MSE as a pure-Column projection. The
    mse fold is left-to-right on both engines, so floats match
    exactly; codes serialize via to_json (canon-friendly)."""
    from vanus_spark.llm.similarity import quantize_embeddings_int8

    emb = _t(spark, sf_dir, "embeddings")
    out = quantize_embeddings_int8(emb)
    return out.select(
        "vec_id",
        F.to_json("codes").alias("codes_json"),
        F.round("mse", 10).alias("mse"),
    )


def q_text_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 lexical retrieval (llm/search.py) — the
    decontamination/eval-mining lookup primitive. Queries are the
    first-4-token prefixes of four probe documents; index build is one
    explode + partial aggregates (tf/dl/df), scoring is a broadcast
    query join against term-partitioned postings + a (query, doc)
    partial aggregate, top-k is a bounded per-query window. The oracle
    re-derives the whole chain (tokenize -> tf/dl/df -> Lucene idf ->
    BM25 -> rank) in independent SQL; ranking is deterministic via
    (round(score, 9) DESC, doc_id)."""
    from vanus_spark.llm.dedup import normalize_text
    from vanus_spark.llm.search import bm25_search

    docs = _t(spark, sf_dir, "documents")
    qs = docs.where(F.col("doc_id").isin(3, 17, 31, 59)).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(
            F.slice(F.split(normalize_text(F.col("text")), " "), 1, 4), " "
        ).alias("query_text"),
    )
    return bm25_search(docs, qs, k=10)


def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column QA report per label: row count, dimension
    range (a dim mismatch is the classic silent corruption), zero-
    vector count, and L2-norm min/mean/max. Norms are Catalyst HOF
    folds over the double-cast array (sqrt is IEEE-exact, and both
    engines fold the same sequential order); one partial-agg
    shuffle."""
    from vanus_spark.llm.similarity import l2_norm

    emb = _t(spark, sf_dir, "embeddings").select(
        "label",
        F.size("embedding").alias("dim"),
        l2_norm(F.col("embedding").cast("array<double>")).alias("nrm"),
    )
    return emb.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.min("dim").alias("dim_min"),
        F.max("dim").alias("dim_max"),
        F.sum((F.col("nrm") == 0.0).cast("long")).alias("n_zero"),
        F.round(F.min("nrm"), 6).alias("norm_min"),
        F.round(F.avg("nrm"), 6).alias("norm_avg"),
        F.round(F.max("nrm"), 6).alias("norm_max"),
    )


def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (llm/search.
    rrf_fuse): BM25 lexical top-10 and exact-cosine embedding top-10
    over the joined documents+embeddings corpus, fused as
    sum(1/(60+rank)) and re-ranked — the RAG/training-data retrieval
    stack's standard two-tower merge. Every stage is bounded: both
    rankers emit #queries x 10 rows and fusion never touches the
    corpus. The oracle re-derives BOTH ranking chains (the BM25 CTE
    chain and the brute-force cosine scan) and the fusion sum."""
    from vanus_spark.llm.dedup import normalize_text
    from vanus_spark.llm.search import bm25_search, rrf_fuse
    from vanus_spark.llm.similarity import cosine_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    corpus = docs.join(
        emb, docs.doc_id == emb.vec_id
    ).select("doc_id", "text", "embedding")
    qids = (3, 17, 31, 59)
    qs = corpus.where(F.col("doc_id").isin(*qids)).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(
            F.slice(F.split(normalize_text(F.col("text")), " "), 1, 4), " "
        ).alias("query_text"),
    )
    bm = bm25_search(corpus, qs, k=10)
    qv = corpus.where(F.col("doc_id").isin(*qids)).select("doc_id", "embedding")
    ann = cosine_topk(corpus, qv, k=10, id_col="doc_id")
    return rrf_fuse(
        [
            bm.select("query_id", "doc_id", "rank"),
            ann.select(
                "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
            ),
        ],
        k=10,
    )


def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA top component by exact-integer power iteration
    (operators/pca.py): embeddings quantized to integers (one
    well-separated round is the only float op), a planted dominant
    direction (vec_id- and dim-keyed integer offsets — eigengap 117x,
    alignment 1-2e-11 after 4 iterations), Gram matrix from
    per-partition numpy partial Grams, 4 decimal(38,0) matvec rounds,
    and ONE double division per dimension at the end. The oracle
    replays the identical integer algebra in HUGEINT (int128) — every
    intermediate agrees exactly, no summation-order drift anywhere."""
    from vanus_spark.operators.pca import (
        gram_matrix_exact,
        power_iteration_exact,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvecs = emb.select(
        F.transform(
            "embedding",
            lambda x, i: F.round(x.cast("double") * 100).cast("long")
            + ((F.col("vec_id") % 7) - 3) * 8 * ((i % 5) - 2),
        ).alias("qvec")
    )
    gram = gram_matrix_exact(qvecs, dim=64)
    out = power_iteration_exact(spark, gram, dim=64, iters=4)
    return out.select("dim", F.round("component", 9).alias("component"))


def q_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence similarity (the classic collaborative-
    filtering building block): parts bought together in one order,
    cosine = cooc / sqrt(n_a * n_b) over exact integer counts (sqrt
    is IEEE-exact, so both engines produce the identical double),
    support floor cooc >= 2, top-3 neighbors per item by a bounded
    per-item window. The within-order self-join fan-out is bounded by
    basket size (TPC-H orders are <= 7 lines); at 100 TB a basket-size
    cap guards pathological carts the same way bucket_cap guards LSH
    buckets."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    cnt = li.groupBy("l_partkey").agg(F.count("*").alias("n"))
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    cooc = (
        a.join(b, "o")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("cooc"))
        .where(F.col("cooc") >= 2)
    )
    na = cnt.select(F.col("l_partkey").alias("pa"), F.col("n").alias("na"))
    nb = cnt.select(F.col("l_partkey").alias("pb"), F.col("n").alias("nb"))
    sim = (
        cooc.join(na, "pa")
        .join(nb, "pb")
        .select(
            "pa",
            "pb",
            "cooc",
            (
                F.col("cooc")
                / F.sqrt(F.col("na").cast("double") * F.col("nb"))
            ).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("pa").orderBy(F.col("cos_raw").desc(), F.col("pb"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("pa", "pb", "cooc", F.round("cos_raw", 6).alias("cos"), "rank")
    )


def q_embedding_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top whitening report, composed on the exact-integer
    PCA: project every embedding onto the estimated top component and
    report the scalar projection + residual norm^2 (resid^2 = sum(x^2)
    - dot^2/|v|^2 — one aggregate pass over the exploded vectors joined
    to the 64-row component table). The component itself is the
    hash-gated embedding_pca output, so both engines start from
    literally equal v; dots sum 64 float products (<= 1 ulp spread),
    absorbed by round(6)."""
    from vanus_spark.operators.pca import (
        gram_matrix_exact,
        power_iteration_exact,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvecs = emb.select(
        F.transform(
            "embedding",
            lambda x, i: F.round(x.cast("double") * 100).cast("long")
            + ((F.col("vec_id") % 7) - 3) * 8 * ((i % 5) - 2),
        ).alias("qvec")
    )
    v = power_iteration_exact(
        spark, gram_matrix_exact(qvecs, dim=64), dim=64, iters=4
    ).select("dim", F.round("component", 9).alias("v"))
    # whiten the SAME (quantized + planted) vectors the component was
    # estimated from — projecting a different corpus onto v would not
    # concentrate variance and the report would be meaningless
    lng = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x, i: F.round(x.cast("double") * 100).cast("long")
                + ((F.col("vec_id") % 7) - 3) * 8 * ((i % 5) - 2),
            )
        ).alias("dim", "q"),
    ).select("vec_id", "dim", F.col("q").cast("double").alias("x"))
    n2 = v.agg(F.sum(F.col("v") * F.col("v")).alias("n2"))
    per = (
        lng.join(F.broadcast(v), "dim")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("x") * F.col("v")).alias("dot"),
            F.sum(F.col("x") * F.col("x")).alias("sumx2"),
        )
    )
    return per.crossJoin(F.broadcast(n2)).select(
        "vec_id",
        F.round(F.col("dot") / F.sqrt(F.col("n2")), 6).alias("proj"),
        F.round(
            F.col("sumx2") - F.col("dot") * F.col("dot") / F.col("n2"), 6
        ).alias("resid_norm2"),
    )


def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone k-means clustering report over the embedding corpus
    (the building block semantic_dedup / IVF already chain): seeded
    Lloyd (1 iteration, rounded means — engine-portable by
    construction), then per-vector assignment + cluster size. The
    oracle re-derives the identical seeds -> assign -> means -> assign
    chain in SQL, so init, tie-breaks, and the empty-cluster rule are
    all hash-checked."""
    from vanus_spark.llm.similarity import _nearest_clusters, kmeans_centroids

    emb = _t(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, n_clusters=8, iters=1)
    assigned = emb.select(
        "vec_id",
        _nearest_clusters("CAST(embedding AS ARRAY<DOUBLE>)", cents, 1)[0]
        .alias("cluster"),
    )
    from pyspark.sql import Window

    return assigned.select(
        "vec_id",
        "cluster",
        F.count("*").over(Window.partitionBy("cluster")).alias("cluster_size"),
    )


def q_search_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval quality eval (llm/search.ranking_eval) over the REAL
    BM25 ranking: the judged set is derived deterministically — a doc
    is relevant to a query when it shares >= 2 of the query's 4
    distinct terms, graded by shared-term count minus one — and the
    BM25 top-10 (same 4 probe queries as text_search_bm25) is scored
    with NDCG@10 / MRR / recall@10. The oracle re-derives the whole
    chain (tokenize -> tf/df -> BM25 -> rank -> judged set -> metric
    sums) in independent SQL."""
    from vanus_spark.llm.dedup import normalize_text
    from vanus_spark.llm.search import bm25_search, ranking_eval

    docs = _t(spark, sf_dir, "documents")
    qs = docs.where(F.col("doc_id").isin(3, 17, 31, 59)).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(
            F.slice(F.split(normalize_text(F.col("text")), " "), 1, 4), " "
        ).alias("query_text"),
    )
    ranked = bm25_search(docs, qs, k=10).select("query_id", "doc_id", "rank")
    qterms = qs.select(
        "query_id",
        F.explode(
            F.array_distinct(F.split(F.col("query_text"), " "))
        ).alias("term"),
    ).where(F.col("term") != "")
    dterms = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(normalize_text(F.col("text")), " "))
        ).alias("term"),
    ).where(F.col("term") != "")
    truth = (
        qterms.join(dterms, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= 2)
        .select("query_id", "doc_id", (F.col("shared") - 1).alias("grade"))
    )
    return ranking_eval(ranked, truth, k=10)


def q_embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection (similarity.random_projection): every
    embedding projected onto 16 seeded gaussian directions scaled by
    1/sqrt(16) — the shuffle-free dimensionality reduction used before
    ANN indexing when PCA's train pass is overkill. The projection
    matrix is driver-side literals shared with the oracle verbatim
    (repr round-trip), so DuckDB recomputes every coordinate with
    list_dot_product over the SAME doubles; round(6) absorbs the
    fold-order ulp."""
    from vanus_spark.llm.similarity import random_projection

    emb = _t(spark, sf_dir, "embeddings")
    out = random_projection(emb, dim=64, out_dim=16, seed=7)
    return out.select(
        "vec_id", F.posexplode("proj").alias("j", "v")
    ).select(
        "vec_id",
        F.col("j").cast("long").alias("dim_j"),
        F.round("v", 6).alias("proj"),
    )


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outlier report: each vector's euclidean
    distance to its label centroid, z-scored within the label; rows
    with |z| > 2 flag as outliers — the vector-QA pass run before
    training on an embedding corpus. Centroids come from one per-label
    aggregate over posexploded dims (shuffle bounded by labels x dim);
    the distance and z-score are fixed-order double math, round(6)."""
    emb = _t(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "x")
    )
    cent = dims.groupBy("label", "d").agg(F.avg("x").alias("mu"))
    sq = (
        dims.join(cent, ["label", "d"])
        .groupBy("label", "vec_id")
        .agg(F.sum((F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu"))).alias("sq"))
    )
    dist = sq.select("label", "vec_id", F.sqrt("sq").alias("dist"))
    stats = dist.groupBy("label").agg(
        F.avg("dist").alias("d_mu"),
        F.stddev_samp("dist").alias("d_sd"),
    )
    z = (F.col("dist") - F.col("d_mu")) / F.col("d_sd")
    return dist.join(F.broadcast(stats), "label").select(
        "label",
        "vec_id",
        F.round("dist", 6).alias("dist"),
        F.round(z, 6).alias("z"),
        # compare on the ROUNDED z so the flag is deterministic
        # cross-engine even when raw z sits ulps from the boundary
        (F.abs(F.round(z, 6)) > 2).alias("outlier"),
    )


def q_embedding_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid silhouette per label — the embedding-space QA readout
    (are the labels actually separated clusters?): per vector,
    a = distance to the OWN label centroid, b = distance to the
    nearest OTHER centroid, s = (b-a)/max(a,b); averaged per label.
    Scale shape mirrors q_embedding_outliers: centroids from one
    (label, dim) partial aggregate; every vector scores against all
    #labels centroids through the per-dim join (intermediate volume
    #vecs x dims x labels — labels are a handful, and the (vec,
    clabel) distance aggregate is map-side combined), never a
    vector-vector join."""
    emb = _t(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "x"),
    )
    cent = dims.groupBy("label", "d").agg(F.avg("x").alias("mu"))
    call = cent.select(F.col("label").alias("clabel"), "d", "mu")
    sq = (
        dims.join(call, "d")
        .groupBy("label", "vec_id", "clabel")
        .agg(
            F.sum(
                (F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu"))
            ).alias("sq")
        )
    )
    scored = sq.select("label", "vec_id", "clabel", F.sqrt("sq").alias("dist"))
    per_vec = scored.groupBy("label", "vec_id").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("dist"))).alias(
            "a"
        ),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("dist"))).alias(
            "b"
        ),
    )
    sil = (F.col("b") - F.col("a")) / F.greatest("a", "b")
    return per_vec.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("a"), 6).alias("avg_own_dist"),
        F.round(F.avg("b"), 6).alias("avg_other_dist"),
        F.round(F.avg(sil), 6).alias("silhouette"),
    )


def q_embedding_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diverse top-5 against vector 0 as the query
    (llm/similarity.mmr_select): greedy lam*cos(query) -
    (1-lam)*max cos(chosen), lam=0.75 — the diversity-aware selection
    pass that keeps a retrieved/candidate set from being five
    near-copies. k bounded driver rounds, each one scan + a
    TakeOrdered(1); the oracle unrolls the same 5 rounds as
    materialized argmax CTEs (the greedy_max_coverage pattern) with
    list_dot_product cosines."""
    from vanus_spark.llm.similarity import mmr_select

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    picks = mmr_select(
        emb.where(F.col("vec_id") != 0), qvec, k=5, lam=0.75
    )
    return spark.createDataFrame(
        picks, "round int, vec_id long, qsim double, mmr_score double"
    )


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift between the two vec_id-parity halves
    of the embedding table — the train/serve skew check an embedding
    pipeline runs between snapshots: cosine similarity and L2 distance
    of the half centroids. Same scale shape as q_embedding_silhouette:
    ONE (label, dim) partial aggregate builds both centroids (the
    halves are CASE branches of the same scan), then a 64-row-per-label
    fold — the vectors are never joined pairwise."""
    emb = _t(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "d", "x"
        ),
    )
    cent = dims.groupBy("label", "d").agg(
        F.avg(F.when(F.col("half") == 0, F.col("x"))).alias("ma"),
        F.avg(F.when(F.col("half") == 1, F.col("x"))).alias("mb"),
    )
    agg = cent.groupBy("label").agg(
        F.sum(F.col("ma") * F.col("mb")).alias("dot"),
        F.sum(F.col("ma") * F.col("ma")).alias("qa"),
        F.sum(F.col("mb") * F.col("mb")).alias("qb"),
        F.sum(
            (F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb"))
        ).alias("sq"),
    )
    cnt = emb.groupBy("label").agg(
        F.count_distinct(
            F.when(F.col("vec_id") % 2 == 0, F.col("vec_id"))
        ).alias("n_a"),
        F.count_distinct(
            F.when(F.col("vec_id") % 2 == 1, F.col("vec_id"))
        ).alias("n_b"),
    )
    return (
        agg.join(cnt, "label")
        .select(
            "label",
            "n_a",
            "n_b",
            F.round(
                F.col("dot") / (F.sqrt("qa") * F.sqrt("qb")), 6
            ).alias("cosine"),
            F.round(F.sqrt("sq"), 6).alias("l2"),
        )
        .orderBy("label")
    )


def q_bm25_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-log-free BM25 calibration: a (k1, b) grid evaluated by
    KNOWN-ITEM self-retrieval (the standard trick when no click log
    exists — each probe doc's own leading terms become its query, and
    the doc itself is the one relevant answer; MRR@10 of finding it
    ranks the configs). The index builds ONCE (llm.search.bm25_index —
    one tokenize, three partial-combine aggregates); the 9-row config
    grid rides a broadcast cross so every config scores off the same
    postings scan. The probe panel is BOUNDED (ids % 97 == 0 below
    2000 — ~21 queries at any corpus size): candidate volume is
    queries x posting-list length, and on a stopword-dense corpus a
    posting list is the whole corpus, so a panel PROPORTIONAL to the
    corpus would make the sweep quadratic (measured: the 10x probe
    ran 9 x 500 queries x 500k docs into the aggregate before this
    bound). Rank order is round(score,9) DESC then doc_id
    (text_search_bm25's determinism rule), so ulp-level sum-order
    drift between engines cannot reorder; the reciprocal-rank mean is
    round(6)."""
    from vanus_spark.llm.search import bm25_index

    docs = _t(spark, sf_dir, "documents")
    postings, term_df, stats = bm25_index(docs)
    probe = docs.where(
        (F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 2000)
    )
    # known-item queries = each probe doc's 4 HIGHEST-TF terms (from
    # the postings themselves; ties by term) — the terms the doc is
    # strongest for. First-N-tokens queries degenerate on a
    # stopword-dense corpus: every term matches every doc and the
    # source doc never surfaces.
    wq = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), "term"
    )
    q_terms = (
        postings.join(
            F.broadcast(probe.select("doc_id")), "doc_id", "left_semi"
        )
        .withColumn("_tr", F.row_number().over(wq))
        .where(F.col("_tr") <= 4)
        .select(F.col("doc_id").alias("query_id"), "term")
    )
    grid = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k1).alias("k1"), F.lit(bb).alias("b")
                    )
                    for k1 in (0.5, 1.2, 2.0)
                    for bb in (0.0, 0.75, 1.0)
                ]
            )
        ).alias("cfg")
    ).select("cfg.k1", "cfg.b")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dfreq") + F.lit(0.5))
        / (F.col("dfreq") + F.lit(0.5))
    )
    tfn = (F.col("tf") * (F.col("k1") + F.lit(1.0))) / (
        F.col("tf")
        + F.col("k1")
        * (
            F.lit(1.0)
            - F.col("b")
            + F.col("b") * F.col("dl") / F.col("avgdl")
        )
    )
    cand = (
        q_terms.join(postings, "term")
        .join(F.broadcast(term_df), "term")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(grid))
        .groupBy("k1", "b", "query_id", "doc_id")
        .agg(F.sum(idf * tfn).alias("score"))
    )
    wr = Window.partitionBy("k1", "b", "query_id").orderBy(
        F.round("score", 9).desc(), "doc_id"
    )
    hits = (
        cand.withColumn("_rank", F.row_number().over(wr))
        .where(
            (F.col("_rank") <= 10)
            & (F.col("doc_id") == F.col("query_id"))
        )
        .groupBy("k1", "b")
        .agg(F.sum(1.0 / F.col("_rank")).alias("_rr"))
    )
    n_probe = probe.agg(F.count("*").alias("n_queries"))
    # LEFT join from the grid: every config emits a row even at
    # mrr = 0 (no hit anywhere), so the sweep never returns empty
    return (
        grid.join(hits, ["k1", "b"], "left")
        .crossJoin(F.broadcast(n_probe))
        .select(
            "k1",
            "b",
            "n_queries",
            F.round(
                F.coalesce(F.col("_rr"), F.lit(0.0))
                / F.col("n_queries").cast("double"),
                6,
            ).alias("mrr"),
        )
        .orderBy("k1", "b")
    )


def q_embedding_matryoshka_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka-style prefix-dimension evaluation (Kusupati et al.
    2022): recall@5 of brute-force cosine search over the FIRST m
    dims (m in 8/16/32) against the full-64-dim truth — the number
    that decides how far an embedding column can be truncated before
    retrieval quality pays (storage and ANN cost scale linearly in
    m). Same harness discipline as q_ann_recall: truth computed once
    (eager checkpoint — every prefix branch semi-joins it inside one
    job), each prefix is the SAME cosine_topk plan over a sliced
    vector, hits never shuffle more than queries x k rows."""
    from vanus_spark.llm.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 8)
    truth = (
        cosine_topk(emb, queries_df, k=5)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    frames = []
    for m in (8, 16, 32):
        sl = lambda df: df.select(  # noqa: E731
            "vec_id", F.slice("embedding", 1, m).alias("embedding")
        )
        topk = cosine_topk(sl(emb), sl(queries_df), k=5).select(
            "query_id", "neighbor_id"
        )
        hits = topk.join(
            truth, ["query_id", "neighbor_id"], "left_semi"
        ).agg(F.count("*").alias("n_hits"))
        frames.append(
            hits.select(
                F.lit(m).alias("prefix_dim"), F.col("n_hits")
            )
        )
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f)
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    return (
        u.crossJoin(F.broadcast(n_truth))
        .select(
            "prefix_dim",
            "n_truth",
            "n_hits",
            F.round(
                F.col("n_hits").cast("double")
                / F.col("n_truth").cast("double"),
                6,
            ).alias("recall"),
        )
        .orderBy("prefix_dim")
    )


def q_embedding_cka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear CKA (centered kernel alignment, Kornblith et al. 2019)
    between the prefix-dimension representation (m in 8/16/32/64) and
    the full 64-dim embedding: ||Xc'Yc||_F^2 / (||Xc'Xc||_F
    ||Yc'Yc||_F) on column-centered matrices — the representational-
    similarity readout that complements q_embedding_matryoshka_recall
    (CKA measures how much of the GEOMETRY survives truncation, not
    just top-5 retrieval hits; the m=64 row is an exact-1.0 self-
    check). The full 64x64 centered cross-gram G is computed ONCE
    (one vec_id self-join + one 4096-cell aggregate — the n x d^2
    work), then every prefix is a conditional sum over the bounded
    cell table; queries never rescan the vectors per prefix. All
    doubles; each output rounds independently (the gram cells carry
    only summation-order ulps, absorbed at 6 dp)."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "val"
        ),
    )
    means = e.groupBy("dim").agg(F.avg("val").alias("mu"))
    c = e.join(F.broadcast(means), "dim").select(
        "vec_id", "dim", (F.col("val") - F.col("mu")).alias("cv")
    )
    a = c.select(
        "vec_id", F.col("dim").alias("d1"), F.col("cv").alias("v1")
    )
    b = c.select(
        "vec_id", F.col("dim").alias("d2"), F.col("cv").alias("v2")
    )
    g = (
        a.join(b, "vec_id")
        .groupBy("d1", "d2")
        .agg(F.sum(F.col("v1") * F.col("v2")).alias("gv"))
    )
    pref = spark.createDataFrame(
        [(8,), (16,), (32,), (64,)], "prefix_dim long"
    )
    gg = F.col("gv") * F.col("gv")
    h = (
        g.crossJoin(F.broadcast(pref))
        .groupBy("prefix_dim")
        .agg(
            F.sum(
                F.when(F.col("d1") < F.col("prefix_dim"), gg)
            ).alias("hxy"),
            F.sum(
                F.when(
                    (F.col("d1") < F.col("prefix_dim"))
                    & (F.col("d2") < F.col("prefix_dim")),
                    gg,
                )
            ).alias("hxx"),
            F.sum(gg).alias("hyy"),
        )
    )
    n_vecs = emb.agg(F.count("*").alias("n_vecs"))
    return (
        h.crossJoin(F.broadcast(n_vecs))
        .select(
            "prefix_dim",
            "n_vecs",
            F.round(
                F.col("hxy") / F.sqrt(F.col("hxx") * F.col("hyy")), 6
            ).alias("cka"),
        )
        .orderBy("prefix_dim")
    )


def q_embedding_intrinsic_dim(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-NN intrinsic-dimension estimate (Facco et al. 2017):
    ID-hat = m / sum over probes of ln(r2/r1), the ratio of each
    probe's 2nd- to 1st-nearest Euclidean distance — the
    embedding-QA number that says how many of the 64 ambient
    dimensions the data actually occupies (ANN recall, LSH plane
    counts, and PQ codebook sizes all key off it). The probe panel
    is BOUNDED (vec_id % 97 == 0 below 2000, <= 21 probes at any
    corpus size — the bm25_param_sweep scale contract), so candidate
    volume is panel x corpus, linear forever. Distances use the
    identical expansion qq - 2 qc + cc of in-order dot products on
    both engines, so the 2-NN ranking is engine-exact; duplicate
    probes (r1 = 0) are excluded and reported."""
    from vanus_spark.llm.similarity import dot

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(
        (F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 2000)
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    q = q.select(
        "qid", "qv", dot(F.col("qv"), F.col("qv")).alias("qq")
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<double>").alias("cv"),
    ).select(
        "cid", "cv", dot(F.col("cv"), F.col("cv")).alias("cc")
    )
    d = c.join(
        F.broadcast(q), F.col("cid") != F.col("qid")
    ).select(
        "qid",
        "cid",
        (
            F.col("qq")
            - 2.0 * dot(F.col("qv"), F.col("cv"))
            + F.col("cc")
        ).alias("dd"),
    )
    wr = Window.partitionBy("qid").orderBy("dd", "cid")
    top2 = d.select(
        "qid", "dd", F.row_number().over(wr).alias("rn")
    ).where(F.col("rn") <= 2)
    wide = top2.groupBy("qid").agg(
        F.min(F.when(F.col("rn") == 1, F.col("dd"))).alias("d1"),
        F.min(F.when(F.col("rn") == 2, F.col("dd"))).alias("d2"),
    )
    n_probes = q.agg(F.count("*").alias("n_probes"))
    used = wide.where(F.col("d1") > 0)
    agg = used.agg(
        F.count("*").alias("n_used"),
        F.sum(
            0.5 * (F.log(F.col("d2")) - F.log(F.col("d1")))
        ).alias("slog"),
    )
    return (
        agg.crossJoin(F.broadcast(n_probes))
        .select(
            "n_probes",
            "n_used",
            F.round(
                F.col("n_used").cast("double") / F.col("slog"), 6
            ).alias("intrinsic_dim"),
            F.round(
                F.col("slog") / F.col("n_used").cast("double"), 6
            ).alias("mean_log_ratio"),
        )
    )


def q_embedding_mmd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Maximum Mean Discrepancy between the even- and
    odd-label embedding populations under the degree-2 polynomial
    kernel (x'y + 1)^2 — the distribution-shift test that sees
    covariance-structure differences a centroid distance misses,
    chosen because this kernel's MMD^2 is EXACTLY ||M_X - M_Y||_F^2
    + 2||mu_X - mu_Y||^2 over the per-group mean vector and second-
    moment matrix (Gretton et al. 2012 lemma 6 specialized): two
    bounded model tables (64 + 64x64 rows per group) replace the
    O(n^2) pairwise kernel sum, so the statistic is linear in
    vectors forever. One explode + one vec_id self-join + bounded
    folds; round(6) absorbs float-sum ulps."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        (F.col("label") % 2).alias("g"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    e = emb.select(
        "vec_id", "g", F.posexplode("v").alias("dim", "val")
    )
    mu = e.groupBy("g", "dim").agg(F.avg("val").alias("mu"))
    a = e.select(
        "vec_id", "g", F.col("dim").alias("d1"), F.col("val").alias("v1")
    )
    b = e.select(
        "vec_id", F.col("dim").alias("d2"), F.col("val").alias("v2")
    )
    mm = (
        a.join(b, "vec_id")
        .groupBy("g", "d1", "d2")
        .agg(F.avg(F.col("v1") * F.col("v2")).alias("m"))
    )
    mdiff = (
        mm.where(F.col("g") == 0)
        .select("d1", "d2", F.col("m").alias("m0"))
        .join(
            mm.where(F.col("g") == 1).select(
                "d1", "d2", F.col("m").alias("m1")
            ),
            ["d1", "d2"],
        )
        .agg(
            F.sum(
                (F.col("m0") - F.col("m1"))
                * (F.col("m0") - F.col("m1"))
            ).alias("mom_term")
        )
    )
    mudiff = (
        mu.where(F.col("g") == 0)
        .select("dim", F.col("mu").alias("u0"))
        .join(
            mu.where(F.col("g") == 1).select(
                "dim", F.col("mu").alias("u1")
            ),
            "dim",
        )
        .agg(
            F.sum(
                (F.col("u0") - F.col("u1"))
                * (F.col("u0") - F.col("u1"))
            ).alias("mean_term")
        )
    )
    counts = emb.groupBy().agg(
        F.sum((F.col("g") == 0).cast("long")).alias("n_even"),
        F.sum((F.col("g") == 1).cast("long")).alias("n_odd"),
    )
    return (
        mdiff.crossJoin(F.broadcast(mudiff))
        .crossJoin(F.broadcast(counts))
        .select(
            "n_even",
            "n_odd",
            F.round("mom_term", 6).alias("mmd2_moment_term"),
            F.round(2.0 * F.col("mean_term"), 6).alias(
                "mmd2_mean_term"
            ),
            F.round(
                F.col("mom_term") + 2.0 * F.col("mean_term"), 6
            ).alias("mmd2_poly2"),
        )
    )


def q_embedding_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotropy audit of the embedding space (the anisotropy problem
    of Mu & Viswanath 2018 / Ethayarajh 2019 — contextual embeddings
    collapse into a narrow cone, wrecking cosine retrieval): the
    exact average pairwise cosine of the UNIT vectors via the
    resultant identity (||sum x-hat||^2 - n) / (n (n - 1)) — one
    aggregate, never an O(n^2) pairwise pass — plus the diagonal
    participation ratio (sum var_d)^2 / (64 sum var_d^2) in
    (1/64, 1], the fraction of dimensions that effectively carry
    variance. Both statistics fold from per-dim sums over one
    explode; ulps absorbed at 6 dp."""
    from vanus_spark.llm.similarity import dot

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    unit = emb.select(
        "vec_id",
        "v",
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
    )
    e = unit.select(
        "vec_id",
        F.posexplode("v").alias("dim", "val"),
        "nrm",
    ).select(
        "dim",
        (F.col("val") / F.col("nrm")).alias("u"),
        "val",
    )
    per_dim = e.groupBy("dim").agg(
        F.sum("u").alias("su"),
        F.sum("val").alias("sv"),
        F.sum(F.col("val") * F.col("val")).alias("svv"),
        F.count("*").alias("n"),
    )
    nd = F.col("n").cast("double")
    var_d = F.col("svv") / nd - (F.col("sv") / nd) * (
        F.col("sv") / nd
    )
    fold = per_dim.agg(
        F.min("n").alias("n_vecs"),
        F.sum(F.col("su") * F.col("su")).alias("rs2"),
        F.sum(var_d).alias("tv"),
        F.sum(var_d * var_d).alias("tv2"),
    )
    nv = F.col("n_vecs").cast("double")
    avg_cos = (F.col("rs2") - nv) / (nv * (nv - 1.0))
    # try_divide: identical vectors have zero variance everywhere
    # (tv = tv2 = 0) — PR undefined, NULL on both engines
    pr = F.try_divide(
        F.col("tv") * F.col("tv"), 64.0 * F.col("tv2")
    )
    return fold.select(
        "n_vecs",
        F.round(avg_cos, 6).alias("avg_pairwise_cos"),
        F.round(pr * 64.0, 6).alias("participation_ratio"),
        F.round(pr, 6).alias("pr_normalized"),
    )


def _hybrid_rrf_oracle() -> str:
    """SQL twin of q_hybrid_search_rrf: the full BM25 CTE chain (over
    the documents-with-embeddings corpus), the brute-force cosine
    scan, and the reciprocal-rank fusion sum."""
    norm = _NORM.format(c="text")
    return f"""
        WITH corpus AS (
          SELECT d.doc_id, d.text, e.embedding
          FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        tk AS (SELECT doc_id, unnest(str_split({norm}, ' ')) AS term
               FROM corpus),
        tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
               FROM tk WHERE term <> '' GROUP BY 1, 2),
        dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
        df AS (SELECT term, count(*)::DOUBLE AS dfreq FROM tf GROUP BY 1),
        q AS (SELECT doc_id AS query_id,
                     unnest(list_distinct(
                       (str_split({norm}, ' '))[1:4])) AS term
              FROM corpus WHERE doc_id IN (3, 17, 31, 59)),
        cand AS (SELECT q.query_id, tf.doc_id,
                        sum(ln(1.0::DOUBLE
                               + (stats.n_docs - df.dfreq + 0.5::DOUBLE)
                                 / (df.dfreq + 0.5::DOUBLE))
                            * tf.tf * (1.2::DOUBLE + 1.0::DOUBLE)
                            / (tf.tf + 1.2::DOUBLE
                               * (1.0::DOUBLE - 0.75::DOUBLE
                                  + 0.75::DOUBLE * dl.dl / stats.avgdl)))
                          AS score
                 FROM q JOIN tf USING (term)
                        JOIN df USING (term)
                        JOIN dl ON tf.doc_id = dl.doc_id
                        CROSS JOIN stats
                 GROUP BY 1, 2),
        bm AS (SELECT query_id, doc_id,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY round(score, 9) DESC,
                                                  doc_id) AS rank
               FROM cand),
        qv AS (SELECT doc_id AS query_id, embedding AS q_vec
               FROM corpus WHERE doc_id IN (3, 17, 31, 59)),
        scored AS (
          SELECT qv.query_id, cp.doc_id,
                 list_dot_product(qv.q_vec::DOUBLE[], cp.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(qv.q_vec::DOUBLE[],
                                            qv.q_vec::DOUBLE[]))
                      * sqrt(list_dot_product(cp.embedding::DOUBLE[],
                                              cp.embedding::DOUBLE[])))
                   AS cosine
          FROM corpus cp, qv WHERE cp.doc_id != qv.query_id),
        ann AS (SELECT query_id, doc_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, doc_id ASC)
                         AS rank
                FROM scored),
        u AS (
          SELECT query_id, doc_id, 1.0 / (60.0 + rank) AS contrib
          FROM bm WHERE rank <= 10
          UNION ALL
          SELECT query_id, doc_id, 1.0 / (60.0 + rank)
          FROM ann WHERE rank <= 10),
        f AS (SELECT query_id, doc_id, sum(contrib) AS rrf,
                     count(*)::BIGINT AS n_lists
              FROM u GROUP BY 1, 2),
        rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                            ORDER BY round(rrf, 12) DESC,
                                                     doc_id) AS rank
               FROM f)
        SELECT query_id, doc_id, rank::INT AS rank,
               round(rrf, 9) AS rrf, n_lists
        FROM rr WHERE rank <= 10
    """


def _pca_ctes(iters: int = 4) -> tuple[str, str]:
    """Shared CTE chain for the exact-integer PCA oracles: identical
    quantization + plant, Gram self-join, and ``iters`` HUGEINT
    (int128) matvec rounds — Spark's decimal(38,0) and DuckDB's int128
    hold the exact same integers. Returns (cte_body, final_v_name)."""
    rounds = []
    prev = "v0"
    for i in range(1, iters + 1):
        rounds.append(
            f"""
        v{i} AS MATERIALIZED (
            SELECT g.i AS j, sum(g.g::HUGEINT * {prev}.v) AS v
            FROM g JOIN {prev} ON g.j = {prev}.j GROUP BY 1)"""
        )
        prev = f"v{i}"
    body = f"""
        u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
                     unnest(range(64)) AS d
              FROM embeddings),
        q AS (SELECT vec_id, d,
                     round(x * 100)::BIGINT
                       + ((vec_id % 7) - 3) * 8 * ((d % 5) - 2) AS q
              FROM u),
        g AS MATERIALIZED (
            SELECT a.d AS i, b.d AS j, sum(a.q * b.q)::BIGINT AS g
            FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2),
        v0 AS (SELECT j, 1::HUGEINT AS v FROM range(64) t(j)),
        {','.join(rounds)}"""
    return body, prev


def _pca_oracle(iters: int = 4) -> str:
    """SQL twin of q_embedding_pca (see _pca_ctes) — only the final
    normalization divides doubles."""
    body, vk = _pca_ctes(iters)
    return f"""
        WITH {body},
        mx AS (SELECT max(abs(v)) AS mx FROM {vk})
        SELECT {vk}.j::INT AS dim,
               round({vk}.v::DOUBLE / mx.mx::DOUBLE, 9) AS component
        FROM {vk}, mx
    """


def _whiten_oracle(iters: int = 4) -> str:
    """SQL twin of q_embedding_whiten: re-derives the hash-gated PCA
    component (same CTEs), then the projection/residual report — dots
    are 64-term float sums on both sides, round(6) absorbs the ulp."""
    body, vk = _pca_ctes(iters)
    return f"""
        WITH {body},
        mx AS (SELECT max(abs(v)) AS mx FROM {vk}),
        comp AS (SELECT {vk}.j::INT AS dim,
                        round({vk}.v::DOUBLE / mx.mx::DOUBLE, 9) AS v
                 FROM {vk}, mx),
        n2 AS (SELECT sum(v * v) AS n2 FROM comp),
        lng AS (SELECT vec_id, d::INT AS dim, q::DOUBLE AS x FROM q),
        per AS (SELECT vec_id, sum(x * v) AS dot, sum(x * x) AS sumx2
                FROM lng JOIN comp USING (dim) GROUP BY 1)
        SELECT vec_id, round(dot / sqrt(n2.n2), 6) AS proj,
               round(sumx2 - dot * dot / n2.n2, 6) AS resid_norm2
        FROM per, n2
    """


def _search_eval_oracle() -> str:
    """SQL twin of q_search_eval_ndcg: the text_search_bm25 chain plus
    the shared-term judged set and the NDCG/MRR/recall sums."""
    norm_text = _NORM.format(c="text")
    return f"""
        WITH tk AS (SELECT doc_id, unnest(str_split({norm_text}, ' ')) AS term
                    FROM documents),
        tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
               FROM tk WHERE term <> '' GROUP BY 1, 2),
        dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
        df AS (SELECT term, count(*)::DOUBLE AS dfreq FROM tf GROUP BY 1),
        q AS (SELECT doc_id AS query_id,
                     unnest(list_distinct(
                       (str_split({norm_text}, ' '))[1:4])) AS term
              FROM documents WHERE doc_id IN (3, 17, 31, 59)),
        cand AS (SELECT q.query_id, tf.doc_id,
                        sum(ln(1.0::DOUBLE
                               + (stats.n_docs - df.dfreq + 0.5::DOUBLE)
                                 / (df.dfreq + 0.5::DOUBLE))
                            * tf.tf * (1.2::DOUBLE + 1.0::DOUBLE)
                            / (tf.tf + 1.2::DOUBLE
                               * (1.0::DOUBLE - 0.75::DOUBLE
                                  + 0.75::DOUBLE * dl.dl / stats.avgdl)))
                          AS score
                 FROM q JOIN tf USING (term)
                        JOIN df USING (term)
                        JOIN dl ON tf.doc_id = dl.doc_id
                        CROSS JOIN stats
                 GROUP BY 1, 2),
        topk AS (SELECT query_id, doc_id, rank FROM (
                   SELECT query_id, doc_id,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY round(score, 9) DESC,
                                                      doc_id) AS rank
                   FROM cand) r
                 WHERE rank <= 10),
        dterm AS (SELECT DISTINCT doc_id, term FROM tk WHERE term <> ''),
        truth AS (SELECT qq.query_id, d.doc_id, count(*) - 1 AS grade
                  FROM (SELECT DISTINCT query_id, term FROM q
                        WHERE term <> '') qq
                  JOIN dterm d USING (term)
                  GROUP BY 1, 2 HAVING count(*) >= 2),
        j AS (SELECT t.query_id, t.rank, coalesce(tr.grade, 0)::DOUBLE AS g
              FROM topk t LEFT JOIN truth tr
                ON t.query_id = tr.query_id AND t.doc_id = tr.doc_id),
        got AS (SELECT query_id,
                       sum((pow(2.0::DOUBLE, g) - 1.0::DOUBLE)
                           / log2(rank + 1.0::DOUBLE)) AS dcg,
                       min(CASE WHEN g >= 1 THEN rank END) AS first_rel,
                       count(CASE WHEN g >= 1 THEN 1 END) AS n_rel_retrieved
                FROM j GROUP BY 1),
        ideal AS (SELECT query_id,
                         sum((pow(2.0::DOUBLE, grade::DOUBLE) - 1.0::DOUBLE)
                             / log2(irank + 1.0::DOUBLE)) AS idcg
                  FROM (SELECT query_id, grade,
                               row_number() OVER (PARTITION BY query_id
                                                  ORDER BY grade DESC,
                                                           doc_id) AS irank
                        FROM truth) x
                  WHERE irank <= 10 GROUP BY 1),
        nrel AS (SELECT query_id, count(*) AS n_relevant FROM truth GROUP BY 1)
        SELECT got.query_id,
               round(dcg / idcg, 6) AS ndcg_10,
               round(coalesce(1.0::DOUBLE / first_rel, 0.0::DOUBLE), 6) AS mrr,
               round(coalesce(n_rel_retrieved / n_relevant::DOUBLE,
                              0.0::DOUBLE), 6) AS recall_10,
               coalesce(n_relevant, 0) AS n_relevant
        FROM got LEFT JOIN ideal USING (query_id)
                 LEFT JOIN nrel USING (query_id)
    """


def _random_projection_oracle() -> str:
    """SQL twin of q_embedding_random_projection: the SAME seeded
    16x64 plane literals (repr round-trips the doubles), one
    list_dot_product per (vector, direction)."""
    import math as _math

    from vanus_spark.llm.similarity import random_hyperplanes

    planes = random_hyperplanes(64, 16, seed=7)
    scale = repr(1.0 / _math.sqrt(16))
    rows = ",\n              ".join(
        f"({j}, [{', '.join(repr(x) for x in p)}]::DOUBLE[])"
        for j, p in enumerate(planes)
    )
    return f"""
        SELECT e.vec_id, m.j::BIGINT AS dim_j,
               round(list_dot_product(e.embedding::DOUBLE[], m.plane)
                     * {scale}, 6) AS proj
        FROM embeddings e, (VALUES
              {rows}) AS m(j, plane)
    """


def _mmr_oracle_sql(k: int = 5, lam: float = 0.75) -> str:
    """DuckDB twin of q_embedding_mmr: the k greedy rounds unrolled
    as materialized argmax CTEs (the greedy_max_coverage oracle
    pattern), cosines via list_dot_product on ::DOUBLE[] vectors —
    the similarity_topk convention. lam and 1-lam are exact doubles
    (0.75/0.25), injected via repr."""

    def cos(a: str, b: str) -> str:
        return (
            f"list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})))"
        )

    rounds, finals = [], []
    for i in range(1, k + 1):
        prev = [f"r{j}" for j in range(1, i)]
        if not prev:
            score = f"{lam!r} * c.qsim"
            frm = "c"
            excl = ""
        else:
            sims = [cos("c.v", f"{p}.v") for p in prev]
            pen = sims[0] if len(sims) == 1 else (
                "greatest(" + ", ".join(sims) + ")"
            )
            score = f"{lam!r} * c.qsim - {1 - lam!r} * ({pen})"
            frm = "c, " + ", ".join(prev)
            excl = " AND c.vec_id NOT IN (" + ", ".join(
                f"{p}.vec_id" for p in prev
            ) + ")"
        rounds.append(
            f"r{i} AS (SELECT c.vec_id, c.v, c.qsim, {score} AS score\n"
            f"                   FROM {frm} WHERE 1=1{excl}\n"
            f"                   ORDER BY score DESC, c.vec_id LIMIT 1)"
        )
        finals.append(
            f"SELECT {i} AS round, vec_id, round(qsim, 6) AS qsim,"
            f" round(score, 6) AS mmr_score FROM r{i}"
        )
    rounds_sql = ",\n            ".join(rounds)
    finals_sql = " UNION ALL ".join(finals)
    return f"""
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                       WHERE vec_id = 0),
            e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                  WHERE vec_id != 0),
            c AS (SELECT vec_id, v, {cos("v", "qv")} AS qsim FROM e, q),
            {rounds_sql}
            {finals_sql}
        """


def oracle_sql() -> dict[str, str]:
    """DuckDB twins of this family's queries, keyed by query name."""
    norm_text = _NORM.format(c="text")
    return {
        "embedding_isotropy": """
            WITH unit AS (SELECT vec_id, embedding,
                                 sqrt(list_dot_product(
                                   embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS nrm
                          FROM embeddings),
            e AS (SELECT vec_id,
                         unnest(embedding)::DOUBLE AS val,
                         unnest(range(64)) AS dim, nrm
                  FROM unit),
            e2 AS (SELECT dim, val / nrm AS u, val FROM e),
            per_dim AS (SELECT dim, sum(u) AS su, sum(val) AS sv,
                               sum(val * val) AS svv,
                               count(*)::BIGINT AS n
                        FROM e2 GROUP BY 1),
            fold AS (SELECT min(n)::BIGINT AS n_vecs,
                            sum(su * su) AS rs2,
                            sum(svv / n::DOUBLE
                                - (sv / n::DOUBLE)
                                  * (sv / n::DOUBLE)) AS tv,
                            sum((svv / n::DOUBLE
                                 - (sv / n::DOUBLE)
                                   * (sv / n::DOUBLE))
                                * (svv / n::DOUBLE
                                   - (sv / n::DOUBLE)
                                     * (sv / n::DOUBLE))) AS tv2
                     FROM per_dim)
            SELECT n_vecs,
                   round((rs2 - n_vecs::DOUBLE)
                         / (n_vecs::DOUBLE
                            * (n_vecs::DOUBLE - 1.0)), 6)
                     AS avg_pairwise_cos,
                   round(tv * tv / (64.0 * tv2) * 64.0, 6)
                     AS participation_ratio,
                   round(tv * tv / (64.0 * tv2), 6)
                     AS pr_normalized
            FROM fold
        """,
        "embedding_mmd": """
            WITH emb AS (SELECT vec_id, (label % 2)::BIGINT AS g,
                                embedding
                         FROM embeddings),
            e AS (SELECT vec_id, g,
                         unnest(embedding)::DOUBLE AS val,
                         unnest(range(64)) AS dim
                  FROM emb),
            mu AS (SELECT g, dim, avg(val) AS mu FROM e
                   GROUP BY 1, 2),
            mm AS (SELECT a.g, a.dim AS d1, b.dim AS d2,
                          avg(a.val * b.val) AS m
                   FROM e a JOIN e b USING (vec_id)
                   GROUP BY 1, 2, 3),
            md AS (SELECT sum((m0.m - m1.m) * (m0.m - m1.m))
                            AS mom_term
                   FROM (SELECT d1, d2, m FROM mm WHERE g = 0) m0
                   JOIN (SELECT d1, d2, m FROM mm WHERE g = 1) m1
                     USING (d1, d2)),
            ud AS (SELECT sum((u0.mu - u1.mu) * (u0.mu - u1.mu))
                            AS mean_term
                   FROM (SELECT dim, mu FROM mu WHERE g = 0) u0
                   JOIN (SELECT dim, mu FROM mu WHERE g = 1) u1
                     USING (dim)),
            cn AS (SELECT sum((g = 0)::INT)::BIGINT AS n_even,
                          sum((g = 1)::INT)::BIGINT AS n_odd
                   FROM emb)
            SELECT n_even, n_odd,
                   round(mom_term, 6) AS mmd2_moment_term,
                   round(2.0 * mean_term, 6) AS mmd2_mean_term,
                   round(mom_term + 2.0 * mean_term, 6)
                     AS mmd2_poly2
            FROM md, ud, cn
        """,
        "embedding_intrinsic_dim": """
            WITH q AS (SELECT vec_id AS qid, embedding
                       FROM embeddings
                       WHERE vec_id % 97 = 0 AND vec_id < 2000),
            d AS (SELECT q.qid, e.vec_id AS cid,
                         list_dot_product(q.embedding::DOUBLE[],
                                          q.embedding::DOUBLE[])
                         - 2.0 * list_dot_product(
                             q.embedding::DOUBLE[],
                             e.embedding::DOUBLE[])
                         + list_dot_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[])
                           AS dd
                  FROM embeddings e JOIN q ON e.vec_id != q.qid),
            r AS (SELECT qid, dd,
                         row_number() OVER (PARTITION BY qid
                                            ORDER BY dd, cid) AS rn
                  FROM d),
            wide AS (SELECT qid,
                            min(CASE WHEN rn = 1 THEN dd END) AS d1,
                            min(CASE WHEN rn = 2 THEN dd END) AS d2
                     FROM r WHERE rn <= 2 GROUP BY 1),
            np AS (SELECT count(*)::BIGINT AS n_probes FROM q),
            agg AS (SELECT count(*)::BIGINT AS n_used,
                           sum(0.5 * (ln(d2) - ln(d1))) AS slog
                    FROM wide WHERE d1 > 0)
            SELECT n_probes, n_used,
                   round(n_used::DOUBLE / slog, 6) AS intrinsic_dim,
                   round(slog / n_used::DOUBLE, 6) AS mean_log_ratio
            FROM agg, np
        """,
        "embedding_cka": """
            WITH e AS (SELECT vec_id,
                              unnest(embedding)::DOUBLE AS val,
                              unnest(range(64)) AS dim
                       FROM embeddings),
            m AS (SELECT dim, avg(val) AS mu FROM e GROUP BY 1),
            c AS (SELECT vec_id, dim, val - mu AS cv
                  FROM e JOIN m USING (dim)),
            g AS (SELECT a.dim AS d1, b.dim AS d2,
                         sum(a.cv * b.cv) AS gv
                  FROM c a JOIN c b USING (vec_id) GROUP BY 1, 2),
            p AS (SELECT unnest([8, 16, 32, 64]) AS prefix_dim),
            h AS (SELECT prefix_dim,
                         sum(CASE WHEN d1 < prefix_dim
                                  THEN gv * gv END) AS hxy,
                         sum(CASE WHEN d1 < prefix_dim
                                   AND d2 < prefix_dim
                                  THEN gv * gv END) AS hxx,
                         sum(gv * gv) AS hyy
                  FROM g, p GROUP BY 1),
            n AS (SELECT count(*)::BIGINT AS n_vecs FROM embeddings)
            SELECT prefix_dim::BIGINT AS prefix_dim, n_vecs,
                   round(hxy / sqrt(hxx * hyy), 6) AS cka
            FROM h, n ORDER BY prefix_dim
        """,
        "embedding_matryoshka_recall": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
                       FROM embeddings WHERE vec_id < 8),
            truth AS (
              SELECT query_id, neighbor_id FROM (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       row_number() OVER (
                         PARTITION BY q.query_id
                         ORDER BY
                           list_dot_product(q.q_vec::DOUBLE[],
                                            e.embedding::DOUBLE[])
                           / (sqrt(list_dot_product(q.q_vec::DOUBLE[],
                                                    q.q_vec::DOUBLE[]))
                              * sqrt(list_dot_product(
                                       e.embedding::DOUBLE[],
                                       e.embedding::DOUBLE[]))) DESC,
                           e.vec_id ASC) AS rank
                FROM embeddings e, q WHERE e.vec_id != q.query_id)
              WHERE rank <= 5),
            prefixes AS (SELECT unnest([8, 16, 32])::INT AS m),
            pk AS (
              SELECT m, query_id, neighbor_id FROM (
                SELECT p.m, q.query_id, e.vec_id AS neighbor_id,
                       row_number() OVER (
                         PARTITION BY p.m, q.query_id
                         ORDER BY
                           list_dot_product(
                             (q.q_vec[1:p.m])::DOUBLE[],
                             (e.embedding[1:p.m])::DOUBLE[])
                           / (sqrt(list_dot_product(
                                     (q.q_vec[1:p.m])::DOUBLE[],
                                     (q.q_vec[1:p.m])::DOUBLE[]))
                              * sqrt(list_dot_product(
                                       (e.embedding[1:p.m])::DOUBLE[],
                                       (e.embedding[1:p.m])::DOUBLE[])))
                           DESC,
                           e.vec_id ASC) AS rank
                FROM embeddings e, q, prefixes p
                WHERE e.vec_id != q.query_id)
              WHERE rank <= 5),
            hits AS (
              SELECT m AS prefix_dim, count(*)::BIGINT AS n_hits
              FROM pk SEMI JOIN truth USING (query_id, neighbor_id)
              GROUP BY 1),
            nt AS (SELECT count(*)::BIGINT AS n_truth FROM truth)
            SELECT prefix_dim, n_truth, n_hits,
                   round(n_hits::DOUBLE / n_truth::DOUBLE, 6) AS recall
            FROM hits CROSS JOIN nt ORDER BY prefix_dim
        """,
        "bm25_param_sweep": f"""
            WITH tk AS (SELECT doc_id,
                               unnest(str_split({{norm}}, ' ')) AS term
                        FROM documents),
            tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
                   FROM tk WHERE term <> '' GROUP BY 1, 2),
            dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
            stats AS (SELECT count(*)::DOUBLE AS n_docs,
                             avg(dl) AS avgdl FROM dl),
            df AS (SELECT term, count(*)::DOUBLE AS dfreq
                   FROM tf GROUP BY 1),
            probe AS (SELECT doc_id FROM documents
                      WHERE doc_id % 97 = 0 AND doc_id < 2000),
            qq AS (SELECT doc_id AS query_id, term
                   FROM (SELECT tf.doc_id, tf.term,
                                row_number() OVER (
                                  PARTITION BY tf.doc_id
                                  ORDER BY tf.tf DESC, tf.term) AS tr
                         FROM tf SEMI JOIN probe USING (doc_id))
                   WHERE tr <= 4),
            grid AS (SELECT k1, b
                     FROM (SELECT unnest([0.5, 1.2, 2.0])::DOUBLE AS k1)
                     CROSS JOIN
                          (SELECT unnest([0.0, 0.75, 1.0])::DOUBLE AS b)),
            cand AS (
              SELECT g.k1, g.b, qq.query_id, tf.doc_id,
                     sum(ln(1.0::DOUBLE
                            + (stats.n_docs - df.dfreq + 0.5::DOUBLE)
                              / (df.dfreq + 0.5::DOUBLE))
                         * tf.tf * (g.k1 + 1.0::DOUBLE)
                         / (tf.tf + g.k1
                            * (1.0::DOUBLE - g.b
                               + g.b * dl.dl / stats.avgdl))) AS score
              FROM qq JOIN tf USING (term)
                     JOIN df USING (term)
                     JOIN dl ON tf.doc_id = dl.doc_id
                     CROSS JOIN stats CROSS JOIN grid g
              GROUP BY 1, 2, 3, 4),
            r AS (SELECT k1, b, query_id, doc_id,
                         row_number() OVER (
                           PARTITION BY k1, b, query_id
                           ORDER BY round(score, 9) DESC, doc_id)
                           AS rank
                  FROM cand),
            hits AS (SELECT k1, b, sum(1.0::DOUBLE / rank) AS rr
                     FROM r
                     WHERE rank <= 10 AND doc_id = query_id
                     GROUP BY 1, 2),
            np AS (SELECT count(*)::BIGINT AS n_queries FROM probe)
            SELECT g.k1, g.b, n_queries,
                   round(coalesce(rr, 0.0::DOUBLE)
                         / n_queries::DOUBLE, 6) AS mrr
            FROM grid g LEFT JOIN hits USING (k1, b) CROSS JOIN np
            ORDER BY g.k1, g.b
        """.replace("{norm}", norm_text),
        "embedding_drift": """
            WITH dims AS (
              SELECT label, vec_id % 2 AS half, d.d AS d,
                     (embedding[d.d + 1])::DOUBLE AS x
              FROM embeddings, (SELECT unnest(range(64)) AS d) d),
            cent AS (SELECT label, d,
                            avg(CASE WHEN half = 0 THEN x END) AS ma,
                            avg(CASE WHEN half = 1 THEN x END) AS mb
                     FROM dims GROUP BY 1, 2),
            agg AS (SELECT label, sum(ma * mb) AS dot,
                           sum(ma * ma) AS qa, sum(mb * mb) AS qb,
                           sum((ma - mb) * (ma - mb)) AS sq
                    FROM cent GROUP BY 1),
            cnt AS (SELECT label,
                           count(DISTINCT CASE WHEN vec_id % 2 = 0
                                 THEN vec_id END)::BIGINT AS n_a,
                           count(DISTINCT CASE WHEN vec_id % 2 = 1
                                 THEN vec_id END)::BIGINT AS n_b
                    FROM embeddings GROUP BY 1)
            SELECT a.label, c.n_a, c.n_b,
                   round(dot / (sqrt(qa) * sqrt(qb)), 6) AS cosine,
                   round(sqrt(sq), 6) AS l2
            FROM agg a JOIN cnt c USING (label) ORDER BY a.label
        """,
        "embedding_mmr": _mmr_oracle_sql(k=5, lam=0.75),
        "embedding_silhouette": """
            WITH dims AS (
              SELECT label, vec_id, d.d AS d,
                     (embedding[d.d + 1])::DOUBLE AS x
              FROM embeddings, (SELECT unnest(range(64)) AS d) d),
            cent AS (SELECT label AS clabel, d, avg(x) AS mu
                     FROM dims GROUP BY 1, 2),
            sq AS (SELECT v.label, v.vec_id, c.clabel,
                          sqrt(sum((v.x - c.mu) * (v.x - c.mu))) AS dist
                   FROM dims v JOIN cent c USING (d)
                   GROUP BY 1, 2, 3),
            pv AS (SELECT label, vec_id,
                          max(CASE WHEN clabel = label THEN dist END) AS a,
                          min(CASE WHEN clabel <> label THEN dist END) AS b
                   FROM sq GROUP BY 1, 2)
            SELECT label, count(*)::BIGINT AS n_vecs,
                   round(avg(a), 6) AS avg_own_dist,
                   round(avg(b), 6) AS avg_other_dist,
                   round(avg((b - a) / greatest(a, b)), 6) AS silhouette
            FROM pv GROUP BY label
        """,
        "embedding_outliers": """
            WITH dims AS (
              SELECT label, vec_id, d.d AS d,
                     (embedding[d.d + 1])::DOUBLE AS x
              FROM embeddings, (SELECT unnest(range(64)) AS d) d),
            cent AS (SELECT label, d, avg(x) AS mu
                     FROM dims GROUP BY 1, 2),
            sq AS (SELECT dims.label, dims.vec_id,
                          sum((x - mu) * (x - mu)) AS sq
                   FROM dims JOIN cent
                     ON dims.label = cent.label AND dims.d = cent.d
                   GROUP BY 1, 2),
            dist AS (SELECT label, vec_id, sqrt(sq) AS dist FROM sq),
            stats AS (SELECT label, avg(dist) AS d_mu,
                             stddev_samp(dist) AS d_sd
                      FROM dist GROUP BY 1)
            SELECT dist.label, vec_id,
                   round(dist, 6) AS dist,
                   round((dist - d_mu) / d_sd, 6) AS z,
                   abs(round((dist - d_mu) / d_sd, 6)) > 2 AS outlier
            FROM dist JOIN stats ON dist.label = stats.label
        """,
        "search_eval_ndcg": _search_eval_oracle(),
        "embedding_random_projection": _random_projection_oracle(),
        "embedding_kmeans": _embedding_kmeans_oracle(),
        "embedding_quantize": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            d0 AS (SELECT unnest(list_transform(v,
                     (x, i) -> struct_pack(x := x, pos := i))) AS s FROM e),
            d AS (SELECT s.pos AS pos, min(s.x) AS lo, max(s.x) AS hi
                  FROM d0 GROUP BY s.pos),
            m AS (SELECT list(lo ORDER BY pos) AS los,
                         list(hi - lo ORDER BY pos) AS rngs FROM d),
            coded AS (
              SELECT vec_id, v, los, rngs,
                     list_transform(v, (x, i) ->
                       least(greatest(
                         CASE WHEN rngs[i] = 0 THEN 0.0
                              ELSE round((x - los[i]) * 255.0 / rngs[i], 0) END,
                         0.0), 255.0)::INT) AS codes
              FROM e, m),
            diffs AS (
              SELECT vec_id, codes,
                     list_transform(v, (x, i) ->
                       x - (los[i] + list_extract(codes, i) * rngs[i] / 255.0))
                       AS dv
              FROM coded)
            SELECT vec_id,
                   to_json(codes) AS codes_json,
                   round(list_reduce(list_transform(dv, y -> y * y),
                                     (a, b) -> a + b) / len(dv), 10) AS mse
            FROM diffs
        """,
        "embedding_norm_stats": """
            WITH e AS (
              SELECT label, len(embedding)::INT AS dim,
                     sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])) AS nrm
              FROM embeddings)
            SELECT label, count(*)::BIGINT AS n_vecs,
                   min(dim) AS dim_min, max(dim) AS dim_max,
                   sum((nrm = 0.0)::INT)::BIGINT AS n_zero,
                   round(min(nrm), 6) AS norm_min,
                   round(avg(nrm), 6) AS norm_avg,
                   round(max(nrm), 6) AS norm_max
            FROM e GROUP BY 1
        """,
        "text_search_bm25": f"""
            WITH tk AS (SELECT doc_id, unnest(str_split({norm_text}, ' ')) AS term
                        FROM documents),
            tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
                   FROM tk WHERE term <> '' GROUP BY 1, 2),
            dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
            stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
            df AS (SELECT term, count(*)::DOUBLE AS dfreq FROM tf GROUP BY 1),
            q AS (SELECT doc_id AS query_id,
                         unnest(list_distinct(
                           (str_split({norm_text}, ' '))[1:4])) AS term
                  FROM documents WHERE doc_id IN (3, 17, 31, 59)),
            cand AS (SELECT q.query_id, tf.doc_id,
                            sum(ln(1.0::DOUBLE
                                   + (stats.n_docs - df.dfreq + 0.5::DOUBLE)
                                     / (df.dfreq + 0.5::DOUBLE))
                                * tf.tf * (1.2::DOUBLE + 1.0::DOUBLE)
                                / (tf.tf + 1.2::DOUBLE
                                   * (1.0::DOUBLE - 0.75::DOUBLE
                                      + 0.75::DOUBLE * dl.dl / stats.avgdl)))
                              AS score
                     FROM q JOIN tf USING (term)
                            JOIN df USING (term)
                            JOIN dl ON tf.doc_id = dl.doc_id
                            CROSS JOIN stats
                     GROUP BY 1, 2),
            r AS (SELECT query_id, doc_id, score,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY round(score, 9) DESC,
                                                     doc_id) AS rank
                  FROM cand)
            SELECT query_id, doc_id, rank::INT AS rank, round(score, 6) AS score
            FROM r WHERE rank <= 10
        """,
        "similarity_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
                       FROM embeddings WHERE vec_id < 8),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     list_dot_product(q.q_vec::DOUBLE[], e.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(q.q_vec::DOUBLE[], q.q_vec::DOUBLE[]))
                          * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                  e.embedding::DOUBLE[]))) AS cosine
              FROM embeddings e, q WHERE e.vec_id != q.query_id),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, neighbor_id ASC) AS rank
              FROM scored)
            SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
            FROM ranked WHERE rank <= 5
        """,
        "similarity_neardup_embedding": _embedding_neardup_oracle(),
        "similarity_lsh_ann": _lsh_ann_oracle(),
        "ann_recall": _ann_recall_oracle(),
        "similarity_lsh_multi": _lsh_multi_oracle(),
        "embedding_pq": _pq_oracle(),
        "similarity_ivf_ann": _ivf_ann_oracle(),
        "hard_negatives": """
            WITH q AS (SELECT vec_id AS query_id, label AS q_label,
                              embedding AS q_vec
                       FROM embeddings WHERE vec_id < 8),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     e.label AS neg_label,
                     list_dot_product(q.q_vec::DOUBLE[], e.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(q.q_vec::DOUBLE[], q.q_vec::DOUBLE[]))
                          * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                  e.embedding::DOUBLE[]))) AS cosine
              FROM embeddings e, q WHERE e.label != q.q_label),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, neighbor_id ASC) AS rank
              FROM scored)
            SELECT query_id, neighbor_id, neg_label,
                   round(cosine, 6) AS cosine, rank
            FROM ranked WHERE rank <= 5
        """,
        "hybrid_search_rrf": _hybrid_rrf_oracle(),
        "embedding_pca": _pca_oracle(),
        "embedding_whiten": _whiten_oracle(),
        "item_similarity": """
            WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
                        FROM lineitem),
            cnt AS (SELECT l_partkey, count(*)::BIGINT AS n
                    FROM li GROUP BY 1),
            cooc AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                            count(*)::BIGINT AS cooc
                     FROM li a JOIN li b
                       ON a.l_orderkey = b.l_orderkey
                      AND a.l_partkey < b.l_partkey
                     GROUP BY 1, 2 HAVING count(*) >= 2),
            sim AS (SELECT pa, pb, cooc,
                           cooc / sqrt(na.n::DOUBLE * nb.n) AS cos_raw
                    FROM cooc
                         JOIN cnt na ON cooc.pa = na.l_partkey
                         JOIN cnt nb ON cooc.pb = nb.l_partkey),
            rk AS (SELECT pa, pb, cooc, cos_raw,
                          row_number() OVER (PARTITION BY pa
                                             ORDER BY cos_raw DESC, pb)
                            AS rank
                   FROM sim)
            SELECT pa, pb, cooc, round(cos_raw, 6) AS cos, rank::INT AS rank
            FROM rk WHERE rank <= 3
        """,
    }


def _ann_recall_oracle(k: int = 5) -> str:
    """SQL twin of q_ann_recall: brute-force truth CTE (same formula
    and tie-break as the similarity_topk oracle), each ANN oracle
    embedded as a derived table (DuckDB allows WITH inside a
    parenthesized subquery), EXISTS-count hits, recall = hits/truth."""
    cos = _COSINE_SQL.format(a="q.embedding", b="e.embedding")
    truth = f"""
          SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY {cos} DESC, e.vec_id ASC) AS rank
            FROM embeddings e JOIN embeddings q
              ON q.vec_id < 8 AND e.vec_id != q.vec_id
          ) WHERE rank <= {k}"""
    methods = [
        ("ivf_ann", _ivf_ann_oracle()),
        ("lsh_ann", _lsh_ann_oracle()),
        ("lsh_ann_multi", _lsh_multi_oracle()),
    ]
    branches = []
    for i, (name, sql) in enumerate(methods):
        branches.append(
            f"""SELECT '{name}' AS method, nt.n_truth, h.n_hits,
                   round(h.n_hits / nt.n_truth, 6) AS recall
            FROM (SELECT count(*) AS n_hits FROM truth t
                  WHERE EXISTS (SELECT 1 FROM m{i}
                                WHERE m{i}.query_id = t.query_id
                                  AND m{i}.neighbor_id = t.neighbor_id)) h, nt"""
        )
    ctes = ",\n".join(
        f"m{i} AS (SELECT query_id, neighbor_id FROM ({sql}))"
        for i, (_, sql) in enumerate(methods)
    )
    return f"""
        WITH truth AS ({truth}),
        nt AS (SELECT count(*) AS n_truth FROM truth),
        {ctes}
        {' UNION ALL '.join(branches)}
    """


def _embedding_kmeans_oracle(n_clusters: int = 8) -> str:
    """SQL twin of the seeded one-iteration k-means assignment chain
    (same seeds / distance expansion / tie-breaks / rounded means /
    empty-cluster rule as _semantic_dedup_oracle), emitting the
    per-vector assignment plus cluster sizes."""
    return f"""
        WITH {_kmeans_step_ctes(n_clusters)},
        assigned AS (
          SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
            FROM d1) WHERE rn = 1)
        SELECT vec_id, cluster,
               count(*) OVER (PARTITION BY cluster) AS cluster_size
        FROM assigned
    """


def _ivf_ann_oracle(n_clusters: int = 8, n_probe: int = 2, k: int = 5) -> str:
    """SQL twin of similarity.ivf_ann: identical seeded-kmeans chain.
    Distances use the same |x|^2 - 2x.c + |c|^2 expansion and
    parenthesization so the float folds are bit-identical."""
    cos = _COSINE_SQL.format(a="p.q_vec", b="inv.e")
    return f"""
        WITH {_kmeans_step_ctes(n_clusters)},
        inv AS (
          SELECT d1.vec_id, cluster, e FROM (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
            FROM d1) d1 JOIN emb USING (vec_id) WHERE rn = 1),
        probes AS (
          SELECT vec_id AS query_id, cluster, e AS q_vec FROM (
            SELECT d1.vec_id, cluster, e,
                   row_number() OVER (PARTITION BY d1.vec_id
                                      ORDER BY d, cluster) AS rn
            FROM d1 JOIN emb USING (vec_id)
            WHERE d1.vec_id < {n_clusters}) WHERE rn <= {n_probe}),
        scored AS (
          SELECT p.query_id, inv.vec_id AS neighbor_id, {cos} AS cosine
          FROM probes p JOIN inv ON inv.cluster = p.cluster
          WHERE inv.vec_id != p.query_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
        FROM ranked WHERE rank <= {k}
    """


def _embedding_neardup_oracle() -> str:
    bucket = _planes_bucket_sql("embedding")
    cos = _COSINE_SQL.format(a="a.embedding", b="b.embedding")
    return f"""
        WITH signed AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos}, 6) AS cosine
        FROM signed a JOIN signed b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {cos} >= 0.5
    """


def _lsh_ann_oracle() -> str:
    bucket = _planes_bucket_sql("embedding")
    cos = _COSINE_SQL.format(a="q.embedding", b="c.embedding")
    return f"""
        WITH signed AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
        q AS (SELECT * FROM signed WHERE vec_id < 8),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cosine
          FROM signed c JOIN q ON c.bucket = q.bucket AND c.vec_id != q.vec_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
        FROM ranked WHERE rank <= 5
    """


def _pq_oracle(m: int = 4, n_clusters: int = 8, dim: int = 64) -> str:
    """SQL twin of similarity.pq_encode: per-subvector seeded-kmeans
    chain (the ivf oracle's CTE pattern over e[lo:hi] slices), then
    each vector's nearest codeword + its squared distance per
    subvector; mse = sum of chosen distances / dim."""
    sub = dim // m
    d_expr = (
        "(list_dot_product(v.es, v.es) - 2 * list_dot_product(v.es, cent.c))"
        " + list_dot_product(cent.c, cent.c)"
    )
    ctes = []
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        ctes.append(f"""
        emb{s} AS (SELECT vec_id, e[{lo}:{hi}] AS es FROM emb),
        seeds{s} AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, es AS c
          FROM (SELECT * FROM emb{s} ORDER BY vec_id LIMIT {n_clusters})),
        d0_{s} AS (
          SELECT v.vec_id, cent.cluster, {d_expr} AS d
          FROM emb{s} v CROSS JOIN seeds{s} cent),
        a0_{s} AS (
          SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
            FROM d0_{s}) WHERE rn = 1),
        m0_{s} AS (
          SELECT a.cluster, u.pos, round(avg(u.val), 3) AS val
          FROM a0_{s} a JOIN emb{s} USING (vec_id),
               LATERAL (SELECT unnest(es) AS val,
                               generate_subscripts(es, 1) AS pos) u
          GROUP BY a.cluster, u.pos),
        cent1_{s} AS (
          SELECT sd.cluster,
                 coalesce(list(m0_{s}.val ORDER BY m0_{s}.pos), sd.c) AS c
          FROM seeds{s} sd LEFT JOIN m0_{s} ON sd.cluster = m0_{s}.cluster
          GROUP BY sd.cluster, sd.c),
        pick{s} AS (
          SELECT vec_id, cluster, d FROM (
            SELECT v.vec_id, cent.cluster, {d_expr} AS d,
                   row_number() OVER (PARTITION BY v.vec_id
                                      ORDER BY {d_expr}, cent.cluster) AS rn
            FROM emb{s} v CROSS JOIN cent1_{s} cent) WHERE rn = 1)""")
    joins = " ".join(f"JOIN pick{s} p{s} USING (vec_id)" for s in range(1, m))
    codes = ", ".join(
        ("p0.cluster" if s == 0 else f"p{s}.cluster") for s in range(m)
    )
    errs = " + ".join(("p0.d" if s == 0 else f"p{s}.d") for s in range(m))
    return f"""
        WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        {','.join(ctes)}
        SELECT p0.vec_id,
               to_json([{codes}]) AS codes_json,
               round(({errs}) / {dim}, 9) AS mse
        FROM pick0 p0 {joins}
    """


def _lsh_multi_oracle(n_planes: int = 6, n_tables: int = 3, k: int = 5) -> str:
    """SQL twin of similarity.lsh_ann_multi: per-table bucket columns
    (same seeded hyperplanes), UNION ALL of per-table collisions,
    distinct candidates, cosine top-k."""
    cos = _COSINE_SQL.format(a="q2.embedding", b="c2.embedding")
    table_sel = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS table_id, "
        f"{_planes_bucket_sql('embedding', n_planes, 64, 42 + 1000 * t)} AS bucket "
        "FROM embeddings"
        for t in range(n_tables)
    )
    return f"""
        WITH s AS ({table_sel}),
        q AS (SELECT * FROM s WHERE vec_id < 8),
        cands AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
          FROM s c JOIN q ON c.table_id = q.table_id AND c.bucket = q.bucket
          WHERE c.vec_id != q.vec_id),
        scored AS (
          SELECT cd.query_id, cd.neighbor_id, {cos} AS cosine
          FROM cands cd
          JOIN embeddings c2 ON cd.neighbor_id = c2.vec_id
          JOIN embeddings q2 ON cd.query_id = q2.vec_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
        FROM ranked WHERE rank <= {k}
    """
