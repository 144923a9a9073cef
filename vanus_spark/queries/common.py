"""Helpers that several query families share: table loaders and
SQL fragments used by more than one family's builders or DuckDB twins."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vanus_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "events")


def _cloudevents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vanus_spark.model import events_to_cloudevents

    return events_to_cloudevents(_events(spark, sf_dir))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from vanus_spark.sources.tables import load_table

    return load_table(spark, sf_dir, name)


def _lined_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with synthesized line structure (the corpus text is
    single-line word soup): a newline after every 8th word. The oracle
    applies the identical regexp."""
    docs = _t(spark, sf_dir, "documents")
    return docs.withColumn(
        "text", F.regexp_replace("text", r"((\S+ ){7}\S+) ", "$1\n")
    )


_NORM = "trim(regexp_replace(lower({c}), '\\s+', ' ', 'g'))"


# A&S 26.2.17 upper-tail normal polynomial — the SQL twin of
# vanus_spark.operators.hyptests.norm_sf, same literals, same nesting.
_NORM_SF_SQL = (
    "(exp(-{z} * {z} / 2) / 2.5066282746310002"
    " * ((1.0 / (1.0 + 0.2316419 * {z}))"
    "    * (0.319381530 + (1.0 / (1.0 + 0.2316419 * {z}))"
    "       * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * {z}))"
    "          * (1.781477937 + (1.0 / (1.0 + 0.2316419 * {z}))"
    "             * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * {z}))"
    "                * 1.330274429))))))"
)


def _planes_bucket_sql(
    vec_expr: str, n_planes: int = 6, dim: int = 64, seed: int = 42
) -> str:
    """LSH bucket expression with the SAME hyperplanes as
    vanus_spark.llm.similarity.random_hyperplanes(dim, n, seed),
    inlined as SQL literals."""
    from vanus_spark.llm.similarity import random_hyperplanes

    planes = random_hyperplanes(dim, n_planes, seed)
    bits = [
        f"(CASE WHEN list_dot_product({vec_expr}::DOUBLE[], "
        f"[{', '.join(repr(x) for x in plane)}]) >= 0 THEN '1' ELSE '0' END)"
        for plane in planes
    ]
    return " || ".join(bits)


def _kmeans_step_ctes(n_clusters: int) -> str:
    """The seeded one-step k-means CTE chain of the similarity and
    semantic-dedup twins (emb, seeds, d0, a0, m0, cent1, d1): the first
    ``n_clusters`` vectors by id seed it; distances use the same
    |x|^2 - 2x.c + |c|^2 expansion and parenthesization as the Spark
    side, so the float folds are bit-identical."""
    d_expr = (
        "(list_dot_product(v.e, v.e) - 2 * list_dot_product(v.e, cent.c))"
        " + list_dot_product(cent.c, cent.c)"
    )
    return f"""emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        seeds AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, e AS c
          FROM (SELECT * FROM emb ORDER BY vec_id LIMIT {n_clusters})),
        d0 AS (
          SELECT v.vec_id, cent.cluster, {d_expr} AS d
          FROM emb v CROSS JOIN seeds cent),
        a0 AS (
          SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
            FROM d0) WHERE rn = 1),
        m0 AS (
          SELECT a0.cluster, u.pos, round(avg(u.val), 3) AS val
          FROM a0 JOIN emb USING (vec_id),
               LATERAL (SELECT unnest(e) AS val,
                               generate_subscripts(e, 1) AS pos) u
          GROUP BY a0.cluster, u.pos),
        cent1 AS (
          SELECT s.cluster,
                 coalesce(list(m0.val ORDER BY m0.pos), s.c) AS c
          FROM seeds s LEFT JOIN m0 ON s.cluster = m0.cluster
          GROUP BY s.cluster, s.c),
        d1 AS (
          SELECT v.vec_id, cent.cluster, {d_expr} AS d
          FROM emb v CROSS JOIN cent1 cent)"""


_COSINE_SQL = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)


def _shingle_sql(norm: str = "nt", n: int = 3) -> str:
    """DuckDB expr: distinct word n-gram shingles of a normalized text
    column (mirrors vanus_spark.llm.dedup.shingles)."""
    return f"""
        list_distinct(list_transform(
            generate_series(1, greatest(len(str_split({norm}, ' ')) - {n - 1}, 1)),
            i -> array_to_string(str_split({norm}, ' ')[i:i+{n - 1}], ' ')))
    """


def _minhash_cte() -> str:
    """Shared CTE chain: normalized text -> shingles -> universal-hash
    minhash signature -> LSH band buckets (mirrors
    vanus_spark.llm.dedup.minhash_signatures_df/minhash_lsh_buckets:
    base = ('0x'||substr(md5('0|'||s),1,15))::BIGINT % p, then
    h_i = (a_i*base + b_i) % p with the same coefficient family)."""
    from vanus_spark.llm.dedup import MINHASH_P, minhash_coeffs

    norm = _NORM.format(c="text")
    coeffs = minhash_coeffs(16)
    mins = ", ".join(
        f"min(({a} * h + {b}) % {MINHASH_P}) AS h{i}" for i, (a, b) in enumerate(coeffs)
    )
    bands = ", ".join(
        "md5(" + " || '_' || ".join(f"h{b * 2 + j}::VARCHAR" for j in range(2)) + f") AS band_{b}"
        for b in range(8)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, band_{b} AS band_key FROM banded" for b in range(8)
    )
    return f"""
        n AS (SELECT doc_id, {norm} AS nt FROM documents),
        sh AS (SELECT doc_id, {_shingle_sql()} AS sh FROM n),
        hashed AS (
          SELECT doc_id,
                 ('0x' || substr(md5('0|' || u.s), 1, 15))::BIGINT % {MINHASH_P} AS h
          FROM sh, unnest(sh.sh) AS u(s)),
        sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
        banded AS (SELECT doc_id, {bands} FROM sig),
        buckets AS ({band_rows})
    """


def _jaccard_oracle() -> str:
    return f"""
        WITH {_minhash_cte()},
        pairs AS (
          SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM buckets l JOIN buckets r
            ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id)
        SELECT p.id_a, p.id_b,
               round(len(list_intersect(a.sh, b.sh))::DOUBLE
                     / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
        FROM pairs p
        JOIN sh a ON p.id_a = a.doc_id
        JOIN sh b ON p.id_b = b.doc_id
    """


def _quality_score_oracle() -> str:
    """SELECT doc_id, q (rounded composite quality) — the single SQL
    twin of textstats.quality_score, shared by corpus_clean, the
    best-representative ranking, and the funnel."""
    norm = _NORM.format(c="text")
    return f"""
            SELECT doc_id,
                   round(least((CASE WHEN length(nt)=0 THEN 0
                                ELSE len(str_split(nt,' ')) END) / 50.0, 1.0) * 0.4
                     + (CASE WHEN (list_reduce(list_transform(str_split(nt,' '),
                            t -> length(t)::DOUBLE), (a,b) -> a+b)
                            / greatest(len(str_split(nt,' ')),1)) BETWEEN 3 AND 10
                        THEN 1.0 ELSE 0.5 END) * 0.3
                     + (1.0 - least(((length(text) - length(regexp_replace(text,
                            '[^\\w\\s]', '', 'g')))::DOUBLE
                            / greatest(length(text),1)) * 5, 1.0)) * 0.3, 6) AS q
            FROM (SELECT doc_id, text, {norm} AS nt FROM documents) qn"""
