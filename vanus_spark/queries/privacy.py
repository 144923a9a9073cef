"""Privacy and sampling: PII redaction, contamination, k-anonymity,
t-closeness, differential privacy and the sampling designs."""

from __future__ import annotations

import glob

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from vanus_spark.queries.common import _t


# deterministic PII injected into the fixture text so the redactor has
# real targets (the synthetic corpus contains none)
_PII_SUFFIX_SPARK = lambda: F.concat(  # noqa: E731
    F.col("text"),
    F.lit(" contact u"), F.col("doc_id").cast("string"),
    F.lit("@mail.example.com from 10.0."),
    (F.col("doc_id") % 200).cast("string"),
    F.lit(".25 ssn 123-45-6789 call 555-123-4567"),
)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vanus_spark.llm.curation import pii_report

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _PII_SUFFIX_SPARK().alias("text")
    )
    return pii_report(docs)


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language mixing ratios via deterministic hash gate."""
    from vanus_spark.llm.curation import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs,
        strata_col="lang",
        rates={"en": 0.8, "fr": 0.5, "es": 0.25, "de": 0.1},
        key_col="doc_id",
        default_rate=0.05,
    )
    return out.select("doc_id", "lang")


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-ES): key = u^(1/w) per doc from a seeded-hash uniform, global
    top-k keys = the sample; plan is hash + pow per row then
    TakeOrderedAndProject (never a full sort). Weights = n_chars, so
    long documents are proportionally likelier. The oracle pins the
    GOLDEN selected set for the sf0.01 fixture (pow is libm-dependent
    across engines, so cross-engine float re-derivation would be
    flaky by construction — the bpe_merges pinning pattern instead);
    determinism under (seed, id) is what makes the pin sound, and
    tests/test_llm_ops.py checks the statistical property."""
    from vanus_spark.llm.curation import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample(docs, "n_chars", k=25, seed=7)
    return out.select("doc_id", "n_chars", "sample_rank")


def q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture materialization: the largest corpus with lang shares
    en:de:fr = 2:1:1, no upsampling — per-stratum exact-k selection in
    deterministic hash order, limits derived from one #strata-row
    aggregate (T = min floor(n_s / w_s), k_s = floor(T * w_s))."""
    from vanus_spark.llm.curation import resample_mixture

    docs = _t(spark, sf_dir, "documents")
    out = resample_mixture(
        docs, "lang", {"en": 0.5, "de": 0.25, "fr": 0.25}, "doc_id"
    )
    return out.select("doc_id", "lang")


def q_sample_exact_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 20 docs per language, chosen by deterministic hash
    order — the reproducible eval-set construction primitive."""
    from vanus_spark.llm.curation import exact_stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = exact_stratified_sample(docs, "lang", 20, "doc_id")
    return out.select("doc_id", "lang")


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic leakage-safe train/val/test split: membership is
    a pure function of (seed, doc_id) — one hash + one CASE per row,
    zero shuffle, stable under re-runs and incremental appends. Split
    sizes emitted per (split, lang) so the oracle also checks that
    assignment is independent of the stratum."""
    from vanus_spark.llm.versioning import hash_split

    docs = _t(spark, sf_dir, "documents")
    out = hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=11)
    return out.groupBy("split", "lang").agg(F.count("*").alias("n_docs"))


def q_sample_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified k-fold assignment + balance gate: fold
    = md5(seed | custkey) % 5 (reproducible across engines and runs —
    the property a training pipeline needs so every re-run and every
    worker agrees on the split), stratum = market segment. Output per
    (stratum, fold): n, within-stratum share, deviation from 1/k, and
    the balance flag |dev| < 0.05 — the pre-training sanity gate that
    a hash fold didn't land skewed in any stratum. One groupBy; the
    share join is a 5-row-per-stratum dim."""
    from vanus_spark.llm.dedup import md5_long

    cust = _t(spark, sf_dir, "customer")
    tagged = cust.select(
        F.col("c_mktsegment").alias("stratum"),
        (md5_long(F.col("c_custkey"), 11) % 5).alias("fold"),
    )
    cells = tagged.groupBy("stratum", "fold").agg(F.count("*").alias("n"))
    tot = cells.groupBy("stratum").agg(F.sum("n").alias("_nt"))
    share = F.col("n").cast("double") / F.col("_nt")
    return (
        cells.join(tot, "stratum")
        .select(
            "stratum",
            "fold",
            "n",
            F.round(share, 6).alias("share"),
            F.round(share - 0.2, 6).alias("dev"),
            (F.abs(share - 0.2) < 0.05).alias("balanced"),
        )
        .orderBy("stratum", "fold")
    )


def q_privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit of the customer table under the
    quasi-identifier pair (mktsegment, nationkey) with the balance
    tier as the sensitive attribute — the re-identification risk
    report a privacy review runs before any data release: k = group
    size, l = distinct sensitive values in the group, at_risk flags
    k < 5 or l < 2. ONE map-side combined aggregate to the QI dim
    (#segments x #nations rows); exact integers throughout."""
    c = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_nationkey",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("tier"),
    )
    g = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("k"),
        F.count_distinct("tier").alias("l_diversity"),
    )
    return g.select(
        "c_mktsegment",
        "c_nationkey",
        "k",
        "l_diversity",
        ((F.col("k") < 5) | (F.col("l_diversity") < 2)).alias("at_risk"),
    ).orderBy("c_mktsegment", "c_nationkey")


def q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every event type keeps exactly
    min-class-count rows, chosen by a deterministic md5 shuffle key
    (seeded hash rank per class — reproducible under reruns and
    engine-independent, the sample_kfold discipline). One class-count
    aggregate broadcast back, one per-class window whose partition is
    the class (parallelism = #classes x slices); the selected set is
    pinned by (hash, event_id) total order."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    m = counts.agg(F.min("n").alias("m"))
    keyed = ev.withColumn(
        "h", F.md5(F.concat(F.lit("bal7:"), F.col("event_id")))
    )
    w = Window.partitionBy("event_type").orderBy("h", "event_id")
    ranked = keyed.select(
        "event_id",
        "event_type",
        F.row_number().over(w).alias("rank"),
    )
    return (
        ranked.crossJoin(F.broadcast(m))
        .where(F.col("rank") <= F.col("m"))
        .select("event_id", "event_type", "rank")
        .orderBy("event_type", "rank")
    )


def q_privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit under the same quasi-identifier pair and
    sensitive balance tier as q_privacy_k_anonymity — the
    distribution-level privacy check k/l-diversity can't express: a
    group can be large AND diverse yet still leak if its sensitive
    distribution deviates from the corpus-wide one. Distance is the
    total variation distance, kept EXACT-integer until one division:
    tvd = 0.5 * sum_tiers |cnt*n_total - global_cnt*k| / (k*n_total).
    The cnt*n_total products are widened to decimal(38,0) (HUGEINT on
    the oracle) so the arithmetic survives past ~3e9 total rows where
    a BIGINT product would silently wrap on Spark and error on DuckDB
    (the acf_exact widening pattern).
    Zero cells matter (an absent tier contributes its full global
    share), so the group x tier frame is the CROSS of two bounded
    dims (#groups x 3), never a row-level join. Flags t > 0.2."""
    c = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_nationkey",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("tier"),
    )
    cells = c.groupBy("c_mktsegment", "c_nationkey", "tier").agg(
        F.count("*").alias("cnt")
    )
    groups = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("k")
    )
    glob = c.groupBy("tier").agg(F.count("*").alias("gc"))
    tot = c.agg(F.count("*").alias("n_total"))
    frame = groups.crossJoin(F.broadcast(glob)).join(
        cells, ["c_mktsegment", "c_nationkey", "tier"], "left"
    ).select(
        "c_mktsegment",
        "c_nationkey",
        "k",
        "gc",
        F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
    )
    g = frame.crossJoin(F.broadcast(tot)).groupBy(
        "c_mktsegment", "c_nationkey"
    ).agg(
        F.first("k").alias("k"),
        F.first("n_total").alias("_n"),
        F.sum(
            F.abs(
                F.col("cnt").cast("decimal(38,0)") * F.col("n_total")
                - F.col("gc").cast("decimal(38,0)") * F.col("k")
            )
        ).alias("_s"),
    )
    tvd = (
        0.5
        * F.col("_s").cast("double")
        / (F.col("k").cast("decimal(38,0)") * F.col("_n")).cast("double")
    )
    return g.select(
        "c_mktsegment",
        "c_nationkey",
        "k",
        F.round(tvd, 6).alias("tvd"),
        (tvd > 0.2).alias("t_leaky"),
    ).orderBy("c_mktsegment", "c_nationkey")


def q_sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling DESIGN (Neyman 1934): for a
    fixed labeling budget, allocate n_h proportional to N_h * S_h —
    variable strata get more samples than proportional allocation
    gives them, which is how a labeling budget is actually spent on a
    skewed corpus. (The engine's sample_stratified ops EXECUTE a
    design; this computes one.) Per-stratum S_h derives from exact
    integer moments (n, sum, sum-of-squares in cents, decimal-widened)
    so the only doubles are the final sqrt and the shares; the
    stratum table is bounded (one row per segment) so the share
    denominator is a broadcast 1-row cross. Budget fixed at 1000."""
    c = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("_y"),
    )
    per = c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_h"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_y").cast("decimal(38,0)") * F.col("_y")).alias(
            "_syy"
        ),
    )
    sd = F.sqrt(
        (
            F.col("n_h").cast("decimal(38,0)") * F.col("_syy")
            - F.col("_sy").cast("decimal(38,0)") * F.col("_sy")
        ).cast("double")
        / (
            F.col("n_h").cast("double")
            * (F.col("n_h").cast("double") - 1.0)
        )
    )
    staged = per.select(
        "c_mktsegment", "n_h", sd.alias("_sd"),
        (F.col("n_h").cast("double") * sd).alias("_ns"),
    )
    tot = staged.agg(
        F.sum("_ns").alias("_tns"), F.sum("n_h").alias("_tn")
    )
    j = staged.crossJoin(F.broadcast(tot))
    return j.select(
        "c_mktsegment",
        "n_h",
        F.round(F.col("_sd") / 100.0, 6).alias("sd"),
        F.round(1000.0 * F.col("_ns") / F.col("_tns"), 4).alias(
            "neyman_n"
        ),
        F.round(
            1000.0
            * F.col("n_h").cast("double")
            / F.col("_tn").cast("double"),
            4,
        ).alias("proportional_n"),
    ).orderBy("c_mktsegment")


def q_sample_horvitz_thompson(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Horvitz-Thompson estimation under PPS Poisson sampling (Sarndal
    et al. 1992 ch. 3): each order enters the sample independently
    with probability proportional to its value, pi_i = min(1, c y_i)
    with c sized for ~500 expected draws, and the HT total
    sum(y_i / pi_i) is unbiased for the exact revenue — the
    unequal-probability design a pipeline uses when a 0.1% sample
    must still estimate dollar volume (certainty units: any order
    big enough that c y >= 1 is always taken and contributes
    variance 0). Inclusion draws are DETERMINISTIC md5 uniforms
    (the poisson_bootstrap scheme: 40-bit hex draw mod 1e6), so the
    oracle re-derives the identical sample. Also reports the exact
    Poisson-design variance estimator sum((1-pi)/pi^2 y^2) and the
    Kish effective sample size (sum w)^2 / sum w^2. Two passes
    (total, then one filtered aggregate) — no sort, no shuffle
    beyond the 1-row totals."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("y"),
    )
    tot = orders.agg(
        F.count("*").alias("n_pop"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
    )
    w = orders.crossJoin(F.broadcast(tot))
    pi = F.least(
        F.lit(1.0),
        500.0 / F.col("sy").cast("double") * F.col("y").cast("double"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("17|"), F.col("o_orderkey").cast("string")
                    )
                ),
                1,
                10,
            ),
            16,
            10,
        ).cast("long")
        % 1000000
    ).cast("double") / 1000000.0
    samp = w.where(u < pi).select(
        "n_pop",
        "sy",
        F.col("y").cast("double").alias("yd"),
        pi.alias("pi"),
    )
    agg = samp.groupBy("n_pop", "sy").agg(
        F.count("*").alias("n_sample"),
        F.sum(F.col("yd") / F.col("pi")).alias("ht"),
        F.sum(
            (1.0 - F.col("pi"))
            / (F.col("pi") * F.col("pi"))
            * F.col("yd")
            * F.col("yd")
        ).alias("vht"),
        F.sum(1.0 / F.col("pi")).alias("sw"),
        F.sum(1.0 / (F.col("pi") * F.col("pi"))).alias("sww"),
    )
    syd = F.col("sy").cast("double")
    return agg.select(
        "n_pop",
        "n_sample",
        F.round(F.col("ht") / 100.0, 6).alias("ht_total_dollars"),
        F.round(syd / 100.0, 6).alias("true_total_dollars"),
        F.round((F.col("ht") - syd) / syd, 6).alias("rel_error"),
        F.round(F.sqrt(F.col("vht")) / 100.0, 6).alias(
            "se_dollars"
        ),
        F.round(
            F.col("sw") * F.col("sw") / F.col("sww"), 6
        ).alias("kish_neff"),
    )


def q_privacy_dp_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy budget planner for per-group count
    release over the k-anonymity QI grid (mktsegment x nationkey):
    for each epsilon in the audit panel, the Laplace scale b = 1/eps
    (count sensitivity 1), the analytic-Gaussian-style sigma =
    sqrt(2 ln(1.25/delta)) / eps at delta = 1e-5 (Dwork & Roth 2014
    thm 3.22), and the UTILITY readout: how many QI groups would
    carry expected relative error E|Lap| / k = b / k above 10% — the
    table a privacy review reads to pick the epsilon that still
    leaves small-cell statistics usable. Everything is a closed-form
    over the bounded group-size table; no noise is actually drawn,
    so both engines agree exactly."""
    cust = _t(spark, sf_dir, "customer")
    groups = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("k")
    )
    eps = spark.createDataFrame(
        [(0.1,), (0.5,), (1.0,), (2.0,)], "eps double"
    )
    b = 1.0 / F.col("eps")
    j = groups.crossJoin(F.broadcast(eps)).groupBy("eps").agg(
        F.count("*").alias("n_groups"),
        F.sum(
            (b / F.col("k").cast("double") > 0.1).cast("long")
        ).alias("n_groups_relerr_gt_10pct"),
        F.min("k").alias("min_group"),
    )
    return j.select(
        "eps",
        F.round(1.0 / F.col("eps"), 6).alias("laplace_b"),
        F.round(
            F.sqrt(2.0 * F.log(F.lit(125000.0))) / F.col("eps"), 6
        ).alias("gauss_sigma"),
        "n_groups",
        "min_group",
        "n_groups_relerr_gt_10pct",
        F.round(
            F.col("n_groups_relerr_gt_10pct").cast("double")
            / F.col("n_groups").cast("double"),
            6,
        ).alias("frac_groups_relerr_gt_10pct"),
    ).orderBy("eps")


def oracle_sql() -> dict[str, str]:
    """DuckDB twins of this family's queries, keyed by query name."""
    return {
        "sample_horvitz_thompson": """
            WITH o AS (SELECT o_orderkey,
                              CAST(round(o_totalprice * 100) AS BIGINT)
                                AS y
                       FROM orders),
            t AS (SELECT count(*)::BIGINT AS n_pop,
                         sum(y::HUGEINT) AS sy
                  FROM o),
            w AS (SELECT o_orderkey, y, n_pop, sy,
                         least(1.0::DOUBLE,
                               500.0 / sy::DOUBLE * y::DOUBLE) AS pi,
                         ((('0x' || substr(md5('17|'
                             || o_orderkey::VARCHAR), 1, 10))::BIGINT
                           % 1000000) / 1000000.0) AS u
                  FROM o, t),
            s AS (SELECT n_pop, sy, count(*)::BIGINT AS n_sample,
                         sum(y::DOUBLE / pi) AS ht,
                         sum((1.0 - pi) / (pi * pi)
                             * y::DOUBLE * y::DOUBLE) AS vht,
                         sum(1.0 / pi) AS sw,
                         sum(1.0 / (pi * pi)) AS sww
                  FROM w WHERE u < pi GROUP BY 1, 2)
            SELECT n_pop, n_sample,
                   round(ht / 100.0, 6) AS ht_total_dollars,
                   round(sy::DOUBLE / 100.0, 6)
                     AS true_total_dollars,
                   round((ht - sy::DOUBLE) / sy::DOUBLE, 6)
                     AS rel_error,
                   round(sqrt(vht) / 100.0, 6) AS se_dollars,
                   round(sw * sw / sww, 6) AS kish_neff
            FROM s
        """,
        "privacy_dp_budget": """
            WITH g AS (SELECT c_mktsegment, c_nationkey,
                              count(*)::BIGINT AS k
                       FROM customer GROUP BY 1, 2),
            eps AS (SELECT unnest([0.1::DOUBLE, 0.5::DOUBLE,
                                   1.0::DOUBLE, 2.0::DOUBLE]) AS eps),
            j AS (SELECT eps, count(*)::BIGINT AS n_groups,
                         sum((1.0 / eps / k::DOUBLE > 0.1)::INT)
                           ::BIGINT AS n_gt,
                         min(k)::BIGINT AS min_group
                  FROM g, eps GROUP BY 1)
            SELECT eps, round(1.0 / eps, 6) AS laplace_b,
                   round(sqrt(2.0 * ln(125000.0)) / eps, 6)
                     AS gauss_sigma,
                   n_groups, min_group,
                   n_gt AS n_groups_relerr_gt_10pct,
                   round(n_gt::DOUBLE / n_groups::DOUBLE, 6)
                     AS frac_groups_relerr_gt_10pct
            FROM j ORDER BY eps
        """,
        "sample_neyman_allocation": """
            WITH c AS (SELECT c_mktsegment,
                              CAST(round(c_acctbal * 100) AS BIGINT) AS y
                       FROM customer),
            per AS (SELECT c_mktsegment, count(*)::BIGINT AS n_h,
                           sum(y)::BIGINT AS sy,
                           sum(y::HUGEINT * y) AS syy
                    FROM c GROUP BY 1),
            staged AS (
              SELECT c_mktsegment, n_h,
                     sqrt((n_h::HUGEINT * syy - sy::HUGEINT * sy)::DOUBLE
                          / (n_h::DOUBLE * (n_h::DOUBLE - 1.0))) AS sd,
                     n_h::DOUBLE
                       * sqrt((n_h::HUGEINT * syy
                               - sy::HUGEINT * sy)::DOUBLE
                              / (n_h::DOUBLE * (n_h::DOUBLE - 1.0)))
                       AS ns
              FROM per),
            tot AS (SELECT sum(ns) AS tns, sum(n_h)::BIGINT AS tn
                    FROM staged)
            SELECT c_mktsegment, n_h, round(sd / 100.0, 6) AS sd,
                   round(1000.0 * ns / tns, 4) AS neyman_n,
                   round(1000.0 * n_h::DOUBLE / tn::DOUBLE, 4)
                     AS proportional_n
            FROM staged CROSS JOIN tot ORDER BY c_mktsegment
        """,
        "sample_balanced": """
            WITH c AS (SELECT event_type, count(*)::BIGINT AS n
                       FROM events GROUP BY 1),
            m AS (SELECT min(n)::BIGINT AS m FROM c),
            k AS (SELECT event_id, event_type,
                         md5('bal7:' || event_id::VARCHAR) AS h
                  FROM events),
            r AS (SELECT event_id, event_type,
                         row_number() OVER (PARTITION BY event_type
                           ORDER BY h, event_id) AS rank
                  FROM k)
            SELECT event_id, event_type, rank
            FROM r, m WHERE rank <= m.m
            ORDER BY event_type, rank
        """,
        "privacy_k_anonymity": """
            WITH c AS (SELECT c_mktsegment, c_nationkey,
                              CASE WHEN c_acctbal < 0 THEN 'neg'
                                   WHEN c_acctbal < 5000 THEN 'mid'
                                   ELSE 'high' END AS tier
                       FROM customer),
            g AS (SELECT c_mktsegment, c_nationkey,
                         count(*)::BIGINT AS k,
                         count(DISTINCT tier)::BIGINT AS l_diversity
                  FROM c GROUP BY 1, 2)
            SELECT c_mktsegment, c_nationkey, k, l_diversity,
                   (k < 5 OR l_diversity < 2) AS at_risk
            FROM g ORDER BY 1, 2
        """,
        "sample_kfold": """
            WITH tagged AS (
              SELECT c_mktsegment AS stratum,
                     ('0x' || substr(md5('11|' || c_custkey::VARCHAR),
                                     1, 15))::BIGINT % 5 AS fold
              FROM customer),
            cells AS (SELECT stratum, fold, count(*)::BIGINT AS n
                      FROM tagged GROUP BY 1, 2),
            tot AS (SELECT stratum, sum(n)::BIGINT AS nt FROM cells
                    GROUP BY 1)
            SELECT cells.stratum, fold, n,
                   round(n::DOUBLE / nt, 6) AS share,
                   round(n::DOUBLE / nt - 0.2, 6) AS dev,
                   abs(n::DOUBLE / nt - 0.2) < 0.05 AS balanced
            FROM cells JOIN tot ON cells.stratum = tot.stratum
            ORDER BY cells.stratum, fold
        """,
        "privacy_t_closeness": """
            WITH c AS (SELECT c_mktsegment, c_nationkey,
                              CASE WHEN c_acctbal < 0 THEN 'neg'
                                   WHEN c_acctbal < 5000 THEN 'mid'
                                   ELSE 'high' END AS tier
                       FROM customer),
            cells AS (SELECT c_mktsegment, c_nationkey, tier,
                             count(*)::BIGINT AS cnt
                      FROM c GROUP BY 1, 2, 3),
            groups AS (SELECT c_mktsegment, c_nationkey,
                              count(*)::BIGINT AS k
                       FROM c GROUP BY 1, 2),
            gtier AS (SELECT tier, count(*)::BIGINT AS gc
                      FROM c GROUP BY 1),
            tot AS (SELECT count(*)::BIGINT AS n_total FROM c),
            frame AS (SELECT g.c_mktsegment, g.c_nationkey, g.k, gl.gc,
                             coalesce(ce.cnt, 0)::BIGINT AS cnt
                      FROM groups g CROSS JOIN gtier gl
                      LEFT JOIN cells ce
                        ON ce.c_mktsegment = g.c_mktsegment
                       AND ce.c_nationkey = g.c_nationkey
                       AND ce.tier = gl.tier),
            agg AS (SELECT c_mktsegment, c_nationkey,
                           any_value(k) AS k,
                           any_value(t.n_total) AS n,
                           sum(abs(cnt::HUGEINT * t.n_total
                                   - gc::HUGEINT * k)) AS s
                    FROM frame CROSS JOIN tot t GROUP BY 1, 2)
            SELECT c_mktsegment, c_nationkey, k,
                   round(0.5 * s::DOUBLE / (k::HUGEINT * n)::DOUBLE, 6)
                     AS tvd,
                   (0.5 * s::DOUBLE / (k::HUGEINT * n)::DOUBLE) > 0.2
                     AS t_leaky
            FROM agg ORDER BY c_mktsegment, c_nationkey
        """,
        "sample_mixture": """
            WITH w AS (SELECT * FROM (VALUES ('en', 0.5), ('de', 0.25),
                                             ('fr', 0.25)) AS t(lang, wt)),
            c AS (SELECT d.lang, count(*) AS n
                  FROM documents d JOIN w USING (lang) GROUP BY d.lang),
            tot AS (SELECT min(floor(c.n / w.wt))::BIGINT AS total
                    FROM c JOIN w USING (lang)),
            k AS (SELECT w.lang, floor(tot.total * w.wt)::BIGINT AS kk
                  FROM w, tot),
            r AS (SELECT d.doc_id, d.lang,
                         row_number() OVER (
                           PARTITION BY d.lang
                           ORDER BY ('0x' || substr(md5('0|' || d.doc_id::VARCHAR),
                                                    1, 15))::BIGINT
                                    / 1152921504606846976.0 ASC,
                                    d.doc_id ASC) AS rn
                  FROM documents d JOIN w USING (lang))
            SELECT doc_id, lang FROM r JOIN k USING (lang) WHERE rn <= kk
        """,
        "sample_exact_stratified": """
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                     row_number() OVER (
                       PARTITION BY lang
                       ORDER BY ('0x' || substr(md5('0|' || doc_id::VARCHAR),
                                                1, 15))::BIGINT
                                / 1152921504606846976.0 ASC,
                                doc_id ASC) AS rn
              FROM documents)
            WHERE rn <= 20
        """,
        "hash_split": """
            WITH h AS (
              SELECT lang,
                     (('0x' || substr(md5('11|' || doc_id::VARCHAR), 1, 15))::BIGINT
                      % 1000000) / 1000000.0 AS u
              FROM documents)
            SELECT CASE WHEN u < 0.8 THEN 'train'
                        WHEN u < 0.9 THEN 'val'
                        ELSE 'test' END AS split,
                   lang,
                   count(*)::BIGINT AS n_docs
            FROM h GROUP BY 1, 2
        """,
        "pii_redact": _pii_oracle(),
        "sample_stratified": """
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substr(md5('0|' || doc_id::VARCHAR), 1, 15))::BIGINT
                    / 1152921504606846976.0
                  < CASE lang WHEN 'en' THEN 0.8 WHEN 'fr' THEN 0.5
                              WHEN 'es' THEN 0.25 WHEN 'de' THEN 0.1
                              ELSE 0.05 END
        """,
        # A-ES weighted sample: pinned golden for the sf0.01 fixture
        # (pow is libm-dependent, so a cross-engine float re-derivation
        # would be flaky by construction; determinism under (seed, id)
        # makes the pin sound — the bpe_merges pattern). Regenerate
        # with queries()["sample_weighted"] if the fixture changes.
        "sample_weighted": """
            SELECT doc_id::BIGINT AS doc_id, n_chars::BIGINT AS n_chars,
                   sample_rank::INT AS sample_rank
            FROM (VALUES
              (489, 317, 1), (232, 316, 2), (318, 456, 3), (444, 419, 4),
              (81, 357, 5), (182, 343, 6), (259, 259, 7), (341, 427, 8),
              (133, 500, 9), (150, 274, 10), (271, 295, 11), (115, 132, 12),
              (37, 378, 13), (200, 303, 14), (326, 198, 15), (378, 337, 16),
              (109, 395, 17), (346, 409, 18), (209, 223, 19), (249, 431, 20),
              (412, 365, 21), (162, 458, 22), (219, 175, 23), (373, 388, 24),
              (140, 157, 25)
            ) AS t(doc_id, n_chars, sample_rank)
        """,
    }


def _pii_oracle() -> str:
    """SQL twin of q_pii_redact: same injected PII suffix, the same
    regexp_replace chain (RE2/Java-common patterns, 'g' = replace-all
    to match Spark), and the same substring-occurrence counts."""
    from vanus_spark.llm.curation import PII_PATTERNS

    red = (
        "text || ' contact u' || doc_id::VARCHAR || '@mail.example.com from 10.0.' "
        "|| (doc_id % 200)::VARCHAR || '.25 ssn 123-45-6789 call 555-123-4567'"
    )
    for _, pattern, token in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pattern}', '{token}', 'g')"
    counts = ", ".join(
        f"((length(redacted) - length(replace(redacted, '{token}', '')))"
        f" / {len(token)})::BIGINT AS n_{kind}"
        for kind, _, token in PII_PATTERNS
    )
    return f"""
        WITH r AS (SELECT doc_id, {red} AS redacted FROM documents)
        SELECT doc_id, redacted, {counts} FROM r
    """
