"""Statistical inference operators: KS two-sample, one-way ANOVA,
Spearman rank correlation, Benjamini-Hochberg FDR, and the one-pass
Poisson bootstrap.

Reference parity: the reference event engine has no statistics surface
(SURVEY §2.6-2.8 absences); this extends the A/B-stats family
(`q_events_ab_test`, `operators/ranktests.py`) the Spark port adds.

Scale shapes (the design constraint for every function here):

- ``ks_two_sample``: one map-side-combined groupBy(value) collapse,
  then cumulative counts over the DISTINCT-value table via the same
  two-phase prefix machinery as ``bus.distributed_row_number`` (range
  exchange -> local window per slice -> triangular broadcast prefix
  join) — never a single-task global window over the data.
- ``anova_oneway``: two aggregates (per-group, then over #groups
  rows); all moment sums stay in exact BIGINT cents so both engines
  derive F from identical integers.
- ``spearman_by_group``: average ranks come from per-(group, value)
  counts — valid when the metric lives on a bounded lattice (the
  declared precondition), so the rank map is a broadcastable dim and
  the data is touched exactly twice (count, then corr).
- ``bh_fdr``: windows run over the HYPOTHESIS table (#segments rows),
  never the observations.
- ``poisson_bootstrap_mean``: the classic at-scale bootstrap — R
  deterministic Poisson(1) weights per row computed from a seeded
  md5, all R weighted sums folded into ONE aggregation pass (no R-way
  data explosion, no resampling shuffle); the per-replicate sums stay
  in exact BIGINT cents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# Cumulative Poisson(1) CDF at k = 0..6 (rounded to 9 decimals so both
# engines compare u against bit-identical literals); draws above the
# last threshold clamp to 7 (P ~ 1e-5 at lambda=1).
_POIS1_CDF = (
    0.367879441,
    0.735758882,
    0.919698603,
    0.981011843,
    0.996340153,
    0.999405815,
    0.999916758,
)


def norm_sf(z: Column) -> Column:
    """Upper-tail standard normal P(Z > z) for z >= 0 via the
    Abramowitz & Stegun 26.2.17 five-term polynomial (|err| < 7.5e-8).
    Pure arithmetic — the SAME closed form runs in the DuckDB oracle,
    so both engines produce bit-comparable p-values from identical
    inputs."""
    t = 1.0 / (1.0 + 0.2316419 * z)
    poly = t * (
        0.319381530
        + t
        * (
            -0.356563782
            + t * (1.781477937 + t * (-1.821255978 + t * 1.330274429))
        )
    )
    phi = F.exp(-z * z / 2) / 2.5066282746310002  # sqrt(2*pi)
    return phi * poly


def ks_two_sample(
    samples: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """One-row two-sample Kolmogorov-Smirnov test: D = sup over the
    pooled support of |ECDF_a - ECDF_b|, with the Numerical-Recipes
    small-sample-corrected asymptotic p-value
    p = 2 * sum_{k=1..3} (-1)^{k-1} exp(-2 k^2 lambda^2),
    lambda = (sqrt(ne) + 0.12 + 0.11/sqrt(ne)) * D, ne = na*nb/(na+nb).

    ``group_col`` must be 0/1. ``value_col`` must be exact-lattice
    (pre-round floats) so both engines form identical support points.

    The ECDFs need cumulative counts in value order — a global prefix
    over the distinct-value table, computed with the two-phase shape
    (range exchange, per-slice local cumsum, #slices-row triangular
    broadcast prefix), so no single-task window ever sees the data.
    """
    grp = samples.groupBy(value_col).agg(
        F.sum(F.when(F.col(group_col) == 0, 1).otherwise(0)).alias("_ca"),
        F.sum(F.when(F.col(group_col) == 1, 1).otherwise(0)).alias("_cb"),
    )
    ranged = grp.repartitionByRange(value_col).withColumn(
        "_slice", F.spark_partition_id()
    )
    # pin the sampled range-exchange assignment (same reasoning as
    # bus.distributed_row_number): every branch below must observe ONE
    # slice assignment.
    ranged = ranged.localCheckpoint(eager=False)
    w = Window.partitionBy("_slice").orderBy(value_col)
    local = ranged.withColumn("_la", F.sum("_ca").over(w)).withColumn(
        "_lb", F.sum("_cb").over(w)
    )
    totals = ranged.groupBy("_slice").agg(
        F.sum("_ca").alias("_ta"), F.sum("_cb").alias("_tb")
    )
    earlier = totals.select(
        F.col("_slice").alias("_e_slice"),
        F.col("_ta").alias("_e_ta"),
        F.col("_tb").alias("_e_tb"),
    )
    prefix = (
        totals.join(
            F.broadcast(earlier), F.col("_e_slice") < F.col("_slice"), "left"
        )
        .groupBy("_slice")
        .agg(
            F.coalesce(F.sum("_e_ta"), F.lit(0)).alias("_pa"),
            F.coalesce(F.sum("_e_tb"), F.lit(0)).alias("_pb"),
        )
    )
    cum = local.join(F.broadcast(prefix), "_slice").select(
        (F.col("_la") + F.col("_pa")).alias("_cuma"),
        (F.col("_lb") + F.col("_pb")).alias("_cumb"),
    )
    tot = grp.agg(
        F.sum("_ca").alias("n_a"), F.sum("_cb").alias("n_b")
    )
    one = cum.crossJoin(F.broadcast(tot)).agg(
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
        F.max(
            F.abs(
                F.col("_cuma") / F.col("n_a") - F.col("_cumb") / F.col("n_b")
            )
        ).alias("_d"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    en = F.sqrt(na * nb / (na + nb))
    lam = (en + 0.12 + 0.11 / en) * F.col("_d")
    p = F.lit(2.0) * (
        F.exp(-2 * lam * lam)
        - F.exp(-8 * lam * lam)
        + F.exp(-18 * lam * lam)
    )
    return one.select(
        "n_a",
        "n_b",
        F.round(F.col("_d"), 6).alias("d_stat"),
        F.round(F.least(F.lit(1.0), F.greatest(F.lit(0.0), p)), 6).alias(
            "p_value"
        ),
    )


def anova_oneway(
    df: DataFrame, cents_col: str, group_col: str
) -> DataFrame:
    """One-row one-way ANOVA across ``group_col`` on an EXACT-INTEGER
    metric (``cents_col`` must be a BIGINT lattice column — pass
    round(value*100) cast long): per-group (n, sum, sum-of-squares)
    stay in exact longs, so both engines derive F and eta^2 from
    identical integers and the only doubles are the final scale-free
    ratios. Variance terms use the numerically stable per-group
    centering (n_g * (mean_g - grand)^2), never the difference of
    astronomically close raw moment sums.

    Overflow headroom: sum(v^2) <= n * max_cents^2 — 9.2e18 allows
    ~9e8 rows at max_cents=1e5 per... the CALLER's lattice; pre-scale
    the lattice down for wider metrics."""
    g = df.groupBy(group_col).agg(
        F.count("*").alias("_n"),
        F.sum(cents_col).alias("_s"),
        F.sum(F.col(cents_col) * F.col(cents_col)).alias("_ss"),
    )
    gm = g.agg(
        F.sum("_n").alias("_tn"), F.sum("_s").alias("_ts"),
        F.count("*").alias("_k"),
    )
    j = g.crossJoin(F.broadcast(gm))
    mean_g = F.col("_s").cast("double") / F.col("_n")
    grand = F.col("_ts").cast("double") / F.col("_tn")
    ssb_t = F.col("_n") * (mean_g - grand) * (mean_g - grand)
    ssw_t = F.col("_n") * (
        F.col("_ss").cast("double") / F.col("_n") - mean_g * mean_g
    )
    one = j.groupBy("_tn", "_k").agg(
        F.sum(ssb_t).alias("_ssb"), F.sum(ssw_t).alias("_ssw")
    )
    f_stat = (F.col("_ssb") / (F.col("_k") - 1)) / (
        F.col("_ssw") / (F.col("_tn") - F.col("_k"))
    )
    return one.select(
        F.col("_k").alias("k_groups"),
        F.col("_tn").alias("n"),
        F.round(f_stat, 6).alias("f_stat"),
        F.round(F.col("_ssb") / (F.col("_ssb") + F.col("_ssw")), 6).alias(
            "eta_sq"
        ),
    )


def spearman_by_group(
    df: DataFrame, x_col: str, y_col: str, group_col: str
) -> DataFrame:
    """Per-group Spearman rank correlation (Pearson on average ranks,
    the standard tie treatment), for metrics on a BOUNDED LATTICE
    (the declared precondition — e.g. quantities, discount steps,
    star ratings): average ranks are derived from per-(group, value)
    counts, so the rank map is #groups x #distinct-values rows — a
    broadcastable dim at any data size — and the fact table is
    touched exactly twice (one counting pass, one corr pass). The
    within-group rank window runs over the distinct-value rows of one
    group (<= lattice size), never the data."""
    out = df.select(group_col, x_col, y_col)
    for var in (x_col, y_col):
        cnt = df.groupBy(group_col, var).agg(F.count("*").alias("_t"))
        w = Window.partitionBy(group_col).orderBy(var)
        ranks = cnt.select(
            group_col,
            var,
            (
                F.sum("_t").over(w).cast("double")
                - (F.col("_t") - 1) / 2.0
            ).alias(f"_r_{var}"),
        )
        out = out.join(F.broadcast(ranks), [group_col, var])
    return (
        out.groupBy(group_col)
        .agg(
            F.count("*").alias("n"),
            F.round(F.corr(f"_r_{x_col}", f"_r_{y_col}"), 6).alias(
                "spearman_rho"
            ),
        )
    )


def bh_fdr(
    hyps: DataFrame, p_col: str, key_cols: list[str], alpha: float = 0.05
) -> DataFrame:
    """Benjamini-Hochberg step-up over a table of hypotheses: rank
    p-values ascending (ties broken by ``key_cols`` so the order is
    total), crit_i = i * alpha / m, and every hypothesis with rank
    <= max{i : p_i <= crit_i} is significant — the standard FDR gate
    run across per-segment A/B readouts before shipping any of them.

    All windows/aggregates here run over the hypothesis table
    (#segments rows, bounded by design), never the observations."""
    m_df = hyps.agg(F.count("*").alias("_m"))
    w = Window.orderBy(p_col, *key_cols)
    ranked = (
        hyps.withColumn("bh_rank", F.row_number().over(w))
        .crossJoin(F.broadcast(m_df))
        .withColumn(
            "bh_crit", F.col("bh_rank") * F.lit(alpha) / F.col("_m")
        )
    )
    kmax = ranked.agg(
        F.coalesce(
            F.max(
                F.when(F.col(p_col) <= F.col("bh_crit"), F.col("bh_rank"))
            ),
            F.lit(0),
        ).alias("_kmax")
    )
    return (
        ranked.crossJoin(F.broadcast(kmax))
        .withColumn("significant", F.col("bh_rank") <= F.col("_kmax"))
        .drop("_m", "_kmax")
    )


def poisson_weight(u: Column) -> Column:
    """Poisson(1) draw from a uniform in [0,1) by inverse CDF over the
    literal cumulative thresholds (clamped at 7): the draw k is the
    COUNT of thresholds <= u (u in [cdf_{k-1}, cdf_k) passes exactly
    k of them), expressed as a sum of 7 comparison casts. An earlier
    form counted via filter() over a 7-element array literal —
    compact, but higher-order functions are CodegenFallback: each
    eval allocated lambda frames and an output array in interpreted
    mode, and with 2 aggregate children per replicate the bootstrap
    paid ~80 interpreted HOF evals per row (~100 task-seconds at
    sf0.1). Seven codegen'd double compares are sub-ns each and keep
    the whole aggregate in WholeStageCodegen."""
    w: Column = F.lit(0).cast("long")
    for th in _POIS1_CDF:
        w = w + (u >= F.lit(th)).cast("long")
    return w


def poisson_bootstrap_mean(
    df: DataFrame,
    cents_col: str,
    key_col: str,
    reps: int = 40,
    seed: int = 7,
) -> DataFrame:
    """One-row Poisson-bootstrap estimate of the mean of an
    exact-cents metric: replicate r reweights each row by a
    DETERMINISTIC Poisson(1) draw from md5(seed*1000+r | key) — the
    standard at-scale bootstrap (resampling n rows with replacement
    converges to iid Poisson(1) weights), except reproducible, so the
    DuckDB oracle re-derives the identical replicate sums.

    ALL ``reps`` weighted sums fold into ONE aggregation pass: no
    R-way explode, no per-replicate shuffle — the single map-side
    combine carries 2R exact BIGINT partial sums. Returns
    (n, mean, boot_se, ci_lo, ci_hi): se is the stddev of the
    replicate means; the CI is the 2nd / (reps-1)-th order statistic
    of the sorted replicate means (~central 95% at reps=40).
    """
    # The digest work dominates this operator, so three deliberate
    # shapes: (1) each md5 feeds THREE independent 40-bit draws (hex
    # chars 1-10 / 11-20 / 21-30) — ceil(reps/3) digests per row, not
    # reps (the mod-1e6 lattice bias of a 40-bit draw is ~1e-6,
    # indistinguishable from the old 60-bit scheme's 1e-12 at the
    # 1e-6 threshold granularity); (2) the uniforms are PROJECTED
    # columns, because poisson_weight references its input 8 times
    # across the CASE arms and aggregate children get no
    # subexpression elimination — without the projection each row
    # pays 8x the hashing (measured); (3) if the scan
    # under-partitions (one small parquet file -> one task), the
    # projection is spread first — at real scale the input splits
    # already provide parallelism and the branch is a no-op.
    if df.rdd.getNumPartitions() < df.sparkSession.sparkContext.defaultParallelism:
        df = df.repartition(
            df.sparkSession.sparkContext.defaultParallelism
        )
    # The whole replicate lattice is built as SQL STRINGS (one
    # selectExpr py4j call per projection) instead of ~1200 Column
    # method calls: the Column form spent 1.3-2.5 s of every bench
    # run in py4j round trips constructing the same tree (measured
    # A/B in one session: build 1.3 s Column / 0.17 s string, exec
    # identical). 1e6 (not 1000000.0, which parses as DECIMAL and
    # drags the division into decimal math) keeps the uniforms in
    # double exactly like the Column form did.
    uexprs = []
    for h in range((reps + 2) // 3):
        dig = (
            f"md5(concat('{seed * 1000 + h}|', "
            f"CAST(`{key_col}` AS STRING)))"
        )
        for third in range(3):
            r = 3 * h + third
            if r >= reps:
                break
            uexprs.append(
                f"(CAST(conv(substring({dig}, {1 + 10 * third}, 10),"
                f" 16, 10) AS BIGINT) % 1000000) / 1e6 AS _u_{r}"
            )
    projected = df.selectExpr(f"`{cents_col}`", *uexprs)
    # Weights are ALSO projected (not inlined into the aggregate):
    # each replicate's weight feeds two sums, and aggregate children
    # get no subexpression elimination, so inlining would double the
    # comparison work per row.
    wexprs = [
        " + ".join(
            f"CAST(_u_{r} >= {th!r}D AS BIGINT)" for th in _POIS1_CDF
        )
        + f" AS _w_{r}"
        for r in range(reps)
    ]
    projected = projected.selectExpr(f"`{cents_col}`", *wexprs)
    aggs = [
        F.expr("count(*) AS _n"),
        F.expr(f"sum(`{cents_col}`) AS _s"),
    ]
    for r in range(reps):
        aggs.append(F.expr(f"sum(_w_{r} * `{cents_col}`) AS _ws_{r}"))
        aggs.append(F.expr(f"sum(_w_{r}) AS _wn_{r}"))
    one = projected.agg(*aggs)
    means = F.array_sort(
        F.array(
            *[
                F.col(f"_ws_{r}").cast("double")
                / F.col(f"_wn_{r}")
                / 100.0
                for r in range(reps)
            ]
        )
    )
    one = one.withColumn("_means", means)
    mbar = F.aggregate(
        "_means", F.lit(0.0), lambda a, x: a + x
    ) / reps
    var = F.aggregate(
        "_means",
        F.lit(0.0),
        lambda a, x: a + (x - F.col("_mbar")) * (x - F.col("_mbar")),
    ) / (reps - 1)
    return (
        one.withColumn("_mbar", mbar)
        .select(
            F.col("_n").alias("n"),
            F.round(F.col("_s").cast("double") / 100.0 / F.col("_n"), 4).alias(
                "mean"
            ),
            F.round(F.sqrt(var), 4).alias("boot_se"),
            F.round(F.element_at("_means", 2), 4).alias("ci_lo"),
            F.round(F.element_at("_means", reps - 1), 4).alias("ci_hi"),
        )
    )


def roc_auc(
    scored: DataFrame, score_col: str, label_col: str, id_col: str
) -> DataFrame:
    """One-row ROC-AUC (+ Gini = 2*AUC - 1) for a score column
    against a 0/1 label — the rank formulation AUC = (R_pos -
    n_pos(n_pos+1)/2) / (n_pos * n_neg), which is exactly the
    Mann-Whitney U statistic normalized, so it reuses the same
    machinery: average ranks from the two-phase distributed rank
    (bus.distributed_row_number — never a single-task global sort)
    plus one groupBy(score) tie collapse. ``score_col`` must be on an
    exact lattice (pre-rounded) so both engines form identical tie
    groups; ``id_col`` breaks rank ties deterministically (the
    average-rank collapse makes the tiebreak order irrelevant)."""
    from vanus_spark.bus import distributed_row_number

    ranked = distributed_row_number(scored, [], [score_col, id_col], "_rk")
    grp = ranked.groupBy(score_col).agg(
        F.avg(F.col("_rk") + 1).alias("arank"),
        F.count("*").alias("t"),
        F.sum(F.col(label_col).cast("long")).alias("cnt_p"),
    )
    one = grp.agg(
        F.sum(F.col("arank") * F.col("cnt_p")).alias("r_p"),
        F.sum("cnt_p").alias("n_pos"),
        F.sum(F.col("t") - F.col("cnt_p")).alias("n_neg"),
    )
    np_ = F.col("n_pos").cast("double")
    nn = F.col("n_neg").cast("double")
    auc = (F.col("r_p") - np_ * (np_ + 1) / 2) / (np_ * nn)
    return one.select(
        "n_pos",
        "n_neg",
        F.round(auc, 6).alias("auc"),
        F.round(2 * auc - 1, 6).alias("gini"),
    )


def roc_auc_by(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Per-group ROC-AUC — ``roc_auc`` stratified by ``group_cols``
    (the fairness-audit readout: does the ranking quality hold for
    every segment, or is the aggregate AUC hiding a weak slice?).
    Ranks come from a window PARTITIONED by the group (never a global
    sort — each segment ranks independently, fully parallel), ties
    collapse to average ranks per (group, score) exactly like the
    global form, so a single-group call reproduces ``roc_auc``."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(score_col, id_col)
    ranked = scored.select(
        *group_cols,
        score_col,
        F.col(label_col).cast("long").alias("_y"),
        F.row_number().over(w).alias("_rk"),
    )
    grp = ranked.groupBy(*group_cols, score_col).agg(
        F.avg("_rk").alias("arank"),
        F.count("*").alias("t"),
        F.sum("_y").alias("cnt_p"),
    )
    per = grp.groupBy(*group_cols).agg(
        F.sum(F.col("arank") * F.col("cnt_p")).alias("r_p"),
        F.sum("cnt_p").alias("n_pos"),
        F.sum(F.col("t") - F.col("cnt_p")).alias("n_neg"),
    )
    np_ = F.col("n_pos").cast("double")
    nn = F.col("n_neg").cast("double")
    auc = (F.col("r_p") - np_ * (np_ + 1) / 2) / (np_ * nn)
    return per.select(
        *group_cols,
        "n_pos",
        "n_neg",
        F.round(auc, 6).alias("auc"),
        F.round(2 * auc - 1, 6).alias("gini"),
    )


def cuped_readout(
    users: DataFrame, x_col: str, y_col: str, variant_col: str
) -> DataFrame:
    """One-row CUPED A/B readout: adjust each unit's metric
    y' = y - theta*(x - xbar) with theta = cov(x,y)/var(x) pooled
    (Deng et al. 2013), then report the raw and adjusted Welch z side
    by side plus the pooled variance-reduction ratio
    1 - var(y')/var(y). ``x_col``/``y_col`` must be exact-integer
    (cents) so the pooled moments — and therefore theta and xbar —
    are identical doubles on both engines; the adjusted metric is
    then the same per-row IEEE expression everywhere.

    Scale: one exact-integer moment pass over the unit table, a 1-row
    broadcast of (xbar, theta), one re-aggregate of the unit table —
    the unit table is already orders of magnitude below the raw
    events, and nothing here shuffles more than #variants rows after
    the first aggregate. ``variant_col`` must be 0/1."""
    mom = users.agg(
        F.count("*").alias("n"),
        F.sum(x_col).alias("sx"),
        F.sum(y_col).alias("sy"),
        F.sum(F.col(x_col) * F.col(y_col)).alias("sxy"),
        F.sum(F.col(x_col) * F.col(x_col)).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    xbar = F.col("sx").cast("double") / nd
    cov = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy") / nd
    ) / (nd - 1)
    varx = (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx") / nd
    ) / (nd - 1)
    glob = mom.select(xbar.alias("_xbar"), (cov / varx).alias("_theta"))
    adj = users.crossJoin(F.broadcast(glob)).select(
        F.col(variant_col).alias("variant"),
        F.col(y_col).cast("double").alias("_y"),
        (
            F.col(y_col).cast("double")
            - F.col("_theta")
            * (F.col(x_col).cast("double") - F.col("_xbar"))
        ).alias("_ya"),
        F.col("_theta").alias("_theta"),
    )
    g = adj.groupBy("variant").agg(
        F.count("*").alias("_n"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum("_ya").alias("_sa"),
        F.sum(F.col("_ya") * F.col("_ya")).alias("_saa"),
        F.max("_theta").alias("_theta"),
    )

    def cell(v, col):
        return F.max(F.when(F.col("variant") == v, F.col(col)))

    one = g.agg(
        *[
            cell(v, c).alias(f"_{c.strip('_')}{v}")
            for v in (0, 1)
            for c in ("_n", "_sy", "_syy", "_sa", "_saa")
        ],
        F.max("_theta").alias("theta"),
    )

    def welch(s0, ss0, s1, ss1):
        n0 = F.col("_n0").cast("double")
        n1 = F.col("_n1").cast("double")
        m0 = F.col(s0) / n0
        m1 = F.col(s1) / n1
        v0 = (F.col(ss0) - n0 * m0 * m0) / (n0 - 1)
        v1 = (F.col(ss1) - n1 * m1 * m1) / (n1 - 1)
        return (m0 - m1) / F.sqrt(v0 / n0 + v1 / n1), v0, v1

    z_raw, vr0, vr1 = welch("_sy0", "_syy0", "_sy1", "_syy1")
    z_cuped, va0, va1 = welch("_sa0", "_saa0", "_sa1", "_saa1")
    return one.select(
        F.col("_n0").alias("n_a"),
        F.col("_n1").alias("n_b"),
        F.round(F.col("theta"), 6).alias("theta"),
        F.round(z_raw, 6).alias("z_raw"),
        F.round(z_cuped, 6).alias("z_cuped"),
        F.round(1.0 - (va0 + va1) / (vr0 + vr1), 6).alias(
            "var_reduction"
        ),
    )


def kendall_tau_by_group(
    df: DataFrame, x_col: str, y_col: str, group_col: str
) -> DataFrame:
    """Per-group Kendall tau-b for metrics on BOUNDED LATTICES (the
    spearman_by_group precondition): concordant/discordant pair
    counts come from a self-join of the per-(group, x, y) CELL table
    — #cells is |x-lattice| x |y-lattice| per group, so the join is
    over a broadcast-scale dim and the raw data is touched exactly
    once (the counting pass). tau_b = (C - D) / sqrt((n0-n1)(n0-n2))
    with the standard tie terms n1 = sum t_x(t_x-1)/2, n2 = sum
    t_y(t_y-1)/2, n0 = n(n-1)/2. Pair products are folded in doubles
    (exact-integer inputs; counts beyond 2^26 per cell would overflow
    a long product), final round(6)."""
    cells = df.groupBy(group_col, x_col, y_col).agg(
        F.count("*").alias("_n")
    )
    a = cells.select(
        F.col(group_col),
        F.col(x_col).alias("_x1"),
        F.col(y_col).alias("_y1"),
        F.col("_n").alias("_n1"),
    )
    b = cells.select(
        F.col(group_col),
        F.col(x_col).alias("_x2"),
        F.col(y_col).alias("_y2"),
        F.col("_n").alias("_n2"),
    )
    pairs = a.join(F.broadcast(b), group_col).where(
        F.col("_x2") > F.col("_x1")
    )
    prod = F.col("_n1").cast("double") * F.col("_n2")
    cd = pairs.groupBy(group_col).agg(
        F.sum(F.when(F.col("_y2") > F.col("_y1"), prod)).alias("_c"),
        F.sum(F.when(F.col("_y2") < F.col("_y1"), prod)).alias("_d"),
    )
    tx = (
        cells.groupBy(group_col, x_col)
        .agg(F.sum("_n").alias("_t"))
        .groupBy(group_col)
        .agg(
            F.sum("_t").alias("_nn"),
            F.sum(F.col("_t") * (F.col("_t") - 1) / 2).alias("_n1t"),
        )
    )
    ty = (
        cells.groupBy(group_col, y_col)
        .agg(F.sum("_n").alias("_t"))
        .groupBy(group_col)
        .agg(F.sum(F.col("_t") * (F.col("_t") - 1) / 2).alias("_n2t"))
    )
    j = cd.join(tx, group_col).join(ty, group_col)
    nn = F.col("_nn").cast("double")
    n0 = nn * (nn - 1) / 2
    denom = F.sqrt((n0 - F.col("_n1t")) * (n0 - F.col("_n2t")))
    tau = (
        F.coalesce(F.col("_c"), F.lit(0.0))
        - F.coalesce(F.col("_d"), F.lit(0.0))
    ) / denom
    return j.select(
        group_col,
        F.col("_nn").alias("n"),
        F.round(F.when(denom > 0, tau), 6).alias("kendall_tau_b"),
    )


# Beasley-Springer-Moro inverse normal CDF. Central region |p-0.5| <=
# 0.42 uses the BSM rational polynomial; the tails use Moro's
# log-log Chebyshev fit (|err| < 3e-9 across (0,1)). The SAME
# literals and nesting run in the DuckDB oracle (_inv_norm_sql in
# vanus_spark/queries/stats.py), so both engines produce bit-comparable
# quantiles from identical inputs.
BSM_A = (2.50662823884, -18.61500062529, 41.39119773534, -25.44106049637)
BSM_B = (-8.47351093090, 23.08336743743, -21.06224101826, 3.13082909833)
MORO_C = (
    0.3374754822726147,
    0.9761690190917186,
    0.1607979714918209,
    0.0276438810333863,
    0.0038405729373609,
    0.0003951896511919,
    0.0000321767881768,
    0.0000002888167364,
    0.0000003960315187,
)


def _moro_horner(s: Column) -> Column:
    acc: Column | float = F.lit(MORO_C[-1])
    for c in reversed(MORO_C[:-1]):
        acc = c + s * acc
    return acc


def inv_norm_cdf(p: Column) -> Column:
    """Phi^{-1}(p) for p in (0, 1) — the quantile function behind the
    rank-gauss / inverse-normal-transform feature map (RankGauss;
    Blom 1958 scores). Pure arithmetic, no SciPy: Beasley-Springer
    (1977) rational polynomial in the central region, Moro (1995)
    log-log tail fit outside it."""
    r = p - 0.5
    y = r * r
    num = BSM_A[0] + y * (BSM_A[1] + y * (BSM_A[2] + y * BSM_A[3]))
    den = 1.0 + y * (
        BSM_B[0] + y * (BSM_B[1] + y * (BSM_B[2] + y * BSM_B[3]))
    )
    central = r * num / den
    hi = _moro_horner(F.log(-F.log(1.0 - p)))
    lo = -_moro_horner(F.log(-F.log(p)))
    return (
        F.when(p < 0.08, lo).when(p > 0.92, hi).otherwise(central)
    )


def rank_gauss_by_group(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Rank-based inverse normal transform (RankGauss) per group: map
    each value to Phi^{-1}((avg_tie_rank - 3/8) / (n + 1/4)) — the
    Blom-score feature transform that gaussianizes any skewed metric
    before it feeds a neural net or linear model (the Kaggle
    'RankGauss' trick; standard in eQTL pipelines as INT).

    Scale shape: valid on the declared bounded-lattice precondition
    (fixed-precision metrics — cents, counts, ratings), the same
    contract as ``spearman_by_group``: ranks derive from the
    per-(group, value) CELL table, so the raw data is touched exactly
    once (the counting aggregate) and every window below runs over
    the bounded cell table, never the observations. Returns one row
    per (group, value): n_ties, avg_rank, gauss.
    """
    cells = df.groupBy(group_col, value_col).agg(F.count("*").alias("_t"))
    w_ord = Window.partitionBy(group_col).orderBy(value_col)
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_tot = Window.partitionBy(group_col)
    before = F.coalesce(F.sum("_t").over(w_prev), F.lit(0))
    n = F.sum("_t").over(w_tot)
    avg_rank = before.cast("double") + (F.col("_t") + 1).cast("double") / 2.0
    p = (avg_rank - 0.375) / (n.cast("double") + 0.25)
    return cells.select(
        group_col,
        value_col,
        F.col("_t").alias("n_ties"),
        F.round(avg_rank, 6).alias("avg_rank"),
        F.round(inv_norm_cdf(p), 6).alias("gauss"),
    )


def mahalanobis_2d(
    df: DataFrame, x_col: str, y_col: str, keep_cols: list[str]
) -> DataFrame:
    """Two-feature Mahalanobis distance per row, with the EXACT
    chi-square(2) upper-tail p-value p = exp(-d^2/2) (the 2-dof tail
    is closed-form) — the covariance-aware outlier score that catches
    what per-feature z-scores miss (a point can be 2 sigma on each
    axis yet wildly off the correlation ridge).

    Scale shape: ONE exact-integer moment aggregate (n, sums, cross
    sums stay BIGINT so both engines derive identical doubles), the
    2x2 covariance inverted in closed form inside the broadcast join
    — no matrix library, no collect of the data, one pass."""
    xi = F.col(x_col).cast("double")
    yi = F.col(y_col).cast("double")
    m = df.agg(
        F.count("*").alias("_n"),
        F.sum(x_col).alias("_sx"),
        F.sum(y_col).alias("_sy"),
        F.sum(F.col(x_col) * F.col(x_col)).alias("_sxx"),
        F.sum(F.col(y_col) * F.col(y_col)).alias("_syy"),
        F.sum(F.col(x_col) * F.col(y_col)).alias("_sxy"),
    )
    j = df.crossJoin(F.broadcast(m))
    n = F.col("_n").cast("double")
    mx = F.col("_sx").cast("double") / n
    my = F.col("_sy").cast("double") / n
    vxx = (F.col("_sxx").cast("double") - F.col("_sx") * mx) / (n - 1)
    vyy = (F.col("_syy").cast("double") - F.col("_sy") * my) / (n - 1)
    vxy = (F.col("_sxy").cast("double") - F.col("_sx") * my) / (n - 1)
    det = vxx * vyy - vxy * vxy
    dx = xi - mx
    dy = yi - my
    # degenerate covariance (n < 2 divides by zero; zero-variance or
    # perfectly-correlated features give det <= 0) yields NULL
    # explicitly rather than a silent Inf/NaN — the oracle twin
    # carries the identical CASE WHEN guard
    d2 = F.when(
        (F.col("_n") >= 2) & (det > 0),
        (dx * dx * vyy - 2.0 * dx * dy * vxy + dy * dy * vxx) / det,
    )
    return j.select(
        *keep_cols,
        F.round(d2, 6).alias("d2"),
        F.round(F.exp(-d2 / 2.0), 6).alias("p_value"),
    )


def cochran_armitage_trend(
    tiers: DataFrame, score_col: str, n_col: str, r_col: str
) -> DataFrame:
    """Cochran-Armitage test for a linear trend in proportions across
    ordered exposure tiers (the dose-response readout an
    experimentation platform runs on graduated rollouts, where the
    two-group z-test can't see ordering). ``tiers``: one row per tier
    with an integer score, subject count n and converted count r.
    z = sum(s_i (r_i - n_i pbar)) / sqrt(pbar (1-pbar)
    (sum s_i^2 n_i - (sum s_i n_i)^2 / N)); two-sided p via the
    shared A&S normal-tail polynomial. Runs on the TIER table
    (#tiers rows) — callers own the one per-subject collapse."""
    agg = tiers.agg(
        F.sum(n_col).alias("_nn"),
        F.sum(r_col).alias("_rr"),
        F.sum(F.col(score_col) * F.col(n_col)).alias("_sn"),
        F.sum(F.col(score_col) * F.col(r_col)).alias("_sr"),
        F.sum(
            F.col(score_col) * F.col(score_col) * F.col(n_col)
        ).alias("_ssn"),
    )
    nn = F.col("_nn").cast("double")
    pbar = F.col("_rr").cast("double") / nn
    t_stat = F.col("_sr").cast("double") - F.col("_sn") * pbar
    var = (
        pbar
        * (1.0 - pbar)
        * (F.col("_ssn").cast("double") - F.col("_sn") * (F.col("_sn") / nn))
    )
    z = t_stat / F.sqrt(var)
    return agg.select(
        F.col("_nn").alias("n_total"),
        F.col("_rr").alias("n_converted"),
        F.round(F.when(var > 0, z), 6).alias("z"),
        F.round(
            F.when(var > 0, 2.0 * norm_sf(F.abs(z))).otherwise(1.0), 6
        ).alias("p_value"),
    )


def fisher_exact_2x2(a: int, b: int, c: int, d: int) -> dict:
    """Fisher's exact test (two-sided, sum-of-smaller-tables
    convention with R's 1e-7 relative slack) for the 2x2 table
    [[a, b], [c, d]], computed with the exact hypergeometric ratio
    recursion in a FROZEN left-to-right IEEE order so an independent
    engine replaying the identical walk (a recursive CTE) derives
    bit-identical doubles:

        w(kmin) = 1;  w(k+1) = w(k) * ((r1-k)(c1-k)) / ((k+1)(r2-c1+k+1))
        p = sum(w[k] for w[k] <= w[a] * (1 + 1e-7)) / sum(w)

    Driver-side by design: the walk is bounded by min(row margin,
    col margin) — the same bounded-collect contract as the Markov
    absorption loop. For margins beyond ~1e6 use the chi-square
    approximation instead (at that n they agree to many digits)."""
    r1, r2 = a + b, c + d
    c1 = a + c
    kmin = max(0, c1 - r2)
    kmax = min(r1, c1)
    if kmax - kmin > 1_000_000:
        raise ValueError(
            "fisher_exact_2x2 is for bounded margins (walk length "
            f"{kmax - kmin}); use the chi-square approximation at this n"
        )
    ws = [1.0]
    w = 1.0
    for k in range(kmin, kmax):
        num = float((r1 - k) * (c1 - k))
        den = float((k + 1) * (r2 - c1 + k + 1))
        w = w * (num / den)
        ws.append(w)
    thresh = ws[a - kmin] * 1.0000001
    numer = 0.0
    denom = 0.0
    for w in ws:
        denom = denom + w
        if w <= thresh:
            numer = numer + w
    # None (not NaN) on a zero off-diagonal: the driver-side
    # DataFrame then carries SQL NULL, matching the oracle twin's
    # CASE WHEN ... ELSE NULL convention (NaN would hash-mismatch)
    odds = (a * d) / (b * c) if b > 0 and c > 0 else None
    return {
        "a": a,
        "b": b,
        "c": c,
        "d": d,
        "odds_ratio": odds,
        "p_value": numer / denom,
    }
