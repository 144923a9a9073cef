"""Statistical tests, distribution fits and survival analysis over the
events table: A/B tests, goodness of fit, agreement, tails, survival."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from vanus_spark.queries.common import _NORM_SF_SQL, _t


def q_events_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment dispersion stats per group: sample variance /
    stddev / covariance (identical definitions in both engines) plus
    SAMPLE-corrected skewness and excess kurtosis — Spark's builtins
    return the population g1/g2, so the adjusted-Fisher-Pearson
    corrections G1 = g1*sqrt(n(n-1))/(n-2) and
    G2 = ((n+1)g2+6)(n-1)/((n-2)(n-3)) are applied in-plan to match
    DuckDB's sample convention. One partial-aggregate shuffle."""
    ev = _t(spark, sf_dir, "events")
    days = (F.col("ts").cast("double") / 86400.0).alias("days")
    n = F.count("*")
    g1, g2 = F.skewness("value"), F.kurtosis("value")
    return (
        ev.select("event_type", "value", days)
        .groupBy("event_type")
        .agg(
            F.round(F.var_samp("value"), 4).alias("variance"),
            F.round(F.stddev_samp("value"), 6).alias("stddev"),
            F.round(F.covar_samp("value", "days"), 6).alias("covar_days"),
            F.round(g1 * F.sqrt(n * (n - 1)) / (n - 2), 5).alias("skewness"),
            F.round(
                ((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3)), 5
            ).alias("kurtosis"),
        )
    )


def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier stats per event type: exact interpolated median,
    MAD (median absolute deviation), and the count/fraction beyond the
    3-sigma-equivalent MAD fence (1.4826 * mad). Two partial-aggregate
    shuffles (median, then MAD + fence count with the median joined
    back as a broadcast) — the robust cousin of events_anomaly's
    z-score."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "_adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(_adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("med"), 6).alias("med"),
            F.round(F.first("mad"), 6).alias("mad"),
            F.count("*").alias("n_rows"),
            F.sum(
                (F.col("_adev") > 3.0 * 1.4826 * F.col("mad")).cast("long")
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            "med",
            "mad",
            "n_rows",
            "n_outliers",
            F.round(F.col("n_outliers") / F.col("n_rows"), 9).alias(
                "outlier_frac"
            ),
        )
    )


def q_events_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type stats: mean/stddev after winsorizing values to
    the [p05, p95] band. The two clamp thresholds are one exact-
    percentile aggregate per type (5 rows, broadcast back); the clamp
    itself is a pure Column — one extra tiny aggregate, no second
    scan shape. round(6) on thresholds BEFORE clamping so both
    engines clamp against identical doubles."""
    ev = _t(spark, sf_dir, "events")
    thr = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.05)), 6).alias("lo"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("hi"),
    )
    clamped = ev.join(F.broadcast(thr), "event_type").select(
        "event_type",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias(
            "wv"
        ),
    )
    return clamped.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg("wv"), 6).alias("wins_mean"),
        F.round(F.stddev("wv"), 6).alias("wins_stddev"),
        F.round(F.min("wv"), 6).alias("wins_min"),
        F.round(F.max("wv"), 6).alias("wins_max"),
    )


def q_events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users hash into variants by
    user_id % 2, per-user purchase spend and conversion (any purchase
    above 150 — a genuine split, not all-converted) roll up in ONE
    aggregate over events, then Welch's t (unequal-variance means
    test) and the 2x2 chi-square statistic fold the two variant rows
    into one — two shuffles total (user rollup, 2-row variant agg),
    both map-side combined, nothing driver-side. The chi-square
    operands cast to double BEFORE multiplying so the integer products
    can't overflow at large SF, and both engines evaluate the same
    parenthesization."""
    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                0.0
            )
        ).alias("spend"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150), 1
            ).otherwise(0)
        ).alias("converted"),
    )
    byv = users.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.count("*").alias("n"),
        F.avg("spend").alias("mean_spend"),
        F.var_samp("spend").alias("var_spend"),
        F.sum("converted").alias("conv"),
    )

    def pick(col: str, v: int) -> Column:
        return F.max(F.when(F.col("variant") == v, F.col(col)))

    one = byv.agg(
        pick("n", 0).alias("n_a"),
        pick("n", 1).alias("n_b"),
        pick("conv", 0).alias("conv_a"),
        pick("conv", 1).alias("conv_b"),
        pick("mean_spend", 0).alias("ma"),
        pick("mean_spend", 1).alias("mb"),
        pick("var_spend", 0).alias("va"),
        pick("var_spend", 1).alias("vb"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    se2 = F.col("va") / na + F.col("vb") / nb
    welch_t = (F.col("ma") - F.col("mb")) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (F.col("va") / na) * (F.col("va") / na) / (na - 1)
        + (F.col("vb") / nb) * (F.col("vb") / nb) / (nb - 1)
    )
    a = F.col("conv_a").cast("double")
    b = na - a
    c = F.col("conv_b").cast("double")
    d = nb - c
    chi2 = ((na + nb) * (a * d - b * c) * (a * d - b * c)) / (
        (a + b) * (c + d) * (a + c) * (b + d)
    )
    return one.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round("ma", 4).alias("mean_a"),
        F.round("mb", 4).alias("mean_b"),
        F.round(welch_t, 6).alias("welch_t"),
        F.round(dof, 3).alias("welch_dof"),
        F.round(chi2, 6).alias("chi2"),
    )


def q_users_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier churn curves (operators/survival.kaplan_meier):
    each user's duration = days between first and last event; every
    5th user enters censored (still active), the rest churn at their
    last day; segments = user_id % 3. The risk table collapses to
    (segment, duration) before any window runs, so the cumulative
    product never sees the subject table. Oracle restates the
    exp(sum(ln)) chain with the same zero guard."""
    from vanus_spark.operators.survival import kaplan_meier

    ev = _t(spark, sf_dir, "events")
    subjects = ev.groupBy("user_id").agg(
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))).alias(
            "duration"
        )
    ).select(
        (F.col("user_id") % 3).cast("string").alias("segment"),
        F.col("duration").cast("long").alias("duration"),
        F.when(F.col("user_id") % 5 == 0, F.lit(0))
        .otherwise(F.lit(1))
        .alias("event"),
    )
    return kaplan_meier(subjects)


def q_events_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test on per-user purchase
    spend between the two hash variants — the NONPARAMETRIC sibling of
    q_events_ab_test's Welch t (rank-based, so spend outliers cannot
    dominate). Average ranks come from the two-phase distributed rank
    (bus.distributed_row_number — never a single-task global window)
    + one groupBy(spend) tie collapse: avg rank per tie group times
    the group's variant counts IS the rank sum. Tie-corrected normal
    approximation z and the rank-biserial effect size fold from one
    final 1-row aggregate. Spend is rounded to its 2-decimal lattice
    BEFORE ranking so both engines form identical tie groups. The
    cubic tie term stays in exact long arithmetic (bound: tie groups
    up to ~2M rows before overflow — far beyond any real spend
    lattice bucket)."""
    from vanus_spark.operators.ranktests import mann_whitney_u

    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.round(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value")
                ).otherwise(0.0)
            ),
            2,
        ).alias("spend")
    )
    users = users.withColumn("variant", (F.col("user_id") % 2).cast("int"))
    return mann_whitney_u(users, "spend", "variant", "user_id")


def q_events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per user: is the above/below-median
    sign sequence of a user's time-ordered values random, or does it
    trend/cluster? (The randomness check run on residual streams
    before trusting an A/B readout.) Signs vs the user's own exact
    median (equal-to-median rows drop, the standard convention); runs
    count from one per-user ordered lag window; the tie-free normal
    approximation z = (R - mu)/sigma with mu = 2*n1*n2/n + 1. All
    per-user windows — no global anything."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 40)
    from vanus_spark.operators.ranktests import runs_test

    return runs_test(ev, "value", "user_id", ["ts", "event_id"])


def q_events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov on per-user purchase spend
    between the hash variants — the DISTRIBUTION-level companion of
    q_events_mann_whitney (U asks "does one side stochastically
    dominate", KS asks "are the ECDFs the same anywhere"): D plus the
    Numerical-Recipes-corrected asymptotic p. Spend rounds to its
    2-decimal lattice so both engines form identical support points;
    cumulative counts over the distinct-spend table come from the
    two-phase prefix (range exchange -> per-slice cumsum -> #slices
    triangular broadcast), never a single-task global window."""
    from vanus_spark.operators.hyptests import ks_two_sample

    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.round(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value")
                ).otherwise(0.0)
            ),
            2,
        ).alias("spend")
    )
    users = users.withColumn("variant", (F.col("user_id") % 2).cast("int"))
    return ks_two_sample(users, "spend", "variant")


def q_events_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of event value across the five event types (the
    "does the metric differ by category at all" omnibus test run
    before any pairwise A/B): F statistic + eta^2 effect size. Values
    move to the exact integer cents lattice FIRST, so every moment
    sum both engines fold is the same BIGINT and the only doubles are
    the final scale-free ratios. Two aggregates total — per-group,
    then over #groups rows."""
    from vanus_spark.operators.hyptests import anova_oneway

    ev = _t(spark, sf_dir, "events").withColumn(
        "_cents",
        F.expr("CAST(round(value * 100) AS BIGINT)"),
    )
    return anova_oneway(ev, "_cents", "event_type")


def q_events_ab_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR across 20 segment-level A/B readouts
    (event_type x quarter-of-day), the multiple-testing gate a metrics
    platform applies before flagging any segment as moved: per-segment
    Welch z on event value between the hash variants, two-sided p via
    the shared A&S 26.2.17 normal-tail polynomial (identical closed
    form in the oracle), then the BH step-up at alpha=0.05. All
    per-segment moments stay in exact integer cents — ONE map-side
    combined shuffle over the data; every window/aggregate after runs
    on the 20-row hypothesis table."""
    from vanus_spark.operators.hyptests import bh_fdr, norm_sf

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        # integer division on BOTH engines: a double->int cast rounds
        # in DuckDB but truncates in Spark
        F.expr("hour(ts) DIV 6").alias("day_quarter"),
        (F.col("user_id") % 2).alias("variant"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
    )
    seg = ev.groupBy("event_type", "day_quarter").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("c"))).alias("s_a"),
        F.sum(
            F.when(F.col("variant") == 0, F.col("c") * F.col("c"))
        ).alias("ss_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("c"))).alias("s_b"),
        F.sum(
            F.when(F.col("variant") == 1, F.col("c") * F.col("c"))
        ).alias("ss_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ma = F.col("s_a").cast("double") / na
    mb = F.col("s_b").cast("double") / nb
    va = (F.col("ss_a").cast("double") - na * ma * ma) / (na - 1)
    vb = (F.col("ss_b").cast("double") - nb * mb * mb) / (nb - 1)
    z = (ma - mb) / F.sqrt(va / na + vb / nb)
    hyps = seg.select(
        "event_type",
        "day_quarter",
        "n_a",
        "n_b",
        z.alias("_z"),
        (2.0 * norm_sf(F.abs(z))).alias("_p"),
    )
    out = bh_fdr(hyps, "_p", ["event_type", "day_quarter"], alpha=0.05)
    return out.select(
        "event_type",
        "day_quarter",
        "n_a",
        "n_b",
        F.round("_z", 6).alias("z"),
        F.round("_p", 6).alias("p_value"),
        "bh_rank",
        F.round("bh_crit", 6).alias("bh_crit"),
        "significant",
    )


def q_events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout: variant 1 vs 0, pre vs post
    the mid-window cutover (2024-01-16) — the standard quasi-
    experimental estimate when assignment wasn't randomized at the
    metric's grain. All four cell moments come from ONE map-side
    combined shuffle in exact integer cents; the estimate, its pooled
    standard error sqrt(sum var_cell/n_cell), and z fold from the
    4-row cell table. Dollars on output."""
    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("variant"),
        (F.col("ts") >= F.lit("2024-01-16").cast("timestamp"))
        .cast("int")
        .alias("post"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
    )
    cells = ev.groupBy("variant", "post").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    n = F.col("n").cast("double")
    mean = F.col("s").cast("double") / n
    var = (F.col("ss").cast("double") - n * mean * mean) / (n - 1)
    wide = cells.select(
        "variant", "post", "n", mean.alias("m"), (var / n).alias("vn")
    )

    def cell(v, p, col):
        return F.max(
            F.when(
                (F.col("variant") == v) & (F.col("post") == p), F.col(col)
            )
        )

    one = wide.agg(
        F.sum("n").alias("n_events"),
        cell(1, 1, "m").alias("_m11"),
        cell(1, 0, "m").alias("_m10"),
        cell(0, 1, "m").alias("_m01"),
        cell(0, 0, "m").alias("_m00"),
        (
            cell(1, 1, "vn") + cell(1, 0, "vn")
            + cell(0, 1, "vn") + cell(0, 0, "vn")
        ).alias("_se2"),
    )
    did = (F.col("_m11") - F.col("_m10")) - (F.col("_m01") - F.col("_m00"))
    return one.select(
        "n_events",
        F.round(F.col("_m00") / 100.0, 4).alias("ctrl_pre"),
        F.round(F.col("_m01") / 100.0, 4).alias("ctrl_post"),
        F.round(F.col("_m10") / 100.0, 4).alias("treat_pre"),
        F.round(F.col("_m11") / 100.0, 4).alias("treat_post"),
        F.round(did / 100.0, 4).alias("did"),
        F.round(F.sqrt(F.col("_se2")) / 100.0, 4).alias("se"),
        F.round(did / F.sqrt(F.col("_se2")), 6).alias("z"),
    )


def q_events_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical association suite for event_type x quarter-of-day:
    chi-square, Cramer's V (the [0,1] effect size chi2 alone
    overstates on big n), and mutual information in nats — the three
    numbers a feature-selection pass reads off a contingency table.
    ONE shuffle over the data builds the cell table; margins re-fold
    from the cells (never a second scan) and broadcast back; every
    statistic derives from exact integer counts."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.expr("hour(ts) DIV 6").alias("day_quarter")
    )
    cells = ev.groupBy("event_type", "day_quarter").agg(
        F.count("*").alias("o")
    )
    rows = cells.groupBy("event_type").agg(F.sum("o").alias("rn"))
    cols = cells.groupBy("day_quarter").agg(F.sum("o").alias("cn"))
    tot = cells.agg(F.sum("o").alias("nn"))
    j = (
        cells.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(cols), "day_quarter")
        .crossJoin(F.broadcast(tot))
    )
    o = F.col("o").cast("double")
    e = F.col("rn").cast("double") * F.col("cn") / F.col("nn")
    p = o / F.col("nn")
    # rn cast double BEFORE the product: long*long margins overflow
    # at extreme table sizes
    mi_t = p * F.log(
        o
        * F.col("nn").cast("double")
        / (F.col("rn").cast("double") * F.col("cn"))
    )
    agg = j.agg(
        F.max("nn").alias("n"),
        F.countDistinct("event_type").alias("r"),
        F.countDistinct("day_quarter").alias("c"),
        F.sum((o - e) * (o - e) / e).alias("_chi2"),
        F.sum(mi_t).alias("_mi"),
    )
    return agg.select(
        "n",
        "r",
        "c",
        ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
        F.round("_chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("_chi2")
                / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))
            ),
            6,
        ).alias("cramers_v"),
        F.round("_mi", 6).alias("mi_nats"),
    )


def q_events_conversion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion conversion readout between the hash variants:
    per-user purchase conversion, the pooled two-proportion z, and
    each variant's 95% Wilson score interval (the binomial CI that
    behaves at small counts and extreme rates, unlike Wald) — the
    PROPORTIONS sibling of q_events_ab_test's Welch t on means. The
    trial unit is the USER-DAY (any-purchase-today), not the user —
    over the 30-day window virtually every user purchases at least
    once, which degenerates the user-grain rate to 1.0 on both sides
    (pooled z divides by zero). One per-(user, day) collapse, one
    2-row aggregate; all inputs exact integer counts so both engines
    derive identical doubles."""
    ev = _t(spark, sf_dir, "events")
    userdays = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("converted")
    )
    g = userdays.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.count("*").alias("n"), F.sum("converted").alias("k")
    )
    nn = F.col("n").cast("double")
    ph = F.col("k").cast("double") / nn
    zc = 1.959963985  # Phi^-1(0.975), shared literal with the oracle
    denom = 1 + zc * zc / nn
    center = (ph + zc * zc / (2 * nn)) / denom
    half = (
        zc
        * F.sqrt(ph * (1 - ph) / nn + zc * zc / (4 * nn * nn))
        / denom
    )
    per = g.select(
        "variant",
        "n",
        "k",
        F.round(ph, 6).alias("rate"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    )
    pair = g.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("na"),
        F.max(F.when(F.col("variant") == 0, F.col("k"))).alias("ka"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("variant") == 1, F.col("k"))).alias("kb"),
    )
    pp = (F.col("ka") + F.col("kb")).cast("double") / (
        F.col("na") + F.col("nb")
    )
    sig2 = pp * (1 - pp) * (1.0 / F.col("na") + 1.0 / F.col("nb"))
    # all-converted / none-converted pools have zero variance: z is
    # undefined -> NULL, not an ANSI divide-by-zero
    z2 = F.when(
        sig2 > 0,
        (
            F.col("ka").cast("double") / F.col("na")
            - F.col("kb").cast("double") / F.col("nb")
        )
        / F.sqrt(sig2),
    )
    return per.crossJoin(
        F.broadcast(pair.select(F.round(z2, 6).alias("pooled_z")))
    )


def q_users_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank test on the churn durations behind
    q_users_kaplan_meier (same subjects: duration = days between
    first and last event, every 5th user censored) split by the hash
    variant — the significance readout on the KM curves. The risk
    table collapses to per-duration counts before any window; the
    hypergeometric expectation/variance fold runs over the bounded
    duration axis only (operators/survival.logrank_test)."""
    from vanus_spark.operators.survival import logrank_test

    ev = _t(spark, sf_dir, "events")
    subjects = (
        ev.groupBy("user_id")
        .agg(
            F.datediff(
                F.max(F.to_date("ts")), F.min(F.to_date("ts"))
            ).alias("duration")
        )
        .select(
            F.col("duration").cast("long").alias("duration"),
            F.when(F.col("user_id") % 5 == 0, F.lit(0))
            .otherwise(F.lit(1))
            .alias("event"),
            (F.col("user_id") % 2).cast("int").alias("grp"),
        )
    )
    return logrank_test(subjects)


# Z80/Z90: z_{alpha/2} + z_{power} for two-sided alpha=5% at 80%/90%
# power. Summed in PYTHON and injected as one literal into BOTH
# engines (repr round-trips the exact double) — a SQL-side decimal
# addition could differ from the python float sum in the last ulp.
_Z80 = 1.959963985 + 0.841621234


_Z90 = 1.959963985 + 1.281551566


def q_events_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B power readout per event type: the minimum detectable
    effect at 80%/90% power for the CURRENT sample sizes, and the
    per-arm n required to detect the currently observed delta at 80%
    — the "is this experiment even capable of an answer" check run
    before reading any of the significance queries. All moments from
    ONE exact-cents shuffle (same cells as q_events_ab_fdr); the
    z-quantile sums are python-folded literals shared with the
    oracle. Dollars on output; a zero observed delta yields NULL
    required-n, not a divide-by-zero."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2).alias("variant"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
    )
    seg = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("c"))).alias("s_a"),
        F.sum(
            F.when(F.col("variant") == 0, F.col("c") * F.col("c"))
        ).alias("ss_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("c"))).alias("s_b"),
        F.sum(
            F.when(F.col("variant") == 1, F.col("c") * F.col("c"))
        ).alias("ss_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ma = F.col("s_a").cast("double") / na
    mb = F.col("s_b").cast("double") / nb
    va = (F.col("ss_a").cast("double") - na * ma * ma) / (na - 1)
    vb = (F.col("ss_b").cast("double") - nb * mb * mb) / (nb - 1)
    delta = ma - mb
    se = F.sqrt(va / na + vb / nb)
    n80 = F.when(
        F.abs(delta) > 0,
        F.ceil(_Z80 * _Z80 * (va + vb) / (delta * delta)),
    )
    return seg.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(delta / 100.0, 4).alias("delta"),
        F.round(_Z80 * se / 100.0, 4).alias("mde_80"),
        F.round(_Z90 * se / 100.0, 4).alias("mde_90"),
        n80.alias("n_per_arm_80"),
    ).orderBy("event_type")


def q_events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the variant A/B readout
    (operators/hyptests.cuped_readout): adjust each user's
    post-period spend by theta * (pre-period spend - pre-mean),
    theta = cov(pre, post)/var(pre) pooled — the standard trick that
    removes pre-existing user-level variance from the experiment
    metric (Deng et al. 2013; every modern experimentation platform
    ships it). Days 1-15 are "pre", 16-30 "post". One exact-cents
    per-user collapse over the events; everything after runs on the
    #users frame."""
    from vanus_spark.operators.hyptests import cuped_readout

    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
                F.expr("CAST(round(value * 100) AS BIGINT)"),
            ).otherwise(F.lit(0))
        ).alias("x"),
        F.sum(
            F.when(
                F.col("ts") >= F.lit("2024-01-16").cast("timestamp"),
                F.expr("CAST(round(value * 100) AS BIGINT)"),
            ).otherwise(F.lit(0))
        ).alias("y"),
    )
    users = users.withColumn("variant", (F.col("user_id") % 2).cast("int"))
    return cuped_readout(users, "x", "y", "variant")


def q_events_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the first data-quality gate an
    experimentation platform runs before ANY readout: chi-square of
    the observed user split against the designed 50/50, per
    event_type exposure population and overall ('_all_'). chi2 with
    1 dof, p = 2 * Q(sqrt(chi2)) via the shared A&S normal-tail
    polynomial (the chi2_1 tail IS the two-sided normal tail). A
    significant p here means assignment is broken and every other
    readout in the suite is void — which is why it ships in the same
    family. One distinct-users shuffle; everything after runs on
    #event_types rows."""
    from vanus_spark.operators.hyptests import norm_sf

    ev = _t(spark, sf_dir, "events")
    pops = ev.select(
        "event_type", "user_id", (F.col("user_id") % 2).alias("variant")
    ).distinct()
    seg = pops.groupBy("event_type").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
    )
    allrow = pops.select("user_id", "variant").distinct().agg(
        F.lit("_all_").alias("event_type"),
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
    )
    u = seg.unionByName(allrow)
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    e = (na + nb) / 2
    chi2 = (na - e) * (na - e) / e + (nb - e) * (nb - e) / e
    p = 2.0 * norm_sf(F.sqrt(chi2))
    return u.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(chi2, 6).alias("chi2"),
        F.round(p, 6).alias("p_value"),
        (p < 0.001).alias("srm_flag"),
    ).orderBy("event_type")


def q_events_rank_gauss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based inverse normal transform (RankGauss / INT) of the
    per-event value, per event type (operators/hyptests.
    rank_gauss_by_group): Blom score Phi^{-1}((avg_rank - 3/8) /
    (n + 1/4)) — the gaussianizing feature map every tabular-NN
    pipeline applies to skewed metrics before training. Phi^{-1} is
    the Beasley-Springer-Moro closed form, the SAME literals in the
    DuckDB twin. Cents lattice precondition: ranks derive from the
    bounded per-(type, cents) cell table (one counting shuffle);
    the windows run over cells, never observations."""
    from vanus_spark.operators.hyptests import rank_gauss_by_group

    ev = _t(spark, sf_dir, "events")
    cents = ev.select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    return rank_gauss_by_group(cents, "cents", "event_type").orderBy(
        "event_type", "cents"
    )


def q_events_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance-aware outlier screen over the per-user (event count,
    spend cents) plane (operators/hyptests.mahalanobis_2d): the 2x2
    covariance inverts in closed form, d^2 gets the EXACT chi2(2)
    tail p = exp(-d^2/2), and users beyond the 0.95 quantile
    (d^2 >= 5.991465) are flagged — what per-feature z-scores
    (q_events_mad_outliers, q_embedding_outliers) miss when a point
    sits off the correlation ridge. One per-user collapse + one
    exact-BIGINT moment aggregate broadcast back; int64 headroom: the
    y^2 sums carry ~1e6-cents users to ~9e6 users per partition-free
    aggregate — pre-scale to dollars beyond that."""
    from vanus_spark.operators.hyptests import mahalanobis_2d

    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents"),
    )
    scored = mahalanobis_2d(
        users, "n_events", "cents", ["user_id", "n_events", "cents"]
    )
    return scored.where(F.col("d2") >= 5.991465).orderBy("user_id")


def q_events_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage dose-response trend test (operators/hyptests.
    cochran_armitage_trend): conversion (any purchase) across the four
    ordered exposure tiers user_id % 4 — the graduated-rollout readout
    the two-arm z-test (q_events_conversion_test) can't express,
    completing the proportions family (SRM gate, two-arm z, trend).
    One distinct-user collapse, one 4-row tier aggregate; z and the
    two-sided p ride the shared A&S tail polynomial."""
    from vanus_spark.operators.hyptests import cochran_armitage_trend

    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    )
    tiers = users.groupBy(
        (F.col("user_id") % 4).cast("long").alias("tier")
    ).agg(
        F.count("*").alias("n"),
        F.sum("conv").cast("long").alias("r"),
    )
    return cochran_armitage_trend(tiers, "tier", "n", "r")


def q_users_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard per segment (operators/survival.
    nelson_aalen) on the SAME subjects frame as q_users_kaplan_meier
    (duration = first-to-last-event days, every 5th user censored,
    segments user_id % 3): H(t) = sum d_i/n_i with variance
    sum d_i/n_i^2 — the hazard-scale readout additive-risk models
    consume; K-M gives the survival scale, this gives the integrated
    hazard. Risk-table collapse first; running sums walk risk-table
    rows only."""
    from vanus_spark.operators.survival import nelson_aalen

    ev = _t(spark, sf_dir, "events")
    subjects = ev.groupBy("user_id").agg(
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))).alias(
            "duration"
        )
    ).select(
        (F.col("user_id") % 3).cast("string").alias("segment"),
        F.col("duration").cast("long").alias("duration"),
        F.when(F.col("user_id") % 5 == 0, F.lit(0))
        .otherwise(F.lit(1))
        .alias("event"),
    )
    return nelson_aalen(subjects).orderBy("segment", "t")


def q_users_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: days from a user's FIRST event to
    their FIRST purchase (converted users only), on the bounded
    day lattice — per-day counts, share, cumulative share, and the
    running median/p90 flags a funnel owner reads off the curve.
    One per-user collapse (min ts, min purchase ts), then every
    window runs over the <= #days duration table, never the users."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("_first"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("_conv"),
    )
    days = (
        per_user.where(F.col("_conv").isNotNull())
        .select(F.datediff("_conv", "_first").cast("long").alias("days"))
        .groupBy("days")
        .agg(F.count("*").alias("n"))
    )
    w_tot = Window.partitionBy()
    w_run = Window.orderBy("days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = F.sum("n").over(w_tot)
    cum = F.sum("n").over(w_run)
    return days.select(
        "days",
        "n",
        F.round(F.col("n").cast("double") / tot, 6).alias("share"),
        F.round(cum.cast("double") / tot, 6).alias("cum_share"),
        ((cum * 2) >= tot).alias("at_or_past_median"),
        ((cum * 10) >= tot * 9).alias("at_or_past_p90"),
    ).orderBy("days")


def q_events_bayes_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B conversion readout: Beta(1+r, 1+n-r) posteriors
    per variant and P(B > A) via the normal approximation of the
    posterior difference (exact Beta math needs an incomplete-beta
    routine; at these n the normal approx is tight to ~1e-4 and stays
    pure arithmetic the oracle can replay) — the "probability B is
    better" readout product teams actually read, next to the
    frequentist z (q_events_conversion_test). One distinct-user
    shuffle; everything after runs on the 2-row arm table."""
    from vanus_spark.operators.hyptests import norm_sf

    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    )
    arms = users.groupBy(
        (F.col("user_id") % 2).cast("int").alias("variant")
    ).agg(F.count("*").alias("n"), F.sum("conv").cast("long").alias("r"))
    a = F.col("r").cast("double") + 1.0
    b = (F.col("n") - F.col("r")).cast("double") + 1.0
    staged = arms.select(
        "variant",
        "n",
        "r",
        (a / (a + b)).alias("_mu"),
        (a * b / ((a + b) * (a + b) * (a + b + 1.0))).alias("_var"),
    )
    wide = staged.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 0, F.col("r"))).alias("r_a"),
        F.max(F.when(F.col("variant") == 0, F.col("_mu"))).alias("_mu_a"),
        F.max(F.when(F.col("variant") == 0, F.col("_var"))).alias(
            "_var_a"
        ),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 1, F.col("r"))).alias("r_b"),
        F.max(F.when(F.col("variant") == 1, F.col("_mu"))).alias("_mu_b"),
        F.max(F.when(F.col("variant") == 1, F.col("_var"))).alias(
            "_var_b"
        ),
    )
    z = (F.col("_mu_b") - F.col("_mu_a")) / F.sqrt(
        F.col("_var_a") + F.col("_var_b")
    )
    p_b = F.when(z >= 0, 1.0 - norm_sf(z)).otherwise(norm_sf(-z))
    return wide.select(
        "n_a",
        "r_a",
        F.round("_mu_a", 6).alias("post_mean_a"),
        "n_b",
        "r_b",
        F.round("_mu_b", 6).alias("post_mean_b"),
        F.round(z, 6).alias("z"),
        F.round(p_b, 6).alias("p_b_beats_a"),
    )


def q_users_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull survival fit per segment, composed ON the Nelson-Aalen
    output (operators/survival.nelson_aalen): a Weibull hazard has
    ln H(t) = k ln t - k ln(lambda), so shape k and scale lambda fall
    out of one regr_slope/intercept over the (ln t, ln H) risk-table
    points — the parametric summary an actuarial/churn model wants
    after the nonparametric curve. All work after the risk-table
    collapse runs on <= #durations rows per segment."""
    from vanus_spark.operators.survival import nelson_aalen

    ev = _t(spark, sf_dir, "events")
    subjects = ev.groupBy("user_id").agg(
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))).alias(
            "duration"
        )
    ).select(
        (F.col("user_id") % 3).cast("string").alias("segment"),
        F.col("duration").cast("long").alias("duration"),
        F.when(F.col("user_id") % 5 == 0, F.lit(0))
        .otherwise(F.lit(1))
        .alias("event"),
    )
    na = nelson_aalen(subjects).where(
        (F.col("t") > 0) & (F.col("cum_hazard") > 0)
    )
    return (
        na.groupBy("segment")
        .agg(
            F.count("*").alias("n_points"),
            F.round(
                F.expr("regr_slope(ln(cum_hazard), ln(t))"), 6
            ).alias("shape_k"),
            F.round(
                F.exp(
                    -F.expr("regr_intercept(ln(cum_hazard), ln(t))")
                    / F.expr("regr_slope(ln(cum_hazard), ln(t))")
                ),
                6,
            ).alias("scale_lambda"),
        )
        .orderBy("segment")
    )


def q_events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness coefficient B = (sigma - mu) / (sigma + mu) of
    inter-event gaps per event type (Goh & Barabasi 2008): B -> -1
    is a metronome, 0 is Poisson, -> +1 is extreme burstiness — the
    temporal-dynamics diagnostic behind rate-limit and capacity
    decisions. Gaps are WITHIN each user's own stream (the window
    partitions by user — parallel, never a global per-type sort),
    floored to exact integer seconds so every moment sum stays
    BIGINT; sigma derives from the exact (n, sum, sumsq) triple."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    us = F.unix_micros("ts")
    gaps = ev.select(
        "event_type",
        # explicit floor: Spark's double->long cast truncates while
        # DuckDB's rounds, so the division must be floored first
        F.floor((F.lead(us).over(w) - us) / 1000000)
        .cast("long")
        .alias("_gap"),
    ).where(F.col("_gap").isNotNull())
    agg = gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.sum("_gap").alias("_sg"),
        F.sum(F.col("_gap") * F.col("_gap")).alias("_sgg"),
    )
    n = F.col("n_gaps").cast("double")
    mu = F.col("_sg").cast("double") / n
    sigma = F.sqrt(
        (F.col("_sgg").cast("double") - F.col("_sg") * mu) / n
    )
    return agg.select(
        "event_type",
        "n_gaps",
        F.round(mu, 6).alias("mean_gap_s"),
        F.round(sigma, 6).alias("std_gap_s"),
        F.round((sigma - mu) / (sigma + mu), 6).alias("burstiness"),
    ).orderBy("event_type")


def q_events_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift-by-decile + Qini curve for the A/B assignment: users
    ranked by their PRE-period spend (days 1-15, a pre-treatment
    covariate), outcome = any purchase in the POST period; per decile
    the treated-minus-control conversion gap and the cumulative Qini
    value cum_ct - cum_cc * (cum_nt / cum_nc) — the experimentation
    readout that shows WHERE the effect lives (top spenders vs the
    tail), which the single-number tests (z, CUPED, Bayes) cannot.
    Deciles from the two-phase distributed rank; everything after the
    per-user collapse runs on the 10-row decile table."""
    from vanus_spark.bus import distributed_row_number

    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
                F.expr("CAST(round(value * 100) AS BIGINT)"),
            ).otherwise(F.lit(0))
        ).alias("_pre"),
        F.max(
            F.when(
                (F.col("ts") >= F.lit("2024-01-16").cast("timestamp"))
                & (F.col("event_type") == "purchase"),
                1,
            ).otherwise(0)
        ).alias("_conv"),
    ).select(
        "user_id",
        (-F.col("_pre")).alias("_neg"),
        "_conv",
        (F.col("user_id") % 2).cast("int").alias("_variant"),
    )
    ranked = distributed_row_number(users, [], ["_neg", "user_id"], "_rk")
    tot = ranked.agg(F.count("*").alias("_n"))
    dec = (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.floor(
                F.col("_rk").cast("double") * 10.0 / F.col("_n")
            ).cast("int").alias("decile"),
            "_conv",
            "_variant",
        )
        .groupBy("decile")
        .agg(
            F.sum(F.when(F.col("_variant") == 1, 1).otherwise(0)).alias(
                "n_t"
            ),
            F.sum(
                F.when(F.col("_variant") == 1, F.col("_conv")).otherwise(0)
            ).alias("c_t"),
            F.sum(F.when(F.col("_variant") == 0, 1).otherwise(0)).alias(
                "n_c"
            ),
            F.sum(
                F.when(F.col("_variant") == 0, F.col("_conv")).otherwise(0)
            ).alias("c_c"),
        )
    )
    w_run = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum_ct = F.sum("c_t").over(w_run)
    cum_cc = F.sum("c_c").over(w_run)
    cum_nt = F.sum("n_t").over(w_run)
    cum_nc = F.sum("n_c").over(w_run)
    # tiny fixtures can leave an arm empty in a decile: report NULL
    # rather than divide by zero (both engines)
    uplift = F.when(
        (F.col("n_t") > 0) & (F.col("n_c") > 0),
        F.col("c_t").cast("double") / F.col("n_t")
        - F.col("c_c").cast("double") / F.col("n_c"),
    )
    qini = F.when(
        cum_nc > 0,
        cum_ct.cast("double") - cum_cc * (cum_nt.cast("double") / cum_nc),
    )
    return dec.select(
        "decile",
        "n_t",
        "c_t",
        "n_c",
        "c_c",
        F.round(uplift, 6).alias("uplift"),
        F.round(qini, 6).alias("qini"),
    ).orderBy("decile")


def q_events_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test across the five event
    types (the Levene variant on |y - group MEDIAN| — the guard an
    experimentation platform runs before trusting any pooled-variance
    readout): deviations double onto the exact-integer lattice
    (|2y - 2*median| is a BIGINT because the interpolated median of
    ints lands on the half lattice), then the one-way ANOVA F on the
    deviations via the shared exact-moment operator
    (operators/hyptests.anova_oneway). Two partial-agg shuffles
    (median, deviations) with the 5-row median dim broadcast."""
    from vanus_spark.operators.hyptests import anova_oneway

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(cents, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(
            F.col("cents") * 2 - (F.col("med") * 2.0).cast("long")
        ).alias("dev2"),
    )
    return anova_oneway(dev, "dev2", "event_type")


def q_events_poisson_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate comparison of error events between the
    hash variants (the incident-rate A/B readout a reliability team
    runs): exposure = distinct active user-days per variant, counts =
    error events; conditional on the total, c_a ~ Binomial(N, p0)
    with p0 = exposure_a / total exposure, z = (c_a - N p0) /
    sqrt(N p0 (1 - p0)), two-sided p through the shared A&S
    normal-tail polynomial. Two map-side combined aggregates (counts,
    user-day exposure) folded into one row — every operand an exact
    BIGINT until the final scale-free ratios."""
    from vanus_spark.operators.hyptests import norm_sf

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("variant"),
        "user_id",
        F.col("ts").cast("date").alias("day"),
        (F.col("event_type") == "error").cast("long").alias("is_err"),
    )
    cnt = ev.groupBy("variant").agg(F.sum("is_err").alias("c"))
    expo = (
        ev.select("variant", "user_id", "day")
        .distinct()
        .groupBy("variant")
        .agg(F.count("*").alias("e"))
    )
    byv = cnt.join(expo, "variant")

    def pick(col: str, v: int) -> Column:
        return F.max(F.when(F.col("variant") == v, F.col(col)))

    one = byv.agg(
        pick("c", 0).alias("c_a"),
        pick("c", 1).alias("c_b"),
        pick("e", 0).alias("e_a"),
        pick("e", 1).alias("e_b"),
    )
    nn = (F.col("c_a") + F.col("c_b")).cast("double")
    p0 = F.col("e_a").cast("double") / (F.col("e_a") + F.col("e_b")).cast(
        "double"
    )
    z = (F.col("c_a").cast("double") - nn * p0) / F.sqrt(
        nn * p0 * (1.0 - p0)
    )
    rate_ratio = (
        F.col("c_a").cast("double") / F.col("e_a").cast("double")
    ) / (F.col("c_b").cast("double") / F.col("e_b").cast("double"))
    return one.select(
        "c_a",
        "c_b",
        "e_a",
        "e_b",
        F.round(rate_ratio, 6).alias("rate_ratio"),
        F.round(z, 6).alias("z"),
        F.round(2.0 * norm_sf(F.abs(z)), 6).alias("p_value"),
    )


def q_events_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% interval for each event type's high-value
    share (value > 100) — the small-sample-safe proportion CI every
    metrics dashboard should publish instead of the Wald interval
    (which collapses to zero width at p = 0 or 1). One map-side
    combined aggregate to (n, k) per type; the closed-form bounds are
    a single fixed IEEE expression with z = 1.96 shared with the
    oracle character for character."""
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum((F.col("value") > 100.0).cast("long")).alias("k"),
    )
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    z2 = 1.96 * 1.96
    center = (p + z2 / (2.0 * n)) / (1.0 + z2 / n)
    half = (
        1.96
        * F.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
        / (1.0 + z2 / n)
    )
    return g.select(
        "event_type",
        "n",
        "k",
        F.round(p, 6).alias("p_hat"),
        F.round(center - half, 6).alias("ci_lo"),
        F.round(center + half, 6).alias("ci_hi"),
    ).orderBy("event_type")


def q_events_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact test on the 2x2 variant x conversion table
    (operators/hyptests.fisher_exact_2x2) — the small-cell-safe
    counterpart of q_events_ab_test's chi-square: the 4 counts come
    from ONE distributed user rollup (the bounded-collect contract:
    exactly four integers cross the driver boundary), and the
    hypergeometric tail walks the exact ratio recursion in frozen
    IEEE order; the oracle replays the identical walk in a recursive
    CTE, so both engines derive bit-identical p-values."""
    from vanus_spark.operators.hyptests import fisher_exact_2x2

    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > 150),
                1,
            ).otherwise(0)
        ).alias("conv")
    )
    cells = users.groupBy(
        (F.col("user_id") % 2).alias("variant"), "conv"
    ).agg(F.count("*").alias("n"))
    got = {
        (r["variant"], r["conv"]): r["n"] for r in cells.collect()
    }
    a = got.get((0, 1), 0)
    b = got.get((0, 0), 0)
    c = got.get((1, 1), 0)
    d = got.get((1, 0), 0)
    r = fisher_exact_2x2(a, b, c, d)
    out = spark.createDataFrame(
        [(r["a"], r["b"], r["c"], r["d"], r["odds_ratio"], r["p_value"])],
        "a long, b long, c long, d long, odds_ratio double,"
        " p_value double",
    )
    return out.select(
        "a",
        "b",
        "c",
        "d",
        F.round("odds_ratio", 6).alias("odds_ratio"),
        F.round("p_value", 9).alias("p_value"),
    )


def q_users_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve deciles of user spend — the table behind
    q_value_gini's scalar: users rank by (spend, user_id) through the
    two-phase distributed rank (bus.distributed_row_number — range
    exchange, local rank, prefix broadcast; never a single-task global
    window), fold into 10 equal-count buckets, and each decile reports
    its spend share plus the cumulative share. Exact cents until the
    final ratios."""
    from vanus_spark.bus import distributed_row_number

    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.expr("CAST(round(value * 100) AS BIGINT)"),
            ).otherwise(0)
        ).alias("spend")
    )
    ranked = distributed_row_number(
        users, [], ["spend", "user_id"], "rk"
    )
    tot = ranked.agg(
        F.count("*").alias("_n"), F.sum("spend").alias("_ts")
    )
    dec = (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.expr("CAST(rk * 10 DIV _n AS INT)").alias("decile"),
            "spend",
            "_ts",
        )
        .groupBy("decile", "_ts")
        .agg(F.count("*").alias("n_users"), F.sum("spend").alias("sc"))
    )
    w = (
        Window.partitionBy(F.lit(1))
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return dec.select(
        "decile",
        "n_users",
        F.round(
            F.col("sc").cast("double") / F.col("_ts").cast("double"), 6
        ).alias("spend_share"),
        F.round(
            F.sum("sc").over(w).cast("double")
            / F.col("_ts").cast("double"),
            6,
        ).alias("cum_share"),
    ).orderBy("decile")


def q_events_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraclass correlation ICC(1) of event value within users —
    the design-effect input every cluster-randomized experiment needs
    (high ICC means user-level randomization wastes most of the
    nominal sample size): one-way random-effects decomposition with
    the unequal-group-size n0 correction, all moments exact BIGINTs
    (per-user (n, sum, sumsq) then a #users-row fold — the anova
    shape with user as the group)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
    )
    g = ev.groupBy("user_id").agg(
        F.count("*").alias("_n"),
        F.sum("c").alias("_s"),
        F.sum(F.col("c") * F.col("c")).alias("_ss"),
    )
    gm = g.agg(
        F.sum("_n").alias("_tn"),
        F.sum("_s").alias("_ts"),
        F.count("*").alias("_k"),
        F.sum(F.col("_n") * F.col("_n")).alias("_snn"),
    )
    j = g.crossJoin(F.broadcast(gm))
    mean_g = F.col("_s").cast("double") / F.col("_n")
    grand = F.col("_ts").cast("double") / F.col("_tn")
    ssb_t = F.col("_n") * (mean_g - grand) * (mean_g - grand)
    ssw_t = F.col("_n") * (
        F.col("_ss").cast("double") / F.col("_n") - mean_g * mean_g
    )
    one = j.groupBy("_tn", "_k", "_snn").agg(
        F.sum(ssb_t).alias("_ssb"), F.sum(ssw_t).alias("_ssw")
    )
    tn = F.col("_tn").cast("double")
    k = F.col("_k").cast("double")
    msb = F.col("_ssb") / (k - 1.0)
    msw = F.col("_ssw") / (tn - k)
    n0 = (tn - F.col("_snn").cast("double") / tn) / (k - 1.0)
    # a constant metric gives MSB = MSW = 0 -> ICC is undefined; emit
    # NULL explicitly on both engines rather than a silent NaN
    icc = F.when(
        msb + (n0 - 1.0) * msw > 0,
        (msb - msw) / (msb + (n0 - 1.0) * msw),
    )
    deff = 1.0 + (n0 - 1.0) * icc
    return one.select(
        F.col("_k").alias("k_users"),
        F.col("_tn").alias("n"),
        F.round(n0, 6).alias("n0"),
        F.round(icc, 6).alias("icc"),
        F.round(deff, 6).alias("design_effect"),
    )


def q_events_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-Kramer honest-significant-difference post-hoc over all 10
    event-type pairs (the test you run AFTER q_events_anova rejects —
    pairwise Welch/BH would inflate the family error): q = |mean_i -
    mean_j| / sqrt(MSW/2 (1/n_i + 1/n_j)) against the studentized-range
    5% critical value 3.858 (k = 5, df -> inf; fixed literal shared
    with the oracle). All moments exact BIGINTs from ONE per-type
    aggregate; the pair table is the bounded 5x5 alphabet."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
    )
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").alias("tn"),
        F.count("*").alias("k"),
        F.sum(
            F.col("ss").cast("double")
            - (F.col("s").cast("double") / F.col("n"))
            * F.col("s").cast("double")
        ).alias("ssw"),
    )
    a = g.select(
        F.col("event_type").alias("ta"),
        F.col("n").alias("na"),
        (F.col("s").cast("double") / F.col("n")).alias("ma"),
    )
    b = g.select(
        F.col("event_type").alias("tb"),
        F.col("n").alias("nb"),
        (F.col("s").cast("double") / F.col("n")).alias("mb"),
    )
    pairs = (
        a.crossJoin(b)
        .where(F.col("ta") < F.col("tb"))
        .crossJoin(F.broadcast(tot))
    )
    msw = F.col("ssw") / (F.col("tn").cast("double") - F.col("k"))
    se = F.sqrt(
        msw
        / 2.0
        * (
            1.0 / F.col("na").cast("double")
            + 1.0 / F.col("nb").cast("double")
        )
    )
    qstat = F.abs(F.col("ma") - F.col("mb")) / se
    return pairs.select(
        "ta",
        "tb",
        F.round((F.col("ma") - F.col("mb")) / 100.0, 6).alias(
            "mean_diff_usd"
        ),
        F.round(qstat, 6).alias("q_stat"),
        (qstat > 3.858).alias("significant_5pct"),
    ).orderBy("ta", "tb")


def q_events_interarrival_fit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exponential fit + Kolmogorov-Smirnov goodness-of-fit for
    inter-event gaps per type (gaps WITHIN each user's stream, pooled
    per type — q_events_burstiness's exact gap lattice): the capacity
    model behind "can I treat this source as Poisson?". lambda = n/S
    from exact integer-second sums; the one-sample KS statistic
    D = max over the DISTINCT gap values g of
    max(|ECDF(g) - F(g)|, |ECDF(g-) - F(g)|), F(g) = 1 - exp(-(n*g)/S)
    — the lambda*g product is computed with the identical expression
    text on both engines, and the ECDF runs on the per-type
    DISTINCT-gap table (collapsed by one aggregate; the window's
    partition is #types wide, its rows bounded by the gap-value
    domain). Rejects at the 95% asymptotic line 1.36/sqrt(n)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    us = F.unix_micros("ts")
    gaps = ev.select(
        "event_type",
        F.floor((F.lead(us).over(w) - us) / 1000000)
        .cast("long")
        .alias("_gap"),
    ).where(F.col("_gap").isNotNull())
    grp = gaps.groupBy("event_type", "_gap").agg(
        F.count("*").alias("_cnt")
    )
    wt = (
        Window.partitionBy("event_type")
        .orderBy("_gap")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wk = Window.partitionBy("event_type")
    staged = grp.select(
        "event_type",
        "_gap",
        "_cnt",
        F.sum("_cnt").over(wt).alias("_cum"),
        F.sum("_cnt").over(wk).alias("_n"),
        F.sum(F.col("_gap") * F.col("_cnt")).over(wk).alias("_s"),
    )
    nd = F.col("_n").cast("double")
    fexp = 1.0 - F.exp(
        -(nd * F.col("_gap").cast("double")) / F.col("_s").cast("double")
    )
    d_at = F.greatest(
        F.abs(F.col("_cum").cast("double") / nd - fexp),
        F.abs((F.col("_cum") - F.col("_cnt")).cast("double") / nd - fexp),
    )
    g = staged.groupBy("event_type").agg(
        F.first("_n").alias("n_gaps"),
        F.first("_s").alias("_st"),
        F.max(d_at).alias("_d"),
    )
    return g.select(
        "event_type",
        "n_gaps",
        F.round(
            F.col("_st").cast("double") / F.col("n_gaps").cast("double"), 6
        ).alias("mean_gap_s"),
        F.round(
            3600.0
            * F.col("n_gaps").cast("double")
            / F.col("_st").cast("double"),
            6,
        ).alias("lambda_per_hr"),
        F.round(F.col("_d"), 6).alias("ks_d"),
        (
            F.col("_d")
            > 1.36 / F.sqrt(F.col("n_gaps").cast("double"))
        ).alias("reject_exponential"),
    ).orderBy("event_type")


def q_events_quantile_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT quantile regression (Koenker-Bassett) of per-type daily
    volume on time, for tau in {0.25, 0.5, 0.75} — the median/quartile
    trend lines that are robust where OLS (events_trend) chases
    outliers. Uses the LP-vertex property: an optimal tau-quantile
    line passes through two sample points, so the GLOBAL optimum is
    found by scoring every point pair — no iterative solver, no
    convergence question, fully distributed (a bounded
    T^2-candidates x T-days cross per series; right for daily/weekly
    aggregates where T is at most a few thousand, NOT raw ticks).
    Everything stays exact-integer: residuals scale by the candidate's
    own run dx (r_d = dx*(y_d - y_i) - (d-i)*dy), the check loss by
    100 (loss100 = max(tau100*r, (tau100-100)*r)), and candidates
    compare on loss/dx as a DOUBLE sort key — the identical IEEE
    division on both engines orders identically, with (i, j) breaking
    exact ties deterministically."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("_day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("_y"))
    wo = Window.partitionBy("event_type").orderBy("_day")
    pts = daily.select(
        "event_type", F.row_number().over(wo).alias("_i"), "_y"
    )
    a, b = pts.alias("a"), pts.alias("b")
    cand = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a._i") < F.col("b._i")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a._i").alias("i"),
        F.col("b._i").alias("j"),
        F.col("a._y").alias("yi"),
        (F.col("b._i") - F.col("a._i")).alias("dx"),
        (F.col("b._y") - F.col("a._y")).alias("dy"),
    )
    taus = spark.range(1).select(
        F.explode(F.array(F.lit(25), F.lit(50), F.lit(75))).alias(
            "tau100"
        )
    )
    r = cand.join(pts, "event_type").select(
        "event_type",
        "i",
        "j",
        "yi",
        "dx",
        "dy",
        (
            F.col("dx").cast("decimal(38,0)") * (F.col("_y") - F.col("yi"))
            - (F.col("_i") - F.col("i")).cast("decimal(38,0)")
            * F.col("dy")
        ).alias("_r"),
    )
    scored = (
        r.crossJoin(F.broadcast(taus))
        .groupBy("event_type", "tau100", "i", "j", "yi", "dx", "dy")
        .agg(
            F.count("*").alias("_n"),
            F.sum(
                F.greatest(
                    F.col("tau100") * F.col("_r"),
                    (F.col("tau100") - 100) * F.col("_r"),
                )
            ).alias("_l100"),
        )
    )
    wr = Window.partitionBy("event_type", "tau100").orderBy(
        (F.col("_l100").cast("double") / F.col("dx").cast("double")).asc(),
        "i",
        "j",
    )
    best = scored.withColumn("_rn", F.row_number().over(wr)).where(
        F.col("_rn") == 1
    )
    return best.select(
        "event_type",
        (F.col("tau100").cast("double") / 100.0).alias("tau"),
        F.round(
            F.col("dy").cast("double")
            / (100.0 * F.col("dx").cast("double")),
            6,
        ).alias("slope"),
        F.round(
            (
                F.col("dx").cast("decimal(38,0)") * F.col("yi")
                - F.col("i").cast("decimal(38,0)") * F.col("dy")
            ).cast("double")
            / (100.0 * F.col("dx").cast("double")),
            6,
        ).alias("intercept"),
        F.round(
            F.col("_l100").cast("double")
            / (
                100.0
                * F.col("dx").cast("double")
                * 100.0
                * F.col("_n").cast("double")
            ),
            6,
        ).alias("mean_check_loss"),
    ).orderBy("event_type", "tau")


def q_events_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test (Jarque & Bera 1980) on the daily
    revenue series per event type — the distribution-shape gate a
    forecasting stack runs before trusting normal-theory prediction
    intervals (the Holt-Winters / conformal pair upstream). Two-pass
    central moments: the mean comes from the EXACT cents sum (one
    BIGINT aggregate), then the centered double powers accumulate
    with identical multiplication chains (d*d, d*d*d, d*d*d*d) on
    both engines; JB = n/6 * (S^2 + K^2/4) and the p-value is the
    chi-square(2 df) survival closed form exp(-JB/2) — no series
    approximation needed. Every output rounds independently from the
    raw doubles. One daily rollup + one 5-group moment aggregate;
    the broadcast mean join never shuffles the daily table twice."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")
    )
    tot = daily.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("c").alias("s")
    )
    d = (
        F.col("c").cast("double")
        - F.col("s").cast("double") / F.col("n").cast("double")
    )
    mom = (
        daily.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("n").alias("n_days"),
            F.min("s").alias("s"),
            F.sum(d * d).alias("m2s"),
            F.sum(d * d * d).alias("m3s"),
            F.sum(d * d * d * d).alias("m4s"),
        )
    )
    nd = F.col("n_days").cast("double")
    m2 = F.col("m2s") / nd
    m3 = F.col("m3s") / nd
    m4 = F.col("m4s") / nd
    skew = m3 / (m2 * F.sqrt(m2))
    kurt = m4 / (m2 * m2) - 3.0
    jb = nd / 6.0 * (skew * skew + kurt * kurt / 4.0)
    return mom.select(
        "event_type",
        "n_days",
        F.round(
            F.col("s").cast("double") / (100.0 * nd), 6
        ).alias("mean_daily"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("ex_kurtosis"),
        F.round(jb, 6).alias("jb_stat"),
        F.round(F.exp(-jb / 2.0), 6).alias("p_value"),
    ).orderBy("event_type")


def q_users_cox_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards SCORE test at beta = 0 (the
    continuous-covariate generalization of q_users_logrank, and
    exactly the statistic a Cox fit's first Newton step is built
    from — no iteration needed, so both engines agree closed-form):
    does a user's activity volume (event count) predict the hazard
    of converting (first purchase after first activity)? U = sum
    over conversions of (x_i - riskset mean of x), V = the riskset
    variance sum, z = U / sqrt(V), p = 2 Phi(-|z|) (Breslow ties).
    The subject table COLLAPSES to one row per distinct duration
    (counts, covariate sums, event counts — all exact BIGINT) before
    the single descending cumulative window runs — the Kaplan-Meier
    discipline: the global sort only ever sees the bounded
    distinct-duration table, never the per-user table, so U and V
    are the only doubles. One per-user aggregate + one per-duration
    aggregate + one window + one 1-row aggregate."""
    from vanus_spark.operators.hyptests import norm_sf

    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    per = ev.groupBy("user_id").agg(
        F.min(us).alias("first_us"),
        F.max(us).alias("last_us"),
        F.min(
            F.when(F.col("event_type") == "purchase", us)
        ).alias("conv_us"),
        F.count("*").alias("x"),
    )
    surv = per.select(
        "user_id",
        "x",
        F.when(
            F.col("conv_us").isNotNull(),
            F.col("conv_us") - F.col("first_us"),
        )
        .otherwise(F.col("last_us") - F.col("first_us"))
        .alias("dur"),
        F.col("conv_us").isNotNull().cast("int").alias("status"),
    )
    durs = surv.groupBy("dur").agg(
        F.count("*").alias("n_at"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("status").alias("d"),
        F.sum(
            F.when(F.col("status") == 1, F.col("x")).otherwise(
                F.lit(0)
            )
        ).alias("dx"),
    )
    wr = (
        Window.orderBy(F.col("dur").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = durs.select(
        "dur",
        "d",
        "dx",
        F.sum("n_at").over(wr).alias("rn"),
        F.sum("sx").over(wr).alias("rx"),
        F.sum("sxx").over(wr).alias("rxx"),
    )
    xm = F.col("rx").cast("double") / F.col("rn").cast("double")
    agg = risk.where(F.col("d") > 0).agg(
        F.sum("d").cast("long").alias("n_conversions"),
        F.sum(F.col("dx").cast("double") - F.col("d").cast("double") * xm).alias("u"),
        F.sum(
            F.col("d").cast("double")
            * (
                F.col("rxx").cast("double") / F.col("rn").cast("double")
                - xm * xm
            )
        ).alias("v"),
    )
    n_users = surv.agg(F.count("*").alias("n_users"))
    z = F.col("u") / F.sqrt(F.col("v"))
    return (
        agg.crossJoin(F.broadcast(n_users))
        .select(
            "n_users",
            "n_conversions",
            F.round("u", 6).alias("score_u"),
            F.round("v", 6).alias("score_var"),
            F.round(z, 6).alias("z"),
            F.round(2.0 * norm_sf(F.abs(z)), 6).alias("p_value"),
        )
    )


def q_events_msprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential test (mixture SPRT, Johari-Koomen-
    Pekelis-Walsh 2017) on the daily purchase-vs-signup mean-value
    gap: the p-value a dashboard may legally peek at EVERY day
    without inflating false positives, unlike the fixed-horizon
    t-test it replaces. Observations are the daily mean differences
    d_t (dollars, each a ratio of exact cents/count sums); the
    mixing variance is self-scaled tau^2 = sigma^2 (the plug-in
    population variance of the d_t series, shared by the oracle), so
    log Lambda_n = 0.5 ln(sigma2/(sigma2 + n tau2)) + n^2 tau2
    dbar_n^2 / (2 sigma2 (sigma2 + n tau2)) and p_n = min(1, 1 /
    max_k<=n Lambda_k) — the running max makes p monotone
    non-increasing by construction. One daily rollup + one broadcast
    1-row variance + two ordered windows over the ~30-row series."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isin("purchase", "signup"))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("pc"),
            F.sum(
                (F.col("event_type") == "purchase").cast("long")
            ).alias("pn"),
            F.sum(
                F.when(
                    F.col("event_type") == "signup",
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("sc"),
            F.sum(
                (F.col("event_type") == "signup").cast("long")
            ).alias("sn"),
        )
        .where((F.col("pn") > 0) & (F.col("sn") > 0))
    )
    d = (
        (
            F.col("pc").cast("double") / F.col("pn").cast("double")
            - F.col("sc").cast("double") / F.col("sn").cast("double")
        )
        / 100.0
    )
    obs = daily.select("day", d.alias("d"))
    var = obs.agg(
        (
            F.sum(F.col("d") * F.col("d"))
            / F.count("*").cast("double")
            - (F.sum("d") / F.count("*").cast("double"))
            * (F.sum("d") / F.count("*").cast("double"))
        ).alias("sigma2")
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = obs.crossJoin(F.broadcast(var)).select(
        "day",
        "sigma2",
        F.row_number().over(Window.orderBy("day")).alias("t"),
        (F.sum("d").over(wcum)).alias("cd"),
    )
    td = F.col("t").cast("double")
    tau2 = F.col("sigma2")
    dbar = F.col("cd") / td
    llam = 0.5 * F.log(
        F.col("sigma2") / (F.col("sigma2") + td * tau2)
    ) + td * td * tau2 * dbar * dbar / (
        2.0 * F.col("sigma2") * (F.col("sigma2") + td * tau2)
    )
    staged = cum.select(
        "day", "t", F.round(dbar, 6).alias("mean_diff_cum"),
        llam.alias("llam"),
    )
    runmax = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    p = F.least(F.lit(1.0), F.exp(-F.max("llam").over(runmax)))
    return staged.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "t",
        "mean_diff_cum",
        F.round("llam", 6).alias("log_lambda"),
        F.round(p, 6).alias("always_valid_p"),
        (p < 0.05).alias("significant"),
    ).orderBy("t")


def q_events_anderson_darling(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Anderson-Darling normality test (Stephens 1974 case 3: both
    parameters estimated) on the daily revenue series per event type
    — the tail-sensitive companion to q_events_jarque_bera (AD
    weights the CDF discrepancy by 1/(F(1-F)), so it catches tail
    departures the moment-based JB smooths over). Standardization is
    engine-exact: z = (c - s/n) / (sqrt(A)/n) with A = n*sum(c^2) -
    s^2 held in decimal(38,0) (HUGEINT in the oracle) — scale-free,
    so cents never convert. The order statistics fold WITHOUT the
    textbook reverse-rank self-join: substituting j = n+1-i gives
    per-row weight (2i-1) ln Phi(z_i) + (2(n-i)+1) ln SF(z_i), one
    ordered window + one aggregate per type. Phi/SF come from the
    shared Abramowitz-Stegun tail with the z<0 reflection. A*^2 =
    A^2 (1 + 0.75/n + 2.25/n^2); 5% critical value 0.752."""
    from vanus_spark.operators.hyptests import norm_sf

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    tot = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.sum(dec("c") * dec("c")).alias("cc"),
    )
    amom = tot.select(
        "event_type",
        "n",
        "s",
        (dec("n") * F.col("cc") - dec("s") * dec("s"))
        .cast("double")
        .alias("a2mom"),
    )
    wz = Window.partitionBy("event_type").orderBy("c", "day")
    z = (
        F.col("c").cast("double")
        - F.col("s").cast("double") / F.col("n").cast("double")
    ) / (F.sqrt(F.col("a2mom")) / F.col("n").cast("double"))
    ranked = (
        daily.join(F.broadcast(amom), "event_type")
        .select(
            "event_type",
            "n",
            F.row_number().over(wz).alias("i"),
            z.alias("z"),
        )
    )
    phi = F.when(
        F.col("z") >= 0, 1.0 - norm_sf(F.col("z"))
    ).otherwise(norm_sf(-F.col("z")))
    sf = F.when(F.col("z") >= 0, norm_sf(F.col("z"))).otherwise(
        1.0 - norm_sf(-F.col("z"))
    )
    term = (2 * F.col("i") - 1).cast("double") * F.log(phi) + (
        2 * (F.col("n") - F.col("i")) + 1
    ).cast("double") * F.log(sf)
    agg = ranked.groupBy("event_type").agg(
        F.min("n").alias("n_days"), F.sum(term).alias("ts")
    )
    nd = F.col("n_days").cast("double")
    a2 = -nd - F.col("ts") / nd
    a2s = a2 * (1.0 + 0.75 / nd + 2.25 / (nd * nd))
    return agg.select(
        "event_type",
        "n_days",
        F.round(a2, 6).alias("a2"),
        F.round(a2s, 6).alias("a2_star"),
        (a2s <= 0.752).alias("normal_5pct"),
    ).orderBy("event_type")


def q_events_mi_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information dependence profile between event type and
    three context dimensions (hour-of-day, day-of-week, value band)
    — the feature-screening readout (which context actually carries
    signal about what users do?) that a chi-square table hides
    behind df-dependent p-values: MI is in nats, sqrt-NMI in [0,1]
    comparable across dimensions. ONE events scan: the three bucket
    columns are computed side by side, tagged structs explode to
    (dim, type, bucket) rows, and everything downstream runs on the
    bounded cell table (3 dims x 5 types x <=24 buckets). All
    probabilities derive from exact BIGINT counts; the DuckDB
    dayofweek origin difference (0=Sunday vs Spark's 1) is aligned
    by construction in the oracle."""
    ev = _t(spark, sf_dir, "events")
    tagged = ev.select(
        "event_type",
        F.explode(
            F.array(
                F.struct(
                    F.lit("hour").alias("dim"),
                    F.hour("ts").cast("long").alias("bucket"),
                ),
                F.struct(
                    F.lit("dow").alias("dim"),
                    F.dayofweek("ts").cast("long").alias("bucket"),
                ),
                F.struct(
                    F.lit("value_band").alias("dim"),
                    F.when(
                        F.round(F.col("value") * 100).cast("long")
                        < 2000,
                        F.lit(0),
                    )
                    .when(
                        F.round(F.col("value") * 100).cast("long")
                        < 5000,
                        F.lit(1),
                    )
                    .otherwise(F.lit(2))
                    .cast("long")
                    .alias("bucket"),
                ),
            )
        ).alias("s"),
    ).select("event_type", "s.dim", "s.bucket")
    cells = tagged.groupBy("dim", "event_type", "bucket").agg(
        F.count("*").alias("c")
    )
    mx = cells.groupBy("dim", "event_type").agg(
        F.sum("c").alias("cx")
    )
    my = cells.groupBy("dim", "bucket").agg(F.sum("c").alias("cy"))
    nt = cells.groupBy("dim").agg(F.sum("c").alias("n"))
    j = (
        cells.join(mx, ["dim", "event_type"])
        .join(my, ["dim", "bucket"])
        .join(F.broadcast(nt), "dim")
    )
    mi_df = j.groupBy("dim").agg(
        F.sum(
            (F.col("c").cast("double") / F.col("n").cast("double"))
            * F.log(
                F.col("n").cast("double")
                * F.col("c")
                / (
                    F.col("cx").cast("double")
                    * F.col("cy").cast("double")
                )
            )
        ).alias("mi")
    )
    hx_df = mx.join(F.broadcast(nt), "dim").groupBy("dim").agg(
        (
            -F.sum(
                (F.col("cx").cast("double") / F.col("n").cast("double"))
                * F.log(
                    F.col("cx").cast("double")
                    / F.col("n").cast("double")
                )
            )
        ).alias("hx")
    )
    hy_df = my.join(F.broadcast(nt), "dim").groupBy("dim").agg(
        (
            -F.sum(
                (F.col("cy").cast("double") / F.col("n").cast("double"))
                * F.log(
                    F.col("cy").cast("double")
                    / F.col("n").cast("double")
                )
            )
        ).alias("hy")
    )
    out = mi_df.join(hx_df, "dim").join(hy_df, "dim")
    return out.select(
        "dim",
        F.round("mi", 6).alias("mi_nats"),
        F.round("hx", 6).alias("h_type"),
        F.round("hy", 6).alias("h_bucket"),
        # try_divide: a single-bucket dimension has hy = 0 and MI = 0;
        # NULL (DuckDB's 0-divisor double semantics) beats an ANSI
        # throw on the degenerate 0/0
        F.round(
            F.try_divide(
                F.col("mi"), F.sqrt(F.col("hx") * F.col("hy"))
            ),
            6,
        ).alias("nmi"),
    ).orderBy("dim")


def q_events_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimate (Hill 1975) of the per-type value
    distribution at k = 100 upper order statistics: alpha-hat =
    (mean over the top k of ln x_(i) - ln x_(k+1))^-1 — the
    heavy-tail readout behind revenue-risk questions ('does the
    whale tail have finite variance?' alpha < 2 means no), with the
    implied P99.9 quantile x_(k+1) (k / (0.001 n))^(1/alpha) from
    the same fit (de Haan & Ferreira 2006 ch. 3). One per-type
    window rank over exact cents (ties broken by event_id, so the
    order statistic set is engine-identical) + one 1-row-per-type
    aggregate; all logs on exact integer cents — the dollar scaling
    cancels inside the log ratio."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).where(F.col("cents") > 0)
    wr = Window.partitionBy("event_type").orderBy(
        F.col("cents").desc(), "event_id"
    )
    ranked = ev.select(
        "event_type",
        "cents",
        F.row_number().over(wr).alias("rn"),
    ).where(F.col("rn") <= 101)
    thr = ranked.where(F.col("rn") == 101).select(
        "event_type", F.col("cents").alias("xref")
    )
    nt = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    agg = (
        ranked.where(F.col("rn") <= 100)
        .join(F.broadcast(thr), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("xref").alias("xref"),
            F.sum(
                F.log(F.col("cents").cast("double"))
                - F.log(F.col("xref").cast("double"))
            ).alias("slog"),
        )
    )
    alpha = 100.0 / F.col("slog")
    j = agg.join(F.broadcast(nt), "event_type")
    p999 = (
        F.col("xref").cast("double")
        / 100.0
        * F.pow(
            100.0 / (0.001 * F.col("n").cast("double")),
            1.0 / alpha,
        )
    )
    return j.select(
        "event_type",
        "n",
        F.lit(100).cast("long").alias("k"),
        F.round(F.col("xref").cast("double") / 100.0, 6).alias(
            "threshold_dollars"
        ),
        F.round(alpha, 6).alias("hill_alpha"),
        F.round(p999, 6).alias("p999_implied_dollars"),
    ).orderBy("event_type")


def q_events_simpson_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit (Blyth 1972) of the purchase-value gap
    between the user_id%2 cohorts: the POOLED mean difference vs the
    day-STRATIFIED Mantel-Haenszel-weighted difference (weights
    n1 n0 / (n1 + n0) — the precision weighting), plus the stratum
    sign census. A flipped sign (pooled says cohort 1 spends more,
    every day says less) is the confounded-aggregation failure this
    table exists to catch before anyone ships the pooled number. All
    means derive from exact cents/count sums; strata with a missing
    arm are excluded (their difference is undefined), counted
    separately. One daily 4-way conditional aggregate + one 1-row
    fold."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    cents = F.round(F.col("value") * 100).cast("long")
    g = (F.col("user_id") % 2 == 1).cast("int")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(g == 1, cents).otherwise(F.lit(0))).alias("s1"),
        F.sum(F.when(g == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(g == 0, cents).otherwise(F.lit(0))).alias("s0"),
        F.sum(F.when(g == 0, 1).otherwise(0)).cast("long").alias("n0"),
    )
    both = daily.where((F.col("n1") > 0) & (F.col("n0") > 0))
    dd = (
        F.col("s1").cast("double") / F.col("n1").cast("double")
        - F.col("s0").cast("double") / F.col("n0").cast("double")
    ) / 100.0
    wgt = (
        F.col("n1").cast("double")
        * F.col("n0").cast("double")
        / (F.col("n1").cast("double") + F.col("n0").cast("double"))
    )
    overall = daily.agg(
        F.sum("s1").alias("t1"),
        F.sum("n1").alias("m1"),
        F.sum("s0").alias("t0"),
        F.sum("n0").alias("m0"),
        F.count("*").alias("n_days_total"),
    )
    od = (
        F.col("t1").cast("double") / F.col("m1").cast("double")
        - F.col("t0").cast("double") / F.col("m0").cast("double")
    ) / 100.0
    strat = both.crossJoin(F.broadcast(overall)).agg(
        F.count("*").alias("n_strata"),
        F.sum((dd > 0).cast("long")).alias("n_positive"),
        F.sum((dd < 0).cast("long")).alias("n_negative"),
        F.sum((dd * od < 0).cast("long")).alias("n_sign_flips"),
        F.sum(wgt * dd).alias("wd"),
        F.sum(wgt).alias("w"),
        F.min("n_days_total").alias("n_days_total"),
        F.min(od).alias("od"),
    )
    mh = F.col("wd") / F.col("w")
    return strat.select(
        F.round("od", 6).alias("pooled_diff_dollars"),
        F.round(mh, 6).alias("mh_diff_dollars"),
        "n_days_total",
        "n_strata",
        "n_positive",
        "n_negative",
        "n_sign_flips",
        (F.col("od") * mh < 0).alias("simpson_flag"),
    )


def q_events_tail_dependence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Empirical tail-dependence coefficients (Joe 1997 ch. 2)
    between the daily 'view' and 'purchase' count series: lambda_U =
    P(views extreme-high | purchases extreme-high) at the empirical
    90% order statistic, lambda_L the same at 10% — the copula
    readout that says whether traffic and revenue spike TOGETHER
    (correlation says co-move on average; tail dependence says
    co-crash). Thresholds are exact type-1 order statistics (value
    at rank ceil(0.9 n), ranked by (count, day)), counts are exact
    integers, so both engines agree bit-for-bit; the denominators
    use NULL-on-zero division. One daily rollup + two rank windows
    over the ~30-row series + one 1-row fold."""
    ev = _t(spark, sf_dir, "events")
    wide = (
        ev.where(F.col("event_type").isin("view", "purchase"))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                (F.col("event_type") == "view").cast("long")
            ).alias("x"),
            F.sum(
                (F.col("event_type") == "purchase").cast("long")
            ).alias("y"),
        )
    )
    wx = Window.orderBy("x", "day")
    wy = Window.orderBy("y", "day")
    ranked = wide.select(
        "day",
        "x",
        "y",
        F.row_number().over(wx).alias("rx"),
        F.row_number().over(wy).alias("ry"),
        F.count("*").over(
            Window.partitionBy(F.lit(1))
        ).alias("n"),
    )
    hi = F.ceil(0.9 * F.col("n").cast("double")).cast("long")
    lo = F.ceil(0.1 * F.col("n").cast("double")).cast("long")
    thr = ranked.agg(
        F.min("n").alias("n_days"),
        F.min(F.when(F.col("rx") == hi, F.col("x"))).alias("qx_hi"),
        F.min(F.when(F.col("ry") == hi, F.col("y"))).alias("qy_hi"),
        F.min(F.when(F.col("rx") == lo, F.col("x"))).alias("qx_lo"),
        F.min(F.when(F.col("ry") == lo, F.col("y"))).alias("qy_lo"),
    )
    j = wide.crossJoin(F.broadcast(thr))
    agg = j.agg(
        F.min("n_days").alias("n_days"),
        F.min("qx_hi").alias("qx_hi"),
        F.min("qy_hi").alias("qy_hi"),
        F.sum(
            (
                (F.col("x") > F.col("qx_hi"))
                & (F.col("y") > F.col("qy_hi"))
            ).cast("long")
        ).alias("n_joint_hi"),
        F.sum((F.col("y") > F.col("qy_hi")).cast("long")).alias(
            "n_y_hi"
        ),
        F.sum(
            (
                (F.col("x") < F.col("qx_lo"))
                & (F.col("y") < F.col("qy_lo"))
            ).cast("long")
        ).alias("n_joint_lo"),
        F.sum((F.col("y") < F.col("qy_lo")).cast("long")).alias(
            "n_y_lo"
        ),
    )
    return agg.select(
        "n_days",
        "qx_hi",
        "qy_hi",
        "n_joint_hi",
        F.round(
            F.try_divide(
                F.col("n_joint_hi").cast("double"),
                F.col("n_y_hi").cast("double"),
            ),
            6,
        ).alias("lambda_upper"),
        F.round(
            F.try_divide(
                F.col("n_joint_lo").cast("double"),
                F.col("n_y_lo").cast("double"),
            ),
            6,
        ).alias("lambda_lower"),
    )


def q_events_bayes_shrinkage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Empirical-Bayes shrinkage of per-user conversion rates
    (Efron & Morris 1975; beta-binomial method-of-moments prior):
    the prior (alpha, beta) comes from the across-user rate moments
    (alpha+beta = m(1-m)/v - 1), each user's rate shrinks to
    (k + alpha)/(n + alpha + beta), and the output is the 10 users
    the correction moves the MOST — the leaderboard fix for the
    classic small-n pathology (a 1/1 user is not your best
    converter). Raw k, n are exact integers; the moment fold and
    every shrunk rate use identical expression text on both engines;
    ranking ties break on user_id. One per-user aggregate + one
    broadcast 2-moment prior + one top-k window."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(
            (F.col("event_type") == "purchase").cast("long")
        ).alias("k"),
    )
    r = F.col("k").cast("double") / F.col("n").cast("double")
    mom = per.agg(
        F.count("*").alias("n_users"),
        (F.sum(r) / F.count("*").cast("double")).alias("m"),
        (
            F.sum(r * r) / F.count("*").cast("double")
            - (F.sum(r) / F.count("*").cast("double"))
            * (F.sum(r) / F.count("*").cast("double"))
        ).alias("v"),
    )
    ab = mom.select(
        "n_users",
        "m",
        "v",
        (
            F.col("m") * (1.0 - F.col("m")) / F.col("v") - 1.0
        ).alias("s"),
    ).select(
        "n_users",
        (F.col("m") * F.col("s")).alias("alpha"),
        ((1.0 - F.col("m")) * F.col("s")).alias("beta"),
    )
    j = per.crossJoin(F.broadcast(ab))
    shrunk = (F.col("k").cast("double") + F.col("alpha")) / (
        F.col("n").cast("double") + F.col("alpha") + F.col("beta")
    )
    staged = j.select(
        "user_id",
        "n",
        "k",
        r.alias("raw_rate"),
        shrunk.alias("shrunk"),
        (shrunk - r).alias("delta"),
        "alpha",
        "beta",
    )
    wr = Window.orderBy(F.abs(F.col("delta")).desc(), "user_id")
    return (
        staged.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= 10)
        .select(
            "user_id",
            "n",
            "k",
            F.round("raw_rate", 6).alias("raw_rate"),
            F.round("shrunk", 6).alias("shrunk_rate"),
            F.round("delta", 6).alias("delta"),
            F.round("alpha", 6).alias("prior_alpha"),
            F.round("beta", 6).alias("prior_beta"),
        )
        .orderBy(F.abs(F.col("delta")).desc(), "user_id")
    )


def q_users_competing_risks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Aalen-Johansen cumulative incidence for COMPETING user fates
    (Aalen & Johansen 1978): convert (first purchase) vs churn
    (activity ends without one), CIF_j(t) = sum over event times <=
    t of S(s-) d_j(s)/n(s) — the question 'of users active h days,
    what fraction have CONVERTED vs LEFT' that 1 - KM gets wrong the
    moment a competing exit exists (it over-counts both). The
    subject table collapses to one row per DISTINCT duration (the
    Kaplan-Meier discipline); S(s-) is the exp-sum-ln chain over the
    strictly-preceding rows, the CIFs are running sums, and each
    report horizon reads the cumulative value at its boundary. One
    per-user aggregate + one per-duration aggregate + ordered
    windows on the bounded duration table."""
    ev = _t(spark, sf_dir, "events")
    dday = F.to_date("ts")
    per = ev.groupBy("user_id").agg(
        F.min(dday).alias("first_d"),
        F.max(dday).alias("last_d"),
        F.min(
            F.when(F.col("event_type") == "purchase", dday)
        ).alias("conv_d"),
    )
    surv = per.select(
        F.when(
            F.col("conv_d").isNotNull(),
            F.datediff("conv_d", "first_d"),
        )
        .otherwise(F.datediff("last_d", "first_d"))
        .cast("long")
        .alias("dur"),
        F.col("conv_d").isNotNull().cast("int").alias("conv"),
    )
    durs = surv.groupBy("dur").agg(
        F.sum("conv").cast("long").alias("d1"),
        F.sum(1 - F.col("conv")).cast("long").alias("d2"),
        F.count("*").alias("dn"),
    )
    wtot = Window.partitionBy(F.lit(1))
    wfoll = (
        Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wprev = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = durs.select(
        "dur",
        "d1",
        "d2",
        (
            F.sum("dn").over(wtot)
            - F.coalesce(F.sum("dn").over(wprev), F.lit(0))
        ).alias("n_at"),
    )
    r2 = risk.select(
        "dur",
        "d1",
        "d2",
        "n_at",
        # the terminal row exhausts the risk set (d = n_at) and its
        # ln(0) would only feed rows after it (there are none) — the
        # lazy CASE keeps DuckDB from raising where Spark yields NULL
        F.exp(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("d1") + F.col("d2")) < F.col("n_at"),
                        F.log(
                            1.0
                            - (F.col("d1") + F.col("d2")).cast(
                                "double"
                            )
                            / F.col("n_at").cast("double")
                        ),
                    )
                ).over(wprev),
                F.lit(0.0),
            )
        ).alias("sprev"),
    )
    inc = r2.select(
        "dur",
        (
            F.sum(
                F.col("sprev")
                * F.col("d1").cast("double")
                / F.col("n_at").cast("double")
            ).over(wfoll)
        ).alias("cif1"),
        (
            F.sum(
                F.col("sprev")
                * F.col("d2").cast("double")
                / F.col("n_at").cast("double")
            ).over(wfoll)
        ).alias("cif2"),
    )
    horizons = spark.createDataFrame(
        [(3,), (7,), (14,), (30,)], "h long"
    )
    n_users = surv.agg(F.count("*").alias("n_users"))
    agg = (
        inc.crossJoin(F.broadcast(horizons))
        .where(F.col("dur") <= F.col("h"))
        .groupBy("h")
        .agg(
            F.max("cif1").alias("c1"),
            F.max("cif2").alias("c2"),
        )
    )
    return (
        horizons.join(agg, "h", "left")
        .crossJoin(F.broadcast(n_users))
        .select(
            F.col("h").alias("horizon_days"),
            "n_users",
            F.round(F.coalesce("c1", F.lit(0.0)), 6).alias(
                "cif_convert"
            ),
            F.round(F.coalesce("c2", F.lit(0.0)), 6).alias(
                "cif_churn"
            ),
            F.round(
                1.0
                - F.coalesce("c1", F.lit(0.0))
                - F.coalesce("c2", F.lit(0.0)),
                6,
            ).alias("still_at_risk"),
        )
        .orderBy("horizon_days")
    )


def q_events_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical Value-at-Risk and expected shortfall (CVaR,
    Rockafellar & Uryasev 2000) of day-over-day revenue declines per
    event type: loss_t = -(c_t - c_(t-1)), VaR95 = the exact type-1
    order statistic at rank ceil(0.95 n), CVaR95 = the mean loss at
    or beyond it — the coherent tail number a revenue-risk review
    wants (CVaR subadditivity survives aggregation across lines;
    plain VaR's does not). Losses are exact integer cents through a
    lag window; the threshold and the tail mean fold from exact
    sums, so both engines agree bit-for-bit. One daily rollup + one
    ordered window + one rank window per type + one aggregate."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    losses = daily.select(
        "event_type",
        "day",
        (F.lag("c").over(wd) - F.col("c")).alias("loss"),
    ).where(F.col("loss").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("loss", "day")
    wn = Window.partitionBy("event_type")
    ranked = losses.select(
        "event_type",
        "loss",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    thr = ranked.where(
        F.col("rn")
        == F.ceil(0.95 * F.col("n").cast("double")).cast("long")
    ).select("event_type", F.col("loss").alias("var_c"))
    agg = (
        ranked.join(F.broadcast(thr), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("n").alias("n_changes"),
            F.min("var_c").alias("var_c"),
            F.sum(
                F.when(F.col("loss") >= F.col("var_c"), F.col("loss"))
            ).alias("tail_sum"),
            F.sum(
                (F.col("loss") >= F.col("var_c")).cast("long")
            ).alias("tail_n"),
            F.max("loss").alias("worst_c"),
        )
    )
    return agg.select(
        "event_type",
        "n_changes",
        F.round(F.col("var_c").cast("double") / 100.0, 6).alias(
            "var95_dollars"
        ),
        F.round(
            F.col("tail_sum").cast("double")
            / F.col("tail_n").cast("double")
            / 100.0,
            6,
        ).alias("cvar95_dollars"),
        F.round(
            F.col("worst_c").cast("double") / 100.0, 6
        ).alias("worst_dollars"),
    ).orderBy("event_type")


def q_users_retention_decay_fit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Geometric retention-decay fit over the pooled weekly cohort
    curve: r_k = (active user-weeks at offset k) / (cohort users
    observable at k) for k = 1..3 complete weeks, log-linear slope
    from the symmetric 3-point OLS closed form (ln r_3 - ln r_1)/2,
    implied weekly churn 1 - e^slope and retention half-life
    ln(1/2)/slope — the two planning numbers (churn, half-life) a
    raw cohort-retention table (q_events_cohort_retention) makes the
    reader derive by hand. Only complete weeks 0..3 enter; every
    rate is a ratio of exact distinct-user counts. Two aggregates
    over the (user, week) distinct table + a 3-row fold."""
    ev = _t(spark, sf_dir, "events")
    uw = (
        ev.where(
            (F.col("event_type") == "purchase")
            & (F.round(F.col("value") * 100).cast("long") >= 5000)
        )
        .select(
            "user_id",
            F.floor(
                F.datediff(
                    F.to_date("ts"), F.lit("2024-01-01").cast("date")
                )
                / 7
            ).alias("wk"),
        )
        .where(F.col("wk") <= 3)
        .distinct()
    )
    first = uw.groupBy("user_id").agg(F.min("wk").alias("cw"))
    j = uw.join(first, "user_id").select(
        "cw", (F.col("wk") - F.col("cw")).alias("k")
    )
    ks = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    base = (
        first.crossJoin(F.broadcast(ks))
        .where(F.col("cw") + F.col("k") <= 3)
        .groupBy("k")
        .agg(F.count("*").alias("n_base"))
    )
    act = (
        j.where(F.col("k") >= 1)
        .groupBy("k")
        .agg(F.count("*").alias("n_active"))
    )
    rk = (
        base.join(act, "k", "left")
        .select(
            "k",
            "n_base",
            F.coalesce("n_active", F.lit(0)).alias("n_active"),
            (
                F.coalesce("n_active", F.lit(0)).cast("double")
                / F.col("n_base").cast("double")
            ).alias("r"),
        )
    )
    piv = rk.groupBy().agg(
        F.min(F.when(F.col("k") == 1, F.col("r"))).alias("r1"),
        F.min(F.when(F.col("k") == 2, F.col("r"))).alias("r2"),
        F.min(F.when(F.col("k") == 3, F.col("r"))).alias("r3"),
        F.min(F.when(F.col("k") == 1, F.col("n_base"))).alias(
            "base1"
        ),
    )
    slope = (F.log("r3") - F.log("r1")) / 2.0
    return piv.select(
        "base1",
        F.round("r1", 6).alias("retention_w1"),
        F.round("r2", 6).alias("retention_w2"),
        F.round("r3", 6).alias("retention_w3"),
        F.round(slope, 6).alias("log_decay_slope"),
        F.round(1.0 - F.exp(slope), 6).alias("implied_weekly_churn"),
        # try_divide: a perfectly flat curve has slope 0 (half-life
        # undefined) — NULL, matching DuckDB's 0-divisor double
        F.round(F.try_divide(F.log(F.lit(0.5)), slope), 6).alias(
            "half_life_weeks"
        ),
    )


def q_events_rayleigh_circadian(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rayleigh test of circadian (time-of-day) concentration per
    event type (Mardia & Jupp 2000 ch. 6): each event's clock time
    maps to an angle theta = 2 pi (microseconds-of-day / 86400e6),
    the resultant R-bar = |sum e^(i theta)| / n measures how peaked
    the daily rhythm is (0 = uniform, 1 = a single instant), the
    peak hour is the mean direction, z = n R-bar^2, and p = e^-z is
    the classic large-n null tail — the circular statistic an
    hour-of-day histogram eyeballs. Angles come from EXACT integer
    microsecond-of-day mods; one trig aggregate per type; trig ulps
    are absorbed at 6 dp."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts") % 86400000000
    theta = (
        F.lit(6.283185307179586)
        * us.cast("double")
        / 86400000000.0
    )
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.cos(theta)).alias("cc"),
        F.sum(F.sin(theta)).alias("ss"),
    )
    nd = F.col("n").cast("double")
    rbar = F.sqrt(
        F.col("cc") * F.col("cc") + F.col("ss") * F.col("ss")
    ) / nd
    peak = (
        F.atan2(F.col("ss"), F.col("cc"))
        / 6.283185307179586
        * 24.0
        + 24.0
    ) % 24.0
    z = nd * rbar * rbar
    return agg.select(
        "event_type",
        "n",
        F.round(rbar, 6).alias("r_bar"),
        F.round(peak, 6).alias("peak_hour"),
        F.round(z, 6).alias("rayleigh_z"),
        F.round(F.exp(-z), 6).alias("p_uniform"),
    ).orderBy("event_type")


def q_events_negbin_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial overdispersion fit of the daily event-count
    series per type: method-of-moments (r = m^2/(v - m), p = m/v —
    defined only when v > m), the index-of-dispersion chi-square
    D = n v / m with the Wilson-Hilferty-style normal tail z =
    sqrt(2D) - sqrt(2 df - 1) (Fisher's approximation), and the
    one-sided overdispersion p-value — the 'is Poisson even
    plausible for this arrival series' gate that q_events_poisson_test
    (a rate comparison) does not answer. Counts are exact integers;
    m and v derive from (n, sum, sum of squares) in decimal; the NB
    parameters go NULL (not a fabricated fit) at or under
    equidispersion via the same CASE on both engines."""
    from vanus_spark.operators.hyptests import norm_sf

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("c"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.sum(dec("c") * dec("c")).alias("cc"),
    )
    nd = F.col("n").cast("double")
    m = F.col("s").cast("double") / nd
    v = (
        (dec("n") * F.col("cc") - dec("s") * dec("s")).cast("double")
        / (nd * nd)
    )
    disp = v / m
    r = F.when(v > m, m * m / (v - m))
    p = F.when(v > m, m / v)
    dstat = nd * v / m
    z = F.sqrt(2.0 * dstat) - F.sqrt(2.0 * (nd - 1.0) - 1.0)
    return agg.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(m, 6).alias("mean_daily"),
        F.round(v, 6).alias("var_daily"),
        F.round(disp, 6).alias("dispersion_index"),
        F.round(r, 6).alias("nb_r"),
        F.round(p, 6).alias("nb_p"),
        F.round(z, 6).alias("z_overdispersion"),
        # the A&S tail polynomial is valid for z >= 0 only; an
        # underdispersed series reflects through symmetry
        F.round(
            F.when(z >= 0, norm_sf(z)).otherwise(1.0 - norm_sf(-z)),
            6,
        ).alias("p_overdispersed"),
    ).orderBy("event_type")


def _inv_norm_sql(p: str, r: str, y: str, slo: str, shi: str) -> str:
    """SQL twin of hyptests.inv_norm_cdf (Beasley-Springer-Moro),
    generated from the SAME constant tuples so every literal matches
    the Spark side to the character. Callers stage the repeated
    subexpressions as columns: r = p - 0.5, y = r*r,
    slo = ln(-ln(p)), shi = ln(-ln(1 - p))."""
    from vanus_spark.operators.hyptests import BSM_A, BSM_B, MORO_C

    def horner(s: str) -> str:
        acc = repr(MORO_C[-1])
        for c in reversed(MORO_C[:-1]):
            acc = f"({c!r} + {s} * {acc})"
        return acc

    num = (
        f"({BSM_A[0]!r} + {y} * ({BSM_A[1]!r} + {y} * "
        f"({BSM_A[2]!r} + {y} * {BSM_A[3]!r})))"
    )
    den = (
        f"(1.0 + {y} * ({BSM_B[0]!r} + {y} * ({BSM_B[1]!r} + {y} * "
        f"({BSM_B[2]!r} + {y} * {BSM_B[3]!r}))))"
    )
    return (
        f"CASE WHEN {p} < 0.08 THEN -{horner(slo)} "
        f"WHEN {p} > 0.92 THEN {horner(shi)} "
        f"ELSE {r} * {num} / {den} END"
    )


# The risk-set chain the survival twins share: a user's duration is the
# days between its first and last event, segment user_id % 3, censored
# when user_id % 5 = 0; n_at_risk per (segment, event time) from one
# windowed suffix count (staged).
_RISK_SET_CTES = """subj AS (
              SELECT user_id,
                     date_diff('day', min(ts::DATE), max(ts::DATE))::BIGINT
                       AS duration
              FROM events GROUP BY user_id),
            s AS (SELECT (user_id % 3)::VARCHAR AS segment, duration,
                         CASE WHEN user_id % 5 = 0 THEN 0 ELSE 1 END AS event
                  FROM subj),
            risk AS (SELECT segment, duration AS t,
                            sum(event)::BIGINT AS n_events,
                            sum(1 - event)::BIGINT AS n_censored
                     FROM s GROUP BY 1, 2),
            staged AS (
              SELECT *,
                     sum(n_events + n_censored)
                       OVER (PARTITION BY segment)
                     - coalesce(sum(n_events + n_censored)
                         OVER (PARTITION BY segment ORDER BY t
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS n_at_risk
              FROM risk)"""


def oracle_sql() -> dict[str, str]:
    """DuckDB twins of this family's queries, keyed by query name."""
    return {
        "events_rayleigh_circadian": """
            WITH e AS (SELECT event_type,
                              (epoch_us(ts) % 86400000000)::BIGINT
                                AS us
                       FROM events),
            agg AS (SELECT event_type, count(*)::BIGINT AS n,
                           sum(cos(6.283185307179586 * us::DOUBLE
                                   / 86400000000.0)) AS cc,
                           sum(sin(6.283185307179586 * us::DOUBLE
                                   / 86400000000.0)) AS ss
                    FROM e GROUP BY 1),
            m AS (SELECT event_type, n,
                         sqrt(cc * cc + ss * ss) / n::DOUBLE
                           AS rbar,
                         (atan2(ss, cc) / 6.283185307179586 * 24.0
                          + 24.0) % 24.0 AS peak,
                         n::DOUBLE
                           * (sqrt(cc * cc + ss * ss) / n::DOUBLE)
                           * (sqrt(cc * cc + ss * ss) / n::DOUBLE)
                           AS z
                  FROM agg)
            SELECT event_type, n,
                   round(rbar, 6) AS r_bar,
                   round(peak, 6) AS peak_hour,
                   round(z, 6) AS rayleigh_z,
                   round(exp(-z), 6) AS p_uniform
            FROM m ORDER BY event_type
        """,
        "events_negbin_fit": f"""
            WITH daily AS (SELECT event_type, ts::DATE AS day,
                                  count(*)::BIGINT AS c
                           FROM events GROUP BY 1, 2),
            agg AS (SELECT event_type, count(*)::BIGINT AS n,
                           sum(c)::BIGINT AS s,
                           sum(c::HUGEINT * c) AS cc
                    FROM daily GROUP BY 1),
            m AS (SELECT event_type, n,
                         s::DOUBLE / n::DOUBLE AS m,
                         (n::HUGEINT * cc - s::HUGEINT * s)::DOUBLE
                           / (n::DOUBLE * n::DOUBLE) AS v
                  FROM agg),
            f AS (SELECT event_type, n, m, v, v / m AS disp,
                         CASE WHEN v > m
                              THEN m * m / (v - m) END AS r,
                         CASE WHEN v > m THEN m / v END AS p,
                         sqrt(2.0 * (n::DOUBLE * v / m))
                         - sqrt(2.0 * (n::DOUBLE - 1.0) - 1.0) AS z
                  FROM m)
            SELECT event_type, n AS n_days,
                   round(m, 6) AS mean_daily,
                   round(v, 6) AS var_daily,
                   round(disp, 6) AS dispersion_index,
                   round(r, 6) AS nb_r,
                   round(p, 6) AS nb_p,
                   round(z, 6) AS z_overdispersion,
                   round(CASE WHEN z >= 0
                              THEN {_NORM_SF_SQL.format(z="z")}
                              ELSE 1.0
                                   - {_NORM_SF_SQL.format(z="(-z)")}
                              END, 6) AS p_overdispersed
            FROM f ORDER BY event_type
        """,
        "events_var_cvar": """
            WITH daily AS (
              SELECT event_type, ts::DATE AS day,
                     sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
              FROM events GROUP BY 1, 2),
            losses AS (SELECT event_type, day,
                              lag(c) OVER (PARTITION BY event_type
                                           ORDER BY day) - c AS loss
                       FROM daily),
            l2 AS (SELECT * FROM losses WHERE loss IS NOT NULL),
            ranked AS (SELECT event_type, loss,
                              row_number() OVER (
                                PARTITION BY event_type
                                ORDER BY loss, day) AS rn,
                              count(*) OVER (
                                PARTITION BY event_type) AS n
                       FROM l2),
            thr AS (SELECT event_type, loss AS var_c FROM ranked
                    WHERE rn = CAST(ceil(0.95 * n::DOUBLE)
                                    AS BIGINT)),
            agg AS (SELECT ranked.event_type,
                           min(n)::BIGINT AS n_changes,
                           min(var_c)::BIGINT AS var_c,
                           sum(CASE WHEN loss >= var_c
                                    THEN loss END)::BIGINT
                             AS tail_sum,
                           sum((loss >= var_c)::INT)::BIGINT
                             AS tail_n,
                           max(loss)::BIGINT AS worst_c
                    FROM ranked JOIN thr USING (event_type)
                    GROUP BY 1)
            SELECT event_type, n_changes,
                   round(var_c::DOUBLE / 100.0, 6) AS var95_dollars,
                   round(tail_sum::DOUBLE / tail_n::DOUBLE / 100.0,
                         6) AS cvar95_dollars,
                   round(worst_c::DOUBLE / 100.0, 6)
                     AS worst_dollars
            FROM agg ORDER BY event_type
        """,
        "users_retention_decay_fit": """
            WITH uw AS (SELECT DISTINCT user_id,
                               CAST(floor(date_diff('day',
                                   DATE '2024-01-01', ts::DATE) / 7)
                                 AS BIGINT) AS wk
                        FROM events
                        WHERE event_type = 'purchase'
                          AND CAST(round(value * 100) AS BIGINT)
                              >= 5000),
            u2 AS (SELECT * FROM uw WHERE wk <= 3),
            first AS (SELECT user_id, min(wk) AS cw FROM u2
                      GROUP BY 1),
            j AS (SELECT cw, wk - cw AS k
                  FROM u2 JOIN first USING (user_id)),
            ks AS (SELECT unnest([1::BIGINT, 2::BIGINT, 3::BIGINT])
                            AS k),
            base AS (SELECT k, count(*)::BIGINT AS n_base
                     FROM first, ks WHERE cw + k <= 3 GROUP BY 1),
            act AS (SELECT k, count(*)::BIGINT AS n_active
                    FROM j WHERE k >= 1 GROUP BY 1),
            rk AS (SELECT base.k, n_base,
                          coalesce(n_active, 0)::BIGINT AS n_active,
                          coalesce(n_active, 0)::DOUBLE
                            / n_base::DOUBLE AS r
                   FROM base LEFT JOIN act USING (k)),
            piv AS (SELECT
                      min(CASE WHEN k = 1 THEN r END) AS r1,
                      min(CASE WHEN k = 2 THEN r END) AS r2,
                      min(CASE WHEN k = 3 THEN r END) AS r3,
                      min(CASE WHEN k = 1 THEN n_base END)::BIGINT
                        AS base1
                    FROM rk)
            SELECT base1,
                   round(r1, 6) AS retention_w1,
                   round(r2, 6) AS retention_w2,
                   round(r3, 6) AS retention_w3,
                   round((ln(r3) - ln(r1)) / 2.0, 6)
                     AS log_decay_slope,
                   round(1.0 - exp((ln(r3) - ln(r1)) / 2.0), 6)
                     AS implied_weekly_churn,
                   round(ln(0.5::DOUBLE)
                         / ((ln(r3) - ln(r1)) / 2.0), 6)
                     AS half_life_weeks
            FROM piv
        """,
        "events_bayes_shrinkage": """
            WITH per AS (SELECT user_id, count(*)::BIGINT AS n,
                                sum((event_type = 'purchase')::INT)
                                  ::BIGINT AS k
                         FROM events GROUP BY 1),
            mom AS (SELECT count(*)::BIGINT AS n_users,
                           sum(k::DOUBLE / n::DOUBLE)
                             / count(*)::DOUBLE AS m,
                           sum((k::DOUBLE / n::DOUBLE)
                               * (k::DOUBLE / n::DOUBLE))
                             / count(*)::DOUBLE
                           - (sum(k::DOUBLE / n::DOUBLE)
                              / count(*)::DOUBLE)
                             * (sum(k::DOUBLE / n::DOUBLE)
                                / count(*)::DOUBLE) AS v
                    FROM per),
            s1 AS (SELECT n_users, m, v,
                          m * (1.0 - m) / v - 1.0 AS s
                   FROM mom),
            ab AS (SELECT n_users, m * s AS alpha,
                          (1.0 - m) * s AS beta
                   FROM s1),
            st AS (SELECT user_id, n, k,
                          k::DOUBLE / n::DOUBLE AS raw_rate,
                          (k::DOUBLE + alpha)
                            / (n::DOUBLE + alpha + beta) AS shrunk,
                          (k::DOUBLE + alpha)
                            / (n::DOUBLE + alpha + beta)
                          - k::DOUBLE / n::DOUBLE AS delta,
                          alpha, beta
                   FROM per, ab),
            rk AS (SELECT *, row_number() OVER (
                              ORDER BY abs(delta) DESC, user_id)
                            AS rn
                   FROM st)
            SELECT user_id, n, k,
                   round(raw_rate, 6) AS raw_rate,
                   round(shrunk, 6) AS shrunk_rate,
                   round(delta, 6) AS delta,
                   round(alpha, 6) AS prior_alpha,
                   round(beta, 6) AS prior_beta
            FROM rk WHERE rn <= 10
            ORDER BY abs(delta) DESC, user_id
        """,
        "users_competing_risks": """
            WITH per AS (
              SELECT user_id, min(ts::DATE) AS first_d,
                     max(ts::DATE) AS last_d,
                     min(CASE WHEN event_type = 'purchase'
                              THEN ts::DATE END) AS conv_d
              FROM events GROUP BY 1),
            surv AS (SELECT CASE WHEN conv_d IS NOT NULL
                                 THEN date_diff('day', first_d,
                                                conv_d)
                                 ELSE date_diff('day', first_d,
                                                last_d)
                                 END::BIGINT AS dur,
                            (conv_d IS NOT NULL)::INT AS conv
                     FROM per),
            durs AS (SELECT dur, sum(conv)::BIGINT AS d1,
                            sum(1 - conv)::BIGINT AS d2,
                            count(*)::BIGINT AS dn
                     FROM surv GROUP BY 1),
            risk AS (SELECT dur, d1, d2,
                            sum(dn) OVER ()
                            - coalesce(sum(dn) OVER (ORDER BY dur
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS n_at
                     FROM durs),
            r2 AS (SELECT dur, d1, d2, n_at,
                          exp(coalesce(sum(CASE WHEN d1 + d2 < n_at
                                THEN ln(1.0
                                  - (d1 + d2)::DOUBLE
                                    / n_at::DOUBLE) END)
                              OVER (ORDER BY dur
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING),
                              0.0::DOUBLE)) AS sprev
                   FROM risk),
            inc AS (SELECT dur,
                           sum(sprev * d1::DOUBLE / n_at::DOUBLE)
                             OVER (ORDER BY dur
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cif1,
                           sum(sprev * d2::DOUBLE / n_at::DOUBLE)
                             OVER (ORDER BY dur
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cif2
                    FROM r2),
            hz AS (SELECT unnest([3::BIGINT, 7::BIGINT, 14::BIGINT,
                                  30::BIGINT]) AS h),
            nu AS (SELECT count(*)::BIGINT AS n_users FROM surv),
            agg AS (SELECT h, max(cif1) AS c1, max(cif2) AS c2
                    FROM inc, hz WHERE dur <= h GROUP BY 1)
            SELECT h AS horizon_days, n_users,
                   round(coalesce(c1, 0.0::DOUBLE), 6)
                     AS cif_convert,
                   round(coalesce(c2, 0.0::DOUBLE), 6) AS cif_churn,
                   round(1.0 - coalesce(c1, 0.0::DOUBLE)
                         - coalesce(c2, 0.0::DOUBLE), 6)
                     AS still_at_risk
            FROM hz LEFT JOIN agg USING (h), nu
            ORDER BY horizon_days
        """,
        "events_tail_dependence": """
            WITH wide AS (
              SELECT ts::DATE AS day,
                     sum((event_type = 'view')::INT)::BIGINT AS x,
                     sum((event_type = 'purchase')::INT)::BIGINT AS y
              FROM events
              WHERE event_type IN ('view', 'purchase')
              GROUP BY 1),
            ranked AS (SELECT day, x, y,
                              row_number() OVER (ORDER BY x, day)
                                AS rx,
                              row_number() OVER (ORDER BY y, day)
                                AS ry,
                              count(*) OVER () AS n
                       FROM wide),
            thr AS (SELECT min(n)::BIGINT AS n_days,
                           min(CASE WHEN rx = CAST(ceil(0.9
                                 * n::DOUBLE) AS BIGINT)
                               THEN x END)::BIGINT AS qx_hi,
                           min(CASE WHEN ry = CAST(ceil(0.9
                                 * n::DOUBLE) AS BIGINT)
                               THEN y END)::BIGINT AS qy_hi,
                           min(CASE WHEN rx = CAST(ceil(0.1
                                 * n::DOUBLE) AS BIGINT)
                               THEN x END)::BIGINT AS qx_lo,
                           min(CASE WHEN ry = CAST(ceil(0.1
                                 * n::DOUBLE) AS BIGINT)
                               THEN y END)::BIGINT AS qy_lo
                    FROM ranked),
            agg AS (SELECT min(n_days)::BIGINT AS n_days,
                           min(qx_hi)::BIGINT AS qx_hi,
                           min(qy_hi)::BIGINT AS qy_hi,
                           sum((x > qx_hi AND y > qy_hi)::INT)
                             ::BIGINT AS n_joint_hi,
                           sum((y > qy_hi)::INT)::BIGINT AS n_y_hi,
                           sum((x < qx_lo AND y < qy_lo)::INT)
                             ::BIGINT AS n_joint_lo,
                           sum((y < qy_lo)::INT)::BIGINT AS n_y_lo
                    FROM wide, thr)
            SELECT n_days, qx_hi, qy_hi, n_joint_hi,
                   round(n_joint_hi::DOUBLE / n_y_hi::DOUBLE, 6)
                     AS lambda_upper,
                   round(n_joint_lo::DOUBLE / n_y_lo::DOUBLE, 6)
                     AS lambda_lower
            FROM agg
        """,
        "events_simpson_audit": """
            WITH ev AS (SELECT ts::DATE AS day,
                               (user_id % 2 = 1)::INT AS g,
                               CAST(round(value * 100) AS BIGINT)
                                 AS cents
                        FROM events
                        WHERE event_type = 'purchase'),
            daily AS (SELECT day,
                             sum(CASE WHEN g = 1 THEN cents
                                      ELSE 0 END)::BIGINT AS s1,
                             sum(CASE WHEN g = 1 THEN 1
                                      ELSE 0 END)::BIGINT AS n1,
                             sum(CASE WHEN g = 0 THEN cents
                                      ELSE 0 END)::BIGINT AS s0,
                             sum(CASE WHEN g = 0 THEN 1
                                      ELSE 0 END)::BIGINT AS n0
                      FROM ev GROUP BY 1),
            ov AS (SELECT sum(s1)::BIGINT AS t1,
                          sum(n1)::BIGINT AS m1,
                          sum(s0)::BIGINT AS t0,
                          sum(n0)::BIGINT AS m0,
                          count(*)::BIGINT AS n_days_total
                   FROM daily),
            b AS (SELECT (s1::DOUBLE / n1::DOUBLE
                          - s0::DOUBLE / n0::DOUBLE) / 100.0 AS dd,
                         n1::DOUBLE * n0::DOUBLE
                           / (n1::DOUBLE + n0::DOUBLE) AS wgt,
                         (t1::DOUBLE / m1::DOUBLE
                          - t0::DOUBLE / m0::DOUBLE) / 100.0 AS od,
                         n_days_total
                  FROM daily, ov WHERE n1 > 0 AND n0 > 0),
            agg AS (SELECT count(*)::BIGINT AS n_strata,
                           sum((dd > 0)::INT)::BIGINT AS n_positive,
                           sum((dd < 0)::INT)::BIGINT AS n_negative,
                           sum((dd * od < 0)::INT)::BIGINT
                             AS n_sign_flips,
                           sum(wgt * dd) AS wd, sum(wgt) AS w,
                           min(n_days_total)::BIGINT
                             AS n_days_total,
                           min(od) AS od
                    FROM b)
            SELECT round(od, 6) AS pooled_diff_dollars,
                   round(wd / w, 6) AS mh_diff_dollars,
                   n_days_total, n_strata, n_positive, n_negative,
                   n_sign_flips,
                   od * (wd / w) < 0 AS simpson_flag
            FROM agg
        """,
        "events_mi_profile": """
            WITH tagged AS (
              SELECT event_type, 'hour' AS dim,
                     hour(ts)::BIGINT AS bucket
              FROM events
              UNION ALL
              SELECT event_type, 'dow',
                     (dayofweek(ts) + 1)::BIGINT
              FROM events
              UNION ALL
              SELECT event_type, 'value_band',
                     (CASE WHEN CAST(round(value * 100) AS BIGINT)
                                < 2000 THEN 0
                           WHEN CAST(round(value * 100) AS BIGINT)
                                < 5000 THEN 1
                           ELSE 2 END)::BIGINT
              FROM events),
            cells AS (SELECT dim, event_type, bucket,
                             count(*)::BIGINT AS c
                      FROM tagged GROUP BY 1, 2, 3),
            mx AS (SELECT dim, event_type, sum(c)::BIGINT AS cx
                   FROM cells GROUP BY 1, 2),
            my AS (SELECT dim, bucket, sum(c)::BIGINT AS cy
                   FROM cells GROUP BY 1, 2),
            nt AS (SELECT dim, sum(c)::BIGINT AS n FROM cells
                   GROUP BY 1),
            j AS (SELECT cells.dim, c, cx, cy, n
                  FROM cells JOIN mx USING (dim, event_type)
                             JOIN my USING (dim, bucket)
                             JOIN nt USING (dim)),
            mi AS (SELECT dim,
                          sum((c::DOUBLE / n::DOUBLE)
                              * ln(n::DOUBLE * c
                                   / (cx::DOUBLE * cy::DOUBLE)))
                            AS mi
                   FROM j GROUP BY 1),
            hx AS (SELECT mx.dim,
                          -sum((cx::DOUBLE / n::DOUBLE)
                               * ln(cx::DOUBLE / n::DOUBLE)) AS hx
                   FROM mx JOIN nt USING (dim) GROUP BY 1),
            hy AS (SELECT my.dim,
                          -sum((cy::DOUBLE / n::DOUBLE)
                               * ln(cy::DOUBLE / n::DOUBLE)) AS hy
                   FROM my JOIN nt USING (dim) GROUP BY 1)
            SELECT dim, round(mi, 6) AS mi_nats,
                   round(hx, 6) AS h_type,
                   round(hy, 6) AS h_bucket,
                   round(mi / sqrt(hx * hy), 6) AS nmi
            FROM mi JOIN hx USING (dim) JOIN hy USING (dim)
            ORDER BY dim
        """,
        "events_hill_tail": """
            WITH e AS (SELECT event_type, event_id,
                              CAST(round(value * 100) AS BIGINT)
                                AS cents
                       FROM events
                       WHERE CAST(round(value * 100) AS BIGINT) > 0),
            ranked AS (SELECT event_type, cents,
                              row_number() OVER (
                                PARTITION BY event_type
                                ORDER BY cents DESC, event_id) AS rn
                       FROM e),
            thr AS (SELECT event_type, cents AS xref FROM ranked
                    WHERE rn = 101),
            nt AS (SELECT event_type, count(*)::BIGINT AS n FROM e
                   GROUP BY 1),
            agg AS (SELECT ranked.event_type,
                           min(xref)::BIGINT AS xref,
                           sum(ln(cents::DOUBLE) - ln(xref::DOUBLE))
                             AS slog
                    FROM ranked JOIN thr USING (event_type)
                    WHERE rn <= 100 GROUP BY 1)
            SELECT agg.event_type, n, 100::BIGINT AS k,
                   round(xref::DOUBLE / 100.0, 6)
                     AS threshold_dollars,
                   round(100.0 / slog, 6) AS hill_alpha,
                   round(xref::DOUBLE / 100.0
                         * pow(100.0 / (0.001 * n::DOUBLE),
                               1.0 / (100.0 / slog)), 6)
                     AS p999_implied_dollars
            FROM agg JOIN nt USING (event_type)
            ORDER BY agg.event_type
        """,
        "events_msprt": """
            WITH daily AS (
              SELECT ts::DATE AS day,
                     sum(CASE WHEN event_type = 'purchase'
                              THEN CAST(round(value * 100) AS BIGINT)
                              ELSE 0 END)::BIGINT AS pc,
                     sum((event_type = 'purchase')::INT)::BIGINT
                       AS pn,
                     sum(CASE WHEN event_type = 'signup'
                              THEN CAST(round(value * 100) AS BIGINT)
                              ELSE 0 END)::BIGINT AS sc,
                     sum((event_type = 'signup')::INT)::BIGINT AS sn
              FROM events
              WHERE event_type IN ('purchase', 'signup')
              GROUP BY 1),
            obs AS (SELECT day,
                           (pc::DOUBLE / pn::DOUBLE
                            - sc::DOUBLE / sn::DOUBLE) / 100.0 AS d
                    FROM daily WHERE pn > 0 AND sn > 0),
            v AS (SELECT sum(d * d) / count(*)::DOUBLE
                         - (sum(d) / count(*)::DOUBLE)
                           * (sum(d) / count(*)::DOUBLE) AS sigma2
                  FROM obs),
            cum AS (SELECT day, sigma2,
                           row_number() OVER (ORDER BY day) AS t,
                           sum(d) OVER (ORDER BY day
                                        ROWS BETWEEN UNBOUNDED
                                          PRECEDING AND CURRENT ROW)
                             AS cd
                    FROM obs, v),
            st AS (SELECT day, t,
                          round(cd / t::DOUBLE, 6) AS mean_diff_cum,
                          0.5 * ln(sigma2
                                   / (sigma2 + t::DOUBLE * sigma2))
                          + t::DOUBLE * t::DOUBLE * sigma2
                            * (cd / t::DOUBLE) * (cd / t::DOUBLE)
                            / (2.0 * sigma2
                               * (sigma2 + t::DOUBLE * sigma2))
                            AS llam
                   FROM cum),
            pp AS (SELECT day, t, mean_diff_cum, llam,
                          least(1.0::DOUBLE,
                                exp(-max(llam) OVER (ORDER BY t
                                      ROWS BETWEEN UNBOUNDED
                                        PRECEDING AND CURRENT ROW)))
                            AS p
                   FROM st)
            SELECT strftime(day, '%Y-%m-%d') AS day, t,
                   mean_diff_cum,
                   round(llam, 6) AS log_lambda,
                   round(p, 6) AS always_valid_p,
                   p < 0.05 AS significant
            FROM pp ORDER BY t
        """,
        "events_anderson_darling": f"""
            WITH daily AS (
              SELECT event_type, ts::DATE AS day,
                     sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
              FROM events GROUP BY 1, 2),
            tot AS (SELECT event_type, count(*)::BIGINT AS n,
                           sum(c)::BIGINT AS s,
                           sum(c::HUGEINT * c) AS cc
                    FROM daily GROUP BY 1),
            am AS (SELECT event_type, n, s,
                          (n::HUGEINT * cc - s::HUGEINT * s)::DOUBLE
                            AS a2mom
                   FROM tot),
            ranked AS (SELECT daily.event_type, n,
                              row_number() OVER (
                                PARTITION BY daily.event_type
                                ORDER BY c, day) AS i,
                              (c::DOUBLE - s::DOUBLE / n::DOUBLE)
                                / (sqrt(a2mom) / n::DOUBLE) AS z
                       FROM daily JOIN am USING (event_type)),
            ps AS (SELECT event_type, n, i,
                          CASE WHEN z >= 0
                               THEN 1.0 - {_NORM_SF_SQL.format(z="z")}
                               ELSE {_NORM_SF_SQL.format(z="(-z)")}
                               END AS phi,
                          CASE WHEN z >= 0
                               THEN {_NORM_SF_SQL.format(z="z")}
                               ELSE 1.0
                                    - {_NORM_SF_SQL.format(z="(-z)")}
                               END AS sf
                   FROM ranked),
            agg AS (SELECT event_type, min(n)::BIGINT AS n_days,
                           sum((2 * i - 1)::DOUBLE * ln(phi)
                               + (2 * (n - i) + 1)::DOUBLE * ln(sf))
                             AS ts
                    FROM ps GROUP BY 1),
            fin AS (SELECT event_type, n_days,
                           -n_days::DOUBLE - ts / n_days::DOUBLE
                             AS a2
                    FROM agg),
            f2 AS (SELECT event_type, n_days, a2,
                          a2 * (1.0 + 0.75 / n_days::DOUBLE
                                + 2.25 / (n_days::DOUBLE
                                          * n_days::DOUBLE))
                            AS a2s
                   FROM fin)
            SELECT event_type, n_days,
                   round(a2, 6) AS a2,
                   round(a2s, 6) AS a2_star,
                   a2s <= 0.752 AS normal_5pct
            FROM f2 ORDER BY event_type
        """,
        "users_cox_score": f"""
            WITH per AS (
              SELECT user_id,
                     min(epoch_us(ts))::BIGINT AS first_us,
                     max(epoch_us(ts))::BIGINT AS last_us,
                     min(CASE WHEN event_type = 'purchase'
                              THEN epoch_us(ts) END)::BIGINT
                       AS conv_us,
                     count(*)::BIGINT AS x
              FROM events GROUP BY 1),
            surv AS (SELECT user_id, x,
                            CASE WHEN conv_us IS NOT NULL
                                 THEN conv_us - first_us
                                 ELSE last_us - first_us END AS dur,
                            (conv_us IS NOT NULL)::INT AS status
                     FROM per),
            durs AS (SELECT dur,
                            count(*)::BIGINT AS n_at,
                            sum(x)::BIGINT AS sx,
                            sum(x * x)::BIGINT AS sxx,
                            sum(status)::BIGINT AS d,
                            sum(CASE WHEN status = 1 THEN x
                                     ELSE 0 END)::BIGINT AS dx
                     FROM surv GROUP BY 1),
            risk AS (SELECT dur, d, dx,
                            sum(n_at) OVER wr AS rn,
                            sum(sx) OVER wr AS rx,
                            sum(sxx) OVER wr AS rxx
                     FROM durs
                     WINDOW wr AS (ORDER BY dur DESC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW)),
            agg AS (SELECT sum(d)::BIGINT AS n_conversions,
                           sum(dx::DOUBLE
                               - d::DOUBLE
                                 * (rx::DOUBLE / rn::DOUBLE)) AS u,
                           sum(d::DOUBLE
                               * (rxx::DOUBLE / rn::DOUBLE
                                  - (rx::DOUBLE / rn::DOUBLE)
                                    * (rx::DOUBLE / rn::DOUBLE)))
                             AS v
                    FROM risk WHERE d > 0),
            nu AS (SELECT count(*)::BIGINT AS n_users FROM surv)
            SELECT n_users, n_conversions,
                   round(u, 6) AS score_u,
                   round(v, 6) AS score_var,
                   round(u / sqrt(v), 6) AS z,
                   round(2.0 * {_NORM_SF_SQL.format(
                       z="abs(u / sqrt(v))")}, 6) AS p_value
            FROM agg, nu
        """,
        "events_jarque_bera": """
            WITH daily AS (
              SELECT event_type, ts::DATE AS day,
                     sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
              FROM events GROUP BY 1, 2),
            tot AS (SELECT event_type, count(*)::BIGINT AS n,
                           sum(c)::BIGINT AS s
                    FROM daily GROUP BY 1),
            ctr AS (SELECT daily.event_type, n, s,
                           c::DOUBLE - s::DOUBLE / n::DOUBLE AS d
                    FROM daily JOIN tot USING (event_type)),
            mom AS (SELECT event_type,
                           min(n)::BIGINT AS n_days,
                           min(s)::BIGINT AS s,
                           sum(d * d) AS m2s,
                           sum(d * d * d) AS m3s,
                           sum(d * d * d * d) AS m4s
                    FROM ctr GROUP BY 1),
            f1 AS (SELECT event_type, n_days, s,
                          m2s / n_days::DOUBLE AS m2,
                          m3s / n_days::DOUBLE AS m3,
                          m4s / n_days::DOUBLE AS m4
                   FROM mom),
            f2 AS (SELECT event_type, n_days, s,
                          m3 / (m2 * sqrt(m2)) AS skew,
                          m4 / (m2 * m2) - 3.0 AS kurt
                   FROM f1),
            f3 AS (SELECT *,
                          n_days::DOUBLE / 6.0
                            * (skew * skew + kurt * kurt / 4.0) AS jb
                   FROM f2)
            SELECT event_type, n_days,
                   round(s::DOUBLE / (100.0 * n_days::DOUBLE), 6)
                     AS mean_daily,
                   round(skew, 6) AS skewness,
                   round(kurt, 6) AS ex_kurtosis,
                   round(jb, 6) AS jb_stat,
                   round(exp(-jb / 2.0), 6) AS p_value
            FROM f3 ORDER BY event_type
        """,
        "events_quantile_regression": """
            WITH daily AS (
              SELECT event_type, ts::DATE AS d,
                     sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS y
              FROM events GROUP BY 1, 2),
            pts AS (
              SELECT event_type,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY d) AS i,
                     y
              FROM daily),
            cand AS (
              SELECT a.event_type, a.i AS i, b.i AS j, a.y AS yi,
                     (b.i - a.i)::BIGINT AS dx,
                     (b.y - a.y)::BIGINT AS dy
              FROM pts a JOIN pts b
                ON a.event_type = b.event_type AND a.i < b.i),
            taus AS (SELECT unnest([25, 50, 75])::BIGINT AS tau100),
            r AS (
              SELECT c.event_type, c.i, c.j, c.yi, c.dx, c.dy,
                     c.dx::HUGEINT * (p.y - c.yi)
                       - (p.i - c.i)::HUGEINT * c.dy AS r
              FROM cand c JOIN pts p USING (event_type)),
            scored AS (
              SELECT event_type, tau100, i, j, yi, dx, dy,
                     count(*)::BIGINT AS n,
                     sum(greatest(tau100 * r, (tau100 - 100) * r)) AS l100
              FROM r CROSS JOIN taus
              GROUP BY 1, 2, 3, 4, 5, 6, 7),
            best AS (
              SELECT *, row_number() OVER (
                       PARTITION BY event_type, tau100
                       ORDER BY l100::DOUBLE / dx::DOUBLE, i, j) AS rn
              FROM scored)
            SELECT event_type, tau100::DOUBLE / 100.0 AS tau,
                   round(dy::DOUBLE / (100.0 * dx::DOUBLE), 6) AS slope,
                   round((dx::HUGEINT * yi - i::HUGEINT * dy)::DOUBLE
                         / (100.0 * dx::DOUBLE), 6) AS intercept,
                   round(l100::DOUBLE
                         / (100.0 * dx::DOUBLE * 100.0 * n::DOUBLE), 6)
                     AS mean_check_loss
            FROM best WHERE rn = 1 ORDER BY event_type, tau
        """,
        "events_levene": """
            WITH c AS (SELECT event_type,
                              CAST(round(value * 100) AS BIGINT) AS cents
                       FROM events),
            med AS (SELECT event_type,
                           quantile_cont(cents, 0.5) AS med
                    FROM c GROUP BY 1),
            d AS (SELECT c.event_type,
                         abs(c.cents * 2 - (m.med * 2.0)::BIGINT)::BIGINT
                           AS dev2
                  FROM c JOIN med m USING (event_type)),
            g AS (SELECT event_type, count(*)::BIGINT AS n,
                         sum(dev2)::BIGINT AS s,
                         sum(dev2 * dev2)::BIGINT AS ss
                  FROM d GROUP BY 1),
            t AS (SELECT sum(n)::BIGINT AS tn, sum(s)::BIGINT AS ts,
                         count(*)::BIGINT AS k
                  FROM g),
            j AS (SELECT n, ss, tn, k, s::DOUBLE / n AS mg,
                         ts::DOUBLE / tn AS gm
                  FROM g, t),
            o AS (SELECT tn, k,
                         sum(n * (mg - gm) * (mg - gm)) AS ssb,
                         sum(n * (ss::DOUBLE / n - mg * mg)) AS ssw
                  FROM j GROUP BY tn, k)
            SELECT k AS k_groups, tn AS n,
                   round((ssb / (k - 1)) / (ssw / (tn - k)), 6) AS f_stat,
                   round(ssb / (ssb + ssw), 6) AS eta_sq
            FROM o
        """,
        "events_poisson_test": f"""
            WITH e AS (SELECT user_id % 2 AS variant, user_id,
                              ts::DATE AS day,
                              (event_type = 'error')::BIGINT AS is_err
                       FROM events),
            cnt AS (SELECT variant, sum(is_err)::BIGINT AS c
                    FROM e GROUP BY 1),
            expo AS (SELECT variant, count(*)::BIGINT AS ex
                     FROM (SELECT DISTINCT variant, user_id, day FROM e)
                     GROUP BY 1),
            one AS (SELECT
                      max(CASE WHEN cnt.variant = 0 THEN c END)::BIGINT
                        AS c_a,
                      max(CASE WHEN cnt.variant = 1 THEN c END)::BIGINT
                        AS c_b,
                      max(CASE WHEN cnt.variant = 0 THEN ex END)::BIGINT
                        AS e_a,
                      max(CASE WHEN cnt.variant = 1 THEN ex END)::BIGINT
                        AS e_b
                    FROM cnt JOIN expo USING (variant)),
            s AS (SELECT c_a, c_b, e_a, e_b,
                         (c_a + c_b)::DOUBLE AS nn,
                         e_a::DOUBLE / (e_a + e_b)::DOUBLE AS p0
                  FROM one),
            zt AS (SELECT c_a, c_b, e_a, e_b,
                          (c_a::DOUBLE / e_a::DOUBLE)
                            / (c_b::DOUBLE / e_b::DOUBLE) AS rate_ratio,
                          (c_a::DOUBLE - nn * p0)
                            / sqrt(nn * p0 * (1.0 - p0)) AS z
                   FROM s)
            SELECT c_a, c_b, e_a, e_b,
                   round(rate_ratio, 6) AS rate_ratio,
                   round(z, 6) AS z,
                   round(2.0 * {_NORM_SF_SQL.format(z="abs(z)")}, 6)
                     AS p_value
            FROM zt
        """,
        "events_wilson_ci": f"""
            WITH g AS (SELECT event_type, count(*)::BIGINT AS n,
                              sum((value > 100.0)::BIGINT)::BIGINT AS k
                       FROM events GROUP BY 1),
            s AS (SELECT event_type, n, k, n::DOUBLE AS nd,
                         k::DOUBLE / n::DOUBLE AS p
                  FROM g),
            w AS (SELECT event_type, n, k, p,
                         (p + {1.96 * 1.96!r} / (2.0 * nd))
                           / (1.0 + {1.96 * 1.96!r} / nd) AS center,
                         1.96 * sqrt(p * (1.0 - p) / nd
                                     + {1.96 * 1.96!r} / (4.0 * nd * nd))
                           / (1.0 + {1.96 * 1.96!r} / nd) AS half
                  FROM s)
            SELECT event_type, n, k,
                   round(p, 6) AS p_hat,
                   round(center - half, 6) AS ci_lo,
                   round(center + half, 6) AS ci_hi
            FROM w ORDER BY event_type
        """,
        "events_tukey_hsd": """
            WITH e AS (SELECT event_type,
                              CAST(round(value * 100) AS BIGINT) AS c
                       FROM events),
            g AS (SELECT event_type, count(*)::BIGINT AS n,
                         sum(c)::BIGINT AS s, sum(c * c)::BIGINT AS ss
                  FROM e GROUP BY 1),
            t AS (SELECT sum(n)::BIGINT AS tn, count(*)::BIGINT AS k,
                         sum(ss::DOUBLE - (s::DOUBLE / n) * s::DOUBLE)
                           AS ssw
                  FROM g),
            p AS (SELECT a.event_type AS ta, b.event_type AS tb,
                         a.n AS na, b.n AS nb,
                         a.s::DOUBLE / a.n AS ma,
                         b.s::DOUBLE / b.n AS mb
                  FROM g a, g b WHERE a.event_type < b.event_type),
            q AS (SELECT ta, tb, ma, mb, na, nb,
                         t.ssw / (t.tn::DOUBLE - t.k) AS msw
                  FROM p, t),
            z AS (SELECT ta, tb, ma, mb,
                         abs(ma - mb)
                           / sqrt(msw / 2.0 * (1.0 / na::DOUBLE
                                               + 1.0 / nb::DOUBLE))
                           AS qstat
                  FROM q)
            SELECT ta, tb,
                   round((ma - mb) / 100.0, 6) AS mean_diff_usd,
                   round(qstat, 6) AS q_stat,
                   (qstat > 3.858) AS significant_5pct
            FROM z ORDER BY ta, tb
        """,
        "events_icc": """
            WITH e AS (SELECT user_id,
                              CAST(round(value * 100) AS BIGINT) AS c
                       FROM events),
            g AS (SELECT user_id, count(*)::BIGINT AS n,
                         sum(c)::BIGINT AS s, sum(c * c)::BIGINT AS ss
                  FROM e GROUP BY 1),
            t AS (SELECT sum(n)::BIGINT AS tn, sum(s)::BIGINT AS ts,
                         count(*)::BIGINT AS k,
                         sum(n * n)::BIGINT AS snn
                  FROM g),
            j AS (SELECT n, ss, tn, k, snn, s::DOUBLE / n AS mg,
                         ts::DOUBLE / tn AS gm
                  FROM g, t),
            o AS (SELECT tn, k, snn,
                         sum(n * (mg - gm) * (mg - gm)) AS ssb,
                         sum(n * (ss::DOUBLE / n - mg * mg)) AS ssw
                  FROM j GROUP BY tn, k, snn),
            m AS (SELECT tn, k, snn, tn::DOUBLE AS tnd, k::DOUBLE AS kd,
                         ssb / (k::DOUBLE - 1.0) AS msb,
                         ssw / (tn::DOUBLE - k::DOUBLE) AS msw
                  FROM o),
            n0t AS (SELECT tn, k, msb, msw,
                           (tnd - snn::DOUBLE / tnd) / (kd - 1.0) AS n0
                    FROM m),
            icct AS (SELECT tn, k, n0,
                            CASE WHEN msb + (n0 - 1.0) * msw > 0 THEN
                              (msb - msw) / (msb + (n0 - 1.0) * msw)
                            END AS icc
                     FROM n0t)
            SELECT k AS k_users, tn AS n,
                   round(n0, 6) AS n0,
                   round(icc, 6) AS icc,
                   round(1.0 + (n0 - 1.0) * icc, 6) AS design_effect
            FROM icct
        """,
        "users_lorenz_curve": """
            WITH u AS (SELECT user_id,
                              sum(CASE WHEN event_type = 'purchase'
                                  THEN CAST(round(value * 100) AS
                                            BIGINT)
                                  ELSE 0 END)::BIGINT AS spend
                       FROM events GROUP BY 1),
            r AS (SELECT spend,
                         row_number() OVER (ORDER BY spend, user_id)
                           - 1 AS rk,
                         count(*) OVER () AS n,
                         sum(spend) OVER () AS ts
                  FROM u),
            d AS (SELECT (rk * 10 // n)::INT AS decile, spend, ts
                  FROM r),
            g AS (SELECT decile, any_value(ts) AS ts,
                         count(*)::BIGINT AS n_users,
                         sum(spend)::BIGINT AS sc
                  FROM d GROUP BY 1),
            c AS (SELECT decile, n_users, sc, ts,
                         sum(sc) OVER (ORDER BY decile
                           ROWS UNBOUNDED PRECEDING) AS cs
                  FROM g)
            SELECT decile, n_users,
                   round(sc::DOUBLE / ts::DOUBLE, 6) AS spend_share,
                   round(cs::DOUBLE / ts::DOUBLE, 6) AS cum_share
            FROM c ORDER BY decile
        """,
        "events_fisher_exact": """
            WITH RECURSIVE u AS (
              SELECT user_id % 2 AS variant,
                     max(CASE WHEN event_type = 'purchase'
                               AND value > 150
                         THEN 1 ELSE 0 END) AS conv
              FROM events GROUP BY user_id),
            tab AS (SELECT
                      sum(CASE WHEN variant = 0 AND conv = 1
                          THEN 1 ELSE 0 END)::BIGINT AS a,
                      sum(CASE WHEN variant = 0 AND conv = 0
                          THEN 1 ELSE 0 END)::BIGINT AS b,
                      sum(CASE WHEN variant = 1 AND conv = 1
                          THEN 1 ELSE 0 END)::BIGINT AS c,
                      sum(CASE WHEN variant = 1 AND conv = 0
                          THEN 1 ELSE 0 END)::BIGINT AS d
                    FROM u),
            m AS (SELECT a, b, c, d, a + b AS r1, c + d AS r2,
                         a + c AS c1,
                         greatest(0, (a + c) - (c + d)) AS kmin,
                         least(a + b, a + c) AS kmax
                  FROM tab),
            wk(k, w) AS (
              SELECT kmin, 1.0::DOUBLE FROM m
              UNION ALL
              SELECT wk.k + 1,
                     wk.w * (((m.r1 - wk.k) * (m.c1 - wk.k))::DOUBLE
                             / ((wk.k + 1)
                                * (m.r2 - m.c1 + wk.k + 1))::DOUBLE)
              FROM wk, m WHERE wk.k < m.kmax),
            obs AS (SELECT wk.w * 1.0000001 AS thresh
                    FROM wk, m WHERE wk.k = m.a),
            acc(k, den, num) AS (
              SELECT m.kmin - 1, 0.0::DOUBLE, 0.0::DOUBLE FROM m
              UNION ALL
              SELECT acc.k + 1,
                     acc.den + wk.w,
                     acc.num + CASE WHEN wk.w <= obs.thresh
                               THEN wk.w ELSE 0.0 END
              FROM acc, wk, obs, m
              WHERE wk.k = acc.k + 1 AND acc.k < m.kmax)
            SELECT m.a, m.b, m.c, m.d,
                   round(CASE WHEN m.b > 0 AND m.c > 0
                         THEN (m.a * m.d)::DOUBLE
                              / (m.b * m.c)::DOUBLE END, 6)
                     AS odds_ratio,
                   round(acc.num / acc.den, 9) AS p_value
            FROM acc, m WHERE acc.k = m.kmax
        """,
        "events_rank_gauss": f"""
            WITH c AS (SELECT event_type AS g,
                              CAST(round(value * 100) AS BIGINT) AS cents,
                              count(*)::BIGINT AS t
                       FROM events GROUP BY 1, 2),
            w AS (SELECT g, cents, t,
                         coalesce(sum(t) OVER (PARTITION BY g
                             ORDER BY cents ROWS BETWEEN UNBOUNDED
                             PRECEDING AND 1 PRECEDING), 0) AS bef,
                         sum(t) OVER (PARTITION BY g) AS nn
                  FROM c),
            s1 AS (SELECT g, cents, t, nn,
                          bef::DOUBLE + (t + 1)::DOUBLE / 2.0 AS ar
                   FROM w),
            s2 AS (SELECT *,
                          (ar - 0.375) / (nn::DOUBLE + 0.25) AS pp
                   FROM s1),
            s3 AS (SELECT *, pp - 0.5 AS rr, ln(-ln(pp)) AS slo,
                          ln(-ln(1.0 - pp)) AS shi
                   FROM s2),
            s4 AS (SELECT *, rr * rr AS yy FROM s3),
            inv AS (SELECT g, cents, t, ar,
                           {_inv_norm_sql("pp", "rr", "yy", "slo", "shi")}
                             AS gauss
                    FROM s4)
            SELECT g AS event_type, cents, t AS n_ties,
                   round(ar, 6) AS avg_rank, round(gauss, 6) AS gauss
            FROM inv ORDER BY event_type, cents
        """,
        "users_time_to_convert": """
            WITH pu AS (SELECT user_id, min(ts::DATE) AS f,
                               min(CASE WHEN event_type = 'purchase'
                                        THEN ts::DATE END) AS c
                        FROM events GROUP BY 1),
            d AS (SELECT date_diff('day', f, c)::BIGINT AS days
                  FROM pu WHERE c IS NOT NULL),
            g AS (SELECT days, count(*)::BIGINT AS n FROM d GROUP BY 1),
            w AS (SELECT days, n, sum(n) OVER ()::BIGINT AS tot,
                         sum(n) OVER (ORDER BY days
                             ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
                  FROM g)
            SELECT days, n, round(n::DOUBLE / tot, 6) AS share,
                   round(cum::DOUBLE / tot, 6) AS cum_share,
                   (cum * 2) >= tot AS at_or_past_median,
                   (cum * 10) >= tot * 9 AS at_or_past_p90
            FROM w ORDER BY days
        """,
        "events_bayes_ab": f"""
            WITH u AS (SELECT user_id,
                              max(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END)::BIGINT AS conv
                       FROM events GROUP BY 1),
            arms AS (SELECT (user_id % 2)::INT AS variant,
                            count(*)::BIGINT AS n, sum(conv)::BIGINT AS r
                     FROM u GROUP BY 1),
            st AS (SELECT variant, n, r,
                          (r::DOUBLE + 1.0) /
                            ((r::DOUBLE + 1.0)
                             + ((n - r)::DOUBLE + 1.0)) AS mu,
                          (r::DOUBLE + 1.0) * ((n - r)::DOUBLE + 1.0)
                          / (((r::DOUBLE + 1.0) + ((n - r)::DOUBLE + 1.0))
                             * ((r::DOUBLE + 1.0)
                                + ((n - r)::DOUBLE + 1.0))
                             * (((r::DOUBLE + 1.0)
                                 + ((n - r)::DOUBLE + 1.0)) + 1.0))
                            AS var
                   FROM arms),
            w AS (SELECT
                    max(CASE WHEN variant = 0 THEN n END) AS n_a,
                    max(CASE WHEN variant = 0 THEN r END) AS r_a,
                    max(CASE WHEN variant = 0 THEN mu END) AS mu_a,
                    max(CASE WHEN variant = 0 THEN var END) AS var_a,
                    max(CASE WHEN variant = 1 THEN n END) AS n_b,
                    max(CASE WHEN variant = 1 THEN r END) AS r_b,
                    max(CASE WHEN variant = 1 THEN mu END) AS mu_b,
                    max(CASE WHEN variant = 1 THEN var END) AS var_b
                  FROM st),
            zz AS (SELECT *, (mu_b - mu_a) / sqrt(var_a + var_b) AS z
                   FROM w)
            SELECT n_a, r_a, round(mu_a, 6) AS post_mean_a,
                   n_b, r_b, round(mu_b, 6) AS post_mean_b,
                   round(z, 6) AS z,
                   round(CASE WHEN z >= 0
                              THEN 1.0 - {_NORM_SF_SQL.format(z="z")}
                              ELSE {_NORM_SF_SQL.format(z="(-z)")}
                         END, 6) AS p_b_beats_a
            FROM zz
        """,
        "users_weibull_fit": f"""
            WITH {_RISK_SET_CTES},
            curve AS (
              SELECT segment, t,
                     round(sum(n_events::DOUBLE / n_at_risk::DOUBLE)
                       OVER (PARTITION BY segment ORDER BY t
                             ROWS UNBOUNDED PRECEDING), 6) AS ch
              FROM staged),
            pts AS (SELECT * FROM curve WHERE t > 0 AND ch > 0)
            SELECT segment, count(*)::BIGINT AS n_points,
                   round(regr_slope(ln(ch), ln(t)), 6) AS shape_k,
                   round(exp(-regr_intercept(ln(ch), ln(t))
                             / regr_slope(ln(ch), ln(t))), 6)
                     AS scale_lambda
            FROM pts GROUP BY segment ORDER BY segment
        """,
        "events_burstiness": """
            WITH g AS (
              SELECT event_type,
                     floor((lead(epoch_us(ts)) OVER (PARTITION BY
                            user_id, event_type ORDER BY ts, event_id)
                            - epoch_us(ts)) / 1000000)::BIGINT AS gap
              FROM events),
            f AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
            a AS (SELECT event_type, count(*)::BIGINT AS n_gaps,
                         sum(gap)::BIGINT AS sg,
                         sum(gap * gap)::BIGINT AS sgg
                  FROM f GROUP BY 1),
            m AS (SELECT event_type, n_gaps, sg, sgg,
                         sg::DOUBLE / n_gaps::DOUBLE AS mu,
                         sqrt((sgg::DOUBLE
                               - sg * (sg::DOUBLE / n_gaps::DOUBLE))
                              / n_gaps::DOUBLE) AS sigma
                  FROM a)
            SELECT event_type, n_gaps, round(mu, 6) AS mean_gap_s,
                   round(sigma, 6) AS std_gap_s,
                   round((sigma - mu) / (sigma + mu), 6) AS burstiness
            FROM m ORDER BY event_type
        """,
        "events_uplift_qini": """
            WITH u AS (
              SELECT user_id,
                     sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                              THEN CAST(round(value * 100) AS BIGINT)
                              ELSE 0 END)::BIGINT AS pre,
                     max(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                               AND event_type = 'purchase'
                              THEN 1 ELSE 0 END)::BIGINT AS conv
              FROM events GROUP BY 1),
            r AS (SELECT user_id, conv, (user_id % 2)::INT AS variant,
                         row_number() OVER (ORDER BY -pre, user_id) - 1
                           AS rk,
                         count(*) OVER () AS n
                  FROM u),
            dec AS (SELECT floor(rk::DOUBLE * 10.0 / n)::INT AS decile,
                           sum(CASE WHEN variant = 1 THEN 1 ELSE 0
                               END)::BIGINT AS n_t,
                           sum(CASE WHEN variant = 1 THEN conv ELSE 0
                               END)::BIGINT AS c_t,
                           sum(CASE WHEN variant = 0 THEN 1 ELSE 0
                               END)::BIGINT AS n_c,
                           sum(CASE WHEN variant = 0 THEN conv ELSE 0
                               END)::BIGINT AS c_c
                    FROM r GROUP BY 1),
            run AS (SELECT *,
                           sum(c_t) OVER wr AS cum_ct,
                           sum(c_c) OVER wr AS cum_cc,
                           sum(n_t) OVER wr AS cum_nt,
                           sum(n_c) OVER wr AS cum_nc
                    FROM dec
                    WINDOW wr AS (ORDER BY decile
                                  ROWS UNBOUNDED PRECEDING))
            SELECT decile, n_t, c_t, n_c, c_c,
                   round(CASE WHEN n_t > 0 AND n_c > 0 THEN
                         c_t::DOUBLE / n_t - c_c::DOUBLE / n_c END, 6)
                     AS uplift,
                   round(CASE WHEN cum_nc > 0 THEN
                         cum_ct::DOUBLE - cum_cc
                         * (cum_nt::DOUBLE / cum_nc) END, 6) AS qini
            FROM run ORDER BY decile
        """,
        "users_nelson_aalen": f"""
            WITH {_RISK_SET_CTES},
            curve AS (
              SELECT *,
                     sum(n_events::DOUBLE / n_at_risk::DOUBLE)
                       OVER (PARTITION BY segment ORDER BY t
                             ROWS UNBOUNDED PRECEDING) AS ch,
                     sum(n_events::DOUBLE
                         / (n_at_risk::DOUBLE * n_at_risk::DOUBLE))
                       OVER (PARTITION BY segment ORDER BY t
                             ROWS UNBOUNDED PRECEDING) AS vh
              FROM staged)
            SELECT segment, t, n_at_risk::BIGINT AS n_at_risk, n_events,
                   round(ch, 6) AS cum_hazard, round(vh, 6) AS var_hazard
            FROM curve ORDER BY segment, t
        """,
        "events_mahalanobis": """
            WITH u AS (SELECT user_id, count(*)::BIGINT AS x,
                              sum(CAST(round(value * 100) AS
                                       BIGINT))::BIGINT AS y
                       FROM events GROUP BY 1),
            m AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                         sum(y)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
                         sum(y * y)::BIGINT AS syy,
                         sum(x * y)::BIGINT AS sxy
                  FROM u),
            g AS (SELECT n::DOUBLE AS nd, sx, sy, sxx, syy, sxy,
                         sx::DOUBLE / n::DOUBLE AS mx,
                         sy::DOUBLE / n::DOUBLE AS my
                  FROM m),
            g2 AS (SELECT *,
                          (sxx::DOUBLE - sx * mx) / (nd - 1) AS vxx,
                          (syy::DOUBLE - sy * my) / (nd - 1) AS vyy,
                          (sxy::DOUBLE - sx * my) / (nd - 1) AS vxy
                   FROM g),
            g3 AS (SELECT *, vxx * vyy - vxy * vxy AS det FROM g2),
            dd AS (SELECT user_id, x, y, x::DOUBLE - mx AS dx,
                          y::DOUBLE - my AS dy, vxx, vyy, vxy, det, nd
                   FROM u, g3),
            d2t AS (SELECT user_id, x, y,
                           CASE WHEN nd >= 2 AND det > 0 THEN
                             (dx * dx * vyy - 2.0 * dx * dy * vxy
                              + dy * dy * vxx) / det END AS d2
                    FROM dd)
            SELECT user_id, x AS n_events, y AS cents,
                   round(d2, 6) AS d2,
                   round(exp(-d2 / 2.0), 6) AS p_value
            FROM d2t WHERE round(d2, 6) >= 5.991465 ORDER BY user_id
        """,
        "events_cochran_armitage": f"""
            WITH u AS (SELECT user_id,
                              max(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END)::BIGINT AS conv
                       FROM events GROUP BY 1),
            t AS (SELECT (user_id % 4)::BIGINT AS tier,
                         count(*)::BIGINT AS n, sum(conv)::BIGINT AS r
                  FROM u GROUP BY 1),
            a AS (SELECT sum(n)::BIGINT AS nn, sum(r)::BIGINT AS rr,
                         sum(tier * n)::BIGINT AS sn,
                         sum(tier * r)::BIGINT AS sr,
                         sum(tier * tier * n)::BIGINT AS ssn
                  FROM t),
            b AS (SELECT nn, rr, sn, sr, ssn, nn::DOUBLE AS nd,
                         rr::DOUBLE / nn::DOUBLE AS pbar
                  FROM a),
            c AS (SELECT nn, rr,
                         sr::DOUBLE - sn * pbar AS t_stat,
                         pbar * (1.0 - pbar)
                           * (ssn::DOUBLE - sn * (sn / nd)) AS var
                  FROM b),
            d AS (SELECT nn, rr, var,
                         t_stat / sqrt(var) AS z
                  FROM c)
            SELECT nn AS n_total, rr AS n_converted,
                   round(CASE WHEN var > 0 THEN z END, 6) AS z,
                   round(CASE WHEN var > 0 THEN
                           2.0 * {_NORM_SF_SQL.format(z="abs(z)")}
                         ELSE 1.0 END, 6) AS p_value
            FROM d
        """,
        "events_ks_test": """
            WITH u AS (
              SELECT user_id,
                     round(sum(CASE WHEN event_type = 'purchase'
                                    THEN value ELSE 0 END), 2) AS spend
              FROM events GROUP BY user_id),
            g AS (SELECT spend,
                         sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0
                             END)::BIGINT AS ca,
                         sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0
                             END)::BIGINT AS cb
                  FROM u GROUP BY spend),
            c AS (SELECT sum(ca) OVER (ORDER BY spend)::BIGINT AS cuma,
                         sum(cb) OVER (ORDER BY spend)::BIGINT AS cumb
                  FROM g),
            t AS (SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b
                  FROM g),
            d AS (SELECT n_a, n_b,
                         max(abs(cuma::DOUBLE / n_a - cumb::DOUBLE / n_b))
                           AS dd
                  FROM c, t GROUP BY n_a, n_b),
            l AS (SELECT n_a, n_b, dd,
                         (sqrt(n_a::DOUBLE * n_b / (n_a + n_b)) + 0.12
                          + 0.11 / sqrt(n_a::DOUBLE * n_b / (n_a + n_b)))
                         * dd AS lam
                  FROM d)
            SELECT n_a, n_b, round(dd, 6) AS d_stat,
                   round(least(1.0, greatest(0.0,
                         2 * (exp(-2 * lam * lam) - exp(-8 * lam * lam)
                              + exp(-18 * lam * lam)))), 6) AS p_value
            FROM l
        """,
        "events_anova": """
            WITH e AS (SELECT event_type,
                              CAST(round(value * 100) AS BIGINT) AS c
                       FROM events),
            g AS (SELECT event_type, count(*)::BIGINT AS n,
                         sum(c)::BIGINT AS s, sum(c * c)::BIGINT AS ss
                  FROM e GROUP BY 1),
            t AS (SELECT sum(n)::BIGINT AS tn, sum(s)::BIGINT AS ts,
                         count(*)::BIGINT AS k
                  FROM g),
            j AS (SELECT n, ss, tn, k, s::DOUBLE / n AS mg,
                         ts::DOUBLE / tn AS gm
                  FROM g, t),
            o AS (SELECT tn, k,
                         sum(n * (mg - gm) * (mg - gm)) AS ssb,
                         sum(n * (ss::DOUBLE / n - mg * mg)) AS ssw
                  FROM j GROUP BY tn, k)
            SELECT k AS k_groups, tn AS n,
                   round((ssb / (k - 1)) / (ssw / (tn - k)), 6) AS f_stat,
                   round(ssb / (ssb + ssw), 6) AS eta_sq
            FROM o
        """,
        "events_ab_fdr": f"""
            WITH e AS (SELECT event_type, hour(ts) // 6 AS day_quarter,
                              user_id,
                              CAST(round(value * 100) AS BIGINT) AS c
                       FROM events),
            g AS (SELECT event_type, day_quarter,
                         sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0
                             END)::BIGINT AS n_a,
                         sum(CASE WHEN user_id % 2 = 0 THEN c
                             END)::BIGINT AS s_a,
                         sum(CASE WHEN user_id % 2 = 0 THEN c * c
                             END)::BIGINT AS ss_a,
                         sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0
                             END)::BIGINT AS n_b,
                         sum(CASE WHEN user_id % 2 = 1 THEN c
                             END)::BIGINT AS s_b,
                         sum(CASE WHEN user_id % 2 = 1 THEN c * c
                             END)::BIGINT AS ss_b
                  FROM e GROUP BY 1, 2),
            z0 AS (SELECT *, s_a::DOUBLE / n_a AS ma,
                          s_b::DOUBLE / n_b AS mb
                   FROM g),
            z1 AS (SELECT *,
                          (ss_a::DOUBLE - n_a * ma * ma) / (n_a - 1) AS va,
                          (ss_b::DOUBLE - n_b * mb * mb) / (n_b - 1) AS vb
                   FROM z0),
            z2 AS (SELECT *, (ma - mb) / sqrt(va / n_a + vb / n_b) AS zz
                   FROM z1),
            z3 AS (SELECT *,
                          2.0 * {_NORM_SF_SQL.format(z="abs(zz)")} AS p
                   FROM z2),
            r AS (SELECT *,
                         row_number() OVER (ORDER BY p, event_type,
                                            day_quarter) AS bh_rank,
                         count(*) OVER () AS m
                  FROM z3),
            r2 AS (SELECT *, bh_rank * 0.05 / m AS bh_crit FROM r),
            r3 AS (SELECT *,
                          coalesce(max(CASE WHEN p <= bh_crit
                                            THEN bh_rank END) OVER (), 0)
                            AS kmax
                   FROM r2)
            SELECT event_type, day_quarter, n_a, n_b,
                   round(zz, 6) AS z, round(p, 6) AS p_value, bh_rank,
                   round(bh_crit, 6) AS bh_crit,
                   bh_rank <= kmax AS significant
            FROM r3
        """,
        "events_srm": f"""
            WITH pops AS (SELECT DISTINCT event_type, user_id,
                                 (user_id % 2)::INT AS variant
                          FROM events),
            seg AS (SELECT event_type,
                           sum(CASE WHEN variant = 0 THEN 1 ELSE 0
                               END)::BIGINT AS n_a,
                           sum(CASE WHEN variant = 1 THEN 1 ELSE 0
                               END)::BIGINT AS n_b
                    FROM pops GROUP BY 1),
            allp AS (SELECT DISTINCT user_id, variant FROM pops),
            alr AS (SELECT '_all_' AS event_type,
                           sum(CASE WHEN variant = 0 THEN 1 ELSE 0
                               END)::BIGINT AS n_a,
                           sum(CASE WHEN variant = 1 THEN 1 ELSE 0
                               END)::BIGINT AS n_b
                    FROM allp),
            u AS (SELECT * FROM seg UNION ALL SELECT * FROM alr),
            c AS (SELECT event_type, n_a, n_b,
                         (n_a::DOUBLE - (n_a::DOUBLE + n_b) / 2)
                         * (n_a::DOUBLE - (n_a::DOUBLE + n_b) / 2)
                         / ((n_a::DOUBLE + n_b) / 2)
                         + (n_b::DOUBLE - (n_a::DOUBLE + n_b) / 2)
                         * (n_b::DOUBLE - (n_a::DOUBLE + n_b) / 2)
                         / ((n_a::DOUBLE + n_b) / 2) AS chi2
                  FROM u),
            pp AS (SELECT *,
                          2.0 * {_NORM_SF_SQL.format(z="sqrt(chi2)")} AS p
                   FROM c)
            SELECT event_type, n_a, n_b, round(chi2, 6) AS chi2,
                   round(p, 6) AS p_value, p < 0.001 AS srm_flag
            FROM pp ORDER BY event_type
        """,
        "events_cuped": """
            WITH u AS (
              SELECT user_id,
                     sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                              THEN CAST(round(value * 100) AS BIGINT)
                              ELSE 0 END)::BIGINT AS x,
                     sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                              THEN CAST(round(value * 100) AS BIGINT)
                              ELSE 0 END)::BIGINT AS y
              FROM events GROUP BY 1),
            u2 AS (SELECT *, (user_id % 2)::INT AS variant FROM u),
            m AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                         sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
                         sum(x * x)::BIGINT AS sxx
                  FROM u2),
            m2 AS (SELECT n::DOUBLE AS nd, sx, sy, sxy, sxx FROM m),
            gl AS (SELECT sx::DOUBLE / nd AS xbar,
                          ((sxy::DOUBLE - sx::DOUBLE * sy / nd)
                           / (nd - 1))
                          / ((sxx::DOUBLE - sx::DOUBLE * sx / nd)
                             / (nd - 1)) AS theta
                   FROM m2),
            adj AS (SELECT variant, y::DOUBLE AS yv,
                           y::DOUBLE - theta * (x::DOUBLE - xbar) AS ya,
                           theta
                    FROM u2, gl),
            g AS (SELECT variant, count(*)::BIGINT AS n, sum(yv) AS sy,
                         sum(yv * yv) AS syy, sum(ya) AS sa,
                         sum(ya * ya) AS saa, max(theta) AS th
                  FROM adj GROUP BY variant),
            one AS (SELECT
                      max(CASE WHEN variant = 0 THEN n END) AS n0,
                      max(CASE WHEN variant = 0 THEN sy END) AS sy0,
                      max(CASE WHEN variant = 0 THEN syy END) AS syy0,
                      max(CASE WHEN variant = 0 THEN sa END) AS sa0,
                      max(CASE WHEN variant = 0 THEN saa END) AS saa0,
                      max(CASE WHEN variant = 1 THEN n END) AS n1,
                      max(CASE WHEN variant = 1 THEN sy END) AS sy1,
                      max(CASE WHEN variant = 1 THEN syy END) AS syy1,
                      max(CASE WHEN variant = 1 THEN sa END) AS sa1,
                      max(CASE WHEN variant = 1 THEN saa END) AS saa1,
                      max(th) AS theta
                    FROM g),
            w AS (SELECT *,
                         sy0 / (n0::DOUBLE) AS m0r,
                         sy1 / (n1::DOUBLE) AS m1r,
                         sa0 / (n0::DOUBLE) AS m0a,
                         sa1 / (n1::DOUBLE) AS m1a
                  FROM one),
            w2 AS (SELECT *,
                          (syy0 - n0::DOUBLE * m0r * m0r)
                            / (n0::DOUBLE - 1) AS v0r,
                          (syy1 - n1::DOUBLE * m1r * m1r)
                            / (n1::DOUBLE - 1) AS v1r,
                          (saa0 - n0::DOUBLE * m0a * m0a)
                            / (n0::DOUBLE - 1) AS v0a,
                          (saa1 - n1::DOUBLE * m1a * m1a)
                            / (n1::DOUBLE - 1) AS v1a
                   FROM w)
            SELECT n0 AS n_a, n1 AS n_b, round(theta, 6) AS theta,
                   round((m0r - m1r)
                         / sqrt(v0r / (n0::DOUBLE) + v1r / (n1::DOUBLE)),
                         6) AS z_raw,
                   round((m0a - m1a)
                         / sqrt(v0a / (n0::DOUBLE) + v1a / (n1::DOUBLE)),
                         6) AS z_cuped,
                   round(1.0::DOUBLE - (v0a + v1a) / (v0r + v1r), 6)
                     AS var_reduction
            FROM w2
        """,
        "events_ab_power": f"""
            WITH e AS (SELECT event_type, user_id,
                              CAST(round(value * 100) AS BIGINT) AS c
                       FROM events),
            g AS (SELECT event_type,
                         sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0
                             END)::BIGINT AS n_a,
                         sum(CASE WHEN user_id % 2 = 0 THEN c
                             END)::BIGINT AS s_a,
                         sum(CASE WHEN user_id % 2 = 0 THEN c * c
                             END)::BIGINT AS ss_a,
                         sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0
                             END)::BIGINT AS n_b,
                         sum(CASE WHEN user_id % 2 = 1 THEN c
                             END)::BIGINT AS s_b,
                         sum(CASE WHEN user_id % 2 = 1 THEN c * c
                             END)::BIGINT AS ss_b
                  FROM e GROUP BY 1),
            z0 AS (SELECT *, s_a::DOUBLE / n_a AS ma,
                          s_b::DOUBLE / n_b AS mb
                   FROM g),
            z1 AS (SELECT *,
                          (ss_a::DOUBLE - n_a * ma * ma) / (n_a - 1) AS va,
                          (ss_b::DOUBLE - n_b * mb * mb) / (n_b - 1) AS vb
                   FROM z0),
            z2 AS (SELECT *, ma - mb AS delta,
                          sqrt(va / n_a + vb / n_b) AS se
                   FROM z1)
            SELECT event_type, n_a, n_b,
                   round(delta / 100.0, 4) AS delta,
                   round({_Z80!r} * se / 100.0, 4) AS mde_80,
                   round({_Z90!r} * se / 100.0, 4) AS mde_90,
                   CASE WHEN abs(delta) > 0 THEN
                     ceil({_Z80 * _Z80!r} * (va + vb)
                          / (delta * delta))::BIGINT END AS n_per_arm_80
            FROM z2 ORDER BY event_type
        """,
        "events_interarrival_fit": """
            WITH g0 AS (
              SELECT event_type,
                     CAST(floor((lead(epoch_us(ts)) OVER w
                                 - epoch_us(ts)) / 1000000) AS BIGINT)
                       AS gap
              FROM events
              WINDOW w AS (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id)),
            gaps AS (SELECT event_type, gap FROM g0 WHERE gap IS NOT NULL),
            grp AS (SELECT event_type, gap, count(*)::BIGINT AS cnt
                    FROM gaps GROUP BY 1, 2),
            staged AS (
              SELECT event_type, gap, cnt,
                     sum(cnt) OVER (PARTITION BY event_type ORDER BY gap
                                    ROWS UNBOUNDED PRECEDING)::BIGINT
                       AS cum,
                     sum(cnt) OVER (PARTITION BY event_type)::BIGINT AS n,
                     sum(gap * cnt) OVER (PARTITION BY event_type)::BIGINT
                       AS s
              FROM grp),
            d AS (SELECT event_type, n, s,
                         greatest(
                           abs(cum::DOUBLE / n::DOUBLE
                               - (1.0 - exp(-(n::DOUBLE * gap::DOUBLE)
                                            / s::DOUBLE))),
                           abs((cum - cnt)::DOUBLE / n::DOUBLE
                               - (1.0 - exp(-(n::DOUBLE * gap::DOUBLE)
                                            / s::DOUBLE)))) AS d_at
                  FROM staged),
            agg AS (SELECT event_type, any_value(n) AS n_gaps,
                           any_value(s) AS st, max(d_at) AS dmax
                    FROM d GROUP BY 1)
            SELECT event_type, n_gaps,
                   round(st::DOUBLE / n_gaps::DOUBLE, 6) AS mean_gap_s,
                   round(3600.0 * n_gaps::DOUBLE / st::DOUBLE, 6)
                     AS lambda_per_hr,
                   round(dmax, 6) AS ks_d,
                   dmax > 1.36 / sqrt(n_gaps::DOUBLE)
                     AS reject_exponential
            FROM agg ORDER BY event_type
        """,
        "users_logrank": """
            WITH subj AS (
              SELECT user_id,
                     date_diff('day', min(ts::DATE), max(ts::DATE))::BIGINT
                       AS duration
              FROM events GROUP BY user_id),
            s AS (SELECT duration,
                         CASE WHEN user_id % 5 = 0 THEN 0 ELSE 1 END
                           AS event,
                         (user_id % 2)::INT AS grp
                  FROM subj),
            risk AS (SELECT duration,
                            sum(event * (grp = 1)::INT)::BIGINT AS d1,
                            sum(event * (grp = 0)::INT)::BIGINT AS d0,
                            sum((grp = 1)::INT)::BIGINT AS l1,
                            sum((grp = 0)::INT)::BIGINT AS l0
                     FROM s GROUP BY 1),
            staged AS (
              SELECT duration, d1, d1 + d0 AS d,
                     sum(l1) OVER ()
                     - coalesce(sum(l1) OVER (ORDER BY duration
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS n1,
                     sum(l1) OVER ()
                     - coalesce(sum(l1) OVER (ORDER BY duration
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0)
                     + sum(l0) OVER ()
                     - coalesce(sum(l0) OVER (ORDER BY duration
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS n,
                     (sum(l1) OVER ())::BIGINT AS n_b,
                     (sum(l0) OVER ())::BIGINT AS n_a
              FROM risk),
            f AS (SELECT * FROM staged WHERE d > 0),
            agg AS (
              SELECT n_a, n_b, sum(d1)::BIGINT AS o_b,
                     sum(d::DOUBLE * n1 / n) AS e,
                     sum(CASE WHEN n > 1 THEN
                           d::DOUBLE * (n1::DOUBLE / n)
                           * (1 - n1::DOUBLE / n)
                           * (n - d) / (n - 1)
                         ELSE 0.0 END) AS v
              FROM f GROUP BY n_a, n_b)
            SELECT n_a, n_b, o_b, round(e, 6) AS e_b,
                   round(CASE WHEN v > 0 THEN
                         (o_b::DOUBLE - e) * (o_b::DOUBLE - e) / v END, 6)
                     AS logrank_chi2,
                   round(CASE WHEN v > 0 THEN
                         (o_b::DOUBLE - e) / sqrt(v) END, 6) AS z
            FROM agg
        """,
        "events_diff_in_diff": """
            WITH e AS (SELECT (user_id % 2) AS variant,
                              (ts >= TIMESTAMP '2024-01-16')::INT AS post,
                              CAST(round(value * 100) AS BIGINT) AS c
                       FROM events),
            cells AS (SELECT variant, post, count(*)::BIGINT AS n,
                             sum(c)::BIGINT AS s, sum(c * c)::BIGINT AS ss
                      FROM e GROUP BY 1, 2),
            w AS (SELECT variant, post, n, s::DOUBLE / n AS m,
                         ((ss::DOUBLE - n * (s::DOUBLE / n)
                                          * (s::DOUBLE / n)) / (n - 1)) / n
                           AS vn
                  FROM cells),
            one AS (SELECT sum(n)::BIGINT AS n_events,
                           max(CASE WHEN variant = 1 AND post = 1
                                    THEN m END) AS m11,
                           max(CASE WHEN variant = 1 AND post = 0
                                    THEN m END) AS m10,
                           max(CASE WHEN variant = 0 AND post = 1
                                    THEN m END) AS m01,
                           max(CASE WHEN variant = 0 AND post = 0
                                    THEN m END) AS m00,
                           max(CASE WHEN variant = 1 AND post = 1
                                    THEN vn END)
                           + max(CASE WHEN variant = 1 AND post = 0
                                      THEN vn END)
                           + max(CASE WHEN variant = 0 AND post = 1
                                      THEN vn END)
                           + max(CASE WHEN variant = 0 AND post = 0
                                      THEN vn END) AS se2
                    FROM w)
            SELECT n_events,
                   round(m00 / 100.0, 4) AS ctrl_pre,
                   round(m01 / 100.0, 4) AS ctrl_post,
                   round(m10 / 100.0, 4) AS treat_pre,
                   round(m11 / 100.0, 4) AS treat_post,
                   round(((m11 - m10) - (m01 - m00)) / 100.0, 4) AS did,
                   round(sqrt(se2) / 100.0, 4) AS se,
                   round(((m11 - m10) - (m01 - m00)) / sqrt(se2), 6) AS z
            FROM one
        """,
        "events_contingency": """
            WITH e AS (SELECT event_type, hour(ts) // 6 AS day_quarter
                       FROM events),
            cells AS (SELECT event_type, day_quarter,
                             count(*)::BIGINT AS o
                      FROM e GROUP BY 1, 2),
            rm AS (SELECT event_type, sum(o)::BIGINT AS rn FROM cells
                   GROUP BY 1),
            cm AS (SELECT day_quarter, sum(o)::BIGINT AS cn FROM cells
                   GROUP BY 1),
            t AS (SELECT sum(o)::BIGINT AS nn FROM cells),
            j AS (SELECT event_type, day_quarter, o, rn, cn, nn
                  FROM cells JOIN rm USING (event_type)
                       JOIN cm USING (day_quarter) CROSS JOIN t),
            a AS (SELECT max(nn) AS n,
                         count(DISTINCT event_type)::BIGINT AS r,
                         count(DISTINCT day_quarter)::BIGINT AS c,
                         sum((o::DOUBLE - rn::DOUBLE * cn / nn)
                             * (o::DOUBLE - rn::DOUBLE * cn / nn)
                             / (rn::DOUBLE * cn / nn)) AS chi2,
                         sum((o::DOUBLE / nn)
                             * ln(o::DOUBLE * nn
                                  / (rn::DOUBLE * cn))) AS mi
                  FROM j)
            SELECT n, r, c, (r - 1) * (c - 1) AS dof,
                   round(chi2, 6) AS chi2,
                   round(sqrt(chi2 / (n * least(r - 1, c - 1))), 6)
                     AS cramers_v,
                   round(mi, 6) AS mi_nats
            FROM a
        """,
        "events_conversion_test": """
            WITH u AS (SELECT user_id, date_trunc('day', ts)::DATE AS d,
                              max(CASE WHEN event_type = 'purchase'
                                       THEN 1 ELSE 0 END) AS converted
                       FROM events GROUP BY 1, 2),
            g AS (SELECT (user_id % 2) AS variant, count(*)::BIGINT AS n,
                         sum(converted)::BIGINT AS k
                  FROM u GROUP BY 1),
            p0 AS (SELECT variant, n, k, n::DOUBLE AS nd,
                          k::DOUBLE / n AS ph
                   FROM g),
            p1 AS (SELECT *,
                          1 + 1.959963985 * 1.959963985 / nd AS denom,
                          ph + 1.959963985 * 1.959963985 / (2 * nd)
                            AS cnum,
                          1.959963985
                          * sqrt(ph * (1 - ph) / nd
                                 + 1.959963985 * 1.959963985
                                   / (4 * nd * nd)) AS hnum
                   FROM p0),
            per AS (SELECT variant, n, k, round(ph, 6) AS rate,
                           round(cnum / denom - hnum / denom, 6)
                             AS wilson_lo,
                           round(cnum / denom + hnum / denom, 6)
                             AS wilson_hi
                    FROM p1),
            pair AS (SELECT max(CASE WHEN variant = 0 THEN n END) AS na,
                            max(CASE WHEN variant = 0 THEN k END) AS ka,
                            max(CASE WHEN variant = 1 THEN n END) AS nb,
                            max(CASE WHEN variant = 1 THEN k END) AS kb
                     FROM g),
            ps AS (SELECT na, ka, nb, kb,
                          ((ka + kb)::DOUBLE / (na + nb))
                          * (1 - (ka + kb)::DOUBLE / (na + nb))
                          * (1.0 / na + 1.0 / nb) AS sig2
                   FROM pair),
            pz AS (SELECT round(CASE WHEN sig2 > 0 THEN
                     (ka::DOUBLE / na - kb::DOUBLE / nb) / sqrt(sig2)
                     END, 6) AS pooled_z
                   FROM ps)
            SELECT variant, n, k, rate, wilson_lo, wilson_hi, pooled_z
            FROM per CROSS JOIN pz
        """,
        "events_mann_whitney": """
            WITH u AS (
              SELECT user_id,
                     round(sum(CASE WHEN event_type = 'purchase'
                                    THEN value ELSE 0 END), 2) AS spend
              FROM events GROUP BY user_id),
            r AS (SELECT user_id, spend, (user_id % 2)::INT AS variant,
                         row_number() OVER (ORDER BY spend, user_id) AS rk
                  FROM u),
            g AS (SELECT spend, avg(rk) AS arank, count(*)::BIGINT AS t,
                         sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)::BIGINT
                           AS cnt_a
                  FROM r GROUP BY spend),
            one AS (SELECT sum(arank * cnt_a) AS r_a,
                           sum(cnt_a)::BIGINT AS n_a,
                           sum(t - cnt_a)::BIGINT AS n_b,
                           sum(t * t * t - t)::BIGINT AS ties,
                           sum(t)::BIGINT AS n
                    FROM g)
            SELECT n_a, n_b,
                   round(r_a - n_a::DOUBLE * (n_a::DOUBLE + 1) / 2, 1) AS u_a,
                   round(((r_a - n_a::DOUBLE * (n_a::DOUBLE + 1) / 2)
                          - n_a::DOUBLE * n_b::DOUBLE / 2)
                         / sqrt((n_a::DOUBLE * n_b::DOUBLE / 12)
                                * ((n::DOUBLE + 1)
                                   - ties::DOUBLE
                                     / (n::DOUBLE * (n::DOUBLE - 1)))),
                         6) AS z,
                   round(1.0::DOUBLE
                         - 2 * (r_a - n_a::DOUBLE * (n_a::DOUBLE + 1) / 2)
                           / (n_a::DOUBLE * n_b::DOUBLE), 6) AS rank_biserial
            FROM one
        """,
        "events_runs_test": """
            WITH e AS (SELECT user_id, ts, event_id, value
                       FROM events WHERE user_id < 40),
            med AS (SELECT user_id, median(value) AS med
                    FROM e GROUP BY user_id),
            s AS (SELECT e.user_id, ts, event_id,
                         (value > med)::INT AS sgn
                  FROM e JOIN med USING (user_id) WHERE value <> med),
            r AS (SELECT user_id, sgn,
                         CASE WHEN lag(sgn) OVER w IS NULL
                                   OR sgn <> lag(sgn) OVER w
                              THEN 1 ELSE 0 END AS new_run
                  FROM s
                  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            p AS (SELECT user_id, sum(sgn)::BIGINT AS n1,
                         sum(1 - sgn)::BIGINT AS n2,
                         sum(new_run)::BIGINT AS runs
                  FROM r GROUP BY user_id)
            SELECT user_id, n1, n2, runs,
                   round((runs - (2 * n1::DOUBLE * n2::DOUBLE
                                  / (n1::DOUBLE + n2::DOUBLE) + 1))
                         / sqrt((2 * n1::DOUBLE * n2::DOUBLE
                                 * (2 * n1::DOUBLE * n2::DOUBLE
                                    - (n1::DOUBLE + n2::DOUBLE)))
                                / ((n1::DOUBLE + n2::DOUBLE)
                                   * (n1::DOUBLE + n2::DOUBLE)
                                   * ((n1::DOUBLE + n2::DOUBLE) - 1))), 6)
                     AS z
            FROM p
        """,
        "users_kaplan_meier": f"""
            WITH {_RISK_SET_CTES},
            curve AS (
              SELECT *,
                     max((n_events = n_at_risk)::INT)
                       OVER (PARTITION BY segment ORDER BY t
                             ROWS UNBOUNDED PRECEDING) AS dead,
                     sum(CASE WHEN n_events < n_at_risk
                              THEN ln(1.0::DOUBLE
                                      - n_events::DOUBLE / n_at_risk::DOUBLE)
                              ELSE 0.0::DOUBLE END)
                       OVER (PARTITION BY segment ORDER BY t
                             ROWS UNBOUNDED PRECEDING) AS ls
              FROM staged)
            SELECT segment, t, n_at_risk::BIGINT AS n_at_risk,
                   n_events, n_censored,
                   round(CASE WHEN dead = 1 THEN 0.0::DOUBLE
                              ELSE exp(ls) END, 6) AS survival
            FROM curve
        """,
        "events_dispersion": """
            SELECT event_type,
                   round(var_samp(value), 4) AS variance,
                   round(stddev_samp(value), 6) AS stddev,
                   round(covar_samp(value, epoch(ts) / 86400.0), 6)
                     AS covar_days,
                   round(skewness(value), 5) AS skewness,
                   round(kurtosis(value), 5) AS kurtosis
            FROM events GROUP BY event_type
        """,
        "events_mad_outliers": """
            WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                         FROM events GROUP BY 1),
            d AS (SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
                  FROM events e JOIN med m USING (event_type)),
            m2 AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
                   FROM d GROUP BY 1)
            SELECT d.event_type,
                   round(any_value(d.med), 6) AS med,
                   round(any_value(m2.mad), 6) AS mad,
                   count(*)::BIGINT AS n_rows,
                   sum((d.adev > 3.0 * 1.4826 * m2.mad)::INT)::BIGINT
                     AS n_outliers,
                   round(sum((d.adev > 3.0 * 1.4826 * m2.mad)::INT)::DOUBLE
                         / count(*), 9) AS outlier_frac
            FROM d JOIN m2 USING (event_type)
            GROUP BY d.event_type
        """,
        "events_winsorized": """
            WITH thr AS (
              SELECT event_type,
                     round(quantile_cont(value, 0.05), 6) AS lo,
                     round(quantile_cont(value, 0.95), 6) AS hi
              FROM events GROUP BY 1),
            c AS (SELECT e.event_type,
                         least(greatest(e.value, t.lo), t.hi) AS wv
                  FROM events e JOIN thr t USING (event_type))
            SELECT event_type, count(*)::BIGINT AS n,
                   round(avg(wv), 6) AS wins_mean,
                   round(stddev_samp(wv), 6) AS wins_stddev,
                   round(min(wv), 6) AS wins_min,
                   round(max(wv), 6) AS wins_max
            FROM c GROUP BY 1
        """,
        # same parenthesization on every float expression (see the
        # Spark side) so both engines walk one IEEE evaluation order
        "events_ab_test": """
            WITH users AS (
              SELECT user_id,
                     sum(CASE WHEN event_type = 'purchase' THEN value
                              ELSE 0.0 END) AS spend,
                     max(CASE WHEN event_type = 'purchase' AND value > 150
                              THEN 1 ELSE 0 END) AS converted
              FROM events GROUP BY user_id),
            byv AS (
              SELECT user_id % 2 AS variant,
                     count(*)::BIGINT AS n,
                     avg(spend) AS mean_spend,
                     var_samp(spend) AS var_spend,
                     sum(converted)::BIGINT AS conv
              FROM users GROUP BY user_id % 2),
            one AS (
              SELECT max(CASE WHEN variant = 0 THEN n END) AS n_a,
                     max(CASE WHEN variant = 1 THEN n END) AS n_b,
                     max(CASE WHEN variant = 0 THEN conv END) AS conv_a,
                     max(CASE WHEN variant = 1 THEN conv END) AS conv_b,
                     max(CASE WHEN variant = 0 THEN mean_spend END) AS ma,
                     max(CASE WHEN variant = 1 THEN mean_spend END) AS mb,
                     max(CASE WHEN variant = 0 THEN var_spend END) AS va,
                     max(CASE WHEN variant = 1 THEN var_spend END) AS vb
              FROM byv),
            f AS (
              SELECT *, n_a::DOUBLE AS na, n_b::DOUBLE AS nb,
                     conv_a::DOUBLE AS ca, conv_b::DOUBLE AS cb,
                     va / n_a::DOUBLE + vb / n_b::DOUBLE AS se2
              FROM one)
            SELECT n_a, n_b, conv_a, conv_b,
                   round(ma, 4) AS mean_a,
                   round(mb, 4) AS mean_b,
                   round((ma - mb) / sqrt(se2), 6) AS welch_t,
                   round((se2 * se2) /
                         ((va / na) * (va / na) / (na - 1)
                          + (vb / nb) * (vb / nb) / (nb - 1)), 3)
                     AS welch_dof,
                   round(((na + nb) * (ca * (nb - cb) - (na - ca) * cb)
                          * (ca * (nb - cb) - (na - ca) * cb)) /
                         ((ca + (na - ca)) * (cb + (nb - cb))
                          * (ca + cb) * ((na - ca) + (nb - cb))), 6)
                     AS chi2
            FROM f
        """,
    }
