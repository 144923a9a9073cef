"""Time-series analytics over the events table: autocorrelation,
stationarity, decomposition, spectra, trend and change detection."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from vanus_spark.queries.common import _NORM_SF_SQL, _events, _t


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA smoothing of event values (the anomaly-baseline /
    dashboard primitive Spark lacks natively): bounded-window left
    fold via F.aggregate over the last 32 values, one key shuffle
    total (operators/timeseries.py). alpha = 0.5 -> every fold step is
    exact dyadic arithmetic, so DuckDB's list_reduce over the same
    frame agrees bit-for-bit."""
    from vanus_spark.operators.timeseries import ewma

    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 40)
    out = ewma(ev, "value", "ts", "user_id", "event_id", alpha=0.5, k=32)
    # fixed-point nanos via floor, not round: the dyadic fold can land
    # EXACTLY on a half at the 9th decimal, where Spark and DuckDB
    # round doubles differently; x*1e9 and floor are deterministic
    # IEEE ops, so the engines agree bit-for-bit
    return out.select(
        "user_id",
        "event_id",
        F.floor(F.col("ewma") * 1e9).cast("long").alias("ewma_nanos"),
    )


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed anomaly detection on event rates: hourly event counts
    per type, then each hour's z-score against that type's mean/std
    over the whole month; |z| >= 2 flags the hour. Two partial-agg
    shuffles (hour counts, per-type moments) + one broadcast-size
    join — the standard streaming-ops dashboard query."""
    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"),
        F.col("event_type"),
    ).agg(F.count("*").alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.avg("n").alias("mu"),
        F.stddev_pop("n").alias("sigma"),
    )
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "hour",
            "n",
            F.round(
                (F.col("n") - F.col("mu"))
                / F.greatest(F.col("sigma"), F.lit(1e-9)),
                6,
            ).alias("zscore"),
        )
        .withColumn("is_anomaly", F.abs(F.col("zscore")) >= 2.0)
    )


def q_events_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group trend analytics: OLS slope/intercept + Pearson
    correlation of value against time (days), via the built-in
    regression aggregates — one partial-aggregate shuffle, no window,
    no collect. Cross-engine parity verified at round(6)/round(4)
    (both engines fold the same closed-form moment sums)."""
    ev = _t(spark, sf_dir, "events")
    days = (F.col("ts").cast("double") / 86400.0).alias("days")
    return (
        ev.select("event_type", "value", days)
        .groupBy("event_type")
        .agg(
            F.round(F.expr("regr_slope(value, days)"), 6).alias("slope"),
            F.round(F.expr("regr_intercept(value, days)"), 4).alias(
                "intercept"
            ),
            F.round(F.corr("value", "days"), 6).alias("pearson_r"),
            F.count("*").alias("n"),
        )
    )


def q_events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change detection (operators/timeseries.cusum): the
    sequential-looking recursion max(0, s+d) compiles to two ordered
    per-key prefix windows via s_i = P_i - min(0, min_j P_j) — exact
    full-history statistic, one shuffle, no truncated lookback.
    Parity note: DuckDB evaluates windowed sums with a SEGMENT TREE
    (different association order than Spark's sequential frame fold),
    so prefix sums drift by ~1 ulp; the inputs are 2-decimal values,
    so every true prefix sum sits on the 2-decimal lattice — round(4)
    absorbs the drift, and the alarm threshold is chosen OFF-lattice
    (200.005) so a 1-ulp drift can never flip the comparison."""
    from vanus_spark.operators.timeseries import cusum

    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 40)
    out = cusum(
        ev, "value", "ts", "user_id", "event_id",
        target=55.0, slack=5.0, threshold=200.005,
    )
    return out.select(
        "user_id",
        "event_id",
        F.round(F.col("cusum"), 4).alias("cusum"),
        F.col("cusum_alarm").alias("alarm"),
    )


def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-grid resampling with forward fill
    (operators/timeseries.gapfill): per-user hourly buckets (max value
    per bucket — exact, no float-order sensitivity), spine from the
    user's own min..max hour via sequence+explode, last-non-null carry
    with one per-key ordered window. Oracle re-derives with DuckDB
    generate_series + last_value IGNORE NULLS."""
    from vanus_spark.operators.timeseries import gapfill

    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 20)
    out = gapfill(ev, "ts", "user_id", "value")
    return out.select(
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "value_filled",
        "filled",
    )


def q_events_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal profile per event type: the dow mean, its
    ratio to the type's overall mean (the seasonal index a forecaster
    divides out), and the share of the type's volume landing on that
    dow. Two tiny aggregates joined on the 5-row type key — the
    overall mean comes from the dow AGGREGATE (sum/count re-fold), not
    a second scan, so one shuffle total."""
    ev = _t(spark, sf_dir, "events")
    dow = ev.groupBy(
        "event_type", F.dayofweek("ts").cast("int").alias("dow")
    ).agg(F.count("*").alias("n"), F.sum("value").alias("_s"))
    tot = dow.groupBy("event_type").agg(
        (F.sum("_s") / F.sum("n")).alias("_mean_all"),
        F.sum("n").alias("_n_all"),
    )
    return (
        dow.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "dow",
            "n",
            F.round(F.col("_s") / F.col("n"), 6).alias("dow_mean"),
            F.round(
                (F.col("_s") / F.col("n")) / F.col("_mean_all"), 6
            ).alias("seasonal_index"),
            F.round(
                F.col("n").cast("double") / F.col("_n_all"), 6
            ).alias("volume_share"),
        )
    )


def q_events_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation onto the dense hourly grid
    (operators/timeseries.interpolate_linear) — gapfill's sibling for
    trend-faithful resampling: missing buckets get
    pv + (nv - pv) * (t - pt)/(nt - pt) between the neighboring
    observations. The spine is per-key min..max so every gap has both
    neighbors; the fraction is a ratio of integer second offsets and
    the blend a single IEEE expression, restated verbatim by the
    DuckDB oracle. Deliberately UNROUNDED: the doubles are
    bit-identical (same ops, same order), while round(6) actually
    DIVERGED on the fixture — blends of 2-decimal values and dyadic
    fractions land exactly on .5e-6 boundaries, where Spark rounds
    HALF_UP and DuckDB half-even (the known halfway-double trap)."""
    from vanus_spark.operators.timeseries import interpolate_linear

    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 20)
    out = interpolate_linear(ev, "ts", "user_id", "value")
    return out.select(
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "value_interp",
        "filled",
    )


def q_events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-shift changepoint per event type
    (operators/timeseries.changepoint_binary): the daily event-count
    series is split at the position maximizing the scaled mean-shift
    statistic |mean_l - mean_r| * sqrt(i*(n-i)/n) — binary
    segmentation's first cut, the anomaly primitive next to CUSUM.
    Exact integer daily counts feed a fixed-order double statistic;
    the oracle restates the cumulative-sum windows and the
    (round(stat,9) DESC, day) argmax."""
    from vanus_spark.operators.timeseries import changepoint_binary

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("key"),
            F.to_date("ts").alias("t"),
        )
        .agg(F.count("*").cast("double").alias("v"))
    )
    out = changepoint_binary(daily)
    return out.select(
        F.col("key").alias("event_type"),
        F.col("split_t").cast("string").alias("split_day"),
        "n_points",
        "stat",
        "mean_left",
        "mean_right",
    )


def q_events_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per user: the MEDIAN of all pairwise
    slopes (value diff / time diff) — the estimator that shrugs off
    the outliers that swing q_events_trend's OLS slope. The pair join
    is per-user (key-partitioned, quadratic only in each user's own
    event count — bounded by the per-entity event volume, the same
    bound sessionization already assumes); median is the exact
    built-in on both engines. Equal-timestamp pairs are excluded
    (undefined slope)."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id") < 40)
        .select(
            "user_id",
            "event_id",
            # whole seconds on both engines (floor(epoch) twin) — the
            # sub-second residue differs between Spark's µs-truncated
            # load and DuckDB's ns timestamps
            F.floor(F.col("ts").cast("double")).cast("double").alias("secs"),
            "value",
        )
    )
    from vanus_spark.operators.timeseries import theil_sen

    return theil_sen(ev, "value", "secs", "user_id", "event_id")


def q_events_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between the daily 'view' and
    'purchase' count series at lags 0..7 — the lead/lag diagnostic
    ("do views predict purchases k days out?") run before building
    any transfer model. One daily partial-agg shuffle over the data;
    the lag alignment is an equi-join of the #days-row series against
    itself shifted (date_add with the exploded lag — never a theta
    join), and each lag's Pearson corr folds from exact integer
    counts. Everything after the first aggregate runs on #days x 8
    rows."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("d"), "event_type"
    ).agg(F.count("*").alias("n"))
    x = daily.where(F.col("event_type") == "view").select(
        F.col("d").alias("xd"), F.col("n").alias("xn")
    )
    y = daily.where(F.col("event_type") == "purchase").select(
        F.col("d").alias("yd"), F.col("n").alias("yn")
    )
    lagged = x.select(
        "xd", "xn", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("lag")
    )
    j = lagged.join(y, F.date_add(F.col("xd"), F.col("lag")) == F.col("yd"))
    return j.groupBy("lag").agg(
        F.count("*").alias("n_days"),
        F.round(F.corr("xn", "yn"), 6).alias("ccf"),
    )


def q_events_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test per event type over the
    daily value series (operators/timeseries.mann_kendall) — the
    nonparametric drift check run next to theil_sen's robust slope:
    exact-integer S and tie-corrected variance, continuity-corrected
    z. Daily cents collapse first (one shuffle); the pair join runs
    over the 30-row-per-type series table only."""
    from vanus_spark.operators.timeseries import mann_kendall

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents")
    )
    return mann_kendall(daily, "event_type", "day", "cents").orderBy(
        "event_type"
    )


def q_events_stl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily spend
    series per event type (operators/timeseries.decompose_additive):
    trend = centered 7-day moving average over the EXACT integer
    cents (one int division, no float-order sensitivity), seasonal =
    per-dow mean of the detrended series re-centered to zero with
    equal phase weight, residual = remainder — the
    trend/seasonal/residual split a forecaster inspects before
    picking a model (q_events_seasonality gives the dow profile;
    this decomposes the series itself). One daily collapse; all
    windows run on the 30-row-per-type daily table."""
    from vanus_spark.operators.timeseries import decompose_additive

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents")
    )
    out = decompose_additive(daily, "event_type", "day", "cents")
    return out.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "value",
        "trend",
        "seasonal",
        "residual",
    ).orderBy("event_type", "day")


def q_events_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak detection on the daily spend series per event type: a day
    is a peak when it strictly exceeds both neighbors; relief = how
    far it stands above the higher neighbor (the alert-worthiness an
    ops dashboard thresholds on). Exact integer cents end to end —
    one daily collapse, one lag/lead window over the bounded daily
    table, comparisons in the integer domain."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    prev, nxt = F.lag("cents").over(w), F.lead("cents").over(w)
    staged = daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cents",
        prev.alias("_prev"),
        nxt.alias("_next"),
    )
    relief = F.col("cents") - F.greatest("_prev", "_next")
    return (
        staged.where(
            F.col("_prev").isNotNull()
            & F.col("_next").isNotNull()
            & (F.col("cents") > F.col("_prev"))
            & (F.col("cents") > F.col("_next"))
        )
        .select(
            "event_type",
            "day",
            "cents",
            relief.alias("relief_cents"),
            F.round(
                relief.cast("double") / F.col("cents"), 6
            ).alias("relief_ratio"),
        )
        .orderBy("event_type", "day")
    )


def q_events_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent via classical rescaled-range (R/S) analysis per
    event type: the daily cents series splits into full blocks of
    size 5/10/15, each block's R (range of cumulative deviations) and
    S (population std) derive from EXACT integer sums — the
    cumulative deviation is kept as the integer A_t = cum_t*n - t*sum
    so max/min are order-free — then H = slope of ln(mean R/S) on
    ln(n). H ~ 0.5 is a memoryless series; H >> 0.5 flags long-range
    dependence (trending load), H << 0.5 mean reversion — the
    long-memory diagnostic next to q_events_mann_kendall's trend
    test. One daily collapse; everything else runs on the bounded
    daily x 3-sizes table."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents")
    )
    w_day = Window.partitionBy("event_type").orderBy("day")
    idx = daily.select(
        "event_type",
        "cents",
        (F.row_number().over(w_day) - 1).alias("_rn"),
    )
    sizes = spark.createDataFrame([(5,), (10,), (15,)], "size long")
    tagged = idx.crossJoin(F.broadcast(sizes)).select(
        "event_type",
        "size",
        "cents",
        "_rn",
        (F.col("_rn") / F.col("size")).cast("long").alias("_blk"),
        (F.col("_rn") % F.col("size") + 1).alias("_t"),
    )
    w_blk = Window.partitionBy("event_type", "size", "_blk")
    w_run = w_blk.orderBy("_rn").rowsBetween(Window.unboundedPreceding, 0)
    staged = tagged.select(
        "event_type",
        "size",
        "_blk",
        F.count("*").over(w_blk).alias("_n"),
        F.sum("cents").over(w_blk).alias("_sy"),
        F.sum(F.col("cents") * F.col("cents")).over(w_blk).alias("_syy"),
        (
            F.sum("cents").over(w_run) * F.col("size")
            - F.col("_t") * F.sum("cents").over(w_blk)
        ).alias("_a"),
    ).where(F.col("_n") == F.col("size"))
    blocks = staged.groupBy("event_type", "size", "_blk").agg(
        F.max("_a").alias("_amax"),
        F.min("_a").alias("_amin"),
        F.max("_sy").alias("_sy"),
        F.max("_syy").alias("_syy"),
    )
    n = F.col("size").cast("double")
    r_stat = (F.col("_amax") - F.col("_amin")).cast("double") / F.col(
        "size"
    )
    s2 = (
        F.col("_syy").cast("double")
        - F.col("_sy") * (F.col("_sy").cast("double") / n)
    ) / n
    rs = blocks.where(s2 > 0).select(
        "event_type", "size", (r_stat / F.sqrt(s2)).alias("_rs")
    )
    per_size = rs.groupBy("event_type", "size").agg(
        F.avg("_rs").alias("_rsbar")
    )
    return (
        per_size.groupBy("event_type")
        .agg(
            F.count("*").alias("n_sizes"),
            F.round(
                F.expr("regr_slope(ln(_rsbar), ln(size))"), 6
            ).alias("hurst"),
        )
        .orderBy("event_type")
    )


def q_events_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson autocorrelation test on the seasonal-
    decomposition residuals (operators/timeseries.decompose_additive)
    per event type: DW = sum((e_t - e_(t-1))^2) / sum(e_t^2) over the
    trend-window-complete days — the model-adequacy readout run AFTER
    q_events_stl (DW ~ 2 means the decomposition left white noise;
    DW << 2 means structure remains and the forecaster needs a richer
    model). All windows run on the bounded daily table; rho ~
    1 - DW/2 reported alongside."""
    from vanus_spark.operators.timeseries import decompose_additive

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents")
    )
    dec = decompose_additive(daily, "event_type", "day", "cents")
    res = dec.where(F.col("residual").isNotNull()).select(
        "event_type", "day", F.col("residual").alias("_e")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    staged = res.select(
        "event_type", "_e", F.lag("_e").over(w).alias("_ep")
    )
    # rho derives from the RAW ratio, not the rounded dw: dw/2 of a
    # 6-decimal dw always terminates at the 7th decimal, so rounding
    # it again lands exactly on the .5 boundary whenever that digit
    # is odd — a systematic cross-engine coin flip (caught by the
    # oracle on first run)
    return (
        staged.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(
                    F.when(
                        F.col("_ep").isNotNull(),
                        (F.col("_e") - F.col("_ep"))
                        * (F.col("_e") - F.col("_ep")),
                    )
                )
                / F.sum(F.col("_e") * F.col("_e"))
            ).alias("_dw"),
        )
        .select(
            "event_type",
            "n",
            F.round("_dw", 6).alias("dw"),
            F.round(1.0 - F.col("_dw") / 2.0, 6).alias("rho_approx"),
        )
        .orderBy("event_type")
    )


def q_events_anomaly_stl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-adjusted anomaly detection: days whose DECOMPOSITION
    residual (operators/timeseries.decompose_additive) deviates more
    than 2 robust sigmas from the type's residual median — the
    upgrade over raw z-scores (q_events_anomaly) that stops flagging
    ordinary weekly peaks. Median and MAD come from explicit
    middle-rank formulas over the bounded residual table ((r_lo +
    r_hi) / 2 written identically in both engines — engine-native
    median() interpolates with different float expressions), robust
    sigma = 1.4826 * MAD. Output: the flagged (type, day) rows with
    their robust z."""
    from vanus_spark.operators.timeseries import decompose_additive

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents")
    )
    res = (
        decompose_additive(daily, "event_type", "day", "cents")
        .where(F.col("residual").isNotNull())
        .select("event_type", "day", F.col("residual").alias("_e"))
    )

    def middle_two(df: DataFrame, val: str, out: str) -> DataFrame:
        w_ord = Window.partitionBy("event_type").orderBy(val, "day")
        w_all = Window.partitionBy("event_type")
        ranked = df.select(
            "event_type",
            "day",
            F.col(val).alias("_v"),
            F.row_number().over(w_ord).alias("_rn"),
            F.count("*").over(w_all).alias("_n"),
        )
        lo = (F.col("_n") + 1) / 2
        hi = (F.col("_n") + 2) / 2
        picked = ranked.where(
            (F.col("_rn") == F.floor(lo)) | (F.col("_rn") == F.floor(hi))
        )
        return picked.groupBy("event_type").agg(
            ((F.min("_v") + F.max("_v")) / 2.0).alias(out)
        )

    med = middle_two(res, "_e", "_med")
    dev = res.join(med, "event_type").select(
        "event_type",
        "day",
        "_e",
        "_med",
        F.abs(F.col("_e") - F.col("_med")).alias("_ad"),
    )
    mad = middle_two(
        dev.select("event_type", "day", F.col("_ad").alias("_e")),
        "_e",
        "_mad",
    )
    j = dev.join(mad, "event_type")
    sigma = 1.4826 * F.col("_mad")
    rz = (F.col("_e") - F.col("_med")) / sigma
    return (
        j.where(F.abs(F.col("_e") - F.col("_med")) > 2.0 * sigma)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round("_e", 6).alias("residual"),
            F.round(rz, 6).alias("robust_z"),
        )
        .orderBy("event_type", "day")
    )


def q_events_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user maximum drawdown of the cumulative signed-value curve
    (operators/timeseries.max_drawdown): purchases/views/etc add,
    errors subtract — "how far below its own high-water mark did the
    user's cumulative contribution fall". One key-partitioned window
    (running sum + running max share the frame) and one map-side
    combined aggregate; every number stays on the exact BIGINT cents
    lattice so both engines walk identical integers."""
    from vanus_spark.operators.timeseries import max_drawdown

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        (
            F.expr("CAST(round(value * 100) AS BIGINT)")
            * F.when(F.col("event_type") == "error", -1).otherwise(1)
        ).alias("cents"),
    )
    out = max_drawdown(ev, "cents", "ts", "user_id", "event_id")
    return out.orderBy("user_id")


def q_events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1..7) of each event type's daily
    cents series (operators/timeseries.acf_exact) — the memory /
    weekly-seasonality diagnostic behind lag selection. The raw table
    collapses once to #types x #days rows; ONE window computes all 7
    lag columns and one aggregate emits a #types-row result. Every
    moment is an exact BIGINT; each r_k assembles from them in one
    fixed scalar expression shared with the oracle."""
    from vanus_spark.operators.timeseries import acf_exact

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents")
    )
    out = acf_exact(daily, "event_type", "day", "cents", 7)
    return out.orderBy("event_type")


def q_events_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box white-noise test per event type over the daily cents
    series (operators/timeseries.ljung_box, h=5): Q = n(n+2) *
    sum r_k^2/(n-k) on the exact-integer ACF, chi-square(5) tail via
    the Wilson-Hilferty cube-root normal approximation feeding the
    shared A&S normal-tail polynomial. Same one-collapse scale shape
    as q_events_acf; the portmanteau rollup runs on #types rows."""
    from vanus_spark.operators.timeseries import ljung_box

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents")
    )
    out = ljung_box(daily, "event_type", "day", "cents", 5)
    return out.orderBy("event_type")


def q_events_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation (lags 1-3) of each event type's daily
    cents series: the Durbin-Levinson recursion unrolled to closed
    form over the ROUNDED exact-integer ACF
    (operators/timeseries.acf_exact) — phi11 = r1, phi22 =
    (r2 - r1^2)/(1 - r1^2), phi33 from the order-2 coefficients. The
    AR-order diagnostic next to q_events_acf; same one-collapse scale
    shape, and the unroll is a fixed scalar expression shared with
    the oracle character for character."""
    from vanus_spark.operators.timeseries import acf_exact

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents")
    )
    acf = acf_exact(daily, "event_type", "day", "cents", 3)
    r1, r2, r3 = F.col("acf_1"), F.col("acf_2"), F.col("acf_3")
    phi22 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    phi21 = r1 - phi22 * r1
    phi33 = (r3 - phi21 * r2 - phi22 * r1) / (
        1.0 - phi21 * r1 - phi22 * r2
    )
    return acf.select(
        "event_type",
        "n_days",
        F.round(r1, 6).alias("pacf_1"),
        F.round(phi22, 6).alias("pacf_2"),
        F.round(phi33, 6).alias("pacf_3"),
    ).orderBy("event_type")


_MARKOV_STATES = ["click", "error", "purchase", "signup", "view"]


def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type transition chain
    (operators/markov.stationary_distribution): where user flow
    equilibrates if the observed bigram dynamics ran forever — the
    long-run complement of q_events_transitions' one-step matrix. ONE
    lag window + ONE map-side combined bigram count are the only
    passes over the data; the 5x5 matrix collects to the driver
    (bounded by the type alphabet) and the 50 power-iteration sweeps
    run in frozen IEEE order, replayed identically by the oracle's
    recursive CTE. The `residual` column (max_j |pi50_j - pi49_j|,
    r9-verdict #4) makes non-convergence — e.g. a periodic chain,
    where the fixed sweeps oscillate forever — observable instead of
    silently returning the sweep-50 iterate; 0.0 means converged."""
    from vanus_spark.operators.markov import stationary_distribution

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .where(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    pi, residual = stationary_distribution(
        [(r["src"], r["dst"], r["n"]) for r in pairs],
        _MARKOV_STATES,
        with_residual=True,
    )
    out = spark.createDataFrame(
        [(s, p, residual) for s, p in pi],
        "state string, pi double, residual double",
    )
    return out.select(
        "state",
        F.round("pi", 9).alias("pi"),
        F.round("residual", 9).alias("residual"),
    ).orderBy("state")


def q_events_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization of each event type's daily cents series
    (Lin/Keogh): PAA over 3-day buckets (exact integer sums divided
    once), z-scored against the type's own daily moments (all exact
    BIGINTs until the final ratios), then mapped to a 4-letter
    alphabet at the N(0,1) quartile breakpoints +-0.6745 / 0 — the
    shape-index primitive behind motif mining and cheap whole-series
    similarity. One daily collapse + one bucket aggregate; the SAX
    word assembles with an order-pinned fold over #buckets rows."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"),
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("dnum"),
    ).agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents")
    )
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("_n"),
        F.sum("cents").alias("_s"),
        F.sum(F.col("cents") * F.col("cents")).alias("_ss"),
    )
    paa = daily.groupBy(
        "event_type", F.expr("dnum DIV 3").alias("bucket")
    ).agg(
        (
            F.sum("cents").cast("double")
            / F.count("*").cast("double")
        ).alias("paa")
    )
    nd = F.col("_n").cast("double")
    mu = F.col("_s").cast("double") / nd
    sigma = F.sqrt(
        (F.col("_ss").cast("double") - nd * mu * mu) / (nd - 1.0)
    )
    z = (F.col("paa") - mu) / sigma
    sym = (
        F.when(z < -0.6745, "a")
        .when(z < 0.0, "b")
        .when(z < 0.6745, "c")
        .otherwise("d")
    )
    staged = paa.join(F.broadcast(stats), "event_type").select(
        "event_type", "bucket", sym.alias("sym")
    )
    return (
        staged.groupBy("event_type")
        .agg(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list("
                    "struct(bucket, sym))), x -> x.sym)"
                ),
                "",
            ).alias("sax"),
            F.sum((F.col("sym") == "a").cast("long")).alias("n_a"),
            F.sum((F.col("sym") == "b").cast("long")).alias("n_b"),
            F.sum((F.col("sym") == "c").cast("long")).alias("n_c"),
            F.sum((F.col("sym") == "d").cast("long")).alias("n_d"),
        )
        .orderBy("event_type")
    )


def q_events_adf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test per event type on the daily cents
    series ("is this KPI mean-reverting or a random walk?" — the
    stationarity gate before any ARIMA-style forecast): regress
    delta_y on lagged y with the closed-form OLS from exact-BIGINT
    moments (centered sums formed in doubles only at the final step,
    so the quadratic lattice never overflows), t = beta / se, flagged
    against the 5% asymptotic critical value -2.89. One collapse +
    one lag window + one moment aggregate."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    pairs = daily.select(
        "event_type",
        (F.col("y") - F.lag("y").over(w)).alias("d"),
        F.lag("y").over(w).alias("x"),
    ).where(F.col("x").isNotNull())
    g = pairs.groupBy("event_type").agg(
        F.count("*").alias("_n"),
        F.sum("x").alias("_sx"),
        F.sum("d").alias("_sd"),
        F.sum(F.col("x") * F.col("d")).alias("_sxd"),
        F.sum(F.col("x") * F.col("x")).alias("_sxx"),
        F.sum(F.col("d") * F.col("d")).alias("_sdd"),
    )
    n = F.col("_n").cast("double")
    xb = F.col("_sx").cast("double") / n
    db = F.col("_sd").cast("double") / n
    sxx = F.col("_sxx").cast("double") - n * xb * xb
    sxd = F.col("_sxd").cast("double") - n * xb * db
    sdd = F.col("_sdd").cast("double") - n * db * db
    # a constant lagged series gives Sxx = 0 -> the regression is
    # undefined; NULL explicitly on both engines
    beta = F.when(sxx > 0, sxd / sxx)
    ssr = sdd - beta * sxd
    se = F.sqrt((ssr / (n - 2.0)) / sxx)
    t = beta / se
    return g.select(
        "event_type",
        F.col("_n").alias("n_diffs"),
        F.round(beta, 6).alias("beta"),
        F.round(t, 6).alias("df_t"),
        (t < -2.89).alias("stationary_5pct"),
    ).orderBy("event_type")


def q_events_spc_xbar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-bar / R statistical process control chart over weekly
    subgroups of daily event cents per type — the Shewhart monitor a
    pipeline runs on its own volume: weekly mean outside
    xbarbar +/- A2*rbar or weekly range outside [D3*rbar, D4*rbar]
    flags a special cause. Weeks are fixed 7-day epochs
    (epoch_days DIV 7 — integer math, no engine week conventions) and
    only complete 7-day subgroups enter (so the tabulated n=7
    constants A2=0.419, D3=0.076, D4=1.924 apply uniformly). All
    centerlines derive from exact BIGINT sums — the one double
    expression per limit is identical on both engines. Two map-side
    combined aggregates (day, then week) + one #types-row broadcast."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("_day"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("_c"))
    weekly = (
        daily.select(
            "event_type",
            F.expr(
                "CAST(datediff(_day, DATE '1970-01-01') DIV 7 AS BIGINT)"
            ).alias("week"),
            "_c",
        )
        .groupBy("event_type", "week")
        .agg(
            F.count("*").alias("_nd"),
            F.sum("_c").alias("_ws"),
            F.max("_c").alias("_mx"),
            F.min("_c").alias("_mn"),
        )
        .where(F.col("_nd") == 7)
    )
    per_type = weekly.groupBy("event_type").agg(
        F.count("*").alias("_kw"),
        F.sum("_ws").alias("_tws"),
        F.sum(F.col("_mx") - F.col("_mn")).alias("_tr"),
    )
    j = weekly.join(F.broadcast(per_type), "event_type")
    xbarbar = F.col("_tws").cast("double") / (
        7.0 * F.col("_kw").cast("double")
    )
    rbar = F.col("_tr").cast("double") / F.col("_kw").cast("double")
    mean_w = F.col("_ws").cast("double") / 7.0
    rng_w = (F.col("_mx") - F.col("_mn")).cast("double")
    ucl_x = xbarbar + 0.419 * rbar
    lcl_x = xbarbar - 0.419 * rbar
    ucl_r = 1.924 * rbar
    lcl_r = 0.076 * rbar
    return j.select(
        "event_type",
        "week",
        F.round(mean_w, 6).alias("week_mean_cents"),
        F.round(rng_w, 6).alias("week_range_cents"),
        F.round(ucl_x, 6).alias("ucl_x"),
        F.round(lcl_x, 6).alias("lcl_x"),
        ((mean_w > ucl_x) | (mean_w < lcl_x)).alias("ooc_mean"),
        ((rng_w > ucl_r) | (rng_w < lcl_r)).alias("ooc_range"),
    ).orderBy("event_type", "week")


def q_events_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift detection over per-type daily volume — the
    sequential mean-shift monitor a pipeline runs on its own intake
    (the PH test of Page 1954 / Hinkley 1971; the drift detector in
    Gama et al.'s DDM family). Two-pass retrospective form so the
    whole statistic stays EXACT-integer (the streaming running-mean
    form needs per-row rationals): with mu = S/n the global mean,
    m_t = sum_{i<=t}(x_i - mu - delta) scales by n to
    M_t = n*P_t - t*S - t*n*delta_c — all BIGINT products widened to
    decimal/HUGEINT. PH_t = (M_t - min_{i<=t} M_i) / (100*n) and the
    alarm threshold sits OFF the 1/(100n) value lattice so a 1-ulp
    divide drift can never flip it. One daily aggregate + one
    broadcast 1-row-per-type total + two prefix windows."""
    ev = _t(spark, sf_dir, "events")
    delta_c = 2500  # slack: 25.00 per day
    lam = 2000.0005  # alarm threshold, off-lattice (fires for 3/5 types at sf0.01)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("_day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("_c"))
    tot = daily.groupBy("event_type").agg(
        F.count("*").alias("_n"), F.sum("_c").alias("_s")
    )
    wo = Window.partitionBy("event_type").orderBy("_day")
    wp = wo.rowsBetween(Window.unboundedPreceding, 0)
    staged = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "_day",
        "_n",
        (
            F.col("_n").cast("decimal(38,0)")
            * F.sum("_c").over(wp)
            - F.row_number().over(wo).cast("decimal(38,0)")
            * (F.col("_s") + F.col("_n") * F.lit(delta_c))
        ).alias("_m"),
    )
    ph = (
        (F.col("_m") - F.min("_m").over(wp)).cast("double")
        / (100.0 * F.col("_n").cast("double"))
    )
    return staged.select(
        "event_type",
        F.date_format("_day", "yyyy-MM-dd").alias("day"),
        F.round(ph, 6).alias("ph"),
        (ph > lam).alias("drift"),
    ).orderBy("event_type", "day")


def q_events_kpss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity test (Kwiatkowski et al. 1992) on the
    daily revenue series per event type — the null-reversed
    complement of q_events_adf (ADF null = unit root, KPSS null =
    stationary; agreement between the two is the textbook
    stationarity confirmation). eta = n^-2 sum_t S_t^2 / sigma2_lr
    where S_t are partial sums of the demeaned series and sigma2_lr
    is the Newey-West long-run variance with Bartlett weights at
    bandwidth q = floor(4 (n/100)^(1/4)). Series in DOLLARS (not
    cents) so every rounded output carries ~1e-10 summation-order
    noise, far under 6 dp. The mean is exact (one BIGINT cents sum);
    partial sums accumulate through an ordered window (deterministic
    fold on both engines); the lag autocovariances come from one
    bounded self-join (t - t' in 1..q over a ~30-row daily table per
    type — never a corpus-sized shuffle). 5% critical value 0.463."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")
    )
    tot = daily.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("c").alias("s")
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    base = (
        daily.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "n",
            F.row_number().over(wd).alias("t"),
            (
                (
                    F.col("c").cast("double")
                    - F.col("s").cast("double")
                    / F.col("n").cast("double")
                )
                / 100.0
            ).alias("e"),
        )
        .withColumn(
            "q",
            F.floor(
                4.0
                * F.pow(F.col("n").cast("double") / 100.0, 0.25)
            ).cast("long"),
        )
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.withColumn("st", F.sum("e").over(wcum))
    g0 = cum.groupBy("event_type").agg(
        F.min("n").alias("n_days"),
        F.min("q").alias("bandwidth"),
        F.sum(F.col("e") * F.col("e")).alias("g0s"),
        F.sum(F.col("st") * F.col("st")).alias("ss"),
    )
    a = base.select(
        "event_type", "q", F.col("t").alias("ta"), F.col("e").alias("ea")
    )
    b = base.select(
        "event_type", F.col("t").alias("tb"), F.col("e").alias("eb")
    )
    gl = (
        a.join(b, "event_type")
        .where(
            (F.col("ta") - F.col("tb") >= 1)
            & (F.col("ta") - F.col("tb") <= F.col("q"))
        )
        .groupBy("event_type", (F.col("ta") - F.col("tb")).alias("l"))
        .agg(F.sum(F.col("ea") * F.col("eb")).alias("gls"))
    )
    nw = (
        gl.join(
            F.broadcast(g0.select("event_type", "n_days", "bandwidth")),
            "event_type",
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                (
                    1.0
                    - F.col("l").cast("double")
                    / (F.col("bandwidth").cast("double") + 1.0)
                )
                * F.col("gls")
            ).alias("nws")
        )
    )
    j = g0.join(nw, "event_type", "left")
    nd = F.col("n_days").cast("double")
    sigma2 = (F.col("g0s") + 2.0 * F.coalesce("nws", F.lit(0.0))) / nd
    eta = (F.col("ss") / (nd * nd)) / sigma2
    return j.select(
        "event_type",
        "n_days",
        "bandwidth",
        F.round(sigma2, 6).alias("sigma2_lr"),
        F.round(eta, 6).alias("kpss_eta"),
        (eta <= 0.463).alias("stationary_5pct"),
    ).orderBy("event_type")


def q_events_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-Fourier periodogram over candidate seasonal periods
    (2..15 days) of the demeaned daily revenue series per event type
    — the frequency-domain seasonality readout that complements
    q_events_seasonality's time-domain decomposition (it does not
    presuppose the weekly period; it ranks all of them). For period
    P: a_P = sum_t e_t cos(2 pi t / P), b_P = the sine sum, and the
    output is each period's share of total candidate power
    (a^2+b^2 normalized to sum 1 per type) — a scale-free quantity
    stable to trig-library ulps. One broadcast cross of the ~30-row
    daily table per type with the 14-row period panel; never a
    shuffle wider than types x periods."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")
    )
    tot = daily.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("c").alias("s")
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    base = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        (F.row_number().over(wd) - 1).alias("t"),
        (
            (
                F.col("c").cast("double")
                - F.col("s").cast("double") / F.col("n").cast("double")
            )
            / 100.0
        ).alias("e"),
    )
    periods = spark.createDataFrame(
        [(p,) for p in range(2, 16)], "period long"
    )
    ang = (
        F.lit(6.283185307179586)
        * F.col("t").cast("double")
        / F.col("period").cast("double")
    )
    pw = base.crossJoin(F.broadcast(periods)).groupBy(
        "event_type", "period"
    ).agg(
        F.sum(F.col("e") * F.cos(ang)).alias("a"),
        F.sum(F.col("e") * F.sin(ang)).alias("b"),
    )
    pw = pw.select(
        "event_type",
        "period",
        (F.col("a") * F.col("a") + F.col("b") * F.col("b")).alias(
            "p2"
        ),
    )
    wtot = Window.partitionBy("event_type")
    return pw.select(
        "event_type",
        "period",
        F.round(
            F.col("p2") / F.sum("p2").over(wtot), 6
        ).alias("power_frac"),
    ).orderBy("event_type", "period")


def q_events_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate Granger non-causality test between the daily
    purchase and signup count series, both directions at lag 1:
    restricted OLS y_t ~ [1, y_{t-1}] vs unrestricted y_t ~ [1,
    y_{t-1}, x_{t-1}], LM statistic n (RSS_r - RSS_u) / RSS_r with
    the asymptotic chi-square(1) p-value 2 Phi(-sqrt(LM)) (the
    shared Abramowitz-Stegun tail — no F-table needed), F reported
    alongside. Every normal-equation moment (n S_uu - S_u S_u, ...)
    is an EXACT decimal(38,0) integer because daily counts are
    integers (HUGEINT in the oracle); the closed-form 2-regressor
    solve then runs in doubles with identical expression text on
    both engines. Lags come from one ordered window over the ~30-row
    wide daily table; the whole test is two 1-row aggregates."""
    from vanus_spark.operators.hyptests import norm_sf

    ev = _t(spark, sf_dir, "events")
    wide = (
        ev.where(F.col("event_type").isin("purchase", "signup"))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                (F.col("event_type") == "purchase").cast("long")
            ).alias("p_cnt"),
            F.sum(
                (F.col("event_type") == "signup").cast("long")
            ).alias("s_cnt"),
        )
    )
    d1 = wide.select(
        F.lit("purchase->signup").alias("direction"),
        "day",
        F.col("s_cnt").alias("y"),
        F.col("p_cnt").alias("x"),
    )
    d2 = wide.select(
        F.lit("signup->purchase").alias("direction"),
        "day",
        F.col("p_cnt").alias("y"),
        F.col("s_cnt").alias("x"),
    )
    wl = Window.partitionBy("direction").orderBy("day")
    lagged = (
        d1.unionByName(d2)
        .select(
            "direction",
            F.col("y").alias("z"),
            F.lag("y").over(wl).alias("u"),
            F.lag("x").over(wl).alias("v"),
        )
        .where(F.col("u").isNotNull())
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    sums = lagged.groupBy("direction").agg(
        F.count("*").alias("n"),
        F.sum(dec("u")).alias("su"),
        F.sum(dec("v")).alias("sv"),
        F.sum(dec("z")).alias("sz"),
        F.sum(dec("u") * dec("u")).alias("suu"),
        F.sum(dec("v") * dec("v")).alias("svv"),
        F.sum(dec("u") * dec("v")).alias("suv"),
        F.sum(dec("u") * dec("z")).alias("suz"),
        F.sum(dec("v") * dec("z")).alias("svz"),
        F.sum(dec("z") * dec("z")).alias("szz"),
    )
    nn = dec("n")
    am = sums.select(
        "direction",
        "n",
        (nn * F.col("suu") - F.col("su") * F.col("su"))
        .cast("double")
        .alias("auu"),
        (nn * F.col("svv") - F.col("sv") * F.col("sv"))
        .cast("double")
        .alias("avv"),
        (nn * F.col("suv") - F.col("su") * F.col("sv"))
        .cast("double")
        .alias("auv"),
        (nn * F.col("suz") - F.col("su") * F.col("sz"))
        .cast("double")
        .alias("auz"),
        (nn * F.col("svz") - F.col("sv") * F.col("sz"))
        .cast("double")
        .alias("avz"),
        (nn * F.col("szz") - F.col("sz") * F.col("sz"))
        .cast("double")
        .alias("azz"),
    )
    det = F.col("auu") * F.col("avv") - F.col("auv") * F.col("auv")
    rss_r = F.col("azz") - F.col("auz") * F.col("auz") / F.col("auu")
    ess_u = (
        F.col("auz") * F.col("auz") * F.col("avv")
        - 2.0 * F.col("auz") * F.col("avz") * F.col("auv")
        + F.col("avz") * F.col("avz") * F.col("auu")
    ) / det
    rss_u = F.col("azz") - ess_u
    nd = F.col("n").cast("double")
    lm = F.greatest(
        nd * (rss_r - rss_u) / rss_r, F.lit(0.0)
    )
    fstat = F.greatest(
        (rss_r - rss_u) * (nd - 3.0) / rss_u, F.lit(0.0)
    )
    return am.select(
        "direction",
        "n",
        F.round(fstat, 6).alias("f_stat"),
        F.round(lm, 6).alias("lm_stat"),
        F.round(2.0 * norm_sf(F.sqrt(lm)), 6).alias("p_value"),
    ).orderBy("direction")


def q_events_trend_hac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-revenue trend per event type with Newey-West HAC
    standard errors (Newey & West 1987; Bartlett kernel, q = 2) —
    the honest version of q_events_trend's OLS slope: autocorrelated
    daily residuals make the OLS SE overconfident, and the
    se_hac/se_ols inflation ratio is the readout that says by how
    much. The time regressor is centered EXACTLY via xs = 2t - n - 1
    (twice the centered index, an integer), so slope =
    2 sum(xs y) / sum(xs^2) folds from exact decimal sums; residuals
    and the lag-l g_t g_{t-l} products (g = x e) run in doubles
    through two lag windows over the ~30-row daily table. One daily
    rollup + one window pass + one aggregate per type."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")
    )
    tot = daily.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("c").alias("s")
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    base = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "n",
        "s",
        "c",
        (2 * F.row_number().over(wd) - F.col("n") - 1).alias("xs"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mom = base.groupBy("event_type").agg(
        F.min("n").alias("n_days"),
        F.min("s").alias("s"),
        F.sum(dec("xs") * dec("c")).alias("sxy2"),
        F.sum(dec("xs") * dec("xs")).alias("sxx4"),
    )
    beta = (
        2.0
        * F.col("sxy2").cast("double")
        / F.col("sxx4").cast("double")
    )
    withb = base.join(
        F.broadcast(
            mom.select(
                "event_type",
                beta.alias("beta"),
                (F.col("sxx4").cast("double") / 4.0).alias("sxx"),
            )
        ),
        "event_type",
    )
    e = (
        F.col("c").cast("double")
        - F.col("s").cast("double") / F.col("n").cast("double")
        - F.col("beta") * (F.col("xs").cast("double") / 2.0)
    )
    gg = withb.select(
        "event_type",
        "n",
        "beta",
        "sxx",
        "xs",
        ((F.col("xs").cast("double") / 2.0) * e).alias("g"),
        (e * e).alias("e2"),
    )
    wl = Window.partitionBy("event_type").orderBy("xs")
    lagged = gg.select(
        "event_type",
        "n",
        "beta",
        "sxx",
        "g",
        "e2",
        F.lag("g", 1).over(wl).alias("g1"),
        F.lag("g", 2).over(wl).alias("g2"),
    )
    agg = lagged.groupBy("event_type").agg(
        F.min("n").alias("n_days"),
        F.min("beta").alias("beta"),
        F.min("sxx").alias("sxx"),
        F.sum(F.col("g") * F.col("g")).alias("v0"),
        F.sum(F.col("g") * F.col("g1")).alias("v1"),
        F.sum(F.col("g") * F.col("g2")).alias("v2"),
        F.sum("e2").alias("see"),
    )
    vhac = (
        F.col("v0")
        + 2.0 * (1.0 - 1.0 / 3.0) * F.coalesce("v1", F.lit(0.0))
        + 2.0 * (1.0 - 2.0 / 3.0) * F.coalesce("v2", F.lit(0.0))
    )
    nd = F.col("n_days").cast("double")
    se_ols = F.sqrt(F.col("see") / (nd - 2.0) / F.col("sxx"))
    se_hac = F.sqrt(vhac) / F.col("sxx")
    return agg.select(
        "event_type",
        "n_days",
        F.round(F.col("beta") / 100.0, 6).alias(
            "slope_dollars_per_day"
        ),
        F.round(se_ols / 100.0, 6).alias("se_ols_dollars"),
        F.round(se_hac / 100.0, 6).alias("se_hac_dollars"),
        F.round(F.col("beta") / se_hac, 6).alias("t_hac"),
        F.round(se_hac / se_ols, 6).alias("hac_inflation"),
    ).orderBy("event_type")


def q_events_stl_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend / seasonal strength (Hyndman & Athanasopoulos, FPP3
    ch. 4.3) computed ON the q_events_stl decomposition: F_T =
    max(0, 1 - Var(R)/Var(T+R)), F_S = max(0, 1 - Var(R)/Var(S+R))
    over the days where the centered MA trend exists — the two
    numbers in [0,1] that rank hundreds of series by 'does this one
    even have a trend/seasonality worth modeling' without a human
    looking at plots. Variances are population moments of the SAME
    component values both engines already hash-match in events_stl;
    one aggregate per type on the ~24-row interior of the daily
    table."""
    from vanus_spark.operators.timeseries import decompose_additive

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias(
            "cents"
        )
    )
    out = decompose_additive(
        daily, "event_type", "day", "cents"
    ).where(F.col("trend").isNotNull())
    rr = F.col("residual")
    det = F.col("value") - F.col("trend")
    des = F.col("value") - F.col("seasonal")
    cnt = F.count("*").cast("double")

    def pvar(x):
        return F.sum(x * x) / cnt - (F.sum(x) / cnt) * (
            F.sum(x) / cnt
        )
    agg = out.groupBy("event_type").agg(
        F.count("*").alias("n_days_used"),
        pvar(rr).alias("vr"),
        pvar(det).alias("vdet"),
        pvar(des).alias("vdes"),
    )
    # a zero-variance target (e.g. an exactly linear series has
    # vdet = 0) leaves the strength undefined — NULL on both engines,
    # never an ANSI 0/0 throw
    ft = F.when(
        F.col("vdes") > 0,
        F.greatest(F.lit(0.0), 1.0 - F.col("vr") / F.col("vdes")),
    )
    fs = F.when(
        F.col("vdet") > 0,
        F.greatest(F.lit(0.0), 1.0 - F.col("vr") / F.col("vdet")),
    )
    return agg.select(
        "event_type",
        "n_days_used",
        F.round(ft, 6).alias("trend_strength"),
        F.round(fs, 6).alias("seasonal_strength"),
        F.round(F.sqrt(F.col("vr")) / 100.0, 6).alias(
            "resid_sd_dollars"
        ),
    ).orderBy("event_type")


def q_events_spectral_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spectral entropy + Wiener flatness of the daily revenue series
    per event type over the q_events_periodogram candidate panel
    (periods 2..15): H = -sum f ln f of the normalized power shares
    (0 = one pure tone, i.e. strongly periodic; ln 14 = white-noise
    flat), flatness = geometric/arithmetic mean of the raw powers —
    the two scalars that rank many series by 'how periodic', where
    the periodogram itself is 14 rows each. Same demeaned-DFT values
    as the periodogram (scale-free shares, trig-ulp safe); one
    bounded cross + two nested 14-row aggregates per type."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")
    )
    tot = daily.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("c").alias("s")
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    base = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        (F.row_number().over(wd) - 1).alias("t"),
        (
            (
                F.col("c").cast("double")
                - F.col("s").cast("double") / F.col("n").cast("double")
            )
            / 100.0
        ).alias("e"),
    )
    periods = spark.createDataFrame(
        [(p,) for p in range(2, 16)], "period long"
    )
    ang = (
        F.lit(6.283185307179586)
        * F.col("t").cast("double")
        / F.col("period").cast("double")
    )
    pw = base.crossJoin(F.broadcast(periods)).groupBy(
        "event_type", "period"
    ).agg(
        F.sum(F.col("e") * F.cos(ang)).alias("a"),
        F.sum(F.col("e") * F.sin(ang)).alias("b"),
    )
    p2 = pw.select(
        "event_type",
        (F.col("a") * F.col("a") + F.col("b") * F.col("b")).alias(
            "p2"
        ),
    )
    wtot = Window.partitionBy("event_type")
    fr = p2.select(
        "event_type",
        (F.col("p2") / F.sum("p2").over(wtot)).alias("f"),
        "p2",
    )
    agg = fr.groupBy("event_type").agg(
        F.count("*").alias("n_periods"),
        (-F.sum(F.col("f") * F.log("f"))).alias("h"),
        F.exp(F.avg(F.log("p2"))).alias("gm"),
        F.avg("p2").alias("am"),
    )
    return agg.select(
        "event_type",
        "n_periods",
        F.round("h", 6).alias("spectral_entropy"),
        F.round(
            F.col("h") / F.log(F.col("n_periods").cast("double")), 6
        ).alias("spectral_entropy_norm"),
        F.round(F.col("gm") / F.col("am"), 6).alias(
            "spectral_flatness"
        ),
    ).orderBy("event_type")


def q_events_haar_wavelet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy decomposition (Percival & Walden 2000
    ch. 4) of the last 16 days of demeaned daily revenue per event
    type: detail energy per dyadic scale (2/4/8/16 days) as a share
    of total detail energy — WHICH timescale carries the volatility,
    the time-localized complement to q_events_periodogram (a single
    spike loads the fine scales; a weekly cycle loads scale 8).
    Every coefficient is a dyadic-rational combination of exact
    cents (block-sum differences over 2^(j/2)), so both engines are
    bit-identical before the final rounding. One daily rollup + one
    bounded level-cross over 16 rows per type."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    wn = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "c",
        (
            F.row_number().over(wd)
            - (F.count("*").over(wn) - 16)
            - 1
        ).alias("i"),
    ).where(F.col("i") >= 0)
    tot = idx.groupBy("event_type").agg(
        F.sum("c").alias("s16")
    )
    ctr = idx.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "i",
        (
            F.col("c").cast("double")
            - F.col("s16").cast("double") / 16.0
        ).alias("e"),
    )
    levels = spark.createDataFrame(
        [(1,), (2,), (3,), (4,)], "j long"
    )
    half = (
        F.floor(
            F.col("i") / F.pow(F.lit(2.0), F.col("j") - 1).cast("long")
        )
        % 2
    )
    blk = F.floor(
        F.col("i") / F.pow(F.lit(2.0), F.col("j")).cast("long")
    )
    co = (
        ctr.crossJoin(F.broadcast(levels))
        .groupBy("event_type", "j", blk.alias("k"))
        .agg(
            (
                (
                    F.sum(F.when(half == 0, F.col("e")).otherwise(0.0))
                    - F.sum(
                        F.when(half == 1, F.col("e")).otherwise(0.0)
                    )
                )
                / F.pow(F.lit(2.0), F.col("j").cast("double") / 2.0)
            ).alias("d")
        )
    )
    en = co.groupBy("event_type", "j").agg(
        F.sum(F.col("d") * F.col("d")).alias("ej")
    )
    wt = Window.partitionBy("event_type")
    return en.select(
        "event_type",
        F.col("j").alias("level"),
        F.pow(F.lit(2.0), F.col("j").cast("double"))
        .cast("long")
        .alias("scale_days"),
        F.round(
            F.col("ej") / F.sum("ej").over(wt), 6
        ).alias("energy_frac"),
    ).orderBy("event_type", "level")


def q_events_permutation_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Permutation entropy of the daily revenue series per event type
    (Bandt & Pompe 2002, order m = 3): each sliding triple of days
    maps to its ordinal pattern via STABLE ranks (ties keep time
    order — exact integer cents, so both engines agree bit-for-bit),
    H = -sum p ln p over the <= 6 patterns, normalized by ln 6 — the
    model-free complexity number (0 = monotone, 1 = rank-random)
    that catches structure the moment-based tests miss. One daily
    rollup + two lag windows + one bounded pattern aggregate per
    type."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    tri = daily.select(
        "event_type",
        F.lag("c", 2).over(wd).alias("a"),
        F.lag("c", 1).over(wd).alias("b"),
        F.col("c").alias("cc"),
    ).where(F.col("a").isNotNull() & F.col("b").isNotNull())
    ra = (
        F.lit(0)
        + (F.col("b") < F.col("a")).cast("int")
        + (F.col("cc") < F.col("a")).cast("int")
    )
    rb = (
        (F.col("a") <= F.col("b")).cast("int")
        + (F.col("cc") < F.col("b")).cast("int")
    )
    rc = (
        (F.col("a") <= F.col("cc")).cast("int")
        + (F.col("b") <= F.col("cc")).cast("int")
    )
    pat = tri.select(
        "event_type", (ra * 9 + rb * 3 + rc).alias("pid")
    )
    cells = pat.groupBy("event_type", "pid").agg(
        F.count("*").alias("cnt")
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("cnt").alias("n_triples"),
        F.count("*").alias("n_patterns"),
    )
    h = (
        cells.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("n_triples").alias("n_triples"),
            F.min("n_patterns").alias("n_patterns"),
            (
                -F.sum(
                    (
                        F.col("cnt").cast("double")
                        / F.col("n_triples").cast("double")
                    )
                    * F.log(
                        F.col("cnt").cast("double")
                        / F.col("n_triples").cast("double")
                    )
                )
            ).alias("h"),
        )
    )
    return h.select(
        "event_type",
        "n_triples",
        "n_patterns",
        F.round("h", 6).alias("perm_entropy"),
        F.round(
            F.col("h") / F.log(F.lit(6.0)), 6
        ).alias("perm_entropy_norm"),
    ).orderBy("event_type")


def _acf_agg_sql(max_lag: int) -> str:
    """Shared CTE prefix for the ACF-family oracles: the daily
    collapse, the lag columns, and the exact-BIGINT moment aggregate —
    generated so the moment set matches operators/timeseries.acf_exact
    term for term at any lag count."""
    lag_cols = ", ".join(
        f"lag(y, {k}) OVER w AS l{k}" for k in range(1, max_lag + 1)
    )
    aggs = []
    for k in range(1, max_lag + 1):
        aggs.append(
            # quadratic terms in HUGEINT (Spark side: DECIMAL(38,0)) —
            # int64 headroom is not enough past ~1e5-cent days x 1e8 rows
            f"sum(y::HUGEINT * l{k})::HUGEINT AS syy{k}, "
            f"sum(CASE WHEN l{k} IS NOT NULL THEN y END)::BIGINT AS sh{k}, "
            f"sum(l{k})::BIGINT AS st{k}, count(l{k})::BIGINT AS nk{k}"
        )
    return f"""
        WITH d AS (SELECT event_type AS key, ts::DATE AS day,
                          sum(CAST(round(value * 100) AS
                                   BIGINT))::BIGINT AS y
                   FROM events GROUP BY 1, 2),
        l AS (SELECT key, y, {lag_cols}
              FROM d WINDOW w AS (PARTITION BY key ORDER BY day)),
        a AS (SELECT key, count(*)::BIGINT AS n, sum(y)::BIGINT AS s,
                     sum(y::HUGEINT * y)::HUGEINT AS ss, {', '.join(aggs)}
              FROM l GROUP BY key),
        g AS (SELECT *, s::DOUBLE / n::DOUBLE AS mean FROM a)
    """


_ACF_ORACLE_SQL = _acf_agg_sql(7) + "{select_tail}"


def _ljung_box_sql(h: int) -> str:
    """Ljung-Box oracle built on the same generated ACF moment CTEs:
    r_k on the round(6) lattice (mirroring acf_exact's output, which
    ljung_box consumes), Q left-associated in lag order, and the
    Wilson-Hilferty literals computed by the SAME Python arithmetic
    that parameterizes the Spark expression."""
    rks = ", ".join(
        "round(CASE WHEN ss::DOUBLE - n::DOUBLE * mean * mean > 0 "
        f"THEN (syy{k}::DOUBLE - mean * (sh{k} + st{k})::DOUBLE "
        f"+ nk{k}::DOUBLE * mean * mean) "
        "/ (ss::DOUBLE - n::DOUBLE * mean * mean) END, 6) "
        f"AS r{k}"
        for k in range(1, h + 1)
    )
    q_terms = " + ".join(
        f"r{k} * r{k} / (n::DOUBLE - {float(k)!r})" for k in range(1, h + 1)
    )
    hh = float(h)
    wh_center = 1.0 - 2.0 / (9.0 * hh)
    wh_var = 2.0 / (9.0 * hh)
    z = f"(cbrt(q / {hh!r}) - {wh_center!r}) / sqrt({wh_var!r})"
    return f"""
        {_acf_agg_sql(h)},
        r AS (SELECT key, n, {rks} FROM g),
        qq AS (SELECT key, n,
                      n::DOUBLE * (n::DOUBLE + 2.0)
                        * (0.0 + {q_terms}) AS q
               FROM r)
        SELECT key AS event_type, n AS n_days,
               round(q, 6) AS q_stat,
               round({_NORM_SF_SQL.format(z=z)}, 6) AS p_value
        FROM qq ORDER BY key
    """


_LJUNG_BOX_ORACLE_SQL = _ljung_box_sql(5)


def _pacf_sql() -> str:
    """Durbin-Levinson order-3 unroll over the ROUNDED ACF lattice —
    generated beside the ljung-box oracle so the r_k expressions stay
    textually identical to acf_exact's."""
    rks = ", ".join(
        "round(CASE WHEN ss::DOUBLE - n::DOUBLE * mean * mean > 0 "
        f"THEN (syy{k}::DOUBLE - mean * (sh{k} + st{k})::DOUBLE "
        f"+ nk{k}::DOUBLE * mean * mean) "
        "/ (ss::DOUBLE - n::DOUBLE * mean * mean) END, 6) "
        f"AS r{k}"
        for k in range(1, 4)
    )
    return f"""
        {_acf_agg_sql(3)},
        r AS (SELECT key, n, {rks} FROM g),
        p2 AS (SELECT key, n, r1, r2, r3,
                      (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi22
               FROM r),
        p3 AS (SELECT key, n, r1, r2, r3, phi22,
                      r1 - phi22 * r1 AS phi21
               FROM p2)
        SELECT key AS event_type, n AS n_days,
               round(r1, 6) AS pacf_1,
               round(phi22, 6) AS pacf_2,
               round((r3 - phi21 * r2 - phi22 * r1)
                     / (1.0 - phi21 * r1 - phi22 * r2), 6) AS pacf_3
        FROM p3 ORDER BY key
    """


_PACF_ORACLE_SQL = _pacf_sql()


def _markov_stationary_sql(iters: int = 50) -> str:
    """Recursive-CTE twin of operators/markov.stationary_distribution:
    the 5x5 matrix pivots to one row of generated columns and every
    power-iteration component unrolls as the SAME left-associated
    ascending-i sum the Python walk folds — bit-identical doubles."""
    st = _MARKOV_STATES
    n = len(st)
    cols_c = ", ".join(
        f"coalesce(sum(CASE WHEN src = '{si}' AND dst = '{sj}' "
        f"THEN n END), 0)::BIGINT AS c_{i}_{j}"
        for i, si in enumerate(st)
        for j, sj in enumerate(st)
    )
    cols_rs = ", ".join(
        f"coalesce(sum(CASE WHEN src = '{si}' THEN n END), 0)::BIGINT "
        f"AS rs_{i}"
        for i, si in enumerate(st)
    )
    cols_p = ", ".join(
        f"c_{i}_{j}::DOUBLE / rs_{i}::DOUBLE AS p_{i}_{j}"
        for i in range(n)
        for j in range(n)
    )
    pi_names = ", ".join(f"pi{i}" for i in range(n))
    init = ", ".join([f"{1.0 / n!r}::DOUBLE"] * n)
    steps = ", ".join(
        " + ".join(f"r.pi{i} * p.p_{i}_{j}" for i in range(n))
        for j in range(n)
    )
    finals = " UNION ALL ".join(
        f"SELECT '{si}' AS state, pi{i} AS pi FROM rec WHERE it = {iters}"
        for i, si in enumerate(st)
    )
    # final-sweep movement: max_j |pi@iters - pi@(iters-1)| — the
    # non-convergence flag (r9-verdict #4), same bit-identical
    # iterates on both engines so greatest(abs(...)) matches the
    # Python walk's ascending-j max fold exactly
    resid = "greatest(" + ", ".join(
        f"abs(a.pi{i} - b.pi{i})" for i in range(n)
    ) + ")"
    return f"""
        WITH RECURSIVE bg AS (
          SELECT lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS src,
                 event_type AS dst
          FROM events),
        pairs AS (SELECT src, dst, count(*)::BIGINT AS n
                  FROM bg WHERE src IS NOT NULL GROUP BY 1, 2),
        mat AS (SELECT {cols_c}, {cols_rs} FROM pairs),
        p AS (SELECT {cols_p} FROM mat),
        rec(it, {pi_names}) AS (
          SELECT 0, {init}
          UNION ALL
          SELECT r.it + 1, {steps}
          FROM rec r, p WHERE r.it < {iters})
        , res AS (SELECT {resid} AS residual
                  FROM rec a, rec b
                  WHERE a.it = {iters} AND b.it = {iters - 1})
        SELECT state, round(pi, 9) AS pi,
               round(res.residual, 9) AS residual
        FROM ({finals}) CROSS JOIN res
        ORDER BY state
    """


_MARKOV_STATIONARY_ORACLE_SQL = _markov_stationary_sql()


def oracle_sql() -> dict[str, str]:
    """DuckDB twins of this family's queries, keyed by query name."""
    return {
        "events_permutation_entropy": """
            WITH daily AS (
              SELECT event_type, ts::DATE AS day,
                     sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
              FROM events GROUP BY 1, 2),
            tri AS (SELECT event_type,
                           lag(c, 2) OVER (PARTITION BY event_type
                                           ORDER BY day) AS a,
                           lag(c, 1) OVER (PARTITION BY event_type
                                           ORDER BY day) AS b,
                           c AS cc
                    FROM daily),
            t2 AS (SELECT * FROM tri
                   WHERE a IS NOT NULL AND b IS NOT NULL),
            pat AS (SELECT event_type,
                           ((b < a)::INT + (cc < a)::INT) * 9
                           + ((a <= b)::INT + (cc < b)::INT) * 3
                           + ((a <= cc)::INT + (b <= cc)::INT)
                             AS pid
                    FROM t2),
            cells AS (SELECT event_type, pid,
                             count(*)::BIGINT AS cnt
                      FROM pat GROUP BY 1, 2),
            tot AS (SELECT event_type,
                           sum(cnt)::BIGINT AS n_triples,
                           count(*)::BIGINT AS n_patterns
                    FROM cells GROUP BY 1),
            h AS (SELECT cells.event_type,
                         min(n_triples)::BIGINT AS n_triples,
                         min(n_patterns)::BIGINT AS n_patterns,
                         -sum((cnt::DOUBLE / n_triples::DOUBLE)
                              * ln(cnt::DOUBLE
                                   / n_triples::DOUBLE)) AS h
                  FROM cells JOIN tot USING (event_type)
                  GROUP BY 1)
            SELECT event_type, n_triples, n_patterns,
                   round(h, 6) AS perm_entropy,
                   round(h / ln(6.0::DOUBLE), 6)
                     AS perm_entropy_norm
            FROM h ORDER BY event_type
        """,
        "events_haar_wavelet": """
            WITH daily AS (
              SELECT event_type, ts::DATE AS day,
                     sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
              FROM events GROUP BY 1, 2),
            idx AS (SELECT event_type, c,
                           row_number() OVER (
                             PARTITION BY event_type ORDER BY day)
                           - (count(*) OVER (
                                PARTITION BY event_type) - 16) - 1
                             AS i
                    FROM daily),
            i2 AS (SELECT * FROM idx WHERE i >= 0),
            tot AS (SELECT event_type, sum(c)::BIGINT AS s16
                    FROM i2 GROUP BY 1),
            ctr AS (SELECT i2.event_type, i,
                           c::DOUBLE - s16::DOUBLE / 16.0 AS e
                    FROM i2 JOIN tot USING (event_type)),
            lv AS (SELECT unnest([1::BIGINT, 2::BIGINT, 3::BIGINT,
                                  4::BIGINT]) AS j),
            co AS (SELECT event_type, j,
                          floor(i / CAST(pow(2.0, j) AS BIGINT))
                            AS k,
                          (sum(CASE WHEN floor(i / CAST(pow(2.0,
                                  j - 1) AS BIGINT)) % 2 = 0
                                    THEN e ELSE 0.0 END)
                           - sum(CASE WHEN floor(i / CAST(pow(2.0,
                                    j - 1) AS BIGINT)) % 2 = 1
                                      THEN e ELSE 0.0 END))
                          / pow(2.0, j::DOUBLE / 2.0) AS d
                   FROM ctr, lv GROUP BY 1, 2, 3),
            en AS (SELECT event_type, j, sum(d * d) AS ej
                   FROM co GROUP BY 1, 2)
            SELECT event_type, j AS level,
                   CAST(pow(2.0, j::DOUBLE) AS BIGINT) AS scale_days,
                   round(ej / sum(ej) OVER (
                           PARTITION BY event_type), 6)
                     AS energy_frac
            FROM en ORDER BY event_type, level
        """,
        "events_stl_strength": """
            WITH d AS (SELECT event_type AS k, ts::DATE AS day,
                              sum(CAST(round(value * 100) AS
                                       BIGINT))::BIGINT AS cents
                       FROM events GROUP BY 1, 2),
            ma AS (SELECT k, day, cents,
                          count(cents) OVER w AS n7,
                          sum(cents) OVER w AS s7,
                          dayofweek(day) + 1 AS phase
                   FROM d
                   WINDOW w AS (PARTITION BY k ORDER BY day
                                ROWS BETWEEN 3 PRECEDING
                                  AND 3 FOLLOWING)),
            st AS (SELECT k, day, phase, cents::DOUBLE AS y,
                          CASE WHEN n7 = 7
                               THEN s7::DOUBLE / 7.0 END AS trend
                   FROM ma),
            st2 AS (SELECT *, y - trend AS detr FROM st),
            pm AS (SELECT k, phase, avg(detr) AS smean
                   FROM st2 GROUP BY 1, 2),
            ctr AS (SELECT k, phase,
                           smean - avg(smean) OVER (PARTITION BY k)
                             AS seas
                    FROM pm),
            comp AS (SELECT st2.k, y, trend, seas,
                            y - trend - seas AS resid
                     FROM st2 JOIN ctr ON st2.k = ctr.k
                                      AND st2.phase = ctr.phase
                     WHERE trend IS NOT NULL),
            agg AS (SELECT k AS event_type,
                           count(*)::BIGINT AS n_days_used,
                           sum(resid * resid) / count(*)::DOUBLE
                             - (sum(resid) / count(*)::DOUBLE)
                               * (sum(resid) / count(*)::DOUBLE)
                             AS vr,
                           sum((y - trend) * (y - trend))
                             / count(*)::DOUBLE
                             - (sum(y - trend) / count(*)::DOUBLE)
                               * (sum(y - trend) / count(*)::DOUBLE)
                             AS vdet,
                           sum((y - seas) * (y - seas))
                             / count(*)::DOUBLE
                             - (sum(y - seas) / count(*)::DOUBLE)
                               * (sum(y - seas) / count(*)::DOUBLE)
                             AS vdes
                    FROM comp GROUP BY 1)
            SELECT event_type, n_days_used,
                   round(CASE WHEN vdes > 0
                              THEN greatest(0.0::DOUBLE,
                                            1.0 - vr / vdes) END, 6)
                     AS trend_strength,
                   round(CASE WHEN vdet > 0
                              THEN greatest(0.0::DOUBLE,
                                            1.0 - vr / vdet) END, 6)
                     AS seasonal_strength,
                   round(sqrt(vr) / 100.0, 6) AS resid_sd_dollars
            FROM agg ORDER BY event_type
        """,
        "events_spectral_entropy": """
            WITH daily AS (
              SELECT event_type, ts::DATE AS day,
                     sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
              FROM events GROUP BY 1, 2),
            tot AS (SELECT event_type, count(*)::BIGINT AS n,
                           sum(c)::BIGINT AS s
                    FROM daily GROUP BY 1),
            base AS (SELECT daily.event_type,
                            row_number() OVER (
                              PARTITION BY daily.event_type
                              ORDER BY day) - 1 AS t,
                            (c::DOUBLE - s::DOUBLE / n::DOUBLE)
                              / 100.0 AS e
                     FROM daily JOIN tot USING (event_type)),
            p AS (SELECT unnest(generate_series(2::BIGINT, 15::BIGINT))
                           AS period),
            pw AS (SELECT event_type, period,
                          sum(e * cos(6.283185307179586 * t::DOUBLE
                                      / period::DOUBLE)) AS a,
                          sum(e * sin(6.283185307179586 * t::DOUBLE
                                      / period::DOUBLE)) AS b
                   FROM base, p GROUP BY 1, 2),
            p2 AS (SELECT event_type, a * a + b * b AS p2 FROM pw),
            fr AS (SELECT event_type, p2,
                          p2 / sum(p2) OVER (PARTITION BY event_type)
                            AS f
                   FROM p2),
            agg AS (SELECT event_type,
                           count(*)::BIGINT AS n_periods,
                           -sum(f * ln(f)) AS h,
                           exp(avg(ln(p2))) AS gm,
                           avg(p2) AS am
                    FROM fr GROUP BY 1)
            SELECT event_type, n_periods,
                   round(h, 6) AS spectral_entropy,
                   round(h / ln(n_periods::DOUBLE), 6)
                     AS spectral_entropy_norm,
                   round(gm / am, 6) AS spectral_flatness
            FROM agg ORDER BY event_type
        """,
        "events_trend_hac": """
            WITH daily AS (
              SELECT event_type, ts::DATE AS day,
                     sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
              FROM events GROUP BY 1, 2),
            tot AS (SELECT event_type, count(*)::BIGINT AS n,
                           sum(c)::BIGINT AS s
                    FROM daily GROUP BY 1),
            base AS (SELECT daily.event_type, n, s, c,
                            (2 * row_number() OVER (
                               PARTITION BY daily.event_type
                               ORDER BY day) - n - 1)::BIGINT AS xs
                     FROM daily JOIN tot USING (event_type)),
            mom AS (SELECT event_type,
                           sum(xs::HUGEINT * c) AS sxy2,
                           sum(xs::HUGEINT * xs) AS sxx4
                    FROM base GROUP BY 1),
            st AS (SELECT event_type,
                          2.0 * sxy2::DOUBLE / sxx4::DOUBLE AS beta,
                          sxx4::DOUBLE / 4.0 AS sxx
                   FROM mom),
            wb AS (SELECT base.event_type, n, beta, sxx, xs,
                          (xs::DOUBLE / 2.0)
                            * (c::DOUBLE - s::DOUBLE / n::DOUBLE
                               - beta * (xs::DOUBLE / 2.0)) AS g,
                          (c::DOUBLE - s::DOUBLE / n::DOUBLE
                           - beta * (xs::DOUBLE / 2.0))
                          * (c::DOUBLE - s::DOUBLE / n::DOUBLE
                             - beta * (xs::DOUBLE / 2.0)) AS e2
                   FROM base JOIN st USING (event_type)),
            lg AS (SELECT event_type, n, beta, sxx, g, e2,
                          lag(g, 1) OVER (PARTITION BY event_type
                                          ORDER BY xs) AS g1,
                          lag(g, 2) OVER (PARTITION BY event_type
                                          ORDER BY xs) AS g2
                   FROM wb),
            agg AS (SELECT event_type, min(n)::BIGINT AS n_days,
                           min(beta) AS beta, min(sxx) AS sxx,
                           sum(g * g) AS v0, sum(g * g1) AS v1,
                           sum(g * g2) AS v2, sum(e2) AS see
                    FROM lg GROUP BY 1),
            f AS (SELECT event_type, n_days, beta, sxx, see,
                         v0 + 2.0 * (1.0 - 1.0 / 3.0)
                                * coalesce(v1, 0.0::DOUBLE)
                            + 2.0 * (1.0 - 2.0 / 3.0)
                                * coalesce(v2, 0.0::DOUBLE) AS vhac
                  FROM agg),
            g2 AS (SELECT event_type, n_days, beta,
                          sqrt(see / (n_days::DOUBLE - 2.0) / sxx)
                            AS se_ols,
                          sqrt(vhac) / sxx AS se_hac
                   FROM f)
            SELECT event_type, n_days,
                   round(beta / 100.0, 6) AS slope_dollars_per_day,
                   round(se_ols / 100.0, 6) AS se_ols_dollars,
                   round(se_hac / 100.0, 6) AS se_hac_dollars,
                   round(beta / se_hac, 6) AS t_hac,
                   round(se_hac / se_ols, 6) AS hac_inflation
            FROM g2 ORDER BY event_type
        """,
        "events_kpss": """
            WITH daily AS (
              SELECT event_type, ts::DATE AS day,
                     sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
              FROM events GROUP BY 1, 2),
            tot AS (SELECT event_type, count(*)::BIGINT AS n,
                           sum(c)::BIGINT AS s
                    FROM daily GROUP BY 1),
            base AS (SELECT daily.event_type, n,
                            row_number() OVER (
                              PARTITION BY daily.event_type
                              ORDER BY day) AS t,
                            (c::DOUBLE - s::DOUBLE / n::DOUBLE)
                              / 100.0 AS e,
                            CAST(floor(4.0 * pow(n::DOUBLE / 100.0,
                                                 0.25)) AS BIGINT)
                              AS q
                     FROM daily JOIN tot USING (event_type)),
            cum AS (SELECT *,
                           sum(e) OVER (PARTITION BY event_type
                                        ORDER BY t
                                        ROWS BETWEEN UNBOUNDED
                                          PRECEDING AND CURRENT ROW)
                             AS st
                    FROM base),
            g0 AS (SELECT event_type, min(n)::BIGINT AS n_days,
                          min(q)::BIGINT AS bandwidth,
                          sum(e * e) AS g0s, sum(st * st) AS ss
                   FROM cum GROUP BY 1),
            gl AS (SELECT a.event_type, a.t - b.t AS l,
                          sum(a.e * b.e) AS gls
                   FROM base a JOIN base b
                     ON a.event_type = b.event_type
                    AND a.t - b.t >= 1 AND a.t - b.t <= a.q
                   GROUP BY 1, 2),
            nw AS (SELECT gl.event_type,
                          sum((1.0 - l::DOUBLE
                               / (g0.bandwidth::DOUBLE + 1.0)) * gls)
                            AS nws
                   FROM gl JOIN g0 USING (event_type)
                   GROUP BY 1)
            SELECT g0.event_type, n_days, bandwidth,
                   round((g0s + 2.0 * coalesce(nws, 0.0::DOUBLE))
                         / n_days::DOUBLE, 6) AS sigma2_lr,
                   round((ss / (n_days::DOUBLE * n_days::DOUBLE))
                         / ((g0s + 2.0 * coalesce(nws, 0.0::DOUBLE))
                            / n_days::DOUBLE), 6) AS kpss_eta,
                   (ss / (n_days::DOUBLE * n_days::DOUBLE))
                     / ((g0s + 2.0 * coalesce(nws, 0.0::DOUBLE))
                        / n_days::DOUBLE) <= 0.463
                     AS stationary_5pct
            FROM g0 LEFT JOIN nw USING (event_type)
            ORDER BY g0.event_type
        """,
        "events_periodogram": """
            WITH daily AS (
              SELECT event_type, ts::DATE AS day,
                     sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
              FROM events GROUP BY 1, 2),
            tot AS (SELECT event_type, count(*)::BIGINT AS n,
                           sum(c)::BIGINT AS s
                    FROM daily GROUP BY 1),
            base AS (SELECT daily.event_type,
                            row_number() OVER (
                              PARTITION BY daily.event_type
                              ORDER BY day) - 1 AS t,
                            (c::DOUBLE - s::DOUBLE / n::DOUBLE)
                              / 100.0 AS e
                     FROM daily JOIN tot USING (event_type)),
            p AS (SELECT unnest(generate_series(2::BIGINT, 15::BIGINT))
                           AS period),
            pw AS (SELECT event_type, period,
                          sum(e * cos(6.283185307179586 * t::DOUBLE
                                      / period::DOUBLE)) AS a,
                          sum(e * sin(6.283185307179586 * t::DOUBLE
                                      / period::DOUBLE)) AS b
                   FROM base, p GROUP BY 1, 2),
            p2 AS (SELECT event_type, period,
                          a * a + b * b AS p2
                   FROM pw)
            SELECT event_type, period,
                   round(p2 / sum(p2) OVER (PARTITION BY event_type),
                         6) AS power_frac
            FROM p2 ORDER BY event_type, period
        """,
        "events_granger": f"""
            WITH wide AS (
              SELECT ts::DATE AS day,
                     sum((event_type = 'purchase')::INT)::BIGINT
                       AS p_cnt,
                     sum((event_type = 'signup')::INT)::BIGINT
                       AS s_cnt
              FROM events
              WHERE event_type IN ('purchase', 'signup')
              GROUP BY 1),
            d AS (SELECT 'purchase->signup' AS direction, day,
                         s_cnt AS y, p_cnt AS x
                  FROM wide
                  UNION ALL
                  SELECT 'signup->purchase', day, p_cnt, s_cnt
                  FROM wide),
            lagged AS (SELECT direction, y AS z,
                              lag(y) OVER (PARTITION BY direction
                                           ORDER BY day) AS u,
                              lag(x) OVER (PARTITION BY direction
                                           ORDER BY day) AS v
                       FROM d),
            l2 AS (SELECT * FROM lagged WHERE u IS NOT NULL),
            sums AS (SELECT direction, count(*)::BIGINT AS n,
                            sum(u::HUGEINT) AS su,
                            sum(v::HUGEINT) AS sv,
                            sum(z::HUGEINT) AS sz,
                            sum(u::HUGEINT * u) AS suu,
                            sum(v::HUGEINT * v) AS svv,
                            sum(u::HUGEINT * v) AS suv,
                            sum(u::HUGEINT * z) AS suz,
                            sum(v::HUGEINT * z) AS svz,
                            sum(z::HUGEINT * z) AS szz
                     FROM l2 GROUP BY 1),
            am AS (SELECT direction, n,
                          (n::HUGEINT * suu - su * su)::DOUBLE AS auu,
                          (n::HUGEINT * svv - sv * sv)::DOUBLE AS avv,
                          (n::HUGEINT * suv - su * sv)::DOUBLE AS auv,
                          (n::HUGEINT * suz - su * sz)::DOUBLE AS auz,
                          (n::HUGEINT * svz - sv * sz)::DOUBLE AS avz,
                          (n::HUGEINT * szz - sz * sz)::DOUBLE AS azz
                   FROM sums),
            r AS (SELECT direction, n,
                         azz - auz * auz / auu AS rss_r,
                         azz - (auz * auz * avv
                                - 2.0 * auz * avz * auv
                                + avz * avz * auu)
                               / (auu * avv - auv * auv) AS rss_u
                  FROM am),
            f AS (SELECT direction, n,
                         greatest((rss_r - rss_u) * (n::DOUBLE - 3.0)
                                  / rss_u, 0.0::DOUBLE) AS f_stat,
                         greatest(n::DOUBLE * (rss_r - rss_u) / rss_r,
                                  0.0::DOUBLE) AS lm
                  FROM r)
            SELECT direction, n,
                   round(f_stat, 6) AS f_stat,
                   round(lm, 6) AS lm_stat,
                   round(2.0 * {_NORM_SF_SQL.format(z="sqrt(lm)")}, 6)
                     AS p_value
            FROM f ORDER BY direction
        """,
        "events_page_hinkley": """
            WITH daily AS (
              SELECT event_type, ts::DATE AS d,
                     sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
              FROM events GROUP BY 1, 2),
            tot AS (SELECT event_type, count(*)::BIGINT AS n,
                           sum(c)::BIGINT AS s
                    FROM daily GROUP BY 1),
            staged AS (
              SELECT d.event_type, d.d, t.n,
                     t.n::HUGEINT
                       * sum(d.c) OVER (PARTITION BY d.event_type
                                        ORDER BY d.d)
                     - row_number() OVER (PARTITION BY d.event_type
                                          ORDER BY d.d)::HUGEINT
                       * (t.s + t.n * 2500) AS m
              FROM daily d JOIN tot t USING (event_type)),
            ph AS (
              SELECT event_type, d, n,
                     (m - min(m) OVER (PARTITION BY event_type
                                       ORDER BY d))::DOUBLE
                       / (100.0 * n::DOUBLE) AS ph
              FROM staged)
            SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
                   round(ph, 6) AS ph, ph > 2000.0005 AS drift
            FROM ph ORDER BY event_type, day
        """,
        "events_drawdown": """
            WITH s AS (
              SELECT user_id, ts, event_id,
                     CAST(round(value * 100) AS BIGINT)
                       * (CASE WHEN event_type = 'error'
                          THEN -1 ELSE 1 END) AS cents
              FROM events),
            c AS (SELECT user_id, ts, event_id, cents,
                         sum(cents) OVER w AS eq
                  FROM s
                  WINDOW w AS (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING)),
            e AS (SELECT user_id, cents, eq,
                         max(eq) OVER w AS peak
                  FROM c
                  WINDOW w AS (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING))
            SELECT user_id, count(*)::BIGINT AS n_events,
                   max(peak - eq)::BIGINT AS max_drawdown_cents,
                   max(eq)::BIGINT AS peak_cents,
                   sum(cents)::BIGINT AS final_cents
            FROM e GROUP BY user_id ORDER BY user_id
        """,
        "events_acf": _ACF_ORACLE_SQL.format(select_tail="""
            SELECT key AS event_type, n AS n_days, {acfs}
            FROM g ORDER BY key
        """.format(acfs=", ".join(
            "round(CASE WHEN ss::DOUBLE - n::DOUBLE * mean * mean > 0 "
            "THEN (syy{k}::DOUBLE - mean * (sh{k} + st{k})::DOUBLE "
            "+ nk{k}::DOUBLE * mean * mean) "
            "/ (ss::DOUBLE - n::DOUBLE * mean * mean) END, 6) "
            "AS acf_{k}".format(k=k)
            for k in range(1, 8)
        ))),
        "events_ljung_box": _LJUNG_BOX_ORACLE_SQL,
        "events_adf": """
            WITH daily AS (SELECT event_type, ts::DATE AS day,
                                  sum(CAST(round(value * 100) AS
                                           BIGINT))::BIGINT AS y
                           FROM events GROUP BY 1, 2),
            p AS (SELECT event_type,
                         y - lag(y) OVER w AS d,
                         lag(y) OVER w AS x
                  FROM daily
                  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
            p2 AS (SELECT * FROM p WHERE x IS NOT NULL),
            g AS (SELECT event_type, count(*)::BIGINT AS n,
                         sum(x)::BIGINT AS sx, sum(d)::BIGINT AS sd,
                         sum(x * d)::BIGINT AS sxd,
                         sum(x * x)::BIGINT AS sxx,
                         sum(d * d)::BIGINT AS sdd
                  FROM p2 GROUP BY 1),
            c AS (SELECT event_type, n, n::DOUBLE AS nd,
                         sx::DOUBLE / n::DOUBLE AS xb,
                         sd::DOUBLE / n::DOUBLE AS db,
                         sxd, sxx, sdd
                  FROM g),
            s AS (SELECT event_type, n, nd,
                         sxx::DOUBLE - nd * xb * xb AS cxx,
                         sxd::DOUBLE - nd * xb * db AS cxd,
                         sdd::DOUBLE - nd * db * db AS cdd
                  FROM c),
            b AS (SELECT event_type, n, nd, cxx, cxd, cdd,
                         CASE WHEN cxx > 0 THEN cxd / cxx END AS beta
                  FROM s),
            t AS (SELECT event_type, n, beta,
                         beta / sqrt(((cdd - beta * cxd)
                                      / (nd - 2.0)) / cxx) AS t
                  FROM b)
            SELECT event_type, n AS n_diffs,
                   round(beta, 6) AS beta,
                   round(t, 6) AS df_t,
                   (t < -2.89) AS stationary_5pct
            FROM t ORDER BY event_type
        """,
        "events_markov_stationary": _MARKOV_STATIONARY_ORACLE_SQL,
        "events_sax": """
            WITH daily AS (
              SELECT event_type,
                     date_diff('day', DATE '2024-01-01',
                               ts::DATE)::BIGINT AS dnum,
                     sum(CAST(round(value * 100) AS
                              BIGINT))::BIGINT AS cents
              FROM events GROUP BY 1, 2),
            st AS (SELECT event_type, count(*)::BIGINT AS n,
                          sum(cents)::BIGINT AS s,
                          sum(cents * cents)::BIGINT AS ss
                   FROM daily GROUP BY 1),
            paa AS (SELECT event_type, dnum // 3 AS bucket,
                           sum(cents)::DOUBLE / count(*)::DOUBLE AS paa
                    FROM daily GROUP BY 1, 2),
            z AS (SELECT p.event_type, p.bucket,
                         (p.paa - (st.s::DOUBLE / st.n::DOUBLE))
                           / sqrt((st.ss::DOUBLE
                                   - st.n::DOUBLE
                                     * (st.s::DOUBLE / st.n::DOUBLE)
                                     * (st.s::DOUBLE / st.n::DOUBLE))
                                  / (st.n::DOUBLE - 1.0)) AS z
                  FROM paa p JOIN st USING (event_type)),
            sy AS (SELECT event_type, bucket,
                          CASE WHEN z < -0.6745 THEN 'a'
                               WHEN z < 0.0 THEN 'b'
                               WHEN z < 0.6745 THEN 'c'
                               ELSE 'd' END AS sym
                   FROM z)
            SELECT event_type,
                   string_agg(sym, '' ORDER BY bucket) AS sax,
                   sum((sym = 'a')::BIGINT)::BIGINT AS n_a,
                   sum((sym = 'b')::BIGINT)::BIGINT AS n_b,
                   sum((sym = 'c')::BIGINT)::BIGINT AS n_c,
                   sum((sym = 'd')::BIGINT)::BIGINT AS n_d
            FROM sy GROUP BY event_type ORDER BY event_type
        """,
        "events_pacf": _PACF_ORACLE_SQL,
        "events_anomaly_stl": """
            WITH d AS (SELECT event_type AS k, ts::DATE AS day,
                              sum(CAST(round(value * 100) AS
                                       BIGINT))::BIGINT AS cents
                       FROM events GROUP BY 1, 2),
            ma AS (SELECT k, day, cents,
                          count(cents) OVER w AS n7,
                          sum(cents) OVER w AS s7,
                          dayofweek(day) + 1 AS phase
                   FROM d
                   WINDOW w AS (PARTITION BY k ORDER BY day
                                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
            st AS (SELECT k, day, phase, cents::DOUBLE AS y,
                          CASE WHEN n7 = 7
                               THEN s7::DOUBLE / 7.0 END AS trend
                   FROM ma),
            st2 AS (SELECT *, y - trend AS detr FROM st),
            pm AS (SELECT k, phase, avg(detr) AS smean
                   FROM st2 GROUP BY 1, 2),
            ctr AS (SELECT k, phase,
                           smean - avg(smean) OVER (PARTITION BY k)
                             AS seas
                    FROM pm),
            res AS (SELECT st2.k, st2.day,
                           round(y - trend - seas, 6) AS e
                    FROM st2 JOIN ctr ON st2.k = ctr.k
                                     AND st2.phase = ctr.phase
                    WHERE trend IS NOT NULL),
            r1 AS (SELECT k, day, e,
                          row_number() OVER (PARTITION BY k
                              ORDER BY e, day) AS rn,
                          count(*) OVER (PARTITION BY k) AS n
                   FROM res),
            med AS (SELECT k, (min(e) + max(e)) / 2.0 AS med
                    FROM r1
                    WHERE rn = floor((n + 1) / 2.0)
                       OR rn = floor((n + 2) / 2.0)
                    GROUP BY k),
            dev AS (SELECT res.k, res.day, res.e, med,
                           abs(res.e - med) AS ad
                    FROM res JOIN med ON res.k = med.k),
            r2 AS (SELECT k, day, ad,
                          row_number() OVER (PARTITION BY k
                              ORDER BY ad, day) AS rn,
                          count(*) OVER (PARTITION BY k) AS n
                   FROM dev),
            mad AS (SELECT k, (min(ad) + max(ad)) / 2.0 AS mad
                    FROM r2
                    WHERE rn = floor((n + 1) / 2.0)
                       OR rn = floor((n + 2) / 2.0)
                    GROUP BY k),
            j AS (SELECT dev.k, dev.day, dev.e, dev.med, dev.ad,
                         mad.mad
                  FROM dev JOIN mad ON dev.k = mad.k)
            SELECT k AS event_type, strftime(day, '%Y-%m-%d') AS day,
                   round(e, 6) AS residual,
                   round((e - med) / (1.4826 * mad), 6) AS robust_z
            FROM j
            WHERE ad > 2.0 * (1.4826 * mad)
            ORDER BY event_type, day
        """,
        "events_durbin_watson": """
            WITH d AS (SELECT event_type AS k, ts::DATE AS day,
                              sum(CAST(round(value * 100) AS
                                       BIGINT))::BIGINT AS cents
                       FROM events GROUP BY 1, 2),
            ma AS (SELECT k, day, cents,
                          count(cents) OVER w AS n7,
                          sum(cents) OVER w AS s7,
                          dayofweek(day) + 1 AS phase
                   FROM d
                   WINDOW w AS (PARTITION BY k ORDER BY day
                                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
            st AS (SELECT k, day, phase, cents::DOUBLE AS y,
                          CASE WHEN n7 = 7
                               THEN s7::DOUBLE / 7.0 END AS trend
                   FROM ma),
            st2 AS (SELECT *, y - trend AS detr FROM st),
            pm AS (SELECT k, phase, avg(detr) AS smean
                   FROM st2 GROUP BY 1, 2),
            ctr AS (SELECT k, phase,
                           smean - avg(smean) OVER (PARTITION BY k)
                             AS seas
                    FROM pm),
            resid AS (SELECT st2.k, st2.day,
                             round(y - trend - seas, 6) AS e
                      FROM st2 JOIN ctr ON st2.k = ctr.k
                                       AND st2.phase = ctr.phase
                      WHERE trend IS NOT NULL),
            lagged AS (SELECT k, e,
                              lag(e) OVER (PARTITION BY k ORDER BY day)
                                AS ep
                       FROM resid),
            agg AS (SELECT k, count(*)::BIGINT AS n,
                           sum(CASE WHEN ep IS NOT NULL
                               THEN (e - ep) * (e - ep) END)
                             / sum(e * e) AS rdw
                    FROM lagged GROUP BY k)
            SELECT k AS event_type, n, round(rdw, 6) AS dw,
                   round(1.0 - rdw / 2.0, 6) AS rho_approx
            FROM agg ORDER BY event_type
        """,
        "events_peaks": """
            WITH d AS (SELECT event_type, ts::DATE AS day,
                              sum(CAST(round(value * 100) AS
                                       BIGINT))::BIGINT AS cents
                       FROM events GROUP BY 1, 2),
            w AS (SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
                         cents,
                         lag(cents) OVER (PARTITION BY event_type
                                          ORDER BY day) AS p,
                         lead(cents) OVER (PARTITION BY event_type
                                           ORDER BY day) AS nx
                  FROM d)
            SELECT event_type, day, cents,
                   (cents - greatest(p, nx))::BIGINT AS relief_cents,
                   round((cents - greatest(p, nx))::DOUBLE / cents, 6)
                     AS relief_ratio
            FROM w
            WHERE p IS NOT NULL AND nx IS NOT NULL
              AND cents > p AND cents > nx
            ORDER BY event_type, day
        """,
        "events_hurst": """
            WITH d AS (SELECT event_type, ts::DATE AS day,
                              sum(CAST(round(value * 100) AS
                                       BIGINT))::BIGINT AS cents
                       FROM events GROUP BY 1, 2),
            idx AS (SELECT event_type, cents,
                           (row_number() OVER (PARTITION BY event_type
                                ORDER BY day) - 1)::BIGINT AS rn
                    FROM d),
            tg AS (SELECT event_type, s.size, cents, rn,
                          (rn // s.size)::BIGINT AS blk,
                          (rn % s.size + 1)::BIGINT AS t
                   FROM idx, (SELECT unnest([5, 10, 15]::BIGINT[])
                              AS size) s),
            st AS (SELECT event_type, size, blk,
                          count(*) OVER wb AS n,
                          sum(cents) OVER wb AS sy,
                          sum(cents * cents) OVER wb AS syy,
                          sum(cents) OVER wr * size - t
                            * (sum(cents) OVER wb) AS a
                   FROM tg
                   WINDOW wb AS (PARTITION BY event_type, size, blk),
                          wr AS (PARTITION BY event_type, size, blk
                                 ORDER BY rn
                                 ROWS UNBOUNDED PRECEDING)),
            fb AS (SELECT * FROM st WHERE n = size),
            blocks AS (SELECT event_type, size, blk,
                              max(a)::BIGINT AS amax,
                              min(a)::BIGINT AS amin,
                              max(sy)::BIGINT AS sy,
                              max(syy)::BIGINT AS syy
                       FROM fb GROUP BY 1, 2, 3),
            rs AS (SELECT event_type, size,
                          ((amax - amin)::DOUBLE / size)
                          / sqrt((syy::DOUBLE
                                  - sy * (sy::DOUBLE / size::DOUBLE))
                                 / size::DOUBLE) AS rsv
                   FROM blocks
                   WHERE (syy::DOUBLE
                          - sy * (sy::DOUBLE / size::DOUBLE))
                         / size::DOUBLE > 0),
            ps AS (SELECT event_type, size, avg(rsv) AS rsbar
                   FROM rs GROUP BY 1, 2)
            SELECT event_type, count(*)::BIGINT AS n_sizes,
                   round(regr_slope(ln(rsbar), ln(size)), 6) AS hurst
            FROM ps GROUP BY event_type ORDER BY event_type
        """,
        "events_stl": """
            WITH d AS (SELECT event_type AS k, ts::DATE AS day,
                              sum(CAST(round(value * 100) AS
                                       BIGINT))::BIGINT AS cents
                       FROM events GROUP BY 1, 2),
            ma AS (SELECT k, day, cents,
                          count(cents) OVER w AS n7,
                          sum(cents) OVER w AS s7,
                          dayofweek(day) + 1 AS phase
                   FROM d
                   WINDOW w AS (PARTITION BY k ORDER BY day
                                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
            st AS (SELECT k, day, phase, cents::DOUBLE AS y,
                          CASE WHEN n7 = 7
                               THEN s7::DOUBLE / 7.0 END AS trend
                   FROM ma),
            st2 AS (SELECT *, y - trend AS detr FROM st),
            pm AS (SELECT k, phase, avg(detr) AS smean
                   FROM st2 GROUP BY 1, 2),
            ctr AS (SELECT k, phase,
                           smean - avg(smean) OVER (PARTITION BY k)
                             AS seas
                    FROM pm)
            SELECT st2.k AS event_type, strftime(st2.day, '%Y-%m-%d') AS day,
                   round(y, 6) AS value, round(trend, 6) AS trend,
                   round(seas, 6) AS seasonal,
                   round(y - trend - seas, 6) AS residual
            FROM st2 JOIN ctr ON st2.k = ctr.k AND st2.phase = ctr.phase
            ORDER BY event_type, day
        """,
        "events_mann_kendall": """
            WITH d AS (SELECT event_type AS k, ts::DATE AS day,
                              sum(CAST(round(value * 100) AS
                                       BIGINT))::BIGINT AS y
                       FROM events GROUP BY 1, 2),
            p AS (SELECT a.k,
                         sum(CASE WHEN b.y > a.y THEN 1
                                  WHEN b.y < a.y THEN -1
                                  ELSE 0 END)::BIGINT AS s_stat
                  FROM d a JOIN d b ON a.k = b.k AND a.day < b.day
                  GROUP BY a.k),
            t AS (SELECT k, y, count(*)::BIGINT AS t FROM d GROUP BY 1, 2),
            tt AS (SELECT k, sum(t)::BIGINT AS n_obs,
                          sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie
                   FROM t GROUP BY k),
            j AS (SELECT p.k, s_stat, n_obs,
                         (n_obs * (n_obs - 1) * (2 * n_obs + 5)
                          - tie)::DOUBLE / 18.0 AS var_s
                  FROM p JOIN tt ON p.k = tt.k)
            SELECT k AS event_type, n_obs, s_stat,
                   round(var_s, 6) AS var_s,
                   round(CASE WHEN s_stat > 0 AND var_s > 0
                              THEN (s_stat - 1)::DOUBLE / sqrt(var_s)
                              WHEN s_stat < 0 AND var_s > 0
                              THEN (s_stat + 1)::DOUBLE / sqrt(var_s)
                              ELSE 0.0 END, 6) AS z
            FROM j ORDER BY event_type
        """,
        "events_spc_xbar": """
            WITH daily AS (
              SELECT event_type, ts::DATE AS day,
                     sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
              FROM events GROUP BY 1, 2),
            weekly AS (
              SELECT event_type,
                     datediff('day', DATE '1970-01-01', day) // 7 AS week,
                     count(*)::BIGINT AS nd, sum(c)::BIGINT AS ws,
                     max(c)::BIGINT AS mx, min(c)::BIGINT AS mn
              FROM daily GROUP BY 1, 2),
            full_w AS (SELECT * FROM weekly WHERE nd = 7),
            per_type AS (SELECT event_type, count(*)::BIGINT AS kw,
                                sum(ws)::BIGINT AS tws,
                                sum(mx - mn)::BIGINT AS tr
                         FROM full_w GROUP BY 1),
            j AS (SELECT f.*, p.kw, p.tws, p.tr
                  FROM full_w f JOIN per_type p USING (event_type)),
            x AS (SELECT event_type, week,
                         ws::DOUBLE / 7.0 AS mean_w,
                         (mx - mn)::DOUBLE AS rng_w,
                         tws::DOUBLE / (7.0 * kw::DOUBLE) AS xbarbar,
                         tr::DOUBLE / kw::DOUBLE AS rbar
                  FROM j)
            SELECT event_type, week,
                   round(mean_w, 6) AS week_mean_cents,
                   round(rng_w, 6) AS week_range_cents,
                   round(xbarbar + 0.419 * rbar, 6) AS ucl_x,
                   round(xbarbar - 0.419 * rbar, 6) AS lcl_x,
                   (mean_w > xbarbar + 0.419 * rbar
                    OR mean_w < xbarbar - 0.419 * rbar) AS ooc_mean,
                   (rng_w > 1.924 * rbar OR rng_w < 0.076 * rbar)
                     AS ooc_range
            FROM x ORDER BY event_type, week
        """,
        "events_ccf": """
            WITH daily AS (SELECT date_trunc('day', ts)::DATE AS d,
                                  event_type, count(*)::BIGINT AS n
                           FROM events GROUP BY 1, 2),
            x AS (SELECT d AS xd, n AS xn FROM daily
                  WHERE event_type = 'view'),
            y AS (SELECT d AS yd, n AS yn FROM daily
                  WHERE event_type = 'purchase'),
            l AS (SELECT xd, xn, unnest(range(0, 8)) AS lag FROM x),
            j AS (SELECT lag, xn, yn FROM l
                  JOIN y ON xd + lag::INT = yd)
            SELECT lag, count(*)::BIGINT AS n_days,
                   round(corr(xn, yn), 6) AS ccf
            FROM j GROUP BY lag
        """,
        "events_theil_sen": """
            WITH e AS (SELECT user_id, event_id,
                              floor(epoch(ts))::DOUBLE AS secs, value
                       FROM events WHERE user_id < 40),
            p AS (SELECT a.user_id,
                         (b.value - a.value) / (b.secs - a.secs) AS slope
                  FROM e a JOIN e b
                    ON a.user_id = b.user_id
                       AND a.event_id < b.event_id
                       AND a.secs <> b.secs)
            SELECT user_id, count(*)::BIGINT AS n_pairs,
                   round(median(slope), 6) + 0.0::DOUBLE AS theil_slope
            FROM p GROUP BY user_id
        """,
        "events_changepoint": """
            WITH daily AS (
              SELECT event_type AS key, ts::DATE AS t,
                     count(*)::DOUBLE AS v
              FROM events GROUP BY 1, 2),
            cum AS (
              SELECT key, t,
                     row_number() OVER (PARTITION BY key ORDER BY t) AS i,
                     sum(v) OVER (PARTITION BY key ORDER BY t) AS s,
                     count(*) OVER (PARTITION BY key) AS n,
                     sum(v) OVER (PARTITION BY key) AS tot
              FROM daily),
            scored AS (
              SELECT key, t AS split_t, n AS n_points,
                     abs(s / i::DOUBLE - (tot - s) / (n - i)::DOUBLE)
                       * sqrt(i::DOUBLE * (n - i)::DOUBLE / n::DOUBLE) AS stat,
                     s / i::DOUBLE AS ml,
                     (tot - s) / (n - i)::DOUBLE AS mr
              FROM cum WHERE i < n),
            pick AS (
              SELECT *, row_number() OVER (PARTITION BY key
                                           ORDER BY round(stat, 9) DESC,
                                                    split_t) AS rk
              FROM scored)
            SELECT key AS event_type,
                   strftime(split_t, '%Y-%m-%d') AS split_day, n_points,
                   round(stat, 6) AS stat,
                   round(ml, 6) AS mean_left,
                   round(mr, 6) AS mean_right
            FROM pick WHERE rk = 1
        """,
        "events_trend": """
            SELECT event_type,
                   round(regr_slope(value, epoch(ts) / 86400.0), 6) AS slope,
                   round(regr_intercept(value, epoch(ts) / 86400.0), 4)
                     AS intercept,
                   round(corr(value, epoch(ts) / 86400.0), 6) AS pearson_r,
                   count(*)::BIGINT AS n
            FROM events GROUP BY event_type
        """,
        "events_cusum": """
            WITH d AS (SELECT user_id, event_id, ts,
                              value - 55.0::DOUBLE - 5.0::DOUBLE AS dd
                       FROM events WHERE user_id < 40),
            c AS (SELECT user_id, event_id, ts,
                         sum(dd) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS p
                  FROM d),
            s AS (SELECT user_id, event_id,
                         p - least(0.0::DOUBLE,
                                   min(p) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id
                                                ROWS UNBOUNDED PRECEDING))
                           AS cusum
                  FROM c)
            SELECT user_id, event_id,
                   round(cusum, 4) AS cusum,
                   cusum > 200.005::DOUBLE AS alarm
            FROM s
        """,
        "events_gapfill": """
            WITH h AS (SELECT user_id, date_trunc('hour', ts) AS bucket,
                              max(value) AS v
                       FROM events WHERE user_id < 20 GROUP BY 1, 2),
            sp AS (SELECT user_id,
                          unnest(generate_series(min(bucket), max(bucket),
                                                 INTERVAL 1 HOUR)) AS bucket
                   FROM h GROUP BY user_id),
            j AS (SELECT sp.user_id, sp.bucket, h.v
                  FROM sp LEFT JOIN h USING (user_id, bucket))
            SELECT user_id,
                   strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
                   last_value(v IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY bucket
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS value_filled,
                   (v IS NULL) AS filled
            FROM j
        """,
        "events_seasonality": """
            WITH dow AS (
              SELECT event_type, (dayofweek(ts) + 1)::INT AS dow,
                     count(*)::BIGINT AS n, sum(value) AS _s
              FROM events GROUP BY 1, 2),
            tot AS (
              SELECT event_type, sum(_s) / sum(n) AS _mean_all,
                     sum(n)::BIGINT AS _n_all
              FROM dow GROUP BY 1)
            SELECT d.event_type, d.dow, d.n,
                   round(d._s / d.n, 6) AS dow_mean,
                   round((d._s / d.n) / t._mean_all, 6) AS seasonal_index,
                   round(d.n::DOUBLE / t._n_all, 6) AS volume_share
            FROM dow d JOIN tot t USING (event_type)
        """,
        "events_anomaly": """
            WITH hourly AS (
              SELECT date_trunc('hour', ts) AS hour, event_type,
                     count(*)::BIGINT AS n
              FROM events GROUP BY 1, 2),
            stats AS (
              SELECT event_type, avg(n) AS mu, stddev_pop(n) AS sigma
              FROM hourly GROUP BY event_type)
            SELECT h.event_type, h.hour, h.n,
                   round((h.n - s.mu) / greatest(s.sigma, 1e-9), 6) AS zscore,
                   abs(round((h.n - s.mu) / greatest(s.sigma, 1e-9), 6)) >= 2.0
                     AS is_anomaly
            FROM hourly h JOIN stats s USING (event_type)
        """,
        # EWMA: identical left fold over the identical 32-row frame —
        # alpha=0.5 keeps every step exact dyadic arithmetic, so the
        # engines agree bit-for-bit before the courtesy round
        "events_ewma": """
            WITH o AS (
              SELECT user_id, event_id,
                     list(value) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 31 PRECEDING AND CURRENT ROW
                     ) AS arr
              FROM events WHERE user_id < 40
            )
            SELECT user_id, event_id,
                   floor(list_reduce(arr::DOUBLE[],
                                     (acc, x) -> 0.5*x + 0.5*acc)
                         * 1e9)::BIGINT AS ewma_nanos
            FROM o
        """,
        "events_interpolate": """
            WITH h AS (SELECT user_id, date_trunc('hour', ts) AS bucket,
                              max(value) AS v
                       FROM events WHERE user_id < 20 GROUP BY 1, 2),
            sp AS (SELECT user_id,
                          unnest(generate_series(min(bucket), max(bucket),
                                                 INTERVAL 1 HOUR)) AS bucket
                   FROM h GROUP BY user_id),
            j AS (SELECT sp.user_id, sp.bucket, h.v
                  FROM sp LEFT JOIN h USING (user_id, bucket)),
            c AS (SELECT user_id, bucket, v,
                         last_value(v IGNORE NULLS) OVER wb AS pv,
                         last_value(CASE WHEN v IS NOT NULL THEN bucket END
                                    IGNORE NULLS) OVER wb AS pt,
                         first_value(v IGNORE NULLS) OVER wf AS nv,
                         first_value(CASE WHEN v IS NOT NULL THEN bucket END
                                     IGNORE NULLS) OVER wf AS nt
                  FROM j
                  WINDOW wb AS (PARTITION BY user_id ORDER BY bucket
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW),
                         wf AS (PARTITION BY user_id ORDER BY bucket
                                ROWS BETWEEN CURRENT ROW
                                         AND UNBOUNDED FOLLOWING))
            SELECT user_id,
                   strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
                   CASE WHEN v IS NOT NULL THEN v
                        ELSE pv + (nv - pv)
                             * (date_diff('second', pt, bucket)::DOUBLE
                                / date_diff('second', pt, nt)::DOUBLE)
                        END AS value_interp,
                   (v IS NULL) AS filled
            FROM c
        """,
    }
