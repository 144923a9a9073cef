"""Forecasting and forecast evaluation: baselines, exponential
smoothing, intermittent demand, backtests, conformal and pinball."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from vanus_spark.queries.common import _t


def q_events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (period 7) over each event type's daily
    value series — iterative level/trend/seasonal state folded
    entirely inside ONE Catalyst higher-order aggregate (no UDF, no
    per-step shuffle; operators/timeseries.holt_winters), emitting
    the 1..7-day-ahead forecasts plus final state and in-sample SSE.
    Daily sums stay exact integer cents, so both engines enter the
    recursion with identical doubles and the DuckDB twin — the SAME
    recursion as a recursive CTE over 7 seasonal columns —
    hash-matches the whole walk at round(6). Smoothing constants are
    powers of two (0.5/0.25/0.25): exact doubles, the EWMA module's
    convention."""
    from vanus_spark.operators.timeseries import holt_winters

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents")
    )
    return holt_winters(daily, "event_type", "day", "cents")


def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest: Holt-Winters trained on the
    first 23 days per event type (operators/timeseries.holt_winters —
    the same Catalyst-HOF fold as q_events_holt_winters), its 1..7
    step forecasts scored against the HELD-OUT actual days with APE
    and sMAPE — the evaluation loop a forecasting platform runs
    before trusting a model, closing the forecast family
    (fit -> forecast -> backtest). Forecast error derives from the
    round(6) forecast lattice on both engines. One daily collapse;
    the train cut and the actual join run on the bounded daily
    table."""
    from vanus_spark.operators.timeseries import holt_winters

    cutoff = 23
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    idx = daily.withColumn("_t", F.row_number().over(w) - 1)
    train = idx.where(F.col("_t") < cutoff).select(
        "event_type", "day", "cents"
    )
    fc = holt_winters(train, "event_type", "day", "cents")
    act = idx.select(
        F.col("event_type").alias("_ak"),
        F.col("_t").alias("_at"),
        F.col("cents").cast("double").alias("actual"),
    )
    j = fc.join(
        act,
        (F.col("event_type") == F.col("_ak"))
        & (F.col("_at") == F.col("h") + (cutoff - 1)),
    )
    ape = F.abs(F.col("forecast") - F.col("actual")) / F.abs(
        F.col("actual")
    )
    smape = (
        2.0
        * F.abs(F.col("forecast") - F.col("actual"))
        / (F.abs(F.col("forecast")) + F.abs(F.col("actual")))
    )
    return j.select(
        "event_type",
        "h",
        "forecast",
        F.round("actual", 1).alias("actual"),
        F.round(ape, 6).alias("ape"),
        F.round(smape, 6).alias("smape"),
    ).orderBy("event_type", "h")


def q_events_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for intermittent demand per user (the
    spare-parts/sparse-purchase forecaster a naive EWMA gets wrong):
    daily purchase cents collapse once; on NONZERO-demand days the
    demand sizes and the inter-demand gaps each smooth through the
    shared dyadic EWMA fold (operators/timeseries.ewma, alpha = 0.5 —
    every step exact in doubles), and the forecast is the final
    size-EWMA / gap-EWMA ratio. Fixed-point nanos via floor on both
    engines (the events_ewma discipline). Users with >= 2 demand days
    only (the gap series needs a second point)."""
    from vanus_spark.operators.timeseries import ewma

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("dnum"),
    ).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.expr("CAST(round(value * 100) AS BIGINT)"),
            ).otherwise(0)
        ).alias("z")
    )
    nz = daily.where(F.col("z") > 0)
    w = Window.partitionBy("user_id").orderBy("dnum")
    zs = ewma(nz, "z", "dnum", "user_id", "dnum", alpha=0.5, k=32)
    gaps = nz.select(
        "user_id",
        "dnum",
        (F.col("dnum") - F.lag("dnum").over(w)).alias("gap"),
    ).where(F.col("gap").isNotNull())
    gs = ewma(gaps, "gap", "dnum", "user_id", "dnum", alpha=0.5, k=32)
    last_z = (
        zs.withColumn(
            "_rn", F.row_number().over(w.orderBy(F.col("dnum").desc()))
        )
        .where(F.col("_rn") == 1)
        .select("user_id", F.col("ewma").alias("ez"))
    )
    last_g = (
        gs.withColumn(
            "_rn", F.row_number().over(w.orderBy(F.col("dnum").desc()))
        )
        .where(F.col("_rn") == 1)
        .select("user_id", F.col("ewma").alias("eg"))
    )
    nd = nz.groupBy("user_id").agg(F.count("*").alias("n_demand_days"))
    out = (
        nd.join(last_z, "user_id")
        .join(last_g, "user_id")
        .where(F.col("n_demand_days") >= 2)
    )
    return out.select(
        "user_id",
        "n_demand_days",
        F.floor(F.col("ez") * 1e9).cast("long").alias("size_ewma_nanos"),
        F.floor(F.col("eg") * 1e9).cast("long").alias("gap_ewma_nanos"),
        F.floor((F.col("ez") / F.col("eg")) * 1e9)
        .cast("long")
        .alias("croston_nanos"),
    ).orderBy("user_id")


def q_forecast_pinball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-forecast evaluation with pinball (quantile) loss — the
    proper scoring rule for P10/P50/P90 forecasts (Koenker-Bassett
    quantile regression loss; the M5-Uncertainty metric). Forecasts
    are the train window's DISCRETE order statistics (rank
    k = ceil(tau*n) via integer math (tau10*n + 9) DIV 10 — no float
    ceil seam), evaluated on the held-out tail. The loss stays
    EXACT-integer: with tau = tau10/10 and cents values,
    10*loss = max(tau10*(y-f), (tau10-10)*(y-f)) — BIGINT until the
    single final division. Coverage (frac of test days y <= f) rides
    along: P90 coverage far from 0.9 means the quantile is lying.
    One daily aggregate, one per-type rank window over <=21 rows, a
    3-row tau cross, one test-window aggregate."""
    ev = _t(spark, sf_dir, "events")
    split = "2024-01-22"
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("_day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("_c"))
    train = daily.where(F.col("_day") < F.lit(split))
    wtr = Window.partitionBy("event_type").orderBy("_c", "_day")
    ranked = train.select(
        "event_type",
        F.row_number().over(wtr).alias("_rn"),
        "_c",
        F.count("*").over(
            Window.partitionBy("event_type")
        ).alias("_n"),
    )
    taus = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(5), F.lit(9))).alias("tau10")
    )
    fc = (
        ranked.crossJoin(F.broadcast(taus))
        .where(
            F.col("_rn")
            == F.expr("CAST((tau10 * _n + 9) DIV 10 AS INT)")
        )
        .select("event_type", "tau10", F.col("_c").alias("_f"))
    )
    test = daily.where(F.col("_day") >= F.lit(split))
    j = test.join(F.broadcast(fc), "event_type")
    dlt = F.col("_c") - F.col("_f")
    l10 = F.greatest(
        F.col("tau10") * dlt, (F.col("tau10") - F.lit(10)) * dlt
    )
    g = j.groupBy("event_type", "tau10").agg(
        F.count("*").alias("_nt"),
        F.first("_f").alias("_fv"),
        F.sum(l10).alias("_l"),
        F.sum((F.col("_c") <= F.col("_f")).cast("long")).alias("_cov"),
    )
    return g.select(
        "event_type",
        (F.col("tau10").cast("double") / 10.0).alias("tau"),
        F.round(F.col("_fv").cast("double") / 100.0, 2).alias("forecast"),
        F.round(
            F.col("_l").cast("double")
            / (1000.0 * F.col("_nt").cast("double")),
            6,
        ).alias("mean_pinball"),
        F.round(
            F.col("_cov").cast("double") / F.col("_nt").cast("double"), 6
        ).alias("coverage"),
    ).orderBy("event_type", "tau")


def q_forecast_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals over a seasonal-naive
    forecaster (Vovk's conformal framework in its simplest split
    form, the distribution-free coverage guarantee every forecast
    SLA wants): calibration residuals |y_d - y_(d-7)| on days 8-21,
    interval half-width q = the k-th smallest with
    k = ceil((1-alpha)(n_cal+1)) (alpha=0.2, integer rank math —
    (8*(n+1)+9) DIV 10, no float ceil seam), then the held-out tail
    (days 22-30) checks empirical coverage against the nominal 80%.
    Everything is exact BIGINT cents until the final divisions; the
    order statistic is a row_number pick over a <=14-row-per-type
    partition. One daily aggregate + one lag window + one rank
    window + one test aggregate."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("_day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("_c"))
    wo = Window.partitionBy("event_type").orderBy("_day")
    lagged = daily.select(
        "event_type", "_day", "_c", F.lag("_c", 7).over(wo).alias("_f")
    ).where(F.col("_f").isNotNull())
    cal = lagged.where(F.col("_day") < F.lit("2024-01-22")).select(
        "event_type", F.abs(F.col("_c") - F.col("_f")).alias("_r")
    )
    wr = Window.partitionBy("event_type").orderBy("_r")
    ranked = cal.select(
        "event_type",
        "_r",
        F.row_number().over(wr).alias("_rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("_n"),
    )
    q = ranked.where(
        F.col("_rn") == F.expr("CAST((8 * (_n + 1) + 9) DIV 10 AS INT)")
    ).select(
        "event_type", F.col("_n").alias("n_cal"), F.col("_r").alias("_q")
    )
    test = lagged.where(F.col("_day") >= F.lit("2024-01-22"))
    g = test.join(F.broadcast(q), "event_type").groupBy("event_type").agg(
        F.first("n_cal").alias("n_cal"),
        F.first("_q").alias("_qv"),
        F.count("*").alias("n_test"),
        F.sum(
            (F.abs(F.col("_c") - F.col("_f")) <= F.col("_q")).cast("long")
        ).alias("_cov"),
    )
    return g.select(
        "event_type",
        "n_cal",
        F.round(F.col("_qv").cast("double") / 100.0, 2).alias("q_width"),
        "n_test",
        F.round(
            F.col("_cov").cast("double") / F.col("n_test").cast("double"),
            6,
        ).alias("coverage"),
    ).orderBy("event_type")


def q_forecast_baselines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four forecast baselines every model must beat (Hyndman &
    Athanasopoulos FPP ch. 5): naive (last value), seasonal-naive
    (same weekday last season, repeating the final season for h > m),
    drift (line through first and last train points), and train mean —
    MAE on the held-out tail per event type. All four forecasts are
    expressed as exact-integer NUMERATORS over the common denominator
    n*(n-1) (n = train days), so the scaled absolute errors stay
    BIGINT-exact until ONE final division — no per-method float
    seams. One daily aggregate, one broadcast per-type train summary,
    one 7-row season join, one 20-row-per-type aggregate."""
    ev = _t(spark, sf_dir, "events")
    split = "2024-01-22"
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("_day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("_c"))
    train = daily.where(F.col("_day") < F.lit(split))
    wo = Window.partitionBy("event_type").orderBy("_day")
    wfull = Window.partitionBy("event_type")
    tr = train.select(
        "event_type",
        "_day",
        "_c",
        F.row_number().over(wo).alias("_i"),
        F.count("*").over(wfull).alias("_n"),
        F.sum("_c").over(wfull).alias("_s"),
        F.first("_c").over(wo).alias("_y1"),
        F.max("_day").over(wfull).alias("_last"),
    )
    per_type = tr.where(F.col("_i") == F.col("_n")).select(
        "event_type",
        F.col("_n").alias("n_tr"),
        F.col("_s").alias("s_tr"),
        F.col("_y1").alias("y1"),
        F.col("_c").alias("yn"),
        F.col("_last").alias("last_day"),
    )
    # last season: the final 7 train days, keyed 0..6 from the oldest
    season = tr.where(F.col("_i") > F.col("_n") - 7).select(
        "event_type",
        (F.col("_i") - (F.col("_n") - 7) - 1).alias("_sk"),
        F.col("_c").alias("ysn"),
    )
    test = daily.where(F.col("_day") >= F.lit(split))
    base = (
        test.join(F.broadcast(per_type), "event_type")
        .withColumn("_h", F.datediff("_day", "last_day"))
        .join(F.broadcast(season), ["event_type"])
        .where((F.col("_h") - 1) % 7 == F.col("_sk"))
    )
    den = F.col("n_tr").cast("decimal(38,0)") * (F.col("n_tr") - 1)
    scaled_y = den * F.col("_c")
    methods = [
        ("naive", den * F.col("yn")),
        ("snaive", den * F.col("ysn")),
        (
            "drift",
            den * F.col("yn")
            + F.col("n_tr").cast("decimal(38,0)")
            * F.col("_h")
            * (F.col("yn") - F.col("y1")),
        ),
        ("mean", (F.col("n_tr") - 1).cast("decimal(38,0)") * F.col("s_tr")),
    ]
    frames = [
        base.select(
            "event_type",
            F.lit(name).alias("method"),
            F.abs(scaled_y - num).alias("_ae"),
            den.alias("_den"),
        )
        for name, num in methods
    ]
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f)
    g = u.groupBy("event_type", "method").agg(
        F.count("*").alias("_nt"),
        F.sum("_ae").alias("_sae"),
        F.first("_den").alias("_d"),
    )
    return g.select(
        "event_type",
        "method",
        F.round(
            F.col("_sae").cast("double")
            / (
                F.col("_d").cast("double")
                * 100.0
                * F.col("_nt").cast("double")
            ),
            6,
        ).alias("mae"),
    ).orderBy("event_type", "method")


def q_forecast_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecast (Assimakopoulos & Nikolopoulos 2000, the
    M3 winner) in the Hyndman-Billah closed form: Theta(0,2) equals
    SES plus a b/2 drift, f(T+h) = S_T + (b/2)(h - 1 + 1/alpha), with
    the OLS slope b and alpha FIXED at 0.5 (documented; no driver-side
    optimizer loop). alpha = 1/2 makes the whole statistic
    EXACT-integer: the SES level scales to
    N = 2^(T-1)*S_T = y_1 + sum_t 2^(t-2)*y_t (shiftleft weights, no
    float powers), the slope is the integer ratio
    (T*Sty - St*Sy)/(T*Stt - St^2), and every forecast error scales by
    the common denominator 2^T*(T*Stt - St^2) — decimal(38,0)
    products, ONE final division for the MAE. One daily aggregate, one
    per-type train fold (bounded T), one test-window aggregate."""
    ev = _t(spark, sf_dir, "events")
    split = "2024-01-22"
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("_day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("_c"))
    train = daily.where(F.col("_day") < F.lit(split))
    wo = Window.partitionBy("event_type").orderBy("_day")
    tr = train.select(
        "event_type", "_day", "_c", F.row_number().over(wo).alias("_t")
    )
    per = tr.groupBy("event_type").agg(
        F.count("*").alias("_T"),
        F.sum("_c").alias("_sy"),
        F.sum(F.col("_t").cast("decimal(38,0)") * F.col("_c")).alias(
            "_sty"
        ),
        F.sum(F.col("_t").cast("decimal(38,0)") * F.col("_t")).alias(
            "_stt"
        ),
        F.sum("_t").alias("_st"),
        # N = 2^(T-1) * SES level: y_1 carries weight 2^(T-1-(T-1))=1,
        # y_t (t>=2) carries 2^(t-2)
        F.sum(
            F.when(F.col("_t") == 1, F.col("_c").cast("decimal(38,0)"))
            .otherwise(
                F.expr("shiftleft(1L, _t - 2)").cast("decimal(38,0)")
                * F.col("_c")
            )
        ).alias("_n"),
        F.max("_day").alias("_last"),
    )
    # slope b = bn/bd; SES level = N / 2^(T-1); with alpha = 1/2 the
    # h-step forecast is S_T + (b/2)(h+1). Common denominator
    # D = 2^T * bd: f_num = 2*bd*N + 2^(T-1)*bn*(h+1)
    bn = F.col("_T").cast("decimal(38,0)") * F.col("_sty") - F.col(
        "_st"
    ).cast("decimal(38,0)") * F.col("_sy")
    bd = F.col("_T").cast("decimal(38,0)") * F.col("_stt") - F.col(
        "_st"
    ).cast("decimal(38,0)") * F.col("_st")
    pow_t1 = F.expr("shiftleft(1L, _T - 1)").cast("decimal(38,0)")
    test = daily.where(F.col("_day") >= F.lit(split))
    j = (
        test.join(F.broadcast(per), "event_type")
        .withColumn("_h", F.datediff("_day", "_last"))
        .select(
            "event_type",
            "_T",
            bd.alias("_bd"),
            bn.alias("_bn"),
            (
                F.lit(2).cast("decimal(38,0)") * bd * F.col("_n")
                + pow_t1 * bn * (F.col("_h") + 1)
            ).alias("_fnum"),
            (F.lit(2).cast("decimal(38,0)") * bd * pow_t1).alias("_d"),
            "_c",
        )
    )
    g = j.groupBy("event_type").agg(
        F.count("*").alias("_nt"),
        F.first("_bn").alias("_bn"),
        F.first("_bd").alias("_bd"),
        F.sum(
            F.abs(F.col("_d") * F.col("_c") - F.col("_fnum"))
        ).alias("_sae"),
        F.first("_d").alias("_dv"),
    )
    return g.select(
        "event_type",
        F.round(
            F.col("_bn").cast("double")
            / (100.0 * F.col("_bd").cast("double")),
            6,
        ).alias("slope"),
        F.round(
            F.col("_sae").cast("double")
            / (
                F.col("_dv").cast("double")
                * 100.0
                * F.col("_nt").cast("double")
            ),
            6,
        ).alias("mae"),
    ).orderBy("event_type")


def _holt_winters_oracle_sql(p: int = 7) -> str:
    """DuckDB twin of q_events_holt_winters: the SAME additive
    Holt-Winters recursion as a recursive CTE carrying ``p`` scalar
    seasonal columns (s0..s6), stepping one day per recursion level.
    Every arithmetic expression textually mirrors the Spark fold
    (same literals 0.5/0.25/0.75, same nesting), and the init moments
    come from exact integer cents, so the walks are bit-identical."""
    scols = ", ".join(f"s{i}" for i in range(p))
    init_seas = ",\n                          ".join(
        f"max(CASE WHEN t = {i} THEN y END)"
        f" - sum(CASE WHEN t < {p} THEN y END) / {float(p)!r}::DOUBLE AS s{i}"
        for i in range(p)
    )
    sold = (
        "CASE s.t % 7 "
        + " ".join(f"WHEN {i} THEN s.s{i}" for i in range(p))
        + " END"
    )
    lvl_n = f"0.5 * (d.y - {sold}) + 0.5 * (s.lvl + s.tr)"
    s_n = f"0.25 * (d.y - ({lvl_n})) + 0.75 * {sold}"
    step_seas = ",\n                     ".join(
        f"CASE WHEN s.t % 7 = {i} THEN {s_n} ELSE s.s{i} END AS s{i}"
        for i in range(p)
    )
    fc_seas = (
        "CASE (n - 1 + h) % 7 "
        + " ".join(f"WHEN {i} THEN s{i}" for i in range(p))
        + " END"
    )
    return f"""
            WITH RECURSIVE d AS (
              SELECT event_type AS k, ts::DATE AS day,
                     sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS yc
              FROM events GROUP BY 1, 2),
            di AS (SELECT k,
                          row_number() OVER (PARTITION BY k ORDER BY day)
                            - 1 AS t,
                          yc::DOUBLE AS y
                   FROM d),
            init AS (
              SELECT k, count(*)::BIGINT AS n, {p}::BIGINT AS t,
                     sum(CASE WHEN t < {p} THEN y END)
                       / {float(p)!r}::DOUBLE AS lvl,
                     (sum(CASE WHEN t >= {p} AND t < {2 * p} THEN y END)
                      - sum(CASE WHEN t < {p} THEN y END))
                       / {float(p * p)!r}::DOUBLE AS tr,
                     0.0::DOUBLE AS sse,
                          {init_seas}
              FROM di GROUP BY k HAVING count(*) >= {2 * p}),
            step AS (
              SELECT * FROM init
              UNION ALL
              SELECT s.k, s.n, s.t + 1,
                     {lvl_n} AS lvl,
                     0.25 * (({lvl_n}) - s.lvl) + 0.75 * s.tr AS tr,
                     s.sse + (d.y - (s.lvl + s.tr + {sold}))
                           * (d.y - (s.lvl + s.tr + {sold})) AS sse,
                     {step_seas}
              FROM step s JOIN di d ON d.k = s.k AND d.t = s.t),
            fin AS (SELECT * FROM step WHERE t = n),
            hs AS (SELECT unnest(range(1, {p + 1})) AS h)
            SELECT k AS event_type, n AS n_days, h,
                   round(lvl + h * tr + {fc_seas}, 6) AS forecast,
                   round(lvl, 6) AS level, round(tr, 6) AS trend,
                   round(sse, 6) AS sse
            FROM fin CROSS JOIN hs
        """


def _hw_backtest_oracle_sql(p: int = 7, cutoff: int = 23) -> str:
    """DuckDB twin of q_forecast_backtest: the SAME Holt-Winters
    recursion as _holt_winters_oracle_sql but trained on t < cutoff,
    forecasts joined to the held-out actuals with APE/sMAPE — error
    derived from the round(6) forecast, matching the Spark side."""
    init_seas = ",\n                          ".join(
        f"max(CASE WHEN t = {i} THEN y END)"
        f" - sum(CASE WHEN t < {p} THEN y END) / {float(p)!r}::DOUBLE AS s{i}"
        for i in range(p)
    )
    sold = (
        "CASE s.t % 7 "
        + " ".join(f"WHEN {i} THEN s.s{i}" for i in range(p))
        + " END"
    )
    lvl_n = f"0.5 * (d.y - {sold}) + 0.5 * (s.lvl + s.tr)"
    s_n = f"0.25 * (d.y - ({lvl_n})) + 0.75 * {sold}"
    step_seas = ",\n                     ".join(
        f"CASE WHEN s.t % 7 = {i} THEN {s_n} ELSE s.s{i} END AS s{i}"
        for i in range(p)
    )
    fc_seas = (
        "CASE (n - 1 + h) % 7 "
        + " ".join(f"WHEN {i} THEN s{i}" for i in range(p))
        + " END"
    )
    return f"""
            WITH RECURSIVE dd AS (
              SELECT event_type AS k, ts::DATE AS day,
                     sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS yc
              FROM events GROUP BY 1, 2),
            alli AS (SELECT k,
                            row_number() OVER (PARTITION BY k
                                               ORDER BY day) - 1 AS t,
                            yc::DOUBLE AS y
                     FROM dd),
            di AS (SELECT * FROM alli WHERE t < {cutoff}),
            init AS (
              SELECT k, count(*)::BIGINT AS n, {p}::BIGINT AS t,
                     sum(CASE WHEN t < {p} THEN y END)
                       / {float(p)!r}::DOUBLE AS lvl,
                     (sum(CASE WHEN t >= {p} AND t < {2 * p} THEN y END)
                      - sum(CASE WHEN t < {p} THEN y END))
                       / {float(p * p)!r}::DOUBLE AS tr,
                     0.0::DOUBLE AS sse,
                          {init_seas}
              FROM di GROUP BY k HAVING count(*) >= {2 * p}),
            step AS (
              SELECT * FROM init
              UNION ALL
              SELECT s.k, s.n, s.t + 1,
                     {lvl_n} AS lvl,
                     0.25 * (({lvl_n}) - s.lvl) + 0.75 * s.tr AS tr,
                     s.sse + (d.y - (s.lvl + s.tr + {sold}))
                           * (d.y - (s.lvl + s.tr + {sold})) AS sse,
                     {step_seas}
              FROM step s JOIN di d ON d.k = s.k AND d.t = s.t),
            fin AS (SELECT * FROM step WHERE t = n),
            hs AS (SELECT unnest(range(1, {p + 1})) AS h),
            fc AS (SELECT k AS event_type, h,
                          round(lvl + h * tr + {fc_seas}, 6) AS forecast
                   FROM fin CROSS JOIN hs),
            j AS (SELECT fc.event_type, fc.h, fc.forecast,
                         a.y AS actual
                  FROM fc JOIN alli a
                    ON a.k = fc.event_type
                   AND a.t = fc.h + {cutoff - 1})
            SELECT event_type, h, forecast, round(actual, 1) AS actual,
                   round(abs(forecast - actual) / abs(actual), 6) AS ape,
                   round(2.0 * abs(forecast - actual)
                         / (abs(forecast) + abs(actual)), 6) AS smape
            FROM j ORDER BY event_type, h
        """


def oracle_sql() -> dict[str, str]:
    """DuckDB twins of this family's queries, keyed by query name."""
    return {
        "forecast_pinball": """
            WITH daily AS (
              SELECT event_type, ts::DATE AS d,
                     sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
              FROM events GROUP BY 1, 2),
            train AS (SELECT * FROM daily WHERE d < DATE '2024-01-22'),
            ranked AS (
              SELECT event_type, c,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY c, d) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM train),
            taus AS (SELECT unnest([1, 5, 9])::BIGINT AS tau10),
            fc AS (
              SELECT event_type, tau10, c AS f
              FROM ranked CROSS JOIN taus
              WHERE rn = CAST((tau10 * n + 9) // 10 AS INT)),
            test AS (SELECT * FROM daily WHERE d >= DATE '2024-01-22'),
            g AS (
              SELECT t.event_type, f.tau10,
                     count(*)::BIGINT AS nt,
                     any_value(f.f) AS fv,
                     sum(greatest(f.tau10 * (t.c - f.f),
                                  (f.tau10 - 10) * (t.c - f.f)))::BIGINT
                       AS l,
                     sum((t.c <= f.f)::INT)::BIGINT AS cov
              FROM test t JOIN fc f USING (event_type)
              GROUP BY 1, 2)
            SELECT event_type, tau10::DOUBLE / 10.0 AS tau,
                   round(fv::DOUBLE / 100.0, 2) AS forecast,
                   round(l::DOUBLE / (1000.0 * nt::DOUBLE), 6)
                     AS mean_pinball,
                   round(cov::DOUBLE / nt::DOUBLE, 6) AS coverage
            FROM g ORDER BY event_type, tau
        """,
        "forecast_conformal": """
            WITH daily AS (
              SELECT event_type, ts::DATE AS d,
                     sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
              FROM events GROUP BY 1, 2),
            lagged AS (
              SELECT event_type, d, c,
                     lag(c, 7) OVER (PARTITION BY event_type
                                     ORDER BY d) AS f
              FROM daily),
            lv AS (SELECT * FROM lagged WHERE f IS NOT NULL),
            cal AS (SELECT event_type, abs(c - f)::BIGINT AS r
                    FROM lv WHERE d < DATE '2024-01-22'),
            ranked AS (
              SELECT event_type, r,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY r) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM cal),
            q AS (SELECT event_type, n AS n_cal, r AS qv
                  FROM ranked
                  WHERE rn = CAST((8 * (n + 1) + 9) // 10 AS INT)),
            g AS (
              SELECT t.event_type, any_value(q.n_cal) AS n_cal,
                     any_value(q.qv) AS qv, count(*)::BIGINT AS n_test,
                     sum((abs(t.c - t.f) <= q.qv)::INT)::BIGINT AS cov
              FROM lv t JOIN q USING (event_type)
              WHERE t.d >= DATE '2024-01-22'
              GROUP BY 1)
            SELECT event_type, n_cal,
                   round(qv::DOUBLE / 100.0, 2) AS q_width, n_test,
                   round(cov::DOUBLE / n_test::DOUBLE, 6) AS coverage
            FROM g ORDER BY event_type
        """,
        "forecast_baselines": """
            WITH daily AS (
              SELECT event_type, ts::DATE AS d,
                     sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
              FROM events GROUP BY 1, 2),
            tr AS (
              SELECT event_type, d, c,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY d) AS i,
                     count(*) OVER (PARTITION BY event_type) AS n,
                     sum(c) OVER (PARTITION BY event_type) AS s,
                     first_value(c) OVER (PARTITION BY event_type
                                          ORDER BY d) AS y1,
                     max(d) OVER (PARTITION BY event_type) AS last_day
              FROM daily WHERE d < DATE '2024-01-22'),
            pt AS (SELECT event_type, n AS n_tr, s AS s_tr, y1,
                          c AS yn, last_day
                   FROM tr WHERE i = n),
            season AS (SELECT event_type, i - (n - 7) - 1 AS sk,
                              c AS ysn
                       FROM tr WHERE i > n - 7),
            base AS (
              SELECT t.event_type, t.c,
                     date_diff('day', p.last_day, t.d) AS h,
                     p.n_tr, p.s_tr, p.y1, p.yn, se.ysn,
                     p.n_tr::HUGEINT * (p.n_tr - 1) AS den
              FROM daily t
              JOIN pt p USING (event_type)
              JOIN season se
                ON se.event_type = t.event_type
               AND (date_diff('day', p.last_day, t.d) - 1) % 7 = se.sk
              WHERE t.d >= DATE '2024-01-22'),
            u AS (
              SELECT event_type, 'naive' AS method,
                     abs(den * c - den * yn) AS ae, den FROM base
              UNION ALL
              SELECT event_type, 'snaive',
                     abs(den * c - den * ysn), den FROM base
              UNION ALL
              SELECT event_type, 'drift',
                     abs(den * c - (den * yn
                         + n_tr::HUGEINT * h * (yn - y1))), den FROM base
              UNION ALL
              SELECT event_type, 'mean',
                     abs(den * c - (n_tr - 1)::HUGEINT * s_tr), den
              FROM base),
            g AS (SELECT event_type, method, count(*)::BIGINT AS nt,
                         sum(ae) AS sae, any_value(den) AS dn
                  FROM u GROUP BY 1, 2)
            SELECT event_type, method,
                   round(sae::DOUBLE
                         / (dn::DOUBLE * 100.0 * nt::DOUBLE), 6) AS mae
            FROM g ORDER BY event_type, method
        """,
        "forecast_theta": """
            WITH daily AS (
              SELECT event_type, ts::DATE AS d,
                     sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
              FROM events GROUP BY 1, 2),
            tr AS (
              SELECT event_type, d, c,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY d) AS t
              FROM daily WHERE d < DATE '2024-01-22'),
            per AS (
              SELECT event_type,
                     count(*)::HUGEINT AS tt,
                     sum(c)::HUGEINT AS sy,
                     sum(t::HUGEINT * c) AS sty,
                     sum(t::HUGEINT * t) AS stt,
                     sum(t)::HUGEINT AS st,
                     sum(CASE WHEN t = 1 THEN c::HUGEINT
                         ELSE (1::HUGEINT << (t - 2)) * c END) AS n,
                     max(d) AS last_day
              FROM tr GROUP BY 1),
            j AS (
              SELECT te.event_type, te.c,
                     date_diff('day', p.last_day, te.d) AS h,
                     p.tt * p.sty - p.st * p.sy AS bn,
                     p.tt * p.stt - p.st * p.st AS bd,
                     2::HUGEINT * (p.tt * p.stt - p.st * p.st) * p.n
                       + (1::HUGEINT << (p.tt - 1)::INT)
                         * (p.tt * p.sty - p.st * p.sy)
                         * (date_diff('day', p.last_day, te.d) + 1)
                       AS fnum,
                     2::HUGEINT * (p.tt * p.stt - p.st * p.st)
                       * (1::HUGEINT << (p.tt - 1)::INT) AS dv
              FROM daily te JOIN per p USING (event_type)
              WHERE te.d >= DATE '2024-01-22'),
            g AS (
              SELECT event_type, count(*)::BIGINT AS nt,
                     any_value(bn) AS bn, any_value(bd) AS bd,
                     sum(abs(dv * c - fnum)) AS sae,
                     any_value(dv) AS dv
              FROM j GROUP BY 1)
            SELECT event_type,
                   round(bn::DOUBLE / (100.0 * bd::DOUBLE), 6) AS slope,
                   round(sae::DOUBLE
                         / (dv::DOUBLE * 100.0 * nt::DOUBLE), 6) AS mae
            FROM g ORDER BY event_type
        """,
        "events_croston": """
            WITH daily AS (
              SELECT user_id,
                     date_diff('day', DATE '2024-01-01',
                               ts::DATE)::BIGINT AS dnum,
                     sum(CASE WHEN event_type = 'purchase'
                         THEN CAST(round(value * 100) AS BIGINT)
                         ELSE 0 END)::BIGINT AS z
              FROM events GROUP BY 1, 2),
            nz AS (SELECT * FROM daily WHERE z > 0),
            zf AS (SELECT user_id, dnum,
                          list(z) OVER (PARTITION BY user_id
                            ORDER BY dnum ROWS BETWEEN 31 PRECEDING
                            AND CURRENT ROW) AS arr
                   FROM nz),
            zlast AS (SELECT user_id, arr FROM (
                        SELECT user_id, arr,
                               row_number() OVER (PARTITION BY user_id
                                 ORDER BY dnum DESC) AS rn
                        FROM zf) WHERE rn = 1),
            ez AS (SELECT user_id,
                          list_reduce(arr::DOUBLE[],
                                      (acc, x) -> 0.5*x + 0.5*acc) AS ez
                   FROM zlast),
            gp AS (SELECT user_id, dnum,
                          dnum - lag(dnum) OVER (PARTITION BY user_id
                            ORDER BY dnum) AS gap
                   FROM nz),
            gp2 AS (SELECT user_id, dnum, gap FROM gp
                    WHERE gap IS NOT NULL),
            gf AS (SELECT user_id, dnum,
                          list(gap) OVER (PARTITION BY user_id
                            ORDER BY dnum ROWS BETWEEN 31 PRECEDING
                            AND CURRENT ROW) AS garr
                   FROM gp2),
            glast AS (SELECT user_id, garr FROM (
                        SELECT user_id, garr,
                               row_number() OVER (PARTITION BY user_id
                                 ORDER BY dnum DESC) AS rn
                        FROM gf) WHERE rn = 1),
            eg AS (SELECT user_id,
                          list_reduce(garr::DOUBLE[],
                                      (acc, x) -> 0.5*x + 0.5*acc) AS eg
                   FROM glast),
            nd AS (SELECT user_id, count(*)::BIGINT AS n_demand_days
                   FROM nz GROUP BY 1)
            SELECT nd.user_id, nd.n_demand_days,
                   floor(ez.ez * 1e9)::BIGINT AS size_ewma_nanos,
                   floor(eg.eg * 1e9)::BIGINT AS gap_ewma_nanos,
                   floor((ez.ez / eg.eg) * 1e9)::BIGINT AS croston_nanos
            FROM nd JOIN ez USING (user_id) JOIN eg USING (user_id)
            WHERE nd.n_demand_days >= 2
            ORDER BY nd.user_id
        """,
        "events_holt_winters": _holt_winters_oracle_sql(p=7),
        "forecast_backtest": _hw_backtest_oracle_sql(p=7, cutoff=23),
    }
