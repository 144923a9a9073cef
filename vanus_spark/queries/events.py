"""Event analytics: windows, sessions, funnels, journeys, attribution,
feature engineering, geo rollups, as-of and range joins over the events
table."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from vanus_spark.queries.common import _events, _t


def q_events_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total",
        )
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min gap splits a user's events into sessions."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    with_new = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
    )
    with_sid = with_new.withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return with_sid.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
    )


def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (union-window composition): for each purchase, the
    latest prior-or-same-instant signup of the same user."""
    from vanus_spark.operators import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.where("event_type = 'purchase'").select("user_id", "ts", "event_id")
    signups = ev.where("event_type = 'signup'").select(
        "user_id", F.col("ts").alias("sts"), F.col("event_id").alias("signup_id")
    )
    out = asof_join(purchases, signups, "user_id", "ts", "sts", ["signup_id"])
    return out.select("event_id", "asof_signup_id")


def q_asof_nearest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (operators/asof.py
    direction='nearest'): for each purchase, the click of the same
    user with the smallest absolute time gap, backward winning exact
    ties. Both direction carries ride ONE shuffle+sort (two window
    frames over the same ordering); the oracle restates it as two
    DuckDB ASOF joins (>= and <=) plus the same tie rule."""
    from vanus_spark.operators import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.where("event_type = 'purchase'").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.where("event_type = 'click'").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("click_id")
    )
    out = asof_join(
        purchases, clicks, "user_id", "ts", "cts", ["click_id"],
        direction="nearest",
    )
    return out.select("event_id", "asof_click_id")


def q_range_join_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join: event pairs with |value diff| <= 0.25."""
    from vanus_spark.operators import range_join_buckets

    ev = _events(spark, sf_dir)
    a = ev.where("event_id % 20 = 0").select(
        F.col("event_id").alias("aid"), F.col("value").alias("av")
    )
    b = ev.where("event_id % 20 = 10").select(
        F.col("event_id").alias("bid"), F.col("value").alias("bv")
    )
    out = range_join_buckets(a, b, "av", "bv", 0.25)
    return out.select("aid", F.col("r_bid").alias("bid"))


def q_events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        F.round(F.min("value"), 6).alias("vmin"),
        F.round(F.max("value"), 6).alias("vmax"),
    )


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .rollup("event_type", "day")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
    )


def q_events_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    purchasers = ev.where("event_type = 'purchase'").select("user_id").distinct()
    erroring = ev.where("event_type = 'error'").select("user_id").distinct()
    both = purchasers.intersect(erroring).withColumn("relation", F.lit("both"))
    only_purch = purchasers.exceptAll(erroring).withColumn("relation", F.lit("purchase_only"))
    return both.unionByName(only_purch)


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["purchase", "click", "error", "signup", "view"])
        .count()
        .na.fill(0)
    )


def q_events_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregations — the 100 TB substitute for exact distincts
    and percentiles (HLL++ and Greenwald-Khanna are one-pass,
    mergeable, bounded-memory; the exact forms shuffle every distinct
    value / sort every group). Per event type: exact distinct users
    (DuckDB re-derives it — anchors the row), the HLL++
    approx_count_distinct, and approx p50/p95/p99 of value. Sketches
    are deterministic for a given input + accuracy parameter, so the
    sketch columns are GOLDEN-pinned (the bpe_merges pattern) — and
    tests assert the approx values sit within the configured error of
    the exact ones, which is the property that actually matters."""
    ev = _t(spark, sf_dir, "events")
    # exact distinct and the sketches aggregate SEPARATELY, joined on
    # the tiny group key: combining count_distinct with other
    # aggregates makes Catalyst Expand every input row for the
    # distinct path (measured 4.3 s vs 0.3+0.5 s split at sf0.1).
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    sketches = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.percentile_approx("value", [0.5, 0.95, 0.99], 10_000).alias("_q"),
    )
    return (
        exact.join(sketches, "event_type")
        .select(
            "event_type",
            "exact_users",
            "approx_users",
            F.round(F.col("_q")[0], 6).alias("p50"),
            F.round(F.col("_q")[1], 6).alias("p95"),
            F.round(F.col("_q")[2], 6).alias("p99"),
        )
    )


def q_events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, distinct
    active users per (cohort day, day offset). Two partial-agg
    shuffles on user_id, then one on the cohort pair."""
    ev = _t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort")
    )
    active = (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "cohort",
            F.datediff(
                F.to_date(F.date_trunc("day", F.col("ts"))), F.to_date("cohort")
            ).alias("day_offset"),
        )
        .distinct()
    )
    return active.groupBy("cohort", "day_offset").agg(
        F.count("*").alias("n_users")
    )


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> signup -> purchase: a user reaches step
    k only via an event strictly after their step-(k-1) entry time.
    Three per-user min aggregations chained by key joins — all on
    user_id, so one shuffle partitioning serves the whole chain."""
    ev = _t(spark, sf_dir, "events")
    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "signup")
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    parts = [
        s1.agg(F.count("*").alias("n_users")).select(
            F.lit("view").alias("step"), "n_users"
        ),
        s2.agg(F.count("*").alias("n_users")).select(
            F.lit("signup").alias("step"), "n_users"
        ),
        s3.agg(F.count("*").alias("n_users")).select(
            F.lit("purchase").alias("step"), "n_users"
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_events_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking/navigation window-function surface in one
    query: lag/lead, rank/dense_rank/row_number, ntile, percent_rank,
    cume_dist, and a centered moving average — all over ONE per-user
    ordered window spec (deterministic order: ts, event_id), so the
    whole suite costs a single key shuffle."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 15)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr = w.rowsBetween(-2, 2)
    return ev.select(
        "user_id",
        "event_id",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("value", 2).over(w).alias("next2_value"),
        F.row_number().over(w).alias("rn"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
        # cents floor -> integer-valued doubles: the frame sum is exact
        # in either engine's summation order, so round(6) is airtight
        F.round(F.avg(F.floor(F.col("value") * 100)).over(wr), 6).alias(
            "centered_ma5_cents"
        ),
    )


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (all grouping-set combinations of event_type x
    day): counts and exact integer value sums per cell, with
    grouping-id disambiguating the null cells — the reporting rollup's
    big sibling (events_rollup covers ROLLUP)."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    return (
        ev.select("event_type", day, "value")
        .cube("event_type", "day")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
                "value_cents"
            ),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over user journeys: per-user
    event-type bigrams in (ts, event_id) order via one lag window,
    counted corpus-wide, with each source state's outgoing probability
    (two tiny aggregates over the 25-cell matrix). The funnel
    operator's generalization — shows where sessions actually flow."""
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
    )
    totals = pairs.groupBy("src").agg(F.sum("n").alias("_t"))
    return pairs.join(F.broadcast(totals), "src").select(
        "src",
        "dst",
        "n",
        F.round(F.col("n") / F.col("_t"), 9).alias("p"),
    )


def q_events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to OHLC bars (the classic resample
    shape): per (event_type, day) bucket emit open/close (first/last
    value by a deterministic (ts, event_id) order), high/low, volume
    and count. first/last are derived from ONE window pass
    (row_number asc + count over the same partition — no second
    descending sort), then folded in the same-keyed groupBy, so AQE
    plans a single shuffle on the bucket key. Deterministic under
    duplicate timestamps because event_id breaks ties."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.to_date("ts").cast("string").alias("day"),
        "ts",
    )
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    wall = Window.partitionBy("event_type", "day")
    marked = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "cnt", F.count("*").over(wall)
    )
    return (
        marked.groupBy("event_type", "day")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("open"),
            F.max(F.when(F.col("rn") == F.col("cnt"), F.col("value"))).alias(
                "close"
            ),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.round(F.sum("value"), 4).alias("volume"),
            F.count("*").alias("n_events"),
        )
    )


def q_events_rolling_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing 1-hour RANGE window (time-based sliding
    aggregate — rows-frames cannot express 'last hour' under uneven
    event spacing): sum/count/max of value over [t-3599s, t]. The
    frame is keyed on epoch SECONDS (a bigint), so Spark's
    rangeBetween and DuckDB's RANGE ... PRECEDING fold the identical
    integer frame; round(4) absorbs the segment-tree vs sequential
    fold order difference on the 2-decimal value lattice. One shuffle
    on user_id."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("sec"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3599, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "sec",
        F.round(F.sum("value").over(w), 4).alias("roll_sum"),
        F.count("*").over(w).alias("roll_n"),
        F.max("value").over(w).alias("roll_max"),
    )


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent PRECEDING click/view within a 6-hour
    lookback, else 'direct'. The carry-forward is two last(...,
    ignorenulls) window functions over one (user, time) sort — both
    null out on the same rows, so they pick the same touch row; one
    shuffle on user_id, then a tiny channel rollup."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "ts",
        F.unix_timestamp("ts").alias("sec"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("click", "view")
    touch_sec = F.last(F.when(is_touch, F.col("sec")), ignorenulls=True).over(w)
    touch_type = F.last(
        F.when(is_touch, F.col("event_type")), ignorenulls=True
    ).over(w)
    pur = (
        ev.withColumn("t_sec", touch_sec)
        .withColumn("t_type", touch_type)
        .where(F.col("event_type") == "purchase")
    )
    channel = F.when(
        F.col("t_sec").isNull() | (F.col("sec") - F.col("t_sec") > 21600),
        F.lit("direct"),
    ).otherwise(F.col("t_type"))
    return (
        pur.select(channel.alias("channel"), "value")
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("value"), 4).alias("attributed_value"),
        )
    )


def q_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily + trailing-7-day active users (the sliding-DISTINCT
    problem): a windowed count(distinct) doesn't exist in either
    engine, so each (user, day) pair is exploded to the 7 window days
    it contributes to — the standard scale-out rewrite (7x the
    DISTINCT pairs, never the raw events; all shuffles are on
    day-sized keys)."""
    ev = _t(spark, sf_dir, "events")
    du = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    dau = du.groupBy("day").agg(F.count("*").alias("dau"))
    contrib = du.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("wday"),
    ).distinct()
    wau = contrib.groupBy("wday").agg(F.count("*").alias("wau"))
    return (
        dau.join(wau, dau.day == wau.wday)
        .select(F.col("day").cast("string").alias("day"), "dau", "wau")
    )


def q_events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type ($25 buckets over
    integer cents — the binning is ALL-INTEGER so bucket edges are
    exact on both engines; an equi-width-over-range histogram would
    put float bucket boundaries 1 ulp apart between Spark and DuckDB).
    One partial-agg shuffle on (type, bucket); sums stay on the
    2-decimal lattice so round(2) absorbs fp drift."""
    ev = _t(spark, sf_dir, "events")
    bucket = F.expr("CAST(round(value * 100) AS BIGINT) DIV 2500")
    return (
        ev.groupBy("event_type", bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "event_type",
            "bucket",
            (F.col("bucket") * 25.0).alias("lo"),
            ((F.col("bucket") + 1) * 25.0).alias("hi"),
            "n",
            "sum_value",
        )
    )


def q_geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked geo radius join (operators/geo.py): customers
    within 250 km of a supplier, coordinates hash-derived (seeded md5,
    so the oracle re-derives them bit-for-bit). The Spark plan is an
    EQUI-join on quantized grid cells (supplier side exploded 9x to
    its neighbor cells) + exact haversine filter — no cross join at
    any scale; the oracle IS the cross join, proving the blocking
    loses no pair. Haversine arithmetic is restated operation-for-
    operation (shared DEG_TO_RAD literal); a test pins the fixture's
    |dist - R| margin far above cross-libm ulp drift."""
    from vanus_spark.llm.dedup import md5_long
    from vanus_spark.operators.geo import radius_join

    def coord(col, seed, span, offset):
        return (md5_long(col, seed) % span).cast("double") / 1000000.0 - offset

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        coord(F.col("c_custkey"), 1, 120000000, 60.0).alias("lat"),
        coord(F.col("c_custkey"), 2, 360000000, 180.0).alias("lon"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        coord(F.col("s_suppkey"), 3, 120000000, 60.0).alias("lat2"),
        coord(F.col("s_suppkey"), 4, 360000000, 180.0).alias("lon2"),
    )
    out = radius_join(cust, supp, 250.0, ("lat", "lon"), ("lat2", "lon2"))
    return out.select(
        "c_custkey", "s_suppkey", F.round("dist_km", 6).alias("dist_km")
    )


def q_events_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed 2-D skyline (operators/skyline.py): users no other
    user dominates on (event count, total spend) — the multi-objective
    'best on every axis' report. Two-phase: hash-bucketed local prune
    (one parallel windowed running-max pass; dominated-in-subset =>
    dominated-globally) then the same pass over the surviving
    candidates only — never a quadratic self-join, never a full-table
    global sort. Spend accumulates as exact integer cents so dominance
    comparisons are engine-portable; the oracle states the INDEPENDENT
    quadratic NOT-EXISTS form, proving the two-phase prune is
    lossless."""
    from vanus_spark.operators.skyline import skyline_2d

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
    )
    out = skyline_2d(per_user, "n_events", "total_cents")
    return out.select("user_id", "n_events", "total_cents")


def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user journey prefixes: each user's first 5 events (by
    ts, event_id) joined into an ordered path string, counted across
    users. One per-user window (row_number) + one per-user aggregate
    whose ordering is made deterministic by sorting the collected
    (rn, type) structs BEFORE joining — collect_list order is not
    guaranteed under retries, sort_array makes it exact. The global
    top-k is a bounded orderBy(count desc, path).limit — the driver-
    side sort touches only the path-count table, never the events."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firstk = ev.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= 5
    )
    paths = firstk.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(20)
    )


# Portable regex subset only (anchors, classes, alternation-free
# repetition): Spark matches with java.util.regex, DuckDB with RE2 —
# these constructs agree; lookaround/backrefs would not port.
_JOURNEY_PATTERNS = [
    ("view_to_purchase", "view(>[a-z_]+)*>purchase"),
    ("signup_start", "^signup"),
    ("error_after_purchase", "purchase>error"),
    ("triple_view", "view>view>view"),
]


def q_events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over user journeys (MATCH_RECOGNIZE
    lite): each user's first 20 events serialize to an ordered path
    string (one per-key window + one deterministic sorted-struct
    aggregate), then a broadcast pattern table counts matching users
    per regex. The path strings are bounded, so the regex cost is
    per-user O(1) and the whole operator is two shuffles at any
    scale. Oracle: same paths via string_agg(ORDER BY), same patterns
    as a VALUES table, regexp_matches."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firstk = ev.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= 20
    )
    paths = firstk.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    pats = spark.createDataFrame(
        _JOURNEY_PATTERNS, ["pattern_name", "pattern"]
    )
    return (
        paths.crossJoin(F.broadcast(pats))
        .where(F.expr("path rlike pattern"))
        .groupBy("pattern_name")
        .agg(F.count("*").alias("n_users"))
    )


def q_events_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity: Shannon entropy of each user's event-type
    distribution (the engagement-breadth feature segmentation models
    use). Two chained aggregates on the same user partitioning —
    map-side combined counts, then one -sum(p*log2(p)) fold; round(6)
    absorbs the <= 1 ulp libm spread between engines (the bm25/idf
    precedent)."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("c")
    )
    tot = per.groupBy("user_id").agg(F.sum("c").alias("n_events"))
    return (
        per.join(tot, "user_id")
        .groupBy("user_id")
        .agg(
            F.first("n_events").alias("n_events"),
            F.round(
                -F.sum(
                    (F.col("c") / F.col("n_events"))
                    * F.log2(F.col("c") / F.col("n_events"))
                ),
                6,
            ).alias("entropy"),
        )
    )


def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-share) multi-touch attribution: every click/view
    touch in the 6-hour window strictly preceding a purchase shares the
    credit 1/n; untouched purchases credit 'direct'. Credits are
    round(1/n, 12) cast to DECIMAL before the sum, so the rollup is
    exact decimal addition — order-insensitive and engine-exact (a
    double sum would be fold-order-dependent). Shape: the purchase x
    touch pairing is a bounded-range join shuffled on user_id (per-user
    event counts are bounded), then one channel rollup."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_timestamp("ts").alias("sec"),
    )
    # Both legs derive from the same `ev` frame: alias them explicitly
    # so the equi-key is unambiguous (without this, Spark logs
    # 'Constructing trivially true equals predicate' and falls back to
    # self-join lineage disambiguation — fragile under
    # failAmbiguousSelfJoin).
    purch = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("pid"),
            "user_id",
            F.col("sec").alias("psec"),
        )
        .alias("p")
    )
    touch = (
        ev.where(F.col("event_type").isin("click", "view"))
        .select(
            "user_id",
            F.col("event_type").alias("channel"),
            F.col("sec").alias("tsec"),
        )
        .alias("t")
    )
    pairs = purch.join(
        touch,
        (F.col("p.user_id") == F.col("t.user_id"))
        & (F.col("psec") - F.col("tsec") >= 1)
        & (F.col("psec") - F.col("tsec") <= 21600),
        "left",
    )
    from pyspark.sql import Window

    n = F.count("channel").over(Window.partitionBy("pid"))
    credited = pairs.select(
        "pid",
        F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"),
        F.round(F.lit(1.0) / F.greatest(n, F.lit(1)), 12)
        .cast("decimal(22,12)")
        .alias("credit"),
    )
    # decimal renders as a STRING on both engines: duckdb's .df()
    # coerces DECIMAL to float64, which would un-exact the compare
    return credited.groupBy("channel").agg(
        F.sum("credit").cast("decimal(38,12)").cast("string").alias("credit"),
        F.countDistinct("pid").alias("n_purchases"),
    )


def q_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution — linear attribution's
    recency-weighted sibling: each click/view touch in the 6-hour
    window before a purchase gets weight 2^(-age/1h) (1-hour
    half-life), normalized per purchase, then rolled up by channel.
    Untouched purchases credit 'direct'. Same bounded-range join
    shuffled on user_id as the linear gate; the exponential weights
    are engine-portable doubles and round(6) caps the fold-order ulp
    (the entropy/bm25 precedent)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("sec"),
    )
    purch = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("pid"),
            "user_id",
            F.col("sec").alias("psec"),
        )
        .alias("p")
    )
    touch = (
        ev.where(F.col("event_type").isin("click", "view"))
        .select(
            "user_id",
            F.col("event_type").alias("channel"),
            F.col("sec").alias("tsec"),
        )
        .alias("t")
    )
    pairs = purch.join(
        touch,
        (F.col("p.user_id") == F.col("t.user_id"))
        & (F.col("psec") - F.col("tsec") >= 1)
        & (F.col("psec") - F.col("tsec") <= 21600),
        "left",
    )
    w = F.pow(
        F.lit(2.0), -(F.col("psec") - F.col("tsec")).cast("double") / F.lit(3600.0)
    )
    from pyspark.sql import Window

    wsum = F.sum(w).over(Window.partitionBy("pid"))
    credited = pairs.select(
        "pid",
        F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"),
        F.coalesce(F.round(w / wsum, 9), F.lit(1.0)).alias("credit"),
    )
    return credited.groupBy("channel").agg(
        F.round(F.sum("credit"), 6).alias("credit"),
        F.countDistinct("pid").alias("n_purchases"),
    )


def q_events_transitions_2step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step journey probabilities: the first-order transition
    matrix (consecutive per-user events by ts, event_id) squared via a
    join on the middle state — P2(a, c) = sum_b P1(a, b) * P1(b, c),
    the distributed matrix-multiply shape (shuffle on the shared
    state, 5x5 matrix so the join is broadcast-tiny; at scale the
    same plan holds because the STATE SPACE, not the event count,
    bounds the multiply). The per-pair sum is <= |states| doubles —
    round(6) absorbs fold order."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.withColumn("nxt", F.lead("event_type").over(w))
        .where(F.col("nxt").isNotNull())
        .select(F.col("event_type").alias("a"), F.col("nxt").alias("b"))
    )
    counts = steps.groupBy("a", "b").agg(F.count("*").alias("n"))
    outs = counts.groupBy("a").agg(F.sum("n").alias("tot"))
    p1 = counts.join(outs, "a").select(
        "a", "b", (F.col("n") / F.col("tot")).alias("p")
    )
    p1b = p1.select(
        F.col("a").alias("b"), F.col("b").alias("c"), F.col("p").alias("p2")
    )
    return (
        p1.join(p1b, "b")
        .groupBy("a", "c")
        .agg(F.round(F.sum(F.col("p") * F.col("p2")), 6).alias("prob_2step"))
    )


def q_events_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over per-user event-type baskets: for every
    ordered type pair (a -> b), support = P(a and b), confidence =
    P(b | a), lift = confidence / P(b) — the market-basket statistics
    (Apriori's output layer) on a 5-type alphabet, so the pair join is
    bounded by the TYPE space, not the event count. Distinct
    (user, type) first (one map-side-combined shuffle), then the
    per-user self-join fans out at most |types|^2 per user. All three
    metrics are single double divisions of exact counts, round(6)."""
    ev = _t(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    n_users = ut.select("user_id").distinct().count()
    singles = ut.groupBy("event_type").agg(F.count("*").alias("n_t"))
    a = ut.alias("a")
    b = ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") != F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("antecedent"),
            F.col("b.event_type").alias("consequent"),
        )
        .agg(F.count("*").alias("n_ab"))
    )
    sa = singles.select(
        F.col("event_type").alias("antecedent"), F.col("n_t").alias("n_a")
    )
    sb = singles.select(
        F.col("event_type").alias("consequent"), F.col("n_t").alias("n_b")
    )
    out = pairs.join(F.broadcast(sa), "antecedent").join(
        F.broadcast(sb), "consequent"
    )
    conf = F.col("n_ab").cast("double") / F.col("n_a").cast("double")
    pb = F.col("n_b").cast("double") / F.lit(float(n_users))
    return out.select(
        "antecedent",
        "consequent",
        "n_ab",
        F.round(F.col("n_ab").cast("double") / F.lit(float(n_users)), 6).alias(
            "support"
        ),
        F.round(conf, 6).alias("confidence"),
        F.round(conf / pb, 6).alias("lift"),
    )


def q_geo_geohash_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash spatial rollup (operators/geo.geohash_from_micro):
    customer coordinates (the geo fixture's seeded-md5 derivation,
    kept in exact micro-degree INTEGERS) encode to precision-5 cells
    via the standard lon-first bit interleave — a static 25-term
    shift sum, the plan-size-linear shape the hilbert fix taught —
    then per-cell counts with the containing precision-3 cell's total
    alongside (geohashes nest by prefix, so the coarse rollup is a
    substring, not a re-encode). One groupBy over the encoded cells;
    the gh3 window runs on the bounded cell table."""
    from vanus_spark.llm.dedup import md5_long
    from vanus_spark.operators.geo import geohash_from_micro

    cust = _t(spark, sf_dir, "customer")
    lat_e6 = (md5_long(F.col("c_custkey"), 1) % 120000000) - 60000000
    lon_e6 = (md5_long(F.col("c_custkey"), 2) % 360000000) - 180000000
    cells = cust.select(
        geohash_from_micro(lat_e6, lon_e6, 5).alias("gh5")
    ).groupBy("gh5").agg(F.count("*").alias("n"))
    w3 = Window.partitionBy(F.substring("gh5", 1, 3))
    return cells.select(
        F.substring("gh5", 1, 3).alias("gh3"),
        "gh5",
        "n",
        F.sum("n").over(w3).alias("n_in_gh3"),
    ).orderBy("gh5")


def q_attribution_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (operators/markov): per-user
    journeys cut at first purchase feed a first-order transition
    matrix (one user-partitioned window + one map-side-combined edge
    count — the only passes over the data); the matrix is BOUNDED by
    the channel alphabet, so the absorption fixed point (50 Jacobi
    sweeps, frozen term order) runs driver-side on the collected
    counts — the same bounded-collect contract as the k-means loops.
    Removal effect per channel = conversion probability lost when all
    flow into the channel dies; attribution = normalized shares — the
    data-driven upgrade over the position heuristics
    (q_attribution_linear / _time_decay). The oracle replays the
    identical IEEE walk in a recursive CTE."""
    from vanus_spark.operators.markov import journey_edges, removal_effect

    ev = _t(spark, sf_dir, "events")
    edges = journey_edges(ev).collect()
    rows = removal_effect(
        [(r["src"], r["dst"], r["cnt"]) for r in edges],
        ["click", "error", "signup", "view"],
    )
    out = spark.createDataFrame(
        [
            (
                r["channel"],
                r["p_conv_full"],
                r["p_conv_removed"],
                r["removal_effect"],
                r["attribution"],
            )
            for r in rows
        ],
        "channel string, p_conv_full double, p_conv_removed double,"
        " removal_effect double, attribution double",
    )
    return out.select(
        "channel",
        F.round("p_conv_full", 6).alias("p_conv_full"),
        F.round("p_conv_removed", 6).alias("p_conv_removed"),
        F.round("removal_effect", 6).alias("removal_effect"),
        F.round("attribution", 6).alias("attribution"),
    ).orderBy("channel")


def q_events_journey_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey predictability: conditional entropy H(next | current)
    per source state over the SAME first-order transition counts as
    q_attribution_markov (operators/markov.journey_edges) — the
    information-theoretic readout of how deterministic user flows are
    (0 bits = every visitor does the same next thing; log2(k) =
    uniform chaos), plus each source's share-weighted contribution to
    the chain's overall conditional entropy. The raw events are
    touched once (the edge pass); entropy folds run on the bounded
    (src, dst) count table."""
    from vanus_spark.operators.markov import journey_edges

    ev = _t(spark, sf_dir, "events")
    edges = journey_edges(ev)
    tot = edges.groupBy("src").agg(F.sum("cnt").alias("_tot"))
    p = edges.join(tot, "src").withColumn(
        "_p", F.col("cnt").cast("double") / F.col("_tot")
    )
    per_src = p.groupBy("src").agg(
        F.max("_tot").alias("n_out"),
        F.round(-F.sum(F.col("_p") * F.log2("_p")), 6).alias(
            "entropy_bits"
        ),
    )
    grand = per_src.agg(F.sum("n_out").alias("_g"))
    return (
        per_src.crossJoin(F.broadcast(grand))
        .select(
            "src",
            "n_out",
            "entropy_bits",
            F.round(
                F.col("entropy_bits")
                * F.col("n_out").cast("double")
                / F.col("_g"),
                6,
            ).alias("weighted_bits"),
        )
        .orderBy("src")
    )


def q_events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price/value per (event type, day) — the
    market-data aggregation where each observation is weighted by how
    long it remained the latest one (TWAP), next to the plain mean
    for contrast: thin-traffic hours stop being drowned out by burst
    minutes. Exact integers end to end: weights are microsecond gaps
    to the next observation (unix_micros), the weighted sum stays
    BIGINT cents*us, one per-(type,day) ordered window + one
    aggregate."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", F.to_date("ts")).orderBy(
        "ts", "event_id"
    )
    staged = ev.select(
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("_cents"),
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")).alias(
            "_dt"
        ),
    ).where(F.col("_dt").isNotNull())
    return (
        staged.groupBy("event_type", "day")
        .agg(
            F.count("*").alias("n_weighted"),
            F.sum(F.col("_cents") * F.col("_dt")).alias("_wsum"),
            F.sum("_dt").alias("_w"),
            F.sum("_cents").alias("_plain"),
        )
        .select(
            "event_type",
            "day",
            "n_weighted",
            F.round(
                F.col("_wsum").cast("double") / F.col("_w") / 100.0, 6
            ).alias("twap"),
            F.round(
                F.col("_plain").cast("double") / F.col("n_weighted")
                / 100.0,
                6,
            ).alias("plain_avg"),
        )
        .orderBy("event_type", "day")
    )


def q_features_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, active-day) ML feature materialization — the
    feature-store shape a training pipeline snapshots daily: spend,
    event count, days since previous activity, previous active day's
    spend, and the trailing-7-calendar-day spend (RANGE window over
    the day number, so calendar gaps are honored without gap-fill).
    Exact integer cents; all windows partitioned per user."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("_day")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents"),
        F.count("*").alias("n_events"),
    ).withColumn("_dayn", F.datediff("_day", F.lit("1970-01-01")))
    w = Window.partitionBy("user_id").orderBy("_dayn")
    w7 = (
        Window.partitionBy("user_id")
        .orderBy("_dayn")
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "user_id",
        F.date_format("_day", "yyyy-MM-dd").alias("day"),
        "cents",
        "n_events",
        (F.col("_dayn") - F.lag("_dayn").over(w)).alias("prev_gap_days"),
        F.lag("cents").over(w).alias("lag1_cents"),
        F.sum("cents").over(w7).alias("rolling7_cents"),
    ).orderBy("user_id", "day")


def q_events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-session load curve (the capacity-planning sweep
    line): 30-min-gap sessions (the q_events_sessionize convention)
    become +1/-1 deltas on the MINUTE grid (+1 at the first minute
    boundary >= start, -1 at the first >= end, so a session counts at
    boundary m iff start <= m < end), and the running sum over the
    calendar-bounded minute table is the concurrency at every
    boundary — midnight spans carry naturally because the sum runs
    over the whole range, not per day. Per (day, hour): peak and
    mean concurrency. The sweep runs on a table bounded by CALENDAR
    MINUTES regardless of data volume — the 100 TB-safe shape for
    interval-overlap counting (a per-event global sort would not
    be)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sid = ev.withColumn(
        "_new",
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
    ).withColumn(
        "_sid",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sessions = sid.groupBy("user_id", "_sid").agg(
        F.min(F.unix_timestamp("ts")).alias("_s"),
        (F.max(F.unix_timestamp("ts")) + 1).alias("_e"),
    )
    # first minute boundary >= t is ceil(t / 60) * 60
    start_m = F.ceil(F.col("_s") / 60.0).cast("long") * 60
    end_m = F.ceil(F.col("_e") / 60.0).cast("long") * 60
    deltas = sessions.select(
        start_m.alias("_m"), F.lit(1).alias("_d")
    ).unionByName(
        sessions.select(end_m.alias("_m"), F.lit(-1).alias("_d"))
    )
    per_min = deltas.groupBy("_m").agg(F.sum("_d").alias("_dd"))
    w_run = Window.orderBy("_m").rowsBetween(
        Window.unboundedPreceding, 0
    )
    conc = per_min.withColumn("_c", F.sum("_dd").over(w_run))
    ts_m = F.timestamp_seconds(F.col("_m"))
    return (
        conc.groupBy(
            F.date_format(ts_m, "yyyy-MM-dd").alias("day"),
            F.hour(ts_m).alias("hour"),
        )
        .agg(
            F.max("_c").alias("peak_concurrent"),
            F.round(F.avg("_c"), 6).alias("mean_concurrent"),
            F.count("*").alias("n_boundaries"),
        )
        .where(F.col("peak_concurrent") > 0)
        .orderBy("day", "hour")
    )


def q_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands daily activity streaks per user (the retention
    team's "longest consecutive-day streak" metric): distinct active
    days collapse the raw table once, then the classic day_number -
    row_number island key groups consecutive runs — two key-local
    window-free aggregates after one per-user window, all exact
    integers. Emits per-user longest streak, island count, and total
    active days for users with >= 2 active days."""
    ev = _t(spark, sf_dir, "events")
    days = (
        ev.select(
            "user_id",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("dnum"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("dnum")
    isl = days.select(
        "user_id",
        "dnum",
        (F.col("dnum") - F.row_number().over(w)).alias("island"),
    )
    runs = isl.groupBy("user_id", "island").agg(
        F.count("*").alias("run_len")
    )
    out = runs.groupBy("user_id").agg(
        F.max("run_len").alias("longest_streak"),
        F.count("*").alias("n_streaks"),
        F.sum("run_len").alias("active_days"),
    )
    return out.where(F.col("active_days") >= 2).orderBy("user_id")


def q_features_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of event_type against the
    high-value flag (operators/encoding.target_encode_loo, prior
    weight 10): the high-cardinality categorical encoder that
    subtracts each row's own label before forming the category mean,
    so the feature never leaks its target. One category aggregate
    broadcast back over the fact table; output bounded to users < 40
    to keep the hash-compare row count sane."""
    from vanus_spark.operators.encoding import target_encode_loo

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        (F.col("value") > 100.0).cast("long").alias("converted"),
    )
    out = target_encode_loo(
        ev, "event_type", "converted", ["event_id", "user_id"]
    )
    return (
        out.where(F.col("user_id") < 40)
        .select(
            "event_id",
            "event_type",
            "converted",
            F.round("enc", 6).alias("enc"),
        )
        .orderBy("event_id")
    )


def q_features_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value screen of event_type
    against the high-value flag (operators/encoding.woe_iv, Laplace
    0.5): the credit-scoring predictive-power table. One map-side
    combined aggregate to the 5-row category dim; total IV repeats on
    every row (the PSI-report convention)."""
    from vanus_spark.operators.encoding import woe_iv

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("value") > 100.0).cast("long").alias("converted"),
    )
    return woe_iv(ev, "event_type", "converted").orderBy("event_type")


#: Shapley coalition weights s!(n-1-s)!/n! for n = 4 touch channels,
#: generated by the same factorial arithmetic on both engines' literals.
_SHAPLEY_CHANNELS = ["view", "click", "signup", "error"]


_SHAPLEY_W = [
    math.factorial(s)
    * math.factorial(len(_SHAPLEY_CHANNELS) - 1 - s)
    / math.factorial(len(_SHAPLEY_CHANNELS))
    for s in range(len(_SHAPLEY_CHANNELS))
]


def q_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value channel attribution over the 4 touch channels
    (view/click/signup/error) with conversion = any purchase — the
    game-theoretic credit split whose efficiency axiom the linear /
    time-decay heuristics (q_events_attribution,
    q_attribution_time_decay) lack. Coalition values v(S) = conversion
    rate of users whose EXACT touch set is S (the simplified-Shapley
    convention; unseen coalitions contribute v = 0), and phi_i =
    sum_{S not containing i} w(|S|) (v(S+i) - v(S)).

    Scale shape: ONE user rollup produces a 16-row coalition dim
    (bitmask via max-per-channel flags); the Shapley fold is a
    4-channel x 16-mask cross join over that dim with two broadcast
    lookups — the raw table is touched exactly once regardless of SF.
    """
    ev = _t(spark, sf_dir, "events")
    flags = [
        F.max(
            F.when(F.col("event_type") == ch, 1).otherwise(0)
        ).alias(f"_f{i}")
        for i, ch in enumerate(_SHAPLEY_CHANNELS)
    ]
    users = ev.groupBy("user_id").agg(
        *flags,
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    mask = sum(
        (F.col(f"_f{i}") * (1 << i) for i in range(len(_SHAPLEY_CHANNELS))),
        F.lit(0),
    )
    coal = users.select(mask.alias("mask"), "conv").groupBy("mask").agg(
        F.count("*").alias("m"), F.sum("conv").alias("c")
    )
    v = coal.select(
        "mask",
        (F.col("c").cast("double") / F.col("m").cast("double")).alias("v"),
    )
    n_ch = len(_SHAPLEY_CHANNELS)
    masks = spark.range(1 << n_ch).select(F.col("id").alias("smask"))
    chans = spark.createDataFrame(
        [(ch, i) for i, ch in enumerate(_SHAPLEY_CHANNELS)],
        "channel string, bit int",
    )
    pairs = masks.crossJoin(chans).where(
        F.expr("shiftright(smask, bit) & 1") == 0
    )
    v_s = v.select(F.col("mask").alias("smask"), F.col("v").alias("v_s"))
    v_si = v.select(
        F.col("mask").alias("wmask"), F.col("v").alias("v_si")
    )
    w_expr = F.element_at(
        F.array(*[F.lit(w) for w in _SHAPLEY_W]),
        F.bit_count(F.col("smask")).cast("int") + 1,
    )
    terms = (
        pairs.withColumn(
            "wmask",
            F.expr("smask + shiftleft(1, bit)").cast("long"),
        )
        .join(F.broadcast(v_s), "smask", "left")
        .join(F.broadcast(v_si), "wmask", "left")
        .select(
            "channel",
            (
                w_expr
                * (
                    F.coalesce(F.col("v_si"), F.lit(0.0))
                    - F.coalesce(F.col("v_s"), F.lit(0.0))
                )
            ).alias("term"),
        )
    )
    return (
        terms.groupBy("channel")
        .agg(F.round(F.sum("term"), 6).alias("phi"))
        .orderBy("channel")
    )


def q_events_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event-type pairs at
    user-day granularity ("which behaviors co-occur beyond chance?"):
    presence sets collapse the raw table once; the pair table is a
    self-join on the user-day key bounded by the 5-type alphabet
    (<= 10 pairs per day); PMI and Jaccard come from exact integer
    day counts. The market-basket readout for behavioral events."""
    ev = _t(spark, sf_dir, "events")
    pres = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        "event_type",
    ).distinct()
    n_days = pres.select("user_id", "day").distinct().count()
    singles = pres.groupBy("event_type").agg(F.count("*").alias("c"))
    a = pres.select(
        "user_id", "day", F.col("event_type").alias("ta")
    )
    b = pres.select(
        "user_id", "day", F.col("event_type").alias("tb")
    )
    both = (
        a.join(b, ["user_id", "day"])
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("n_both"))
    )
    ca = singles.select(F.col("event_type").alias("ta"), F.col("c").alias("ca"))
    cb = singles.select(F.col("event_type").alias("tb"), F.col("c").alias("cb"))
    j = both.join(F.broadcast(ca), "ta").join(F.broadcast(cb), "tb")
    pmi = F.log(
        F.col("n_both").cast("double")
        * F.lit(float(n_days))
        / (F.col("ca").cast("double") * F.col("cb").cast("double"))
    )
    jac = F.col("n_both").cast("double") / (
        F.col("ca") + F.col("cb") - F.col("n_both")
    ).cast("double")
    return j.select(
        "ta",
        "tb",
        "n_both",
        F.round(pmi, 6).alias("pmi"),
        F.round(jac, 6).alias("jaccard"),
    ).orderBy("ta", "tb")


def _geo_oracle() -> str:
    """SQL twin of q_geo_radius_join: the PLAIN cross join + the same
    operation-for-operation haversine — proving the grid blocking
    loses no pair. Coordinates re-derive from the seeded md5 hashes."""
    from vanus_spark.operators.geo import DEG_TO_RAD, EARTH_KM

    def coord(col, seed, span, offset):
        return (
            f"(('0x' || substr(md5('{seed}|' || {col}::VARCHAR), 1, 15))"
            f"::BIGINT % {span})::DOUBLE / 1000000.0 - {offset}"
        )

    rad = repr(DEG_TO_RAD)
    return f"""
        WITH c AS (SELECT c_custkey,
                          {coord('c_custkey', 1, 120000000, 60.0)} AS lat,
                          {coord('c_custkey', 2, 360000000, 180.0)} AS lon
                   FROM customer),
        s AS (SELECT s_suppkey,
                     {coord('s_suppkey', 3, 120000000, 60.0)} AS lat2,
                     {coord('s_suppkey', 4, 360000000, 180.0)} AS lon2
              FROM supplier),
        d AS (
          SELECT c_custkey, s_suppkey,
                 {repr(2.0 * EARTH_KM)} * asin(sqrt(
                   sin((lat2 - lat) * {rad} / 2) * sin((lat2 - lat) * {rad} / 2)
                   + cos(lat * {rad}) * cos(lat2 * {rad})
                     * sin((lon2 - lon) * {rad} / 2)
                     * sin((lon2 - lon) * {rad} / 2))) AS dist_km
          FROM c CROSS JOIN s)
        SELECT c_custkey, s_suppkey, round(dist_km, 6) AS dist_km
        FROM d WHERE dist_km <= 250.0
    """


def _geohash5_sql() -> tuple[str, str]:
    """SQL twin of operators/geo.geohash_from_micro at precision 5.
    Returns (interleave_expr over staged latnum/lonnum columns,
    base32_expr over a staged gg column) — generated from the same
    bit layout so the interleave matches the Column build term for
    term."""
    from vanus_spark.operators.geo import GEOHASH32

    total_bits, lon_nbits, lat_nbits = 25, 13, 12
    terms = []
    for i in range(lon_nbits):
        terms.append(
            f"(((lonnum >> {lon_nbits - 1 - i}) & 1)"
            f" << {total_bits - 1 - 2 * i})"
        )
    for i in range(lat_nbits):
        terms.append(
            f"(((latnum >> {lat_nbits - 1 - i}) & 1)"
            f" << {total_bits - 2 - 2 * i})"
        )
    g = " + ".join(terms)
    chars = " || ".join(
        f"substr('{GEOHASH32}',"
        f" (((gg >> {total_bits - 5 * (k + 1)}) & 31) + 1)::INT, 1)"
        for k in range(5)
    )
    return g, chars


# Shared SQL twin of operators/markov.journey_edges — the CTE chain
# ending in ec (src, dst, cnt) and tt (src, total). Used by both the
# attribution oracle and the journey-entropy oracle.
_JOURNEY_EDGES_CTES = """ranked AS (
              SELECT user_id, event_type AS state,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events),
            fc AS (SELECT user_id, min(rn) AS fp FROM ranked
                   WHERE state = 'purchase' GROUP BY 1),
            tagged AS (SELECT r.*, fc.fp FROM ranked r
                       LEFT JOIN fc USING (user_id)),
            path AS (SELECT * FROM tagged WHERE fp IS NULL OR rn < fp),
            chain AS (
              SELECT user_id, state AS src,
                     coalesce(lead(state) OVER (PARTITION BY user_id
                                                ORDER BY rn),
                              CASE WHEN fp IS NOT NULL THEN 'conv'
                                   ELSE 'null' END) AS dst,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY rn) AS prn
              FROM path),
            starts AS (SELECT 'start' AS src, src AS dst FROM chain
                       WHERE prn = 1),
            emptyp AS (SELECT 'start' AS src, 'conv' AS dst FROM tagged
                       WHERE rn = 1 AND fp = 1),
            edges AS (SELECT src, dst FROM chain
                      UNION ALL SELECT * FROM starts
                      UNION ALL SELECT * FROM emptyp),
            ec AS (SELECT src, dst, count(*)::BIGINT AS cnt FROM edges
                   GROUP BY 1, 2),
            tt AS (SELECT src, sum(cnt)::BIGINT AS t FROM ec GROUP BY 1)"""


def _markov_attribution_sql(iters: int = 50) -> str:
    """DuckDB twin of q_attribution_markov, generated so the Jacobi
    sweep's term order matches operators/markov.removal_effect text
    for text (sorted channels, conv last, left-associated): the
    recursive CTE carries one u column per channel and one row per
    scenario ('full' + each removed channel), replaying the identical
    IEEE walk."""
    ch = ["click", "error", "signup", "view"]
    srcs = ["start"] + ch
    dsts = ch + ["conv"]
    pivots = ",\n                   ".join(
        f"coalesce(max(CASE WHEN src = '{s}' AND dst = '{d}'"
        f" THEN p END), 0.0) AS p_{s}_{d}"
        for s in srcs
        for d in dsts
    )

    def fold(src: str) -> str:
        terms = " + ".join(
            f"p_{src}_{d} * (CASE WHEN scen = '{d}' THEN 0.0"
            f" ELSE u_{d} END)"
            for d in ch
        )
        return f"{terms} + p_{src}_conv * 1.0"

    u_updates = ",\n                   ".join(
        f"CASE WHEN scen = '{s}' THEN 0.0 ELSE {fold(s)} END AS u_{s}"
        for s in ch
    )
    u_init = ", ".join(f"0.0::DOUBLE AS u_{s}" for s in ch)
    scen_list = ", ".join(f"'{s}'" for s in ["full"] + ch)
    piv_fin = ",\n                   ".join(
        f"max(CASE WHEN scen = '{s}' THEN pc END) AS pc_{s}"
        for s in ["full"] + ch
    )
    re_cols = ",\n                   ".join(
        f"CASE WHEN pc_full > 0.0 THEN (pc_full - pc_{c}) / pc_full"
        f" ELSE 0.0 END AS re_{c}"
        for c in ch
    )
    re_tot = " + ".join(f"re_{c}" for c in ch)
    unions = "\n              UNION ALL\n              ".join(
        f"SELECT '{c}' AS channel, round(pc_full, 6) AS p_conv_full,"
        f" round(pc_{c}, 6) AS p_conv_removed,"
        f" round(re_{c}, 6) AS removal_effect,"
        f" round(CASE WHEN re_tot > 0.0 THEN re_{c} / re_tot"
        f" ELSE 0.0 END, 6) AS attribution FROM t2"
        for c in ch
    )
    return f"""
            WITH RECURSIVE {_JOURNEY_EDGES_CTES},
            pt AS (SELECT ec.src, ec.dst, cnt::DOUBLE / t AS p
                   FROM ec JOIN tt ON ec.src = tt.src),
            probs AS (SELECT
                   {pivots}
              FROM pt),
            it AS (
              SELECT scen, 0 AS iter, {u_init}
              FROM (SELECT unnest([{scen_list}]) AS scen)
              UNION ALL
              SELECT scen, iter + 1,
                   {u_updates}
              FROM it, probs WHERE iter < {iters}),
            fin AS (SELECT scen, {fold("start")} AS pc
                    FROM it, probs WHERE iter = {iters}),
            piv AS (SELECT
                   {piv_fin}
              FROM fin),
            re AS (SELECT pc_full, pc_click, pc_error, pc_signup,
                          pc_view,
                   {re_cols}
              FROM piv),
            t2 AS (SELECT *, {re_tot} AS re_tot FROM re)
            SELECT * FROM (
              {unions}
            ) ORDER BY channel
        """


def oracle_sql() -> dict[str, str]:
    """DuckDB twins of this family's queries, keyed by query name."""
    return {
        "events_pmi": """
            WITH pres AS (SELECT DISTINCT user_id, ts::DATE AS day,
                                 event_type
                          FROM events),
            nd AS (SELECT count(*)::BIGINT AS n
                   FROM (SELECT DISTINCT user_id, day FROM pres)),
            singles AS (SELECT event_type, count(*)::BIGINT AS c
                        FROM pres GROUP BY 1),
            pairs2 AS (SELECT a.event_type AS ta, b.event_type AS tb,
                              count(*)::BIGINT AS n_both
                       FROM pres a JOIN pres b
                         ON a.user_id = b.user_id AND a.day = b.day
                        AND a.event_type < b.event_type
                       GROUP BY 1, 2),
            j AS (SELECT ta, tb, n_both, sa.c AS ca, sb.c AS cb
                  FROM pairs2
                  JOIN singles sa ON sa.event_type = pairs2.ta
                  JOIN singles sb ON sb.event_type = pairs2.tb)
            SELECT ta, tb, n_both,
                   round(ln(n_both::DOUBLE * nd.n::DOUBLE
                            / (ca::DOUBLE * cb::DOUBLE)), 6) AS pmi,
                   round(n_both::DOUBLE
                         / (ca + cb - n_both)::DOUBLE, 6) AS jaccard
            FROM j, nd ORDER BY ta, tb
        """,
        "attribution_shapley": f"""
            WITH u AS (
              SELECT user_id,
                     max(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                         END) AS f0,
                     max(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                         END) AS f1,
                     max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0
                         END) AS f2,
                     max(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                         END) AS f3,
                     max(CASE WHEN event_type = 'purchase' THEN 1
                         ELSE 0 END) AS conv
              FROM events GROUP BY 1),
            coal AS (SELECT (f0 * 1 + f1 * 2 + f2 * 4
                             + f3 * 8)::BIGINT AS mask,
                            count(*)::BIGINT AS m,
                            sum(conv)::BIGINT AS c
                     FROM u GROUP BY 1),
            v AS (SELECT mask, c::DOUBLE / m::DOUBLE AS v FROM coal),
            masks AS (SELECT unnest(range(16))::BIGINT AS smask),
            ch AS (SELECT * FROM (VALUES ('view', 0), ('click', 1),
                                  ('signup', 2), ('error', 3))
                   AS t(channel, bit)),
            pairs AS (SELECT smask, channel, bit FROM masks, ch
                      WHERE (smask >> bit) & 1 = 0),
            terms AS (
              SELECT channel,
                     (CASE bit_count(smask)
                        WHEN 0 THEN {_SHAPLEY_W[0]!r}
                        WHEN 1 THEN {_SHAPLEY_W[1]!r}
                        WHEN 2 THEN {_SHAPLEY_W[2]!r}
                        ELSE {_SHAPLEY_W[3]!r} END)
                     * (coalesce(vi.v, 0.0) - coalesce(vs.v, 0.0))
                       AS term
              FROM pairs
              LEFT JOIN v vs ON vs.mask = pairs.smask
              LEFT JOIN v vi ON vi.mask = pairs.smask + (1 << bit))
            SELECT channel, round(sum(term), 6) AS phi
            FROM terms GROUP BY channel ORDER BY channel
        """,
        "features_target_encoding": """
            WITH e AS (SELECT event_id, user_id, event_type,
                              (value > 100.0)::BIGINT AS converted
                       FROM events),
            g AS (SELECT event_type, count(*)::BIGINT AS n,
                         sum(converted)::BIGINT AS s
                  FROM e GROUP BY 1),
            t AS (SELECT sum(n)::BIGINT AS tn, sum(s)::BIGINT AS ts
                  FROM g)
            SELECT e.event_id, e.event_type, e.converted,
                   round(((g.s - e.converted)::DOUBLE
                          + 10.0 * (t.ts::DOUBLE / t.tn::DOUBLE))
                         / ((g.n - 1)::DOUBLE + 10.0), 6) AS enc
            FROM e JOIN g USING (event_type) CROSS JOIN t
            WHERE e.user_id < 40
            ORDER BY e.event_id
        """,
        "features_woe_iv": """
            WITH e AS (SELECT event_type,
                              (value > 100.0)::BIGINT AS converted
                       FROM events),
            g AS (SELECT event_type, count(*)::BIGINT AS n,
                         sum(converted)::BIGINT AS good,
                         sum(1 - converted)::BIGINT AS bad
                  FROM e GROUP BY 1),
            t AS (SELECT sum(good)::BIGINT AS tg, sum(bad)::BIGINT AS tb
                  FROM g),
            s AS (SELECT event_type, n, good, bad,
                         (good + 0.5) / tg::DOUBLE AS pg,
                         (bad + 0.5) / tb::DOUBLE AS pb
                  FROM g, t),
            w AS (SELECT event_type, n, good, bad,
                         ln(pg / pb) AS woe,
                         (pg - pb) * ln(pg / pb) AS ivt
                  FROM s),
            iv AS (SELECT sum(ivt) AS iv FROM w)
            SELECT event_type, n, good, bad,
                   round(woe, 6) AS woe,
                   round(ivt, 6) AS iv_term,
                   round(iv.iv, 6) AS iv_total
            FROM w, iv ORDER BY event_type
        """,
        "user_streaks": """
            WITH d AS (SELECT DISTINCT user_id,
                              date_diff('day', DATE '2024-01-01',
                                        ts::DATE)::BIGINT AS dnum
                       FROM events),
            i AS (SELECT user_id, dnum,
                         dnum - row_number() OVER (
                           PARTITION BY user_id ORDER BY dnum) AS island
                  FROM d),
            r AS (SELECT user_id, island, count(*)::BIGINT AS run_len
                  FROM i GROUP BY 1, 2)
            SELECT user_id, max(run_len)::BIGINT AS longest_streak,
                   count(*)::BIGINT AS n_streaks,
                   sum(run_len)::BIGINT AS active_days
            FROM r GROUP BY user_id
            HAVING sum(run_len) >= 2 ORDER BY user_id
        """,
        "attribution_markov": _markov_attribution_sql(),
        "events_journey_entropy": f"""
            WITH {_JOURNEY_EDGES_CTES},
            p AS (SELECT ec.src, cnt::DOUBLE / t AS p, t
                  FROM ec JOIN tt ON ec.src = tt.src),
            per AS (SELECT src, max(t)::BIGINT AS n_out,
                           round(-sum(p * log2(p)), 6) AS entropy_bits
                    FROM p GROUP BY src),
            g AS (SELECT sum(n_out)::BIGINT AS gt FROM per)
            SELECT src, n_out, entropy_bits,
                   round(entropy_bits * n_out::DOUBLE / gt, 6)
                     AS weighted_bits
            FROM per, g ORDER BY src
        """,
        "features_user_daily": """
            WITH d AS (SELECT user_id, ts::DATE AS day,
                              sum(CAST(round(value * 100) AS
                                       BIGINT))::BIGINT AS cents,
                              count(*)::BIGINT AS n_events
                       FROM events GROUP BY 1, 2),
            d2 AS (SELECT *, date_diff('day', DATE '1970-01-01', day)
                               ::BIGINT AS dayn
                   FROM d)
            SELECT user_id, strftime(day, '%Y-%m-%d') AS day, cents,
                   n_events,
                   (dayn - lag(dayn) OVER w)::BIGINT AS prev_gap_days,
                   lag(cents) OVER w AS lag1_cents,
                   sum(cents) OVER (PARTITION BY user_id ORDER BY dayn
                       RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                     ::BIGINT AS rolling7_cents
            FROM d2
            WINDOW w AS (PARTITION BY user_id ORDER BY dayn)
            ORDER BY user_id, day
        """,
        "events_concurrency": """
            WITH w1 AS (
              SELECT user_id, ts, event_id,
                     epoch_us(ts) // 1000000 AS sec,
                     CASE WHEN lag(epoch_us(ts) // 1000000) OVER w
                               IS NULL
                          OR epoch_us(ts) // 1000000
                             - lag(epoch_us(ts) // 1000000) OVER w
                             > 1800
                          THEN 1 ELSE 0 END AS newf
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            w2 AS (SELECT user_id, sec,
                          sum(newf) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING)
                            AS sid
                   FROM w1),
            sess AS (SELECT user_id, sid, min(sec) AS s,
                            max(sec) + 1 AS e
                     FROM w2 GROUP BY 1, 2),
            deltas AS (
              SELECT ceil(s / 60.0)::BIGINT * 60 AS m, 1 AS d FROM sess
              UNION ALL
              SELECT ceil(e / 60.0)::BIGINT * 60, -1 FROM sess),
            pm AS (SELECT m, sum(d)::BIGINT AS dd FROM deltas
                   GROUP BY m),
            conc AS (SELECT m, sum(dd) OVER (ORDER BY m
                         ROWS UNBOUNDED PRECEDING)::BIGINT AS c
                     FROM pm),
            lab AS (SELECT strftime(make_timestamp(m * 1000000),
                                    '%Y-%m-%d') AS day,
                           hour(make_timestamp(m * 1000000)) AS hour,
                           c
                    FROM conc)
            SELECT day, hour, max(c)::BIGINT AS peak_concurrent,
                   round(avg(c), 6) AS mean_concurrent,
                   count(*)::BIGINT AS n_boundaries
            FROM lab GROUP BY day, hour
            HAVING max(c) > 0
            ORDER BY day, hour
        """,
        "events_twap": """
            WITH st AS (
              SELECT event_type, strftime(ts::DATE, '%Y-%m-%d') AS day,
                     CAST(round(value * 100) AS BIGINT) AS cents,
                     lead(epoch_us(ts)) OVER (PARTITION BY event_type,
                         ts::DATE ORDER BY ts, event_id)
                       - epoch_us(ts) AS dt
              FROM events),
            f AS (SELECT * FROM st WHERE dt IS NOT NULL)
            SELECT event_type, day, count(*)::BIGINT AS n_weighted,
                   round(sum(cents * dt)::DOUBLE / sum(dt) / 100.0, 6)
                     AS twap,
                   round(sum(cents)::DOUBLE / count(*) / 100.0, 6)
                     AS plain_avg
            FROM f GROUP BY event_type, day
            ORDER BY event_type, day
        """,
        "geo_geohash_rollup": """
            WITH pts AS (
              SELECT ('0x' || substr(md5('1|' || c_custkey::VARCHAR),
                                     1, 15))::BIGINT % 120000000
                       - 60000000 AS lat_e6,
                     ('0x' || substr(md5('2|' || c_custkey::VARCHAR),
                                     1, 15))::BIGINT % 360000000
                       - 180000000 AS lon_e6
              FROM customer),
            n1 AS (SELECT
                     least(4095, floor(((lat_e6 + 90000000) * 4096)::DOUBLE
                                       / 180000000))::BIGINT AS latnum,
                     least(8191, floor(((lon_e6 + 180000000) * 8192)::DOUBLE
                                       / 360000000))::BIGINT AS lonnum
                   FROM pts),
            g AS (SELECT ({gh_interleave}) AS gg FROM n1),
            enc AS (SELECT {gh_chars} AS gh5 FROM g),
            cells AS (SELECT gh5, count(*)::BIGINT AS n FROM enc
                      GROUP BY gh5)
            SELECT substr(gh5, 1, 3) AS gh3, gh5, n,
                   sum(n) OVER (PARTITION BY substr(gh5, 1, 3))::BIGINT
                     AS n_in_gh3
            FROM cells ORDER BY gh5
        """.replace("{gh_interleave}", _geohash5_sql()[0]).replace(
            "{gh_chars}", _geohash5_sql()[1]
        ),
        "events_assoc_rules": """
            WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
            nu AS (SELECT count(DISTINCT user_id)::DOUBLE AS n FROM ut),
            singles AS (SELECT event_type, count(*)::BIGINT AS n_t
                        FROM ut GROUP BY 1),
            pairs AS (
              SELECT a.event_type AS antecedent, b.event_type AS consequent,
                     count(*)::BIGINT AS n_ab
              FROM ut a JOIN ut b
                ON a.user_id = b.user_id AND a.event_type != b.event_type
              GROUP BY 1, 2)
            SELECT p.antecedent, p.consequent, p.n_ab,
                   round(p.n_ab::DOUBLE / nu.n, 6) AS support,
                   round(p.n_ab::DOUBLE / sa.n_t::DOUBLE, 6) AS confidence,
                   round((p.n_ab::DOUBLE / sa.n_t::DOUBLE)
                         / (sb.n_t::DOUBLE / nu.n), 6) AS lift
            FROM pairs p
            JOIN singles sa ON p.antecedent = sa.event_type
            JOIN singles sb ON p.consequent = sb.event_type
            CROSS JOIN nu
        """,
        "events_transitions_2step": """
            WITH s AS (
              SELECT event_type AS a,
                     lead(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS b
              FROM events),
            c AS (SELECT a, b, count(*)::DOUBLE AS n FROM s
                  WHERE b IS NOT NULL GROUP BY 1, 2),
            o AS (SELECT a, sum(n) AS tot FROM c GROUP BY 1),
            p1 AS (SELECT c.a, c.b, c.n / o.tot AS p
                   FROM c JOIN o USING (a))
            SELECT x.a, y.b AS c,
                   round(sum(x.p * y.p), 6) AS prob_2step
            FROM p1 x JOIN p1 y ON x.b = y.a
            GROUP BY 1, 2
        """,
        "attribution_time_decay": """
            WITH ev AS (
              SELECT event_id, user_id, event_type,
                     floor(epoch(ts))::BIGINT AS sec
              FROM events),
            p AS (SELECT event_id AS pid, user_id, sec AS psec
                  FROM ev WHERE event_type = 'purchase'),
            t AS (SELECT user_id, event_type AS channel, sec AS tsec
                  FROM ev WHERE event_type IN ('click', 'view')),
            pairs AS (
              SELECT p.pid, t.channel,
                     pow(2.0::DOUBLE,
                         -(p.psec - t.tsec)::DOUBLE / 3600.0::DOUBLE) AS w
              FROM p LEFT JOIN t
                ON p.user_id = t.user_id
               AND p.psec - t.tsec BETWEEN 1 AND 21600),
            cred AS (
              SELECT pid, coalesce(channel, 'direct') AS channel,
                     coalesce(round(w / sum(w) OVER (PARTITION BY pid), 9),
                              1.0::DOUBLE) AS credit
              FROM pairs)
            SELECT channel, round(sum(credit), 6) AS credit,
                   count(DISTINCT pid)::BIGINT AS n_purchases
            FROM cred GROUP BY 1
        """,
        "attribution_linear": """
            WITH ev AS (
              SELECT event_id, user_id, event_type,
                     floor(epoch(ts))::BIGINT AS sec
              FROM events),
            p AS (SELECT event_id AS pid, user_id, sec AS psec
                  FROM ev WHERE event_type = 'purchase'),
            t AS (SELECT user_id, event_type AS channel, sec AS tsec
                  FROM ev WHERE event_type IN ('click', 'view')),
            pairs AS (
              SELECT p.pid, t.channel
              FROM p LEFT JOIN t
                ON p.user_id = t.user_id
               AND p.psec - t.tsec BETWEEN 1 AND 21600),
            cred AS (
              SELECT pid, coalesce(channel, 'direct') AS channel,
                     round(1.0 / greatest(count(channel)
                                          OVER (PARTITION BY pid), 1),
                           12)::DECIMAL(22,12) AS credit
              FROM pairs)
            SELECT channel,
                   sum(credit)::DECIMAL(38,12)::VARCHAR AS credit,
                   count(DISTINCT pid)::BIGINT AS n_purchases
            FROM cred GROUP BY 1
        """,
        "events_windowed_agg": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                     AS window_start,
                   event_type, count(*) AS n, round(sum(value), 4) AS total
            FROM events GROUP BY 1, 2
        """,
        "events_sessionize": """
            WITH gaps AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
              SELECT user_id, ts,
                     sum(new_session) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING) AS session_seq
              FROM gaps)
            SELECT user_id, session_seq::BIGINT AS session_seq,
                   count(*) AS n_events,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
            FROM sess GROUP BY user_id, session_seq
        """,
        "asof_join_events": """
            WITH p AS (SELECT user_id, ts, event_id FROM events
                       WHERE event_type = 'purchase'),
                 s AS (SELECT user_id, ts AS sts, event_id AS signup_id FROM events
                       WHERE event_type = 'signup')
            SELECT p.event_id, s.signup_id AS asof_signup_id
            FROM p ASOF LEFT JOIN s
              ON p.user_id = s.user_id AND s.sts <= p.ts
        """,
        "asof_nearest_events": """
            WITH p AS (SELECT user_id, ts, event_id FROM events
                       WHERE event_type = 'purchase'),
            c AS (SELECT user_id, ts AS cts, event_id AS click_id
                  FROM events WHERE event_type = 'click'),
            b AS (SELECT p.event_id, c.click_id AS b_id, c.cts AS b_ts
                  FROM p ASOF LEFT JOIN c
                    ON p.user_id = c.user_id AND c.cts <= p.ts),
            f AS (SELECT p.event_id, c.click_id AS f_id, c.cts AS f_ts
                  FROM p ASOF LEFT JOIN c
                    ON p.user_id = c.user_id AND c.cts >= p.ts)
            SELECT p.event_id,
                   CASE WHEN b_ts IS NOT NULL
                         AND (f_ts IS NULL
                              OR (epoch(p.ts) - epoch(b_ts))
                                 <= (epoch(f_ts) - epoch(p.ts)))
                        THEN b_id ELSE f_id END AS asof_click_id
            FROM p
            JOIN b ON p.event_id = b.event_id
            JOIN f ON p.event_id = f.event_id
        """,
        "range_join_values": """
            SELECT a.event_id AS aid, b.event_id AS bid
            FROM (SELECT * FROM events WHERE event_id % 20 = 0) a
            JOIN (SELECT * FROM events WHERE event_id % 20 = 10) b
              ON abs(a.value - b.value) <= 0.25
        """,
        "events_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(min(value), 6) AS vmin,
                   round(max(value), 6) AS vmax
            FROM events GROUP BY event_type
        """,
        "events_rollup": """
            SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                   count(*) AS n, round(sum(value), 4) AS total
            FROM events GROUP BY ROLLUP (event_type, day)
        """,
        "events_setops": """
            WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
                 e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
            SELECT user_id, 'both' AS relation
            FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM e)
            UNION ALL
            SELECT user_id, 'purchase_only' AS relation
            FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM e)
        """,
        "events_pivot": """
            SELECT user_id,
                   count(*) FILTER (event_type = 'purchase') AS purchase,
                   count(*) FILTER (event_type = 'click') AS click,
                   count(*) FILTER (event_type = 'error') AS error,
                   count(*) FILTER (event_type = 'signup') AS signup,
                   count(*) FILTER (event_type = 'view') AS view
            FROM events GROUP BY user_id
        """,
        "events_funnel": """
            WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                        WHERE event_type = 'view' GROUP BY user_id),
            s2 AS (SELECT e.user_id, min(e.ts) AS t2
                   FROM events e JOIN s1 USING (user_id)
                   WHERE e.event_type = 'signup' AND e.ts > s1.t1
                   GROUP BY e.user_id),
            s3 AS (SELECT e.user_id, min(e.ts) AS t3
                   FROM events e JOIN s2 USING (user_id)
                   WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                   GROUP BY e.user_id)
            SELECT 'view' AS step, (SELECT count(*) FROM s1) AS n_users
            UNION ALL
            SELECT 'signup', (SELECT count(*) FROM s2)
            UNION ALL
            SELECT 'purchase', (SELECT count(*) FROM s3)
        """,
        "events_cohort_retention": """
            WITH f AS (SELECT user_id, date_trunc('day', min(ts)) AS cohort
                       FROM events GROUP BY user_id),
            a AS (SELECT DISTINCT e.user_id, f.cohort,
                         date_diff('day', f.cohort::DATE,
                                   date_trunc('day', e.ts)::DATE)::INT
                           AS day_offset
                  FROM events e JOIN f USING (user_id))
            SELECT cohort, day_offset, count(*) AS n_users
            FROM a GROUP BY 1, 2
        """,
        "events_window_suite": """
            SELECT user_id, event_id,
                   lag(value, 1) OVER w AS prev_value,
                   lead(value, 2) OVER w AS next2_value,
                   (row_number() OVER w)::INT AS rn,
                   (ntile(4) OVER w)::INT AS quartile,
                   round(percent_rank() OVER w, 9) AS pct_rank,
                   round(cume_dist() OVER w, 9) AS cume,
                   round(avg(floor(value * 100))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6)
                     AS centered_ma5_cents
            FROM events WHERE user_id < 15
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "events_cube": """
            SELECT event_type,
                   strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   count(*)::BIGINT AS n,
                   sum(floor(value * 100)::BIGINT)::BIGINT AS value_cents,
                   (grouping(event_type) * 2 + grouping(day))::BIGINT AS gid
            FROM events
            GROUP BY CUBE (event_type, day)
        """,
        "events_transitions": """
            WITH p AS (SELECT lag(event_type) OVER (PARTITION BY user_id
                                                    ORDER BY ts, event_id) AS src,
                              event_type AS dst
                       FROM events),
            c AS (SELECT src, dst, count(*)::BIGINT AS n
                  FROM p WHERE src IS NOT NULL GROUP BY 1, 2),
            t AS (SELECT src, sum(n)::BIGINT AS tt FROM c GROUP BY 1)
            SELECT c.src, c.dst, c.n, round(c.n::DOUBLE / t.tt, 9) AS p
            FROM c JOIN t USING (src)
        """,
        "events_ohlc": """
            WITH marked AS (
              SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value,
                     row_number() OVER (PARTITION BY event_type,
                                        strftime(ts, '%Y-%m-%d')
                                        ORDER BY ts, event_id) AS rn,
                     count(*) OVER (PARTITION BY event_type,
                                    strftime(ts, '%Y-%m-%d')) AS cnt
              FROM events)
            SELECT event_type, day,
                   max(CASE WHEN rn = 1 THEN value END) AS open,
                   max(CASE WHEN rn = cnt THEN value END) AS close,
                   max(value) AS high,
                   min(value) AS low,
                   round(sum(value), 4) AS volume,
                   count(*)::BIGINT AS n_events
            FROM marked GROUP BY 1, 2
        """,
        "events_rolling_time": """
            SELECT event_id, user_id,
                   floor(epoch(ts))::BIGINT AS sec,
                   round(sum(value) OVER w, 4) AS roll_sum,
                   count(*) OVER w AS roll_n,
                   max(value) OVER w AS roll_max
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY floor(epoch(ts))::BIGINT
                         RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        """,
        "events_attribution": """
            WITH t AS (
              SELECT event_id, user_id, event_type, value,
                     floor(epoch(ts))::BIGINT AS sec,
                     last_value(CASE WHEN event_type IN ('click', 'view')
                                     THEN floor(epoch(ts))::BIGINT END
                                IGNORE NULLS) OVER w AS t_sec,
                     last_value(CASE WHEN event_type IN ('click', 'view')
                                     THEN event_type END
                                IGNORE NULLS) OVER w AS t_type
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING))
            SELECT CASE WHEN t_sec IS NULL OR sec - t_sec > 21600
                        THEN 'direct' ELSE t_type END AS channel,
                   count(*)::BIGINT AS n_purchases,
                   round(sum(value), 4) AS attributed_value
            FROM t WHERE event_type = 'purchase' GROUP BY 1
        """,
        "events_dau_wau": """
            WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                        FROM events),
            dau AS (SELECT day, count(*)::BIGINT AS dau FROM du GROUP BY 1),
            contrib AS (
              SELECT DISTINCT user_id,
                     unnest(generate_series(day, day + INTERVAL 6 DAY,
                                            INTERVAL 1 DAY))::DATE AS wday
              FROM du),
            wau AS (SELECT wday, count(*)::BIGINT AS wau
                    FROM contrib GROUP BY 1)
            SELECT dau.day::VARCHAR AS day, dau, wau
            FROM dau JOIN wau ON dau.day = wau.wday
        """,
        # sketch stats: exact_users is INDEPENDENTLY derived (anchors
        # every row); the HLL++/GK sketch columns are golden-pinned —
        # deterministic for a fixed input + accuracy, not SQL-derivable.
        # tests/test_llm_ops.py asserts approx-vs-exact error bounds.
        "events_sketch_stats": """
            WITH exact AS (
              SELECT event_type, count(DISTINCT user_id) AS exact_users
              FROM events GROUP BY event_type
            ), golden AS (
              SELECT * FROM (VALUES
                ('click', 150, 35.28, 152.04, 222.07),
                ('error', 150, 34.38, 143.52, 236.27),
                ('purchase', 150, 33.95, 142.5, 223.62),
                ('signup', 150, 35.92, 151.77, 233.22),
                ('view', 150, 33.83, 143.8, 210.58)
              ) AS t(event_type, approx_users, p50, p95, p99)
            )
            SELECT e.event_type, e.exact_users,
                   g.approx_users::BIGINT AS approx_users,
                   g.p50::DOUBLE AS p50, g.p95::DOUBLE AS p95,
                   g.p99::DOUBLE AS p99
            FROM exact e JOIN golden g USING (event_type)
        """,
        "events_histogram": """
            SELECT event_type,
                   CAST(round(value * 100) AS BIGINT) // 2500 AS bucket,
                   (CAST(round(value * 100) AS BIGINT) // 2500) * 25.0 AS lo,
                   ((CAST(round(value * 100) AS BIGINT) // 2500) + 1) * 25.0
                     AS hi,
                   count(*)::BIGINT AS n,
                   round(sum(value)::DOUBLE, 2) AS sum_value
            FROM events
            GROUP BY event_type, bucket
        """,
        "geo_radius_join": _geo_oracle(),
        # independent quadratic restatement of the two-phase skyline
        "events_skyline": """
            WITH pu AS (SELECT user_id, count(*)::BIGINT AS n_events,
                               sum(round(value * 100)::BIGINT)::BIGINT
                                 AS total_cents
                        FROM events GROUP BY 1)
            SELECT p.user_id, p.n_events, p.total_cents
            FROM pu p WHERE NOT EXISTS (
              SELECT 1 FROM pu o
              WHERE o.n_events >= p.n_events
                AND o.total_cents >= p.total_cents
                AND (o.n_events > p.n_events
                     OR o.total_cents > p.total_cents))
        """,
        "events_entropy": """
            WITH per AS (SELECT user_id, event_type, count(*)::BIGINT AS c
                         FROM events GROUP BY 1, 2),
            tot AS (SELECT user_id, sum(c)::BIGINT AS n_events
                    FROM per GROUP BY 1)
            SELECT per.user_id, any_value(tot.n_events) AS n_events,
                   round(-sum((per.c / tot.n_events)
                              * log2(per.c / tot.n_events)), 6) AS entropy
            FROM per JOIN tot ON per.user_id = tot.user_id
            GROUP BY 1
        """,
        "events_pattern_match": """
            WITH r AS (SELECT user_id, event_type,
                              row_number() OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id) AS rn
                       FROM events),
            p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn)
                           AS path
                  FROM r WHERE rn <= 20 GROUP BY 1),
            pats AS (SELECT * FROM (VALUES
                ('view_to_purchase', 'view(>[a-z_]+)*>purchase'),
                ('signup_start', '^signup'),
                ('error_after_purchase', 'purchase>error'),
                ('triple_view', 'view>view>view'))
                AS t(pattern_name, pattern))
            SELECT pattern_name, count(*)::BIGINT AS n_users
            FROM p, pats WHERE regexp_matches(path, pattern)
            GROUP BY 1
        """,
        "events_top_paths": """
            WITH r AS (SELECT user_id, event_type,
                              row_number() OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id) AS rn
                       FROM events),
            p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn)
                           AS path
                  FROM r WHERE rn <= 5 GROUP BY 1)
            SELECT path, count(*)::BIGINT AS n_users
            FROM p GROUP BY 1
            ORDER BY n_users DESC, path LIMIT 20
        """,
    }
