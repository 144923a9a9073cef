"""Round-7 third-session goldens: inverse-normal transform
(RankGauss), isotonic PAV calibration — hand-computed fixtures for the
library ops; the registry queries are gated by the DuckDB oracles
(tools/oracle_check.py)."""

from __future__ import annotations

import math


def test_inv_norm_cdf_matches_known_quantiles(spark):
    """Phi^{-1} at textbook points: 0.5 -> 0, 0.975 -> 1.959964,
    0.025 -> -1.959964 (tail branch), 0.8413447 -> ~1 (central)."""
    from pyspark.sql import functions as F

    from vanus_spark.operators.hyptests import inv_norm_cdf

    df = spark.createDataFrame(
        [(0.5,), (0.975,), (0.025,), (0.8413447460685429,), (1e-6,)],
        "p double",
    )
    got = {
        r["p"]: r["q"]
        for r in df.select(
            "p", inv_norm_cdf(F.col("p")).alias("q")
        ).collect()
    }
    assert abs(got[0.5]) < 1e-12
    assert abs(got[0.975] - 1.959964) < 1e-5
    assert abs(got[0.025] + 1.959964) < 1e-5
    assert abs(got[0.8413447460685429] - 1.0) < 1e-6
    assert abs(got[1e-6] + 4.753424) < 1e-4


def test_rank_gauss_symmetric_and_monotone(spark):
    """Values 1..5 once each in one group: ranks 1..5, Blom p
    symmetric around 0.5 -> gauss antisymmetric; strictly increasing
    in the value."""
    from vanus_spark.operators.hyptests import rank_gauss_by_group

    rows = [("g", v) for v in (1, 2, 3, 4, 5)]
    df = spark.createDataFrame(rows, "grp string, v long")
    out = (
        rank_gauss_by_group(df, "v", "grp")
        .orderBy("v")
        .collect()
    )
    gs = [r["gauss"] for r in out]
    assert gs == sorted(gs)
    assert abs(gs[2]) < 1e-9  # median -> Phi^{-1}(0.5) = 0
    assert abs(gs[0] + gs[4]) < 1e-9 and abs(gs[1] + gs[3]) < 1e-9
    assert [r["avg_rank"] for r in out] == [1.0, 2.0, 3.0, 4.0, 5.0]


def test_rank_gauss_tie_handling(spark):
    """[1, 2, 2, 3]: tied 2s share avg rank 2.5."""
    from vanus_spark.operators.hyptests import rank_gauss_by_group

    df = spark.createDataFrame(
        [("g", 1), ("g", 2), ("g", 2), ("g", 3)], "grp string, v long"
    )
    out = {
        r["v"]: r for r in rank_gauss_by_group(df, "v", "grp").collect()
    }
    assert out[2]["avg_rank"] == 2.5 and out[2]["n_ties"] == 2
    assert abs(out[2]["gauss"]) < 1e-9  # (2.5 - .375)/4.25 = 0.5


def test_isotonic_pav_pools_violators(spark):
    """Unit weights, y = [1, 3, 2, 4]: PAV pools the (3, 2) violation
    into 2.5 -> fit [1, 2.5, 2.5, 4]."""
    from vanus_spark.operators.calibration import isotonic_binned

    bins = spark.createDataFrame(
        [(0, 1, 1), (1, 1, 3), (2, 1, 2), (3, 1, 4)],
        "bucket int, w long, s long",
    )
    got = {
        r["bucket"]: r["iso_rate"]
        for r in isotonic_binned(bins).collect()
    }
    assert got == {0: 1.0, 1: 2.5, 2: 2.5, 3: 4.0}


def test_isotonic_pav_weighted(spark):
    """Weights matter: y-means [2 (w=3), 1 (w=1)] pool to the weighted
    mean 7/4 for both buckets."""
    from vanus_spark.operators.calibration import isotonic_binned

    bins = spark.createDataFrame(
        [(0, 3, 6), (1, 1, 1)], "bucket int, w long, s long"
    )
    got = {
        r["bucket"]: r["iso_rate"]
        for r in isotonic_binned(bins).collect()
    }
    assert got == {0: 1.75, 1: 1.75}


def test_isotonic_already_monotone_is_identity(spark):
    from vanus_spark.operators.calibration import isotonic_binned

    bins = spark.createDataFrame(
        [(0, 2, 0), (1, 2, 1), (2, 2, 3)], "bucket int, w long, s long"
    )
    got = {
        r["bucket"]: r["iso_rate"]
        for r in isotonic_binned(bins).collect()
    }
    assert got == {0: 0.0, 1: 0.5, 2: 1.5}


def test_registry_isotonic_fit_is_monotone(spark, sf_dir, entry_mod):
    m = entry_mod
    rows = m.queries()["quality_isotonic"](spark, sf_dir).collect()
    iso = [r["iso_rate"] for r in rows]
    assert iso == sorted(iso)
    assert all(0.0 <= v <= 1.0 for v in iso)


def test_mahalanobis_symmetric_square(spark):
    """Four corners of a square: identical d2 = 1.5 for each
    (vxx = vyy = 4/3, vxy = 0, dx = dy = +-1)."""
    from vanus_spark.operators.hyptests import mahalanobis_2d

    df = spark.createDataFrame(
        [(1, 0, 0), (2, 2, 0), (3, 0, 2), (4, 2, 2)],
        "id int, x long, y long",
    )
    out = mahalanobis_2d(df, "x", "y", ["id"]).collect()
    assert all(abs(r["d2"] - 1.5) < 1e-9 for r in out)
    import math

    assert all(
        abs(r["p_value"] - math.exp(-0.75)) < 1e-6 for r in out
    )


def test_mahalanobis_catches_off_ridge_point(spark):
    """Strongly correlated cloud + one point ON the marginal means of
    each axis but OFF the ridge: it must out-score on-ridge extremes."""
    from vanus_spark.operators.hyptests import mahalanobis_2d

    ridge = [(i, i, i) for i in range(1, 11)]
    rows = ridge + [(99, 2, 9)]  # marginally unremarkable, off-ridge
    df = spark.createDataFrame(rows, "id int, x long, y long")
    out = {r["id"]: r["d2"] for r in mahalanobis_2d(
        df, "x", "y", ["id"]).collect()}
    assert out[99] > max(v for k, v in out.items() if k != 99)


def test_cochran_armitage_hand_computed(spark):
    """n = [10,10,10], r = [2,5,8], scores 0,1,2: pbar = .5, T = 6,
    Var = 5 -> z = 6/sqrt(5) = 2.683282, p ~ 0.0073."""
    from vanus_spark.operators.hyptests import cochran_armitage_trend

    tiers = spark.createDataFrame(
        [(0, 10, 2), (1, 10, 5), (2, 10, 8)], "tier long, n long, r long"
    )
    out = cochran_armitage_trend(tiers, "tier", "n", "r").collect()[0]
    assert out["n_total"] == 30 and out["n_converted"] == 15
    assert abs(out["z"] - 2.683282) < 1e-6
    assert 0.005 < out["p_value"] < 0.01


def test_cochran_armitage_flat_is_null_trend(spark):
    """Equal rates across tiers: T = 0 -> z = 0, p = 1."""
    from vanus_spark.operators.hyptests import cochran_armitage_trend

    tiers = spark.createDataFrame(
        [(0, 10, 5), (1, 10, 5), (2, 10, 5)], "tier long, n long, r long"
    )
    out = cochran_armitage_trend(tiers, "tier", "n", "r").collect()[0]
    assert out["z"] == 0.0 and out["p_value"] == 1.0


def test_nelson_aalen_hand_computed(spark):
    """durations [1,2,2,3], censor one of the 2s: t=1 n=4 d=1,
    t=2 n=3 d=1, t=3 n=1 d=1 -> H = .25, .583333, 1.583333;
    var = .0625, .173611, 1.173611."""
    from vanus_spark.operators.survival import nelson_aalen

    subj = spark.createDataFrame(
        [("g", 1, 1), ("g", 2, 1), ("g", 2, 0), ("g", 3, 1)],
        "segment string, duration long, event int",
    )
    rows = {r["t"]: r for r in nelson_aalen(subj).collect()}
    assert rows[1]["n_at_risk"] == 4 and rows[1]["cum_hazard"] == 0.25
    assert rows[2]["n_at_risk"] == 3 and rows[2]["cum_hazard"] == 0.583333
    assert rows[3]["n_at_risk"] == 1 and rows[3]["cum_hazard"] == 1.583333
    assert rows[2]["var_hazard"] == 0.173611
    assert rows[3]["var_hazard"] == 1.173611


def test_decompose_additive_constant_series(spark):
    """A constant series decomposes to trend = c, seasonal = 0,
    residual = 0 (where the trend window is full)."""
    import datetime

    from vanus_spark.operators.timeseries import decompose_additive

    rows = [
        ("k", datetime.date(2024, 1, d), 700) for d in range(1, 22)
    ]
    df = spark.createDataFrame(rows, "k string, day date, cents long")
    out = decompose_additive(df, "k", "day", "cents").collect()
    mid = [r for r in out if r["trend"] is not None]
    assert len(mid) == 15  # 21 days - 2*3 edge days
    assert all(r["trend"] == 700.0 for r in mid)
    assert all(abs(r["seasonal"]) < 1e-9 for r in out)
    assert all(abs(r["residual"]) < 1e-9 for r in mid)


def test_decompose_additive_recovers_weekly_pattern(spark):
    """y = 1000 + 7-periodic bump: the seasonal indexes recover the
    bump shape (re-centered), trend stays flat at 1000 + mean bump,
    residuals vanish, and parts sum back to the value."""
    import datetime

    from vanus_spark.operators.timeseries import decompose_additive

    bump = [0, 70, 140, 210, 280, 350, 420]  # mean 210
    rows = [
        (
            "k",
            datetime.date(2024, 1, 1) + datetime.timedelta(days=i),
            1000 + bump[i % 7],
        )
        for i in range(28)
    ]
    df = spark.createDataFrame(rows, "k string, day date, cents long")
    out = decompose_additive(df, "k", "day", "cents").collect()
    mid = [r for r in out if r["trend"] is not None]
    assert all(abs(r["trend"] - 1210.0) < 1e-6 for r in mid)
    assert all(abs(r["residual"]) < 1e-6 for r in mid)
    for r in out:
        if r["trend"] is not None:
            assert (
                abs(r["value"] - r["trend"] - r["seasonal"] - r["residual"])
                < 1e-6
            )
    # seasonal indexes sum to ~0 across one period
    seas = sorted({round(r["seasonal"], 6) for r in out})
    assert abs(sum(seas)) < 1e-6 and len(seas) == 7


def test_good_turing_mass_identities(spark, sf_dir, entry_mod):
    """p_unseen = N_1/N in (0,1); r* > 0 where the next bucket exists;
    n_tokens = sum over full fof (invariant vs direct bigram count)."""
    m = entry_mod
    rows = m.queries()["docs_good_turing"](spark, sf_dir).collect()
    assert rows, "expected a singleton tail in the bigram fof"
    r1 = [r for r in rows if r["r"] == 1]
    assert r1 and abs(
        r1[0]["p_unseen"] - r1[0]["n_types"] / r1[0]["n_tokens"]
    ) < 1e-6
    for r in rows:
        assert r["r_star"] is None or r["r_star"] > 0


def test_kfold_partition_is_exhaustive_and_deterministic(spark, sf_dir, entry_mod):
    """Folds 0..4 partition each stratum: shares sum to 1 per stratum;
    re-running yields identical cells (hash determinism)."""
    m = entry_mod
    a = m.queries()["sample_kfold"](spark, sf_dir).collect()
    b = m.queries()["sample_kfold"](spark, sf_dir).collect()
    assert a == b
    from collections import defaultdict

    share = defaultdict(float)
    for r in a:
        assert 0 <= r["fold"] <= 4
        share[r["stratum"]] += r["share"]
    assert all(abs(v - 1.0) < 1e-4 for v in share.values())


def test_markov_removal_effect_hand_computed():
    """start->a:2, start->b:1; a->{conv,b}:.5/.5; b->{conv,null}:
    .5/.5 -> u(b)=.5, u(a)=.75, pc=2/3*.75+1/3*.5=2/3;
    remove a -> pc=1/6*... = 1/6? no: 1/3*.5=.166667, re_a=.75;
    remove b -> pc=1/3, re_b=.5; shares .6/.4."""
    from vanus_spark.operators.markov import removal_effect

    edges = [
        ("start", "a", 2),
        ("start", "b", 1),
        ("a", "conv", 1),
        ("a", "b", 1),
        ("b", "conv", 1),
        ("b", "null", 1),
    ]
    out = {r["channel"]: r for r in removal_effect(edges, ["a", "b"])}
    assert abs(out["a"]["p_conv_full"] - 2 / 3) < 1e-12
    assert abs(out["a"]["p_conv_removed"] - 1 / 6) < 1e-12
    assert abs(out["a"]["removal_effect"] - 0.75) < 1e-12
    assert abs(out["b"]["removal_effect"] - 0.5) < 1e-12
    assert abs(out["a"]["attribution"] - 0.6) < 1e-12
    assert abs(out["b"]["attribution"] - 0.4) < 1e-12


def test_journey_edges_cuts_at_first_conversion(spark):
    """u1: a, purchase, b -> path [a]: start->a, a->conv (the trailing
    b is ignored); u2: b, a (no purchase): start->b, b->a, a->null;
    u3: purchase first -> start->conv."""
    import datetime

    from vanus_spark.operators.markov import journey_edges

    t0 = datetime.datetime(2024, 1, 1)

    def r(uid, i, et):
        return (i + uid * 10, t0 + datetime.timedelta(minutes=i), uid, et)

    rows = [
        r(1, 0, "a"), r(1, 1, "purchase"), r(1, 2, "b"),
        r(2, 0, "b"), r(2, 1, "a"),
        r(3, 0, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        (x["src"], x["dst"]): x["cnt"] for x in journey_edges(df).collect()
    }
    assert got == {
        ("start", "a"): 1,
        ("a", "conv"): 1,
        ("start", "b"): 1,
        ("b", "a"): 1,
        ("a", "null"): 1,
        ("start", "conv"): 1,
    }


def test_markov_shares_sum_to_one(spark, sf_dir, entry_mod):
    m = entry_mod
    rows = m.queries()["attribution_markov"](spark, sf_dir).collect()
    assert len(rows) == 4
    assert abs(sum(r["attribution"] for r in rows) - 1.0) < 1e-4
    assert all(r["p_conv_removed"] <= r["p_conv_full"] for r in rows)


def test_journey_entropy_bounds(spark, sf_dir, entry_mod):
    """Per-source entropy in [0, log2(6)]; weighted_bits sums to the
    share-weighted chain entropy; start row present."""
    import math

    m = entry_mod
    rows = m.queries()["events_journey_entropy"](spark, sf_dir).collect()
    srcs = {r["src"] for r in rows}
    assert "start" in srcs
    for r in rows:
        assert 0.0 <= r["entropy_bits"] <= math.log2(6) + 1e-9
        assert 0.0 <= r["weighted_bits"] <= r["entropy_bits"] + 1e-9


def test_time_to_convert_distribution_closes(spark, sf_dir, entry_mod):
    m = entry_mod
    rows = m.queries()["users_time_to_convert"](spark, sf_dir).collect()
    assert rows
    assert abs(rows[-1]["cum_share"] - 1.0) < 1e-5
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
    cums = [r["cum_share"] for r in rows]
    assert cums == sorted(cums)
    assert rows[-1]["at_or_past_median"] and rows[-1]["at_or_past_p90"]


def test_cohort_ltv_monotone_per_cohort(spark, sf_dir, entry_mod):
    from collections import defaultdict

    m = entry_mod
    rows = m.queries()["orders_cohort_ltv"](spark, sf_dir).collect()
    by_cohort = defaultdict(list)
    for r in rows:
        by_cohort[r["cohort"]].append(
            (r["age_months"], r["cum_ltv_per_customer"])
        )
    for seq in by_cohort.values():
        vals = [v for _, v in sorted(seq)]
        assert vals == sorted(vals)  # cumulative LTV never decreases


def test_peaks_hand_fixture(spark):
    """Series 1,5,2,8,3: peaks at 5 (relief 3) and 8 (relief 5) —
    verified through the registry shape on a tiny frame."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import datetime

    rows = [
        ("a", datetime.date(2024, 1, d + 1), v)
        for d, v in enumerate([1, 5, 2, 8, 3])
    ]
    daily = spark.createDataFrame(rows, "k string, day date, cents long")
    w = Window.partitionBy("k").orderBy("day")
    prev, nxt = F.lag("cents").over(w), F.lead("cents").over(w)
    got = (
        daily.select("k", "day", "cents", prev.alias("p"), nxt.alias("n"))
        .where(
            F.col("p").isNotNull()
            & F.col("n").isNotNull()
            & (F.col("cents") > F.col("p"))
            & (F.col("cents") > F.col("n"))
        )
        .select("cents", (F.col("cents") - F.greatest("p", "n")).alias("r"))
        .collect()
    )
    assert {(x["cents"], x["r"]) for x in got} == {(5, 3), (8, 5)}


def test_hurst_trending_beats_alternating(spark, sf_dir, monkeypatch, entry_mod):
    """A strongly trending series must score a higher Hurst exponent
    than a mean-reverting alternating one (the discriminative property
    R/S analysis exists for)."""
    import datetime

    m = entry_mod

    def fake_events(vals):
        rows = [
            (
                i,
                datetime.datetime(2024, 1, 1 + i),
                1,
                "x",
                float(v),
                "{}",
            )
            for i, v in enumerate(vals)
        ]
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        )

    import vanus_spark.sources.tables as tables

    trend = fake_events([100 * (i + 1) for i in range(30)])
    alt = fake_events([100 + 50 * (-1) ** i for i in range(30)])
    orig = tables.load_table
    try:
        tables.load_table = lambda spark, sf, name: trend
        h_trend = m.queries()["events_hurst"](spark, sf_dir).collect()[0][
            "hurst"
        ]
        tables.load_table = lambda spark, sf, name: alt
        h_alt = m.queries()["events_hurst"](spark, sf_dir).collect()[0][
            "hurst"
        ]
    finally:
        tables.load_table = orig
    assert h_trend > 0.8
    assert h_alt < h_trend - 0.3


def test_bcubed_bounds_and_f1_consistency(spark, sf_dir, entry_mod):
    m = entry_mod
    r = m.queries()["dedup_bcubed"](spark, sf_dir).collect()[0]
    p, rec, f1 = r["bcubed_precision"], r["bcubed_recall"], r["bcubed_f1"]
    assert 0.0 < p <= 1.0 and 0.0 < rec <= 1.0
    assert abs(f1 - 2 * p * rec / (p + rec)) < 1e-5
    assert r["n_clusters"] <= r["n_docs"] and r["n_truth"] <= r["n_docs"]


def test_twap_hand_fixture(spark, sf_dir, entry_mod):
    """1.00 held 10s, 2.00 held 20s (3rd obs closes the window):
    twap = (100*10 + 200*20)/30/100 = 1.666667; plain = 1.5."""
    import datetime

    import vanus_spark.sources.tables as tables

    m = entry_mod
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 1, "x", 1.0, "{}"),
        (2, t0 + datetime.timedelta(seconds=10), 1, "x", 2.0, "{}"),
        (3, t0 + datetime.timedelta(seconds=30), 1, "x", 9.0, "{}"),
    ]
    fake = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    orig = tables.load_table
    try:
        tables.load_table = lambda spark, sf, name: fake
        out = m.queries()["events_twap"](spark, sf_dir).collect()
    finally:
        tables.load_table = orig
    assert len(out) == 1
    assert abs(out[0]["twap"] - 1.666667) < 1e-6
    assert abs(out[0]["plain_avg"] - 1.5) < 1e-9
    assert out[0]["n_weighted"] == 2


def test_durbin_watson_range_and_white_noise_fixture(spark, sf_dir, entry_mod):
    """Fixture residuals: DW in (0, 4); rho_approx = 1 - dw/2 within
    rounding."""
    m = entry_mod
    rows = m.queries()["events_durbin_watson"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0.0 < r["dw"] < 4.0
        assert abs(r["rho_approx"] - (1 - r["dw"] / 2)) < 2e-6
        assert r["n"] == 24  # 30 days minus 2*3 trend-edge days


def test_bayes_ab_agrees_with_counts(spark, sf_dir, entry_mod):
    """Posterior means = (r+1)/(n+2); P(B>A) in (0,1) and > 0.5 iff
    posterior mean of B exceeds A."""
    m = entry_mod
    r = m.queries()["events_bayes_ab"](spark, sf_dir).collect()[0]
    assert abs(r["post_mean_a"] - (r["r_a"] + 1) / (r["n_a"] + 2)) < 1e-6
    assert abs(r["post_mean_b"] - (r["r_b"] + 1) / (r["n_b"] + 2)) < 1e-6
    assert 0.0 < r["p_b_beats_a"] < 1.0
    if r["post_mean_b"] > r["post_mean_a"]:
        assert r["p_b_beats_a"] > 0.5
    elif r["post_mean_b"] < r["post_mean_a"]:
        assert r["p_b_beats_a"] < 0.5


def test_gains_table_invariants(spark, sf_dir, entry_mod):
    """10 deciles partitioning the held-out set; cum_gain ends at 1,
    is non-decreasing, and the first decile's lift >= 1 for a
    better-than-random classifier; positives sum to the total."""
    m = entry_mod
    rows = m.queries()["quality_gains"](spark, sf_dir).collect()
    assert [r["decile"] for r in rows] == list(range(10))
    gains = [r["cum_gain"] for r in rows]
    assert gains == sorted(gains)
    assert abs(gains[-1] - 1.0) < 1e-9
    assert rows[0]["cum_lift"] >= 1.0  # NB model beats random at depth 1
    assert rows[-1]["cum_lift"] == 1.0


def test_weibull_fit_on_planted_weibull(spark, sf_dir, entry_mod):
    """Registry-level sanity: shape > 0, scale > 0 per segment (the
    NA points are monotone so ln-ln regression is well-posed)."""
    m = entry_mod
    rows = m.queries()["users_weibull_fit"](spark, sf_dir).collect()
    assert len(rows) == 3
    for r in rows:
        if r["n_points"] < 2:  # regr over one point is NULL (both engines)
            assert r["shape_k"] is None
            continue
        assert r["shape_k"] > 0 and r["scale_lambda"] > 0


def test_burstiness_bounds_and_metronome(spark, sf_dir, entry_mod):
    """Registry values in (-1, 1); a planted metronome stream scores
    B = -1 (sigma = 0)."""
    import datetime

    import vanus_spark.sources.tables as tables

    m = entry_mod
    rows = m.queries()["events_burstiness"](spark, sf_dir).collect()
    assert rows and all(-1.0 <= r["burstiness"] < 1.0 for r in rows)
    t0 = datetime.datetime(2024, 1, 1)
    metro = spark.createDataFrame(
        [
            (i, t0 + datetime.timedelta(seconds=60 * i), 1, "x", 1.0, "{}")
            for i in range(20)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    orig = tables.load_table
    try:
        tables.load_table = lambda spark, sf, name: metro
        out = m.queries()["events_burstiness"](spark, sf_dir).collect()
    finally:
        tables.load_table = orig
    assert out[0]["std_gap_s"] == 0.0 and out[0]["burstiness"] == -1.0


def test_simpson_diversity_bounds(spark, sf_dir, entry_mod):
    m = entry_mod
    rows = m.queries()["docs_simpson_diversity"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["gini_simpson"] < 1.0
        assert 1.0 <= r["effective_types"] <= r["n_types"]


def test_assortativity_in_range(spark, sf_dir, entry_mod):
    m = entry_mod
    r = m.queries()["graph_assortativity"](spark, sf_dir).collect()[0]
    assert -1.0 <= r["assortativity"] <= 1.0
    assert r["n_edges"] > 0


def test_powerlaw_alpha_positive(spark, sf_dir, entry_mod):
    m = entry_mod
    r = m.queries()["graph_powerlaw_alpha"](spark, sf_dir).collect()[0]
    assert r["k_min"] >= 1 and r["k_max"] >= r["k_min"]
    assert r["alpha"] > 1.0


def test_abc_partitions_and_shares(spark, sf_dir, entry_mod):
    m = entry_mod
    rows = m.queries()["lineitem_abc"](spark, sf_dir).collect()
    classes = {r["abc_class"]: r for r in rows}
    assert set(classes) == {"A", "B", "C"}
    assert abs(sum(r["revenue_share"] for r in rows) - 1.0) < 1e-4
    # A-class: fewest parts, most revenue (the whole point of ABC)
    assert classes["A"]["revenue_share"] > classes["C"]["revenue_share"]


# ---- property tests for the session's pure-math helpers (driver-side
# replicas of the Column formulas, so hypothesis can run them without
# a Spark job per example) ----


def _inv_norm_py(p: float) -> float:
    import math

    from vanus_spark.operators.hyptests import BSM_A, BSM_B, MORO_C

    def horner(s: float) -> float:
        acc = MORO_C[-1]
        for c in reversed(MORO_C[:-1]):
            acc = c + s * acc
        return acc

    if p < 0.08:
        return -horner(math.log(-math.log(p)))
    if p > 0.92:
        return horner(math.log(-math.log(1.0 - p)))
    r = p - 0.5
    y = r * r
    num = BSM_A[0] + y * (BSM_A[1] + y * (BSM_A[2] + y * BSM_A[3]))
    den = 1.0 + y * (
        BSM_B[0] + y * (BSM_B[1] + y * (BSM_B[2] + y * BSM_B[3]))
    )
    return r * num / den


def test_inv_norm_python_replica_matches_column(spark):
    """The pure-python replica above IS the Column formula (same
    constants, same branches): pin them together on a grid so the
    property tests below genuinely exercise the shipped math."""
    from pyspark.sql import functions as F

    from vanus_spark.operators.hyptests import inv_norm_cdf

    grid = [0.001, 0.05, 0.08, 0.3, 0.5, 0.77, 0.92, 0.95, 0.9999]
    df = spark.createDataFrame([(p,) for p in grid], "p double")
    got = [
        r["q"]
        for r in df.select(inv_norm_cdf(F.col("p")).alias("q"))
        .orderBy(F.col("q"))
        .collect()
    ]
    exp = sorted(_inv_norm_py(p) for p in grid)
    assert all(abs(g - e) < 1e-12 for g, e in zip(got, exp))


def test_inv_norm_round_trips_normal_tail():
    """Phi^{-1} then the A&S tail polynomial recovers 1-p within the
    combined approximation error (~1e-7) across (0.5, 1)."""
    import math

    from hypothesis import given, strategies as st

    from vanus_spark.operators.hyptests import norm_sf

    # norm_sf is Column math; replicate via its closed form
    def norm_sf_py(z: float) -> float:
        t = 1.0 / (1.0 + 0.2316419 * z)
        poly = t * (
            0.319381530
            + t
            * (
                -0.356563782
                + t * (1.781477937 + t * (-1.821255978 + t * 1.330274429))
            )
        )
        return math.exp(-z * z / 2) / 2.5066282746310002 * poly

    @given(st.floats(min_value=0.5001, max_value=0.99999))
    def check(p):
        z = _inv_norm_py(p)
        assert abs(norm_sf_py(z) - (1.0 - p)) < 5e-7

    check()


def test_inv_norm_monotone_property():
    from hypothesis import given, strategies as st

    @given(
        st.floats(min_value=1e-9, max_value=1 - 1e-9),
        st.floats(min_value=1e-9, max_value=1 - 1e-9),
    )
    def check(p1, p2):
        lo, hi = min(p1, p2), max(p1, p2)
        if hi - lo > 1e-12:
            assert _inv_norm_py(lo) <= _inv_norm_py(hi) + 1e-9

    check()


def test_markov_removal_effect_properties():
    """Random small chains: full conversion prob in [0,1]; removing a
    channel never increases it; attribution sums to 1 when any effect
    is positive."""
    import random

    from vanus_spark.operators.markov import removal_effect

    rng = random.Random(7)
    for _ in range(25):
        chans = ["a", "b", "c"]
        edges = []
        for src in ["start"] + chans:
            dsts = chans + ["conv", "null"]
            for d in dsts:
                if d != src and rng.random() < 0.7:
                    edges.append((src, d, rng.randint(1, 9)))
        # ensure start has at least one outgoing edge
        if not any(s == "start" for s, _, _ in edges):
            edges.append(("start", "a", 1))
        out = removal_effect(edges, chans)
        pc = out[0]["p_conv_full"]
        assert 0.0 <= pc <= 1.0 + 1e-12
        for r in out:
            assert r["p_conv_removed"] <= pc + 1e-12
        if pc > 0 and sum(r["removal_effect"] for r in out) > 0:
            assert abs(sum(r["attribution"] for r in out) - 1.0) < 1e-9


def test_price_index_base_month_is_one(spark, sf_dir, entry_mod):
    """At the base month the matched basket is priced at base prices:
    all three indices = 1."""
    m = entry_mod
    rows = m.queries()["part_price_index"](spark, sf_dir).collect()
    assert rows
    first = rows[0]
    assert first["laspeyres"] == 1.0 == first["paasche"] == first["fisher"]
    import math

    for r in rows:
        assert r["n_parts"] > 0
        assert abs(
            r["fisher"] - math.sqrt(r["laspeyres"] * r["paasche"])
        ) < 1e-5


def test_xyz_partitions_all_parts(spark, sf_dir, entry_mod):
    m = entry_mod
    rows = m.queries()["lineitem_xyz"](spark, sf_dir).collect()
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
    assert all(r["xyz_class"] in {"X", "Y", "Z"} for r in rows)
    assert all(r["avg_cv"] >= 0 for r in rows)


def test_user_daily_features_windows(spark, sf_dir, entry_mod):
    """rolling7 >= today's cents; first active day has NULL lag
    features; prev_gap_days >= 1 when present."""
    m = entry_mod
    rows = m.queries()["features_user_daily"](spark, sf_dir).collect()
    by_user_first = {}
    for r in rows:
        assert r["rolling7_cents"] >= r["cents"]
        if r["prev_gap_days"] is not None:
            assert r["prev_gap_days"] >= 1
        by_user_first.setdefault(r["user_id"], r)
    for first in by_user_first.values():
        assert first["prev_gap_days"] is None
        assert first["lag1_cents"] is None


def test_elasticity_regression_well_posed(spark, sf_dir, entry_mod):
    m = entry_mod
    rows = m.queries()["brand_price_elasticity"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_cells"] >= 2
        assert r["r2"] is None or 0.0 <= r["r2"] <= 1.0


def test_forecast_backtest_scores_holdout(spark, sf_dir, entry_mod):
    """5 types x 7 horizons; error metrics consistent: smape <= 2,
    ape >= 0, and smape == 0 iff ape == 0."""
    m = entry_mod
    rows = m.queries()["forecast_backtest"](spark, sf_dir).collect()
    assert len(rows) == 35
    for r in rows:
        assert r["ape"] >= 0.0
        assert 0.0 <= r["smape"] <= 2.0
        assert (r["smape"] == 0.0) == (r["ape"] == 0.0)
        assert r["actual"] > 0


def test_concurrency_sweep_conserves_sessions(spark, sf_dir, entry_mod):
    """Running concurrency never goes negative; peaks positive; the
    final running sum returns to 0 (every +1 has its -1)."""
    m = entry_mod
    rows = m.queries()["events_concurrency"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["peak_concurrent"] >= 1
        assert 0.0 <= r["mean_concurrent"] <= r["peak_concurrent"]


def test_concurrency_hand_fixture(spark, sf_dir, entry_mod):
    """Two users overlapping for a stretch: peak 2; a lone trailing
    session: peak 1."""
    import datetime

    import vanus_spark.sources.tables as tables

    m = entry_mod
    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)

    def e(i, uid, minute):
        return (i, t0 + datetime.timedelta(minutes=minute), uid, "x", 1.0, "{}")

    # u1 active minutes 0-10, u2 active 5-15 -> overlap 5-10 peak 2
    rows = [e(1, 1, 0), e(2, 1, 10), e(3, 2, 5), e(4, 2, 15)]
    fake = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    orig = tables.load_table
    try:
        tables.load_table = lambda spark, sf, name: fake
        out = m.queries()["events_concurrency"](spark, sf_dir).collect()
    finally:
        tables.load_table = orig
    assert max(r["peak_concurrent"] for r in out) == 2


def test_anomaly_stl_flags_planted_spike(spark, sf_dir, entry_mod):
    """A flat daily series with one huge spike: exactly the spike's
    residual neighborhood gets flagged, with |robust_z| > 2."""
    import datetime

    import vanus_spark.sources.tables as tables

    m = entry_mod
    rows = []
    eid = 0
    for d in range(30):
        v = 100.0 if d != 15 else 5000.0
        rows.append(
            (eid, datetime.datetime(2024, 1, 1 + d, 12), 1, "x", v, "{}")
        )
        eid += 1
    fake = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    orig = tables.load_table
    try:
        tables.load_table = lambda spark, sf, name: fake
        out = m.queries()["events_anomaly_stl"](spark, sf_dir).collect()
    finally:
        tables.load_table = orig
    assert any(r["day"] == "2024-01-16" for r in out)
    spike = [r for r in out if r["day"] == "2024-01-16"][0]
    assert abs(spike["robust_z"]) > 2.0


def test_geohash_roundtrip_contains_point(spark):
    """200 seeded random points: decoding the emitted geohash yields
    a cell that CONTAINS the (quantized) point — the containment
    property every downstream prefix-join depends on."""
    import random

    from pyspark.sql import functions as F

    from vanus_spark.operators.geo import GEOHASH32, geohash_from_micro

    def decode(gh):
        lat_r, lon_r = [-90.0, 90.0], [-180.0, 180.0]
        even = True
        for ch in gh:
            v = GEOHASH32.index(ch)
            for bit in (16, 8, 4, 2, 1):
                rng = lon_r if even else lat_r
                mid = (rng[0] + rng[1]) / 2
                if v & bit:
                    rng[0] = mid
                else:
                    rng[1] = mid
                even = not even
        return lat_r, lon_r

    rng = random.Random(42)
    pts = [
        (
            rng.randint(-90_000_000, 90_000_000 - 1),
            rng.randint(-180_000_000, 180_000_000 - 1),
        )
        for _ in range(200)
    ]
    df = spark.createDataFrame(pts, "lat_e6 long, lon_e6 long")
    rows = df.select(
        "lat_e6",
        "lon_e6",
        geohash_from_micro(F.col("lat_e6"), F.col("lon_e6")).alias("gh"),
    ).collect()
    eps = 1e-6  # quantization slack: one micro-degree
    for r in rows:
        lat_r, lon_r = decode(r["gh"])
        lat, lon = r["lat_e6"] / 1e6, r["lon_e6"] / 1e6
        assert lat_r[0] - eps <= lat < lat_r[1] + eps, (r["gh"], lat, lat_r)
        assert lon_r[0] - eps <= lon < lon_r[1] + eps, (r["gh"], lon, lon_r)


def test_modularity_identities(spark, sf_dir, entry_mod):
    """sum(e_in) <= m, sum(d_c) = 2m, contributions sum to the
    reported modularity, Q in [-0.5, 1)."""
    m = entry_mod
    rows = m.queries()["graph_modularity"](spark, sf_dir).collect()
    assert rows
    q = rows[0]["modularity"]
    assert -0.5 <= q < 1.0
    assert abs(sum(r["contribution"] for r in rows) - q) < 1e-4
    two_m = sum(r["d_c"] for r in rows)
    assert sum(r["e_in"] for r in rows) <= two_m // 2


def test_uplift_qini_accounting(spark, sf_dir, entry_mod):
    """Deciles partition both arms; final qini ~ total treated conv
    minus rate-adjusted control conv; uplift consistent with
    counts."""
    m = entry_mod
    rows = m.queries()["events_uplift_qini"](spark, sf_dir).collect()
    assert [r["decile"] for r in rows] == sorted(
        {r["decile"] for r in rows}
    )
    for r in rows:
        if r["n_t"] == 0 or r["n_c"] == 0:
            assert r["uplift"] is None  # tiny-fixture empty arm
            continue
        assert abs(
            r["uplift"] - (r["c_t"] / r["n_t"] - r["c_c"] / r["n_c"])
        ) < 1e-5
    tot_ct = sum(r["c_t"] for r in rows)
    tot_cc = sum(r["c_c"] for r in rows)
    tot_nt = sum(r["n_t"] for r in rows)
    tot_nc = sum(r["n_c"] for r in rows)
    if tot_nc > 0:
        expected_final = tot_ct - tot_cc * (tot_nt / tot_nc)
        assert abs(rows[-1]["qini"] - expected_final) < 1e-3
