"""Post-r10 wave-5 goldens: Horvitz-Thompson PPS sampling, Burrows'
Delta stylometry, rich-club coefficient, DP budget planner; the
registry queries themselves are gated by the DuckDB oracles
(tools/oracle_check.py)."""

from __future__ import annotations

import math
import os
import tempfile


def test_ht_certainty_units_are_exact(spark, entry_mod):
    """Four orders small enough that c*y >= 1 for every one: all are
    certainty units (pi = 1), so the HT total IS the exact total,
    the design variance is 0, and Kish neff = n."""
    import datetime

    m = entry_mod
    dt = datetime.datetime(1995, 1, 1)
    rows = [
        (i, 1, "O", float(i + 1), dt, "1-P") for i in range(4)
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "orders.parquet"))
    r = m.queries()["sample_horvitz_thompson"](spark, tmp).collect()[0]
    assert r["n_pop"] == 4 and r["n_sample"] == 4
    assert r["ht_total_dollars"] == r["true_total_dollars"] == 10.0
    assert r["rel_error"] == 0.0
    assert r["se_dollars"] == 0.0
    assert r["kish_neff"] == 4.0


def test_ht_unbiasedness_ballpark_real_fixture(spark, entry_mod):
    """sf0.001: the PPS estimate lands within 20% of the exact total
    (a single deterministic draw, not an expectation — but pi is
    value-proportional, so big orders are near-certainty and the
    error is dominated by the small-order tail)."""
    m = entry_mod
    r = m.queries()["sample_horvitz_thompson"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert 0 < r["n_sample"] <= r["n_pop"]
    assert abs(r["rel_error"]) < 0.2
    assert r["kish_neff"] <= r["n_sample"] + 1e-9
    assert r["se_dollars"] > 0.0


def _write_docs(spark, rows):
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    return tmp


def test_burrows_delta_identical_sources_are_zero(spark, entry_mod):
    """s1 and s2 share the exact term distribution (x:y = 1:1), s3
    skews 3:1 — Delta(s1,s2) = 0 and both distances to s3 are equal
    and positive."""
    m = entry_mod
    rows = [
        (0, "x y", "en", "s1", 3),
        (1, "x y x y", "en", "s2", 7),
        (2, "x x x y", "en", "s3", 7),
    ]
    tmp = _write_docs(spark, rows)
    out = {
        (r["source_a"], r["source_b"]): r
        for r in m.queries()["docs_burrows_delta"](spark, tmp).collect()
    }
    assert len(out) == 3
    assert out[("s1", "s2")]["delta"] == 0.0
    d13 = out[("s1", "s3")]["delta"]
    d23 = out[("s2", "s3")]["delta"]
    assert d13 > 0.0 and abs(d13 - d23) < 1e-9
    assert out[("s1", "s2")]["n_terms"] == 2


def test_burrows_delta_pair_count_real_fixture(spark, entry_mod):
    """sf0.001: all C(20,2) = 190 source pairs emit, every delta is
    non-negative."""
    m = entry_mod
    out = m.queries()["docs_burrows_delta"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == 190
    for r in out:
        assert r["delta"] >= 0.0


def test_rich_club_structure_real_fixture(spark, entry_mod):
    """sf0.001: the planted hub clique makes the high-k club denser
    than the k=2 club; counts are monotone non-increasing in k and
    phi stays in [0, 1]."""
    m = entry_mod
    out = m.queries()["graph_rich_club"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert [r["k"] for r in out] == [2, 4, 8, 16, 24]
    by_k = {r["k"]: r for r in out}
    last_n = None
    for r in out:
        assert r["e_k"] >= 0 and r["n_k"] >= 0
        if last_n is not None:
            assert r["n_k"] <= last_n
        last_n = r["n_k"]
        if r["phi"] is not None:
            assert 0.0 <= r["phi"] <= 1.0
    assert by_k[8]["phi"] is not None and by_k[2]["phi"] is not None
    assert by_k[8]["phi"] > by_k[2]["phi"]
    assert by_k[8]["rho_vs_density"] > 1.0


def test_dp_budget_hand_fixture(spark, entry_mod):
    """Two QI groups of size 5 and 20: at eps=0.1 (b=10) both carry
    >10% expected relative error; at eps=2 (b=0.5) neither does
    (0.5/5 = 0.1 is NOT strictly greater). Gaussian sigma follows
    sqrt(2 ln 1.25e5)/eps."""
    m = entry_mod
    rows = [(i, f"c{i}", 1, 0.0, "AUTO") for i in range(5)] + [
        (100 + i, f"d{i}", 2, 0.0, "AUTO") for i in range(20)
    ]
    df = spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey long,"
        " c_acctbal double, c_mktsegment string",
    )
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "customer.parquet"))
    out = {
        r["eps"]: r
        for r in m.queries()["privacy_dp_budget"](spark, tmp).collect()
    }
    assert set(out) == {0.1, 0.5, 1.0, 2.0}
    assert out[0.1]["n_groups"] == 2 and out[0.1]["min_group"] == 5
    assert out[0.1]["n_groups_relerr_gt_10pct"] == 2
    assert out[2.0]["n_groups_relerr_gt_10pct"] == 0
    assert out[1.0]["laplace_b"] == 1.0
    for e, r in out.items():
        ref = math.sqrt(2.0 * math.log(125000.0)) / e
        assert abs(r["gauss_sigma"] - ref) < 1e-6


def _write_events(spark, rows):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
    return tmp


def test_mi_profile_dependence_extremes(spark, entry_mod):
    """purchase always at 01:00/band 0, signup always at 02:00/band 2:
    hour and value_band carry FULL information about the type
    (MI = ln 2, NMI = 1)."""
    m = entry_mod
    rows = []
    for i in range(5):
        rows.append(
            (i, f"2024-01-{i + 1:02d} 01:00:00", 1, "purchase", 10.0, "{}")
        )
        rows.append(
            (10 + i, f"2024-01-{i + 1:02d} 02:00:00", 2, "signup", 60.0, "{}")
        )
    tmp = _write_events(spark, rows)
    out = {
        r["dim"]: r
        for r in m.queries()["events_mi_profile"](spark, tmp).collect()
    }
    for dim in ("hour", "value_band"):
        assert abs(out[dim]["mi_nats"] - math.log(2.0)) < 1e-6
        assert abs(out[dim]["nmi"] - 1.0) < 1e-6
        assert abs(out[dim]["h_type"] - math.log(2.0)) < 1e-6


def test_mi_profile_independence_is_zero(spark, entry_mod):
    """Both types occur at both hours with equal counts: MI over the
    hour dimension is exactly 0."""
    m = entry_mod
    rows = []
    eid = 0
    for t in ("purchase", "signup"):
        for h in (1, 2):
            for rep in range(3):
                rows.append(
                    (eid, f"2024-01-{rep + 1:02d} {h:02d}:00:00", 1, t, 10.0, "{}")
                )
                eid += 1
    tmp = _write_events(spark, rows)
    out = {
        r["dim"]: r
        for r in m.queries()["events_mi_profile"](spark, tmp).collect()
    }
    assert out["hour"]["mi_nats"] == 0.0
    assert out["hour"]["nmi"] == 0.0


def test_hill_tail_matches_python_reference(spark, entry_mod):
    """300 linearly spaced values: alpha-hat and the implied P99.9
    match a direct transcription of the Hill estimator."""
    m = entry_mod
    rows = [
        (i, f"2024-01-{i % 28 + 1:02d} 10:00:00", 1, "purchase",
         float(i + 1), "{}")
        for i in range(300)
    ]
    tmp = _write_events(spark, rows)
    r = m.queries()["events_hill_tail"](spark, tmp).collect()[0]
    cents = sorted((100 * (i + 1) for i in range(300)), reverse=True)
    xref = cents[100]  # rank 101
    slog = sum(math.log(c) - math.log(xref) for c in cents[:100])
    alpha = 100.0 / slog
    n = 300
    p999 = xref / 100.0 * (100.0 / (0.001 * n)) ** (1.0 / alpha)
    assert r["n"] == 300 and r["k"] == 100
    assert abs(r["threshold_dollars"] - xref / 100.0) < 1e-9
    assert abs(r["hill_alpha"] - alpha) < 1e-6
    assert abs(r["p999_implied_dollars"] - p999) < 1e-4


def test_cpk_hand_fixture(spark, entry_mod):
    """Three lineitems shipped 10/20/30 days after the order:
    mu=20, population sd = sqrt(200/3), Cp/Cpk from the [1,122]
    spec window, nothing out of spec."""
    import datetime

    m = entry_mod
    odf = spark.createDataFrame(
        [(1, 1, "O", 10.0, datetime.datetime(1995, 1, 1), "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    lrows = [
        (1, 1, 1, i + 1, 1.0, 100.0, 0.0, 0.0, "N", "O",
         datetime.datetime(1995, 1, 1) + datetime.timedelta(days=d))
        for i, d in enumerate((10, 20, 30))
    ]
    ldf = spark.createDataFrame(
        lrows,
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber long, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    )
    tmp = tempfile.mkdtemp()
    odf.write.mode("overwrite").parquet(os.path.join(tmp, "orders.parquet"))
    ldf.write.mode("overwrite").parquet(os.path.join(tmp, "lineitem.parquet"))
    r = m.queries()["lineitem_cpk"](spark, tmp).collect()[0]
    mu = 20.0
    sig = math.sqrt(200.0 / 3.0)
    assert r["n"] == 3 and r["mean_days"] == 20.0
    assert abs(r["sd_days"] - sig) < 1e-6
    assert abs(r["cp"] - 121.0 / (6.0 * sig)) < 1e-6
    assert abs(r["cpk"] - min(102.0, 19.0) / (3.0 * sig)) < 1e-6
    assert r["n_out"] == 0 and r["frac_out_of_spec"] == 0.0


def test_kneser_ney_matches_python_reference(spark, entry_mod):
    """Train doc 'a b a b a c' + test doc 'a b c d': every model
    count is hand-enumerable; the cross-entropy matches a direct
    transcription of the interpolated-KN formula with the add-half
    continuation smoothing."""
    m = entry_mod
    rows = [
        (0, "a b a b a c", "en", "s", 11),
        (500, "a b c d", "en", "s", 7),
    ]
    tmp = _write_docs(spark, rows)
    r = m.queries()["docs_kneser_ney"](spark, tmp).collect()[0]
    big = {("a", "b"): 2, ("b", "a"): 2, ("a", "c"): 1}
    c1 = {"a": (3, 2), "b": (2, 1)}
    cont = {"b": 1, "a": 1, "c": 1}
    ntot, v = 3, 3
    pairs = [("a", "b"), ("b", "a"), ("a", "b"), ("b", "a"),
             ("a", "c"), ("a", "b"), ("b", "c"), ("c", "d")]

    def pkn(prev, tok):
        pcont = (cont.get(tok, 0) + 0.5) / (ntot + 0.5 * (v + 1))
        if prev in c1:
            cv, nd = c1[prev]
            return (
                max(big.get((prev, tok), 0) - 0.75, 0.0) / cv
                + 0.75 * nd / cv * pcont
            )
        return pcont

    ce = -sum(math.log(pkn(p, t)) for p, t in pairs) / len(pairs)
    assert r["n_bigrams"] == 8
    assert r["n_backoff"] == 2  # (b,c) and (c,d)
    assert r["n_unseen_context"] == 1  # prev = c
    assert abs(r["cross_entropy"] - ce) < 1e-6
    assert abs(r["perplexity"] - math.exp(ce)) < 1e-6


def test_kneser_ney_tighter_than_backoff_on_real_corpus(spark, entry_mod):
    """sf0.001: KN perplexity is finite and positive; backoff and
    unseen-context counts are a small fraction of the scored pairs
    (train split covers half the corpus)."""
    m = entry_mod
    r = m.queries()["docs_kneser_ney"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert r["n_bigrams"] > 0
    assert 0 <= r["n_unseen_context"] <= r["n_backoff"] <= r["n_bigrams"]
    assert r["cross_entropy"] > 0.0
    assert r["perplexity"] > 1.0


def test_panel_fe_matches_python_reference(spark, entry_mod):
    """Two customers with different spend levels but a shared +5
    cents/day within-trend: the FE estimator recovers the within
    slope a pooled OLS would distort."""
    import datetime

    m = entry_mod
    base = datetime.datetime(1995, 1, 1)
    data = [  # (cust, day, dollars)
        (1, 0, 1.00), (1, 10, 1.50), (1, 20, 2.00),
        (2, 0, 30.00), (2, 10, 30.50), (2, 20, 31.00),
    ]
    rows = [
        (i, c, "O", v, base + datetime.timedelta(days=d), "1-P")
        for i, (c, d, v) in enumerate(data)
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "orders.parquet"))
    r = m.queries()["orders_panel_fe"](spark, tmp).collect()[0]
    # within slope: both customers rise 100 cents per 20 days = 5 c/d
    assert r["n_orders"] == 6 and r["n_customers"] == 2
    assert abs(r["beta_cents_per_day"] - 5.0) < 1e-9
    # perfect within-fit -> rss = 0 -> se = 0, t undefined (NULL)
    assert r["se"] == 0.0
    assert r["t_stat"] is None


def test_simpson_audit_detects_flip(spark, entry_mod):
    """Cohort 1 beats cohort 0 by +$10 on BOTH days, but the pooled
    means reverse (the weights are crossed) — the audit must flag
    it."""
    m = entry_mod
    rows = []
    eid = 0
    for _ in range(10):
        rows.append((eid, "2024-01-01 09:00:00", 1, "purchase", 20.0, "{}"))
        eid += 1
    rows.append((eid, "2024-01-01 10:00:00", 2, "purchase", 10.0, "{}"))
    eid += 1
    rows.append((eid, "2024-01-02 09:00:00", 1, "purchase", 120.0, "{}"))
    eid += 1
    for _ in range(10):
        rows.append((eid, "2024-01-02 10:00:00", 2, "purchase", 110.0, "{}"))
        eid += 1
    tmp = _write_events(spark, rows)
    r = m.queries()["events_simpson_audit"](spark, tmp).collect()[0]
    assert r["n_strata"] == 2
    assert r["n_positive"] == 2 and r["n_negative"] == 0
    assert r["n_sign_flips"] == 2
    assert r["pooled_diff_dollars"] < 0 < r["mh_diff_dollars"]
    assert abs(r["mh_diff_dollars"] - 10.0) < 1e-9
    assert r["simpson_flag"]


def test_trend_hac_matches_python_reference(spark, entry_mod):
    """Six daily totals: slope, OLS and HAC standard errors all match
    a direct transcription (Bartlett weights, q = 2)."""
    m = entry_mod
    vals = [10.0, 12.0, 11.0, 15.0, 14.0, 18.0]
    rows = [
        (i, f"2024-01-{i + 1:02d} 10:00:00", 1, "purchase", v, "{}")
        for i, v in enumerate(vals)
    ]
    tmp = _write_events(spark, rows)
    r = m.queries()["events_trend_hac"](spark, tmp).collect()[0]
    c = [v * 100 for v in vals]
    n = len(c)
    s = sum(c)
    xs = [2 * (t + 1) - n - 1 for t in range(n)]
    beta = 2.0 * sum(a * b for a, b in zip(xs, c)) / sum(a * a for a in xs)
    sxx = sum(a * a for a in xs) / 4.0
    e = [ci - s / n - beta * (x / 2.0) for ci, x in zip(c, xs)]
    g = [(x / 2.0) * ei for x, ei in zip(xs, e)]
    v0 = sum(v * v for v in g)
    v1 = sum(g[t] * g[t - 1] for t in range(1, n))
    v2 = sum(g[t] * g[t - 2] for t in range(2, n))
    vhac = v0 + 2.0 * (1.0 - 1.0 / 3.0) * v1 + 2.0 * (1.0 - 2.0 / 3.0) * v2
    see = sum(ei * ei for ei in e)
    se_ols = math.sqrt(see / (n - 2.0) / sxx)
    se_hac = math.sqrt(vhac) / sxx
    assert r["n_days"] == 6
    assert abs(r["slope_dollars_per_day"] - beta / 100.0) < 1e-6
    assert abs(r["se_ols_dollars"] - se_ols / 100.0) < 1e-6
    assert abs(r["se_hac_dollars"] - se_hac / 100.0) < 1e-6
    assert abs(r["hac_inflation"] - se_hac / se_ols) < 1e-6


def _write_embeddings(spark, rows):
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(
        os.path.join(tmp, "embeddings.parquet")
    )
    return tmp


def test_intrinsic_dim_hand_fixture(spark, entry_mod):
    """One probe (vec 0 at the origin) with neighbors at distance 1
    and 2: ln(r2/r1) = ln 2, so ID-hat = 1/ln 2."""
    m = entry_mod
    z = [0.0] * 63
    rows = [
        (0, [0.0] + z, 0),
        (1, [1.0] + z, 0),
        (2, [2.0] + z, 0),
        (3, [50.0] + z, 0),
    ]
    tmp = _write_embeddings(spark, rows)
    r = m.queries()["embedding_intrinsic_dim"](spark, tmp).collect()[0]
    assert r["n_probes"] == 1 and r["n_used"] == 1
    assert abs(r["intrinsic_dim"] - 1.0 / math.log(2.0)) < 1e-6
    assert abs(r["mean_log_ratio"] - math.log(2.0)) < 1e-6


def test_intrinsic_dim_real_fixture_bounds(spark, entry_mod):
    """sf0.001: the estimate is positive and cannot exceed the
    ambient dimension by more than estimator noise allows on 64-dim
    synthetic data; every probe has a usable 2-NN pair."""
    m = entry_mod
    r = m.queries()["embedding_intrinsic_dim"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert r["n_probes"] >= 1
    assert r["n_used"] >= 1
    assert r["intrinsic_dim"] > 0.0


def test_krippendorff_hand_fixture(spark, entry_mod):
    """Same 4-doc rater fixture as the Fleiss golden (votes 1,2,1,3):
    S2 = 6, K = 7, n = 12 -> D_o = 0.5, D_e = 70/132,
    alpha = 1 - 66/70. Note alpha > 0 while Fleiss kappa < 0 on the
    same table — exactly the (n-1) small-sample correction."""
    m = entry_mod
    a = " ".join(["tok"] * 60)
    b = " ".join(f"word{i}" for i in range(60))
    c = " ".join(["a the"] * 10)
    d = " ".join(f"item{i}" for i in range(47)) + " a a a"
    rows = [
        (0, a, "en", "s", len(a)),
        (1, b, "en", "s", len(b)),
        (2, c, "en", "s", len(c)),
        (3, d, "en", "s", len(d)),
    ]
    tmp = _write_docs(spark, rows)
    r = m.queries()["quality_krippendorff"](spark, tmp).collect()[0]
    assert r["n_docs"] == 4 and r["n_ratings"] == 12
    assert r["d_observed"] == 0.5
    assert abs(r["d_expected"] - 70.0 / 132.0) < 1e-6
    assert abs(r["kripp_alpha"] - (1.0 - 66.0 / 70.0)) < 1e-6


def test_stl_strength_pure_trend(spark, entry_mod):
    """A steep linear series: the MA(7) trend absorbs nearly all
    variance (trend_strength ~ 1); the dow means of the detrended
    series are ~0 so seasonal strength is small."""
    m = entry_mod
    rows = [
        (i, f"2024-01-{i + 1:02d} 10:00:00", 1, "purchase",
         100.0 * (i + 1), "{}")
        for i in range(14)
    ]
    tmp = _write_events(spark, rows)
    r = m.queries()["events_stl_strength"](spark, tmp).collect()[0]
    assert r["n_days_used"] == 8  # 14 days minus 3 edges each side
    assert r["trend_strength"] > 0.95
    # the exactly-linear series has zero detrended variance: the
    # seasonal strength is undefined (NULL), not a fabricated 0/0
    assert r["seasonal_strength"] is None


def test_stl_strength_bounds_real_fixture(spark, entry_mod):
    """sf0.001: both strengths in [0,1]; 24 interior days per type."""
    m = entry_mod
    out = m.queries()["events_stl_strength"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == 5
    for r in out:
        assert r["n_days_used"] == 24
        assert 0.0 <= r["trend_strength"] <= 1.0
        assert 0.0 <= r["seasonal_strength"] <= 1.0


def test_tail_dependence_comonotone(spark, entry_mod):
    """x = y = 1..10 across days: the single day above the 90%
    order statistic is shared, so lambda_U = 1; no day sits strictly
    below the 10% order statistic, so lambda_L is NULL (0/0)."""
    m = entry_mod
    rows = []
    eid = 0
    for day in range(10):
        for _ in range(day + 1):
            rows.append(
                (eid, f"2024-01-{day + 1:02d} 09:00:00", 1, "view", 1.0, "{}")
            )
            eid += 1
            rows.append(
                (eid, f"2024-01-{day + 1:02d} 10:00:00", 2, "purchase", 1.0, "{}")
            )
            eid += 1
    tmp = _write_events(spark, rows)
    r = m.queries()["events_tail_dependence"](spark, tmp).collect()[0]
    assert r["n_days"] == 10
    assert r["qx_hi"] == 9 and r["qy_hi"] == 9
    assert r["n_joint_hi"] == 1
    assert r["lambda_upper"] == 1.0
    assert r["lambda_lower"] is None


def test_spectral_entropy_periodic_is_low(spark, entry_mod):
    """Alternating 15/5 series: one line dominates, so normalized
    spectral entropy is far below the white-noise ceiling and
    flatness is small."""
    m = entry_mod
    rows = []
    for i in range(8):
        v = 15.0 if i % 2 == 0 else 5.0
        rows.append(
            (i, f"2024-01-{i + 1:02d} 10:00:00", 1, "purchase", v, "{}")
        )
    tmp = _write_events(spark, rows)
    r = m.queries()["events_spectral_entropy"](spark, tmp).collect()[0]
    assert r["n_periods"] == 14
    assert 0.0 <= r["spectral_entropy_norm"] < 0.5
    assert r["spectral_entropy"] <= math.log(14.0) + 1e-9
    assert 0.0 < r["spectral_flatness"] < 0.5


def test_bayes_shrinkage_matches_python_reference(spark, entry_mod):
    """Three users (1/1, 2/10, 3/10): the MoM beta-binomial prior and
    every shrunk rate match the closed form; the 1/1 user moves the
    most (the classic small-n pathology)."""
    m = entry_mod
    rows = []
    eid = 0
    specs = [(1, 1, 1), (2, 10, 2), (3, 10, 3)]  # (user, n, k)
    for u, n, k in specs:
        for i in range(n):
            t = "purchase" if i < k else "page_view"
            rows.append(
                (eid, f"2024-01-{i + 1:02d} 09:00:00", u, t, 1.0, "{}")
            )
            eid += 1
    tmp = _write_events(spark, rows)
    out = m.queries()["events_bayes_shrinkage"](spark, tmp).collect()
    rates = [k / n for _, n, k in specs]
    nn = len(rates)
    mu = sum(rates) / nn
    v = sum(r * r for r in rates) / nn - mu * mu
    s = mu * (1 - mu) / v - 1.0
    alpha, beta = mu * s, (1 - mu) * s
    top = out[0]
    assert top["user_id"] == 1
    exp_shrunk = (1 + alpha) / (1 + alpha + beta)
    assert abs(top["shrunk_rate"] - exp_shrunk) < 1e-6
    assert abs(top["delta"] - (exp_shrunk - 1.0)) < 1e-6
    assert abs(top["prior_alpha"] - alpha) < 1e-6
    assert abs(top["prior_beta"] - beta) < 1e-6
    # shrinkage always pulls toward the prior mean
    for r in out:
        raw, sh = r["raw_rate"], r["shrunk_rate"]
        assert (sh - raw) * (mu - raw) >= -1e-9


def test_haar_wavelet_step_loads_coarsest_scale(spark, entry_mod):
    """A clean 8-low/8-high step over 16 days: every fine-scale Haar
    detail is exactly zero and the level-4 (16-day) coefficient
    carries ALL the energy."""
    m = entry_mod
    rows = []
    for i in range(16):
        v = 0.0 if i < 8 else 10.0
        rows.append(
            (i, f"2024-01-{i + 1:02d} 10:00:00", 1, "purchase", v, "{}")
        )
    tmp = _write_events(spark, rows)
    out = {
        r["level"]: r
        for r in m.queries()["events_haar_wavelet"](spark, tmp).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[4]["scale_days"] == 16
    assert out[4]["energy_frac"] == 1.0
    for lvl in (1, 2, 3):
        assert out[lvl]["energy_frac"] == 0.0


def test_competing_risks_hand_fixture(spark, entry_mod):
    """Four users (churn at 0, churn at 1, convert at 2, convert at
    5): the Aalen-Johansen CIFs match the hand risk-set walk, and
    CIF_convert + CIF_churn + at-risk = 1 at every horizon."""
    m = entry_mod
    rows = [
        (0, "2024-01-01 09:00:00", 1, "page_view", 1.0, "{}"),
        (1, "2024-01-03 09:00:00", 1, "purchase", 1.0, "{}"),
        (2, "2024-01-01 09:00:00", 2, "page_view", 1.0, "{}"),
        (3, "2024-01-02 09:00:00", 2, "click", 1.0, "{}"),
        (4, "2024-01-01 09:00:00", 3, "page_view", 1.0, "{}"),
        (5, "2024-01-06 09:00:00", 3, "purchase", 1.0, "{}"),
        (6, "2024-01-01 09:00:00", 4, "page_view", 1.0, "{}"),
    ]
    tmp = _write_events(spark, rows)
    out = {
        r["horizon_days"]: r
        for r in m.queries()["users_competing_risks"](spark, tmp).collect()
    }
    h3 = out[3]
    assert h3["n_users"] == 4
    assert abs(h3["cif_convert"] - 0.25) < 1e-9
    assert abs(h3["cif_churn"] - 0.5) < 1e-9
    assert abs(h3["still_at_risk"] - 0.25) < 1e-9
    for h in (7, 14, 30):
        assert abs(out[h]["cif_convert"] - 0.5) < 1e-9
        assert abs(out[h]["cif_churn"] - 0.5) < 1e-9
        assert abs(out[h]["still_at_risk"]) < 1e-9


def test_gopher_ablation_sole_blocker_accounting(spark, entry_mod):
    """A passes everything, B fails only the word-count range, C
    fails word count AND symbol ratio: sole-blocker counts and the
    keep-rate-without-rule arithmetic are fully determined."""
    m = entry_mod
    a = " ".join(f"word{i}" for i in range(60))
    b = " ".join(f"tok{i}" for i in range(10))
    c = " ".join(["##x"] * 10)
    rows = [
        (0, a, "en", "s", len(a)),
        (1, b, "en", "s", len(b)),
        (2, c, "en", "s", len(c)),
    ]
    tmp = _write_docs(spark, rows)
    out = {
        r["rule"]: r
        for r in m.queries()["quality_gopher_ablation"](spark, tmp).collect()
    }
    assert len(out) == 6
    wr = out["words_range"]
    assert wr["n_docs"] == 3
    assert wr["n_fail"] == 2
    assert wr["n_sole_blocker"] == 1  # doc B
    assert wr["n_keep_without"] == 2  # A and B
    sr = out["symbol_ratio"]
    assert sr["n_fail"] == 1 and sr["n_sole_blocker"] == 0
    assert sr["n_keep_without"] == 1  # only A
    assert abs(wr["keep_rate"] - 1.0 / 3.0) < 1e-6
    for r in out.values():
        assert r["n_sole_blocker"] <= r["n_fail"]
        assert r["n_keep_without"] >= r["n_sole_blocker"]


def test_var_cvar_matches_python_reference(spark, entry_mod):
    """21 daily totals -> 20 day-over-day losses: the rank-19 order
    statistic, the tail mean, and the worst loss all match a direct
    transcription."""
    m = entry_mod
    vals = [10.0, 8.0, 12.0, 5.0, 15.0, 14.0, 9.0, 20.0, 6.0, 18.0,
            11.0, 13.0, 7.0, 16.0, 4.0, 19.0, 10.0, 17.0, 3.0, 21.0,
            12.0]
    rows = [
        (i, f"2024-01-{i + 1:02d} 10:00:00", 1, "purchase", v, "{}")
        for i, v in enumerate(vals)
    ]
    tmp = _write_events(spark, rows)
    r = m.queries()["events_var_cvar"](spark, tmp).collect()[0]
    cents = [int(v * 100) for v in vals]
    losses = sorted(
        cents[i - 1] - cents[i] for i in range(1, len(cents))
    )
    n = len(losses)
    var_c = losses[math.ceil(0.95 * n) - 1]
    tail = [x for x in losses if x >= var_c]
    assert r["n_changes"] == 20
    assert r["var95_dollars"] == var_c / 100.0
    assert abs(r["cvar95_dollars"] - sum(tail) / len(tail) / 100.0) < 1e-9
    assert r["worst_dollars"] == max(losses) / 100.0


def test_mmd_identical_groups_is_zero(spark, entry_mod):
    """The even and odd labels hold the SAME four vectors: every
    moment matches, MMD^2 = 0."""
    m = entry_mod
    rows = []
    vid = 0
    for lab in (0, 1):
        for i in range(4):
            vec = [float((i + 2) * (j % 5) % 7) for j in range(64)]
            rows.append((vid, vec, lab))
            vid += 1
    tmp = _write_embeddings(spark, rows)
    r = m.queries()["embedding_mmd"](spark, tmp).collect()[0]
    assert r["n_even"] == 4 and r["n_odd"] == 4
    assert r["mmd2_poly2"] == 0.0


def test_mmd_mean_shift_detected_exactly(spark, entry_mod):
    """Odd labels = even vectors shifted by +3 in dim 0: the mean
    term is exactly 2 c^2 = 18 and the total exceeds it (the moment
    matrices shift too)."""
    m = entry_mod
    rows = []
    vid = 0
    base = []
    for i in range(4):
        vec = [float((i + 1) * ((j + 3) % 5) % 6) for j in range(64)]
        base.append(vec)
        rows.append((vid, vec, 0))
        vid += 1
    for vec in base:
        shifted = [vec[0] + 3.0] + vec[1:]
        rows.append((vid, shifted, 1))
        vid += 1
    tmp = _write_embeddings(spark, rows)
    r = m.queries()["embedding_mmd"](spark, tmp).collect()[0]
    assert abs(r["mmd2_mean_term"] - 18.0) < 1e-6
    assert r["mmd2_poly2"] > r["mmd2_mean_term"]


def test_lmdi_is_exact_decomposition(spark, entry_mod):
    """Two priorities with hand counts/revenues: volume + intensity
    effects reproduce the revenue delta with zero residual, and each
    effect matches the closed form."""
    import datetime

    m = entry_mod
    rows = []
    oid = 0
    # (priority, year, count, each order value)
    specs = [
        ("1-P", 1996, 4, 10.0), ("1-P", 1997, 6, 12.0),
        ("2-P", 1996, 5, 20.0), ("2-P", 1997, 5, 16.0),
    ]
    for prio, yr, cnt, val in specs:
        for i in range(cnt):
            rows.append(
                (oid, 1, "O", val,
                 datetime.datetime(yr, 3, 1 + i), prio)
            )
            oid += 1
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "orders.parquet"))
    out = {
        r["o_orderpriority"]: r
        for r in m.queries()["orders_lmdi_decomposition"](
            spark, tmp
        ).collect()
    }
    p1 = out["1-P"]
    r0, r1 = 40.0, 72.0
    lmean = (r1 - r0) / (math.log(r1) - math.log(r0))
    vol = lmean * math.log(6.0 / 4.0)
    inten = lmean * math.log((72.0 / 6.0) / (40.0 / 4.0))
    assert abs(p1["volume_effect"] - vol) < 1e-6
    assert abs(p1["intensity_effect"] - inten) < 1e-6
    assert p1["residual"] == 0.0
    assert abs(
        p1["volume_effect"] + p1["intensity_effect"] - p1["delta_rev"]
    ) < 1e-5
    p2 = out["2-P"]
    assert p2["volume_effect"] == 0.0  # count unchanged -> ln(1) = 0
    assert p2["residual"] == 0.0


def test_retention_decay_hand_fixture(spark, entry_mod):
    """Four users with hand-placed qualifying purchases: r1 = 3/4,
    r2 = 1/4, r3 = 1/3, slope = (ln r3 - ln r1)/2."""
    m = entry_mod
    rows = []
    eid = 0
    # (user, weeks with a qualifying >= $50 purchase)
    specs = [(1, [0, 1, 2, 3]), (2, [0, 1]), (3, [0]), (4, [1, 2])]
    for u, weeks in specs:
        for w in weeks:
            rows.append(
                (eid, f"2024-01-{7 * w + 2:02d} 09:00:00", u,
                 "purchase", 60.0, "{}")
            )
            eid += 1
    tmp = _write_events(spark, rows)
    r = m.queries()["users_retention_decay_fit"](spark, tmp).collect()[0]
    assert r["base1"] == 4
    assert r["retention_w1"] == 0.75
    assert r["retention_w2"] == 0.25
    assert abs(r["retention_w3"] - 1.0 / 3.0) < 1e-6
    slope = (math.log(1.0 / 3.0) - math.log(0.75)) / 2.0
    assert abs(r["log_decay_slope"] - slope) < 1e-6
    assert abs(r["implied_weekly_churn"] - (1.0 - math.exp(slope))) < 1e-6
    assert abs(r["half_life_weeks"] - math.log(0.5) / slope) < 1e-6


def test_rayleigh_point_mass_and_uniform(spark, entry_mod):
    """All purchases at exactly 06:00 -> R = 1, peak hour 6, z = n;
    four signups at 00/06/12/18 cancel exactly -> R rounds to 0 and
    p_uniform = 1."""
    m = entry_mod
    rows = []
    eid = 0
    for i in range(5):
        rows.append(
            (eid, f"2024-01-{i + 1:02d} 06:00:00", 1, "purchase", 1.0, "{}")
        )
        eid += 1
    for h in (0, 6, 12, 18):
        rows.append(
            (eid, f"2024-01-10 {h:02d}:00:00", 2, "signup", 1.0, "{}")
        )
        eid += 1
    tmp = _write_events(spark, rows)
    out = {
        r["event_type"]: r
        for r in m.queries()["events_rayleigh_circadian"](
            spark, tmp
        ).collect()
    }
    p = out["purchase"]
    assert p["r_bar"] == 1.0 and p["peak_hour"] == 6.0
    assert p["rayleigh_z"] == 5.0
    assert abs(p["p_uniform"] - math.exp(-5.0)) < 1e-6
    s = out["signup"]
    assert s["r_bar"] == 0.0
    assert s["p_uniform"] == 1.0


def test_permutation_entropy_extremes(spark, entry_mod):
    """A monotone series has ONE ordinal pattern (H = 0); a strict
    up-down alternation splits evenly between two patterns
    (H = ln 2)."""
    m = entry_mod
    rows = []
    eid = 0
    for i in range(8):
        rows.append(
            (eid, f"2024-01-{i + 1:02d} 10:00:00", 1, "purchase",
             float(i + 1), "{}")
        )
        eid += 1
    for i in range(8):
        v = 10.0 if i % 2 == 0 else 1.0
        rows.append(
            (eid, f"2024-01-{i + 1:02d} 10:00:00", 2, "signup", v, "{}")
        )
        eid += 1
    tmp = _write_events(spark, rows)
    out = {
        r["event_type"]: r
        for r in m.queries()["events_permutation_entropy"](
            spark, tmp
        ).collect()
    }
    mono = out["purchase"]
    assert mono["n_triples"] == 6 and mono["n_patterns"] == 1
    assert mono["perm_entropy"] == 0.0
    alt = out["signup"]
    assert alt["n_patterns"] == 2
    assert abs(alt["perm_entropy"] - math.log(2.0)) < 1e-6


def test_negbin_fit_matches_python_reference(spark, entry_mod):
    """Six daily counts with known moments: MoM r/p and the
    index-of-dispersion z match a direct transcription; a constant
    series goes NULL on the NB parameters (equidispersion is not a
    fit)."""
    m = entry_mod
    rows = []
    eid = 0
    counts = [1, 2, 9, 4, 4, 4]
    for d, c in enumerate(counts):
        for _ in range(c):
            rows.append(
                (eid, f"2024-01-{d + 1:02d} 10:00:00", 1, "purchase",
                 1.0, "{}")
            )
            eid += 1
    for d in range(6):
        for _ in range(3):
            rows.append(
                (eid, f"2024-01-{d + 1:02d} 11:00:00", 2, "signup",
                 1.0, "{}")
            )
            eid += 1
    tmp = _write_events(spark, rows)
    out = {
        r["event_type"]: r
        for r in m.queries()["events_negbin_fit"](spark, tmp).collect()
    }
    p = out["purchase"]
    n = len(counts)
    mm = sum(counts) / n
    vv = sum(c * c for c in counts) / n - mm * mm
    assert abs(p["mean_daily"] - mm) < 1e-6
    assert abs(p["var_daily"] - vv) < 1e-6
    assert abs(p["nb_r"] - mm * mm / (vv - mm)) < 1e-6
    assert abs(p["nb_p"] - mm / vv) < 1e-6
    z = math.sqrt(2.0 * n * vv / mm) - math.sqrt(2.0 * (n - 1.0) - 1.0)
    assert abs(p["z_overdispersion"] - z) < 1e-6
    s = out["signup"]
    assert s["var_daily"] == 0.0
    assert s["nb_r"] is None and s["nb_p"] is None
    assert s["p_overdispersed"] > 0.5


def test_isotropy_orthogonal_one_hots(spark, entry_mod):
    """Four one-hot vectors: pairwise cosines are exactly 0 and the
    diagonal participation ratio counts exactly the 4 active
    dimensions."""
    m = entry_mod
    rows = []
    for i in range(4):
        vec = [0.0] * 64
        vec[i] = 1.0
        rows.append((i, vec, 0))
    tmp = _write_embeddings(spark, rows)
    r = m.queries()["embedding_isotropy"](spark, tmp).collect()[0]
    assert r["n_vecs"] == 4
    assert r["avg_pairwise_cos"] == 0.0
    assert abs(r["participation_ratio"] - 4.0) < 1e-6
    assert abs(r["pr_normalized"] - 4.0 / 64.0) < 1e-6


def test_isotropy_collapsed_cone(spark, entry_mod):
    """All vectors identical: average pairwise cosine is exactly 1
    (total anisotropy) and the zero-variance PR is NULL, not a
    fabricated number."""
    m = entry_mod
    vec = [float((j % 7) + 1) for j in range(64)]
    rows = [(i, vec, 0) for i in range(5)]
    tmp = _write_embeddings(spark, rows)
    r = m.queries()["embedding_isotropy"](spark, tmp).collect()[0]
    assert r["avg_pairwise_cos"] == 1.0
    assert r["participation_ratio"] is None
