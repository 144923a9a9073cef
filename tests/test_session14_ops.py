"""Round-10 goldens: hand-computed fixtures for the new operators
(Page-Hinkley drift, pinball forecast eval, conformal intervals,
forecast baselines, per-segment AUC fairness, RFM migration, term
burstiness); the registry queries themselves are gated by the DuckDB
oracles (tools/oracle_check.py)."""

from __future__ import annotations


SF = "/root/testdata/sf0.001"


def test_page_hinkley_flags_injected_mean_shift(spark, entry_mod):
    """A flat series (100.00/day) with a +500 step after day 10: PH
    must stay 0 before the shift and climb linearly after — exact
    values hand-derivable because mu and delta are known. With mu =
    (10*100 + 10*600)/20 = 350 and delta = 25: pre-shift days drift
    DOWN (x - mu - delta = -275, clamped by the running-min), so PH=0;
    post-shift each day adds 600-350-25 = 225, crossing the 2000.0005
    alarm line between day 18 (1800) and day 19 (2025)."""
    from pyspark.sql import functions as F

    m = entry_mod
    # build a synthetic events table shaped like the fixture
    rows = [
        (i, f"2024-01-{d:02d}T12:00:00", 1, "click",
         100.00 if d <= 10 else 600.00, None)
        for i, d in enumerate(range(1, 21))
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    import tempfile, os

    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
    out = {
        r["day"]: r
        for r in m.queries()["events_page_hinkley"](spark, tmp).collect()
    }
    # pre-shift: running min tracks the prefix, PH pinned at 0
    assert out["2024-01-05"]["ph"] == 0.0
    assert out["2024-01-10"]["ph"] == 0.0
    # post-shift: day 10+k has PH = k * (600-350-25) = k * 225
    assert abs(out["2024-01-15"]["ph"] - 5 * 225.0) < 1e-9
    assert abs(out["2024-01-20"]["ph"] - 10 * 225.0) < 1e-9
    assert not out["2024-01-18"]["drift"]  # 1800 < 2000.0005
    assert out["2024-01-19"]["drift"]  # 2025 > 2000.0005
    assert out["2024-01-20"]["drift"]


def test_pinball_loss_on_known_quantiles(spark, entry_mod):
    """21 train days with cents 1..21 (values 0.01..0.21): the
    discrete quantiles are rank ceil(tau*21) -> P10=3, P50=11, P90=19
    cents. One test day with value 0.15 (15 cents): pinball loss =
    max(tau*(y-f), (tau-1)*(y-f)) -> P10: 0.1*12=1.2c, P50: 0.5*4=2c,
    P90: 0.9*(-4) vs -0.1*(-4)=0.4c."""
    from pyspark.sql import functions as F

    m = entry_mod
    rows = [
        (d, f"2024-01-{d:02d}T12:00:00", 1, "view", d / 100.0, None)
        for d in range(1, 22)
    ] + [(22, "2024-01-22T12:00:00", 1, "view", 0.15, None)]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    import tempfile, os

    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
    out = {
        round(r["tau"], 1): r
        for r in m.queries()["forecast_pinball"](spark, tmp).collect()
    }
    assert out[0.1]["forecast"] == 0.03 and out[0.5]["forecast"] == 0.11
    assert out[0.9]["forecast"] == 0.19
    assert abs(out[0.1]["mean_pinball"] - 0.012) < 1e-9
    assert abs(out[0.5]["mean_pinball"] - 0.020) < 1e-9
    assert abs(out[0.9]["mean_pinball"] - 0.004) < 1e-9
    assert out[0.1]["coverage"] == 0.0  # 15c > 3c forecast
    assert out[0.9]["coverage"] == 1.0  # 15c <= 19c


def _events_fixture(spark, rows):
    """Write a minimal events.parquet into a temp sf_dir."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
    return tmp


def test_conformal_exact_quantile_and_coverage(spark, entry_mod):
    """Flat +7/week series: every calibration residual |y_d - y_(d-7)|
    is exactly 7.00, so q = 7.00 and every test residual (also 7.00)
    is covered -> coverage 1.0 with n_cal = 14 (days 8-21), k =
    ceil(0.8*15) = 12. Quadratic series y_d = d^2 cents: residuals
    14d-49 strictly increase, the 12th smallest (d=19) is 2.17, and
    every test residual (>= 2.59) misses -> coverage 0.0."""
    m = entry_mod
    flat = _events_fixture(
        spark,
        [
            (d, f"2024-01-{d:02d}T12:00:00", 1, "click", float(d), None)
            for d in range(1, 31)
        ],
    )
    r = {
        x["event_type"]: x
        for x in m.queries()["forecast_conformal"](spark, flat).collect()
    }["click"]
    assert r["n_cal"] == 14 and r["n_test"] == 9
    assert r["q_width"] == 7.0 and r["coverage"] == 1.0

    quad = _events_fixture(
        spark,
        [
            (d, f"2024-01-{d:02d}T12:00:00", 1, "view", d * d / 100.0, None)
            for d in range(1, 31)
        ],
    )
    r = {
        x["event_type"]: x
        for x in m.queries()["forecast_conformal"](spark, quad).collect()
    }["view"]
    assert r["q_width"] == 2.17  # 14*19-49 = 217 cents
    assert r["coverage"] == 0.0


def test_forecast_baselines_linear_series(spark, entry_mod):
    """Linear y_d = d over train days 1-21, test 22-30: drift is EXACT
    (MAE 0), naive errs by h (mean 5), mean-method errs by h+10
    (mean 15), seasonal-naive errs by 7,7,7,7,7,7,7,14,14
    (mean 77/9)."""
    m = entry_mod
    tmp = _events_fixture(
        spark,
        [
            (d, f"2024-01-{d:02d}T12:00:00", 1, "click", float(d), None)
            for d in range(1, 31)
        ],
    )
    out = {
        r["method"]: r["mae"]
        for r in m.queries()["forecast_baselines"](spark, tmp).collect()
    }
    assert out["drift"] == 0.0
    assert out["naive"] == 5.0
    assert out["mean"] == 15.0
    assert abs(out["snaive"] - 77 / 9) < 1e-6


def test_roc_auc_by_perfect_and_inverted_segments(spark):
    """Segment A ranks perfectly (all positives above all negatives ->
    AUC 1), segment B is perfectly inverted (AUC 0); the single-group
    form must reproduce the global roc_auc on the same frame."""
    from vanus_spark.operators.hyptests import roc_auc, roc_auc_by

    rows = (
        [("A", i, float(i), 1 if i >= 5 else 0) for i in range(10)]
        + [("B", i, float(-i), 1 if i >= 5 else 0) for i in range(10)]
    )
    df = spark.createDataFrame(
        rows, "seg string, doc_id long, score double, label int"
    )
    out = {
        r["seg"]: r
        for r in roc_auc_by(df, "score", "label", "doc_id", ["seg"]).collect()
    }
    assert out["A"]["auc"] == 1.0 and out["A"]["gini"] == 1.0
    assert out["B"]["auc"] == 0.0 and out["B"]["gini"] == -1.0
    # single group == global form
    a = df.where("seg = 'A'")
    g = roc_auc(a, "score", "label", "doc_id").collect()[0]
    b = roc_auc_by(a, "score", "label", "doc_id", ["seg"]).collect()[0]
    assert g["auc"] == b["auc"] and g["n_pos"] == b["n_pos"]


def test_rfm_migration_matrix_invariants(spark, entry_mod):
    """On the real fixture: per-origin shares sum to 1, tiers are the
    fixed 3-level alphabet, and the joined population never exceeds
    either period's customer count."""
    m = entry_mod
    rows = m.queries()["orders_rfm_migration"](spark, SF).collect()
    tiers = {"high", "mid", "low"}
    assert all(r["tier_from"] in tiers and r["tier_to"] in tiers for r in rows)
    from collections import defaultdict

    share = defaultdict(float)
    for r in rows:
        share[r["tier_from"]] += r["share_of_origin"]
    for s in share.values():
        assert abs(s - 1.0) < 1e-4


def test_term_burstiness_glue_vs_topical(spark, entry_mod):
    """20 docs: 'the' once per doc (cf=df=20 -> burstiness 1, df_ratio
    1/(1-e^-1) = 1.58 -> not bursty); 'quark' five times in each of 5
    docs (cf=25, df=5 -> burstiness 5, e_df = 20(1-e^-1.25) = 14.27,
    df_ratio 0.35 -> bursty)."""
    import math
    import os
    import tempfile

    m = entry_mod
    docs = []
    for d in range(20):
        text = "the filler" + (" quark" * 5 if d < 5 else " chatter")
        docs.append((d, text, "en", "src", len(text)))
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    out = {
        r["tok"]: r
        for r in m.queries()["docs_term_burstiness"](spark, tmp).collect()
    }
    the = out["the"]
    assert the["cf"] == 20 and the["df"] == 20 and the["burstiness"] == 1.0
    assert abs(the["df_ratio"] - 1 / (1 - math.exp(-1))) < 1e-6
    assert not the["bursty"]
    q = out["quark"]
    assert q["cf"] == 25 and q["df"] == 5 and q["burstiness"] == 5.0
    assert abs(q["df_ratio"] - 5 / (20 * (1 - math.exp(-1.25)))) < 1e-6
    assert q["bursty"]


def test_theta_linear_series_closed_form(spark, entry_mod):
    """Linear y_t = t over train days 1-21: OLS slope = 1 exactly; the
    alpha=0.5 SES level is S_21 = 20 + 2^-20, so the h-step theta
    forecast is 20.5 + h/2 + 2^-20 and the error vs y = 21+h is
    0.5 + h/2 - 2^-20 -> MAE over h=1..9 = 3 - 2^-20 = 2.999999
    at round(6)."""
    m = entry_mod
    tmp = _events_fixture(
        spark,
        [
            (d, f"2024-01-{d:02d}T12:00:00", 1, "click", float(d), None)
            for d in range(1, 31)
        ],
    )
    r = m.queries()["forecast_theta"](spark, tmp).collect()[0]
    assert r["slope"] == 1.0
    assert r["mae"] == 2.999999


def test_quantile_regression_median_ignores_outlier(spark, entry_mod):
    """Five days y = 1,2,3,10,5 (day 4 is an outlier): the LAD line is
    exactly y = x (slope 1, intercept 0) with mean check loss
    0.5*|10-4|/5 = 0.6; the tau=0.25 line is the same (all residuals
    above cost only 0.25 -> mean 0.3), while OLS would tilt toward
    the outlier."""
    m = entry_mod
    vals = {1: 1.0, 2: 2.0, 3: 3.0, 4: 10.0, 5: 5.0}
    tmp = _events_fixture(
        spark,
        [
            (d, f"2024-01-{d:02d}T12:00:00", 1, "click", vals[d], None)
            for d in range(1, 6)
        ],
    )
    out = {
        round(r["tau"], 2): r
        for r in m.queries()["events_quantile_regression"](
            spark, tmp
        ).collect()
    }
    med = out[0.5]
    assert med["slope"] == 1.0 and med["intercept"] == 0.0
    assert med["mean_check_loss"] == 0.6
    lo = out[0.25]
    assert lo["slope"] == 1.0 and lo["intercept"] == 0.0
    assert lo["mean_check_loss"] == 0.3
    # the 0.75 line may legitimately chase the high point; it must
    # never score worse than the y = x line's 0.75-loss (0.9)
    assert out[0.75]["mean_check_loss"] <= 0.9


def test_bm25_sweep_grid_and_known_item_recovery(spark, entry_mod):
    """200-doc corpus where both probe docs (0 and 97 — the bounded
    doc_id % 97 == 0, < 2000 panel) open with terms unique to them:
    every (k1, b) config must retrieve its own doc at rank 1 -> MRR
    1.0 on all 9 grid rows."""
    import os
    import tempfile

    m = entry_mod
    docs = []
    for d in range(200):
        if d == 0:
            text = "zyx wvu tsr qpo common filler words"
        elif d == 97:
            text = "abc bcd cde def common filler words"
        else:
            text = "common filler words " * (1 + d % 3)
        docs.append((d, text, "en", "src", len(text)))
    df = spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    rows = m.queries()["bm25_param_sweep"](spark, tmp).collect()
    assert len(rows) == 9  # full 3x3 grid
    assert {(r["k1"], r["b"]) for r in rows} == {
        (k1, b) for k1 in (0.5, 1.2, 2.0) for b in (0.0, 0.75, 1.0)
    }
    for r in rows:
        assert r["n_queries"] == 3  # docs 0, 97, 194
        assert r["mrr"] >= 2 / 3  # the two unique-term probes hit rank 1


def test_neyman_allocation_two_strata_closed_form(spark, entry_mod):
    """Two strata, equal sizes (4 each), sds 1.0 and 3.0 (hand
    constructed): Neyman gives the variable stratum 3x the samples —
    750 vs 250 of the 1000 budget — while proportional gives 500/500.
    Fixture: stratum A values {1,2,1,2} x100 cents? No — use values
    with known sd: A = 9,11,9,11 (sd 2/sqrt(3)); simpler: A =
    10-1,10+1 pattern -> sd = sqrt(4/3); B spread 3x wider -> sd
    exactly 3x A's, so shares are 1/4 and 3/4 regardless of the
    common factor."""
    import os
    import tempfile

    m = entry_mod
    rows = []
    k = 0
    for v in (9.0, 11.0, 9.0, 11.0):
        rows.append((k, f"a{k}", 1, v, "A")); k += 1
    for v in (7.0, 13.0, 7.0, 13.0):  # 3x the deviations of A
        rows.append((k, f"a{k}", 1, v, "B")); k += 1
    df = spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "customer.parquet"))
    out = {
        r["c_mktsegment"]: r
        for r in m.queries()["sample_neyman_allocation"](
            spark, tmp
        ).collect()
    }
    assert out["A"]["n_h"] == 4 and out["B"]["n_h"] == 4
    assert abs(out["B"]["sd"] - 3 * out["A"]["sd"]) < 1e-6
    assert out["A"]["neyman_n"] == 250.0
    assert out["B"]["neyman_n"] == 750.0
    assert out["A"]["proportional_n"] == 500.0
    assert out["B"]["proportional_n"] == 500.0


def test_matryoshka_recall_perfect_when_signal_in_prefix(spark, entry_mod):
    """Vectors whose dims beyond 8 are all ZERO: every prefix search
    (8/16/32 — slices truncate at the vector length) sees exactly the
    full-dim geometry, so recall must be 1.0 at every prefix."""
    import os
    import random as _random
    import tempfile

    m = entry_mod
    rng = _random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)] + [0.0] * 56, i % 3)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(
        os.path.join(tmp, "embeddings.parquet")
    )
    out = m.queries()["embedding_matryoshka_recall"](spark, tmp).collect()
    assert [r["prefix_dim"] for r in out] == [8, 16, 32]
    for r in out:
        assert r["n_truth"] == 40  # 8 queries x 5
        assert r["recall"] == 1.0


def test_threshold_curve_monotone_and_exact(spark, entry_mod):
    """Three docs: A == B exactly (jaccard 1.0), C shares ~half its
    grams with A. Curve invariants: n_pairs and n_dropped are
    non-increasing in the threshold, the t=0.9 row keeps only the
    exact pair, and drop rates divide by the corpus size."""
    import os
    import tempfile

    m = entry_mod
    a = "alpha beta gamma delta epsilon zeta"
    c = "alpha beta gamma delta other tokens entirely new"
    rows = [
        (0, a, "en", "s", len(a)),
        (1, a, "en", "s", len(a)),
        (2, c, "en", "s", len(c)),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    out = {
        round(r["threshold"], 1): r
        for r in m.queries()["dedup_threshold_curve"](spark, tmp).collect()
    }
    assert out[0.9]["n_pairs"] == 1 and out[0.9]["n_dropped"] == 1
    assert abs(out[0.9]["drop_rate"] - 1 / 3) < 1e-6  # round(6) output
    last_p, last_d = float("inf"), float("inf")
    for t in (0.5, 0.7, 0.8, 0.9):
        if t in out:
            assert out[t]["n_pairs"] <= last_p
            assert out[t]["n_dropped"] <= last_d
            last_p, last_d = out[t]["n_pairs"], out[t]["n_dropped"]
