"""Round-7 second-session goldens: KS two-sample, one-way ANOVA,
Spearman-by-group, BH FDR, normal-tail polynomial, Poisson bootstrap,
JS divergence — hand-computed fixtures for the library ops; the
registry-level queries are gated by the DuckDB oracles
(tools/oracle_check.py)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F


def test_ks_two_sample_hand_computed(spark):
    """A=[1,2,3], B=[2,4]: pooled support {1,2,3,4};
    ECDF_a = (1/3, 2/3, 1, 1), ECDF_b = (0, 1/2, 1/2, 1);
    gaps (1/3, 1/6, 1/2, 0) -> D = 0.5."""
    from vanus_spark.operators.hyptests import ks_two_sample

    rows = [(0, 1.0), (0, 2.0), (0, 3.0), (1, 2.0), (1, 4.0)]
    df = spark.createDataFrame(rows, "grp int, v double")
    out = ks_two_sample(df, "v", "grp").collect()[0].asDict()
    assert out["n_a"] == 3 and out["n_b"] == 2
    assert out["d_stat"] == 0.5
    assert 0.0 < out["p_value"] <= 1.0


def test_ks_identical_samples_p_clamps_to_one(spark):
    """Same values in both groups: D = 0, lambda = 0, the 3-term sum
    degenerates to 2 -> the least(1, .) clamp must fire."""
    from vanus_spark.operators.hyptests import ks_two_sample

    rows = [(g, float(v)) for g in (0, 1) for v in (1, 2, 3)]
    df = spark.createDataFrame(rows, "grp int, v double")
    out = ks_two_sample(df, "v", "grp").collect()[0].asDict()
    assert out["d_stat"] == 0.0 and out["p_value"] == 1.0


def test_anova_hand_computed(spark):
    """g1 = [1,2,3], g2 = [2,4,6] (as cents x100): means 2 and 4,
    grand 3; SSB = 3*1 + 3*1 = 6, SSW = 2 + 8 = 10;
    F = (6/1)/(10/4) = 2.4, eta^2 = 6/16 = 0.375 (both scale-free,
    so the x100 lattice cancels)."""
    from vanus_spark.operators.hyptests import anova_oneway

    rows = [("a", 100), ("a", 200), ("a", 300),
            ("b", 200), ("b", 400), ("b", 600)]
    df = spark.createDataFrame(rows, "g string, c long")
    out = anova_oneway(df, "c", "g").collect()[0].asDict()
    assert out["k_groups"] == 2 and out["n"] == 6
    assert out["f_stat"] == 2.4
    assert out["eta_sq"] == 0.375


def test_spearman_monotone_and_ties(spark):
    """Perfect monotone (x, x^2) -> rho 1; reversed -> -1; with a tie
    x=[1,1,2] vs y=[1,2,3]: avg ranks x=(1.5,1.5,3), y=(1,2,3),
    Pearson = 1.5 / sqrt(1.5 * 2) = 0.866025."""
    from vanus_spark.operators.hyptests import spearman_by_group

    rows = (
        [("up", i, i * i) for i in range(1, 6)]
        + [("dn", i, -i) for i in range(1, 6)]
        + [("tie", 1, 1), ("tie", 1, 2), ("tie", 2, 3)]
    )
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {
        r["g"]: r for r in spearman_by_group(df, "x", "y", "g").collect()
    }
    assert out["up"]["spearman_rho"] == 1.0
    assert out["dn"]["spearman_rho"] == -1.0
    assert out["tie"]["spearman_rho"] == round(1.5 / math.sqrt(3.0), 6)


def test_bh_fdr_step_up_rescues_earlier_miss(spark):
    """p = [0.04, 0.19, 0.21, 0.9] at alpha=0.3: crit = (0.075, 0.15,
    0.225, 0.3); rank 2 misses its own crit but rank 3 hits, so the
    STEP-UP marks ranks 1..3 significant (the defining difference
    from a per-rank threshold)."""
    from vanus_spark.operators.hyptests import bh_fdr

    rows = [("s1", 0.04), ("s2", 0.19), ("s3", 0.21), ("s4", 0.9)]
    df = spark.createDataFrame(rows, "seg string, p double")
    out = {
        r["seg"]: r
        for r in bh_fdr(df, "p", ["seg"], alpha=0.3).collect()
    }
    assert [out[s]["significant"] for s in ("s1", "s2", "s3", "s4")] == [
        True, True, True, False,
    ]
    assert out["s3"]["bh_rank"] == 3
    assert abs(out["s3"]["bh_crit"] - 0.225) < 1e-12


def test_bh_fdr_no_hits(spark):
    from vanus_spark.operators.hyptests import bh_fdr

    df = spark.createDataFrame(
        [("a", 0.5), ("b", 0.9)], "seg string, p double"
    )
    out = bh_fdr(df, "p", ["seg"], alpha=0.05).collect()
    assert all(not r["significant"] for r in out)


def test_norm_sf_matches_erfc(spark):
    """The A&S 26.2.17 polynomial is documented |err| < 7.5e-8 against
    the true upper tail Q(z) = erfc(z / sqrt(2)) / 2."""
    from vanus_spark.operators.hyptests import norm_sf

    zs = [0.0, 0.31, 0.5, 1.0, 1.96, 2.5, 3.2]
    df = spark.createDataFrame([(z,) for z in zs], "z double")
    got = {
        r["z"]: r["q"]
        for r in df.select("z", norm_sf(F.col("z")).alias("q")).collect()
    }
    for z in zs:
        true_q = math.erfc(z / math.sqrt(2.0)) / 2.0
        assert abs(got[z] - true_q) < 7.5e-8


def test_poisson_weight_inverse_cdf(spark):
    """Draws straddling each threshold map to the step's k, and the
    tail clamps at 7."""
    from vanus_spark.operators.hyptests import _POIS1_CDF, poisson_weight

    us, want = [], []
    eps = 1e-9
    for k, th in enumerate(_POIS1_CDF):
        us += [th - eps, th + eps]
        want += [k, k + 1]
    us.append(0.9999999)
    want.append(7)
    df = spark.createDataFrame([(u,) for u in us], "u double")
    got = [
        r["w"]
        for r in df.select(
            poisson_weight(F.col("u")).alias("w")
        ).collect()
    ]
    assert got == want


def test_poisson_bootstrap_deterministic_and_sane(spark):
    """Same seed -> identical row; the plain mean is exact cents/n;
    the CI brackets the point estimate on a well-behaved sample."""
    from vanus_spark.operators.hyptests import poisson_bootstrap_mean

    rows = [(i, 1000 + 7 * (i % 13)) for i in range(400)]
    df = spark.createDataFrame(rows, "k long, c long")
    a = poisson_bootstrap_mean(df, "c", "k", reps=24, seed=3).collect()[0]
    b = poisson_bootstrap_mean(df, "c", "k", reps=24, seed=3).collect()[0]
    assert a.asDict() == b.asDict()
    exact = sum(c for _, c in rows) / 100.0 / len(rows)
    assert a["mean"] == round(exact, 4)
    assert a["ci_lo"] <= a["mean"] <= a["ci_hi"]
    assert a["boot_se"] > 0.0


def test_js_divergence_bounds(spark):
    """Identical token streams -> 0; disjoint vocabularies -> ln 2
    nats = exactly 1 bit (the JSD upper bound)."""
    from vanus_spark.llm.versioning import js_divergence

    same = spark.createDataFrame(
        [("x",), ("x",), ("y",)], "term string"
    )
    out = js_divergence(same, same).collect()[0]
    assert out["jsd_nats"] == 0.0 and out["jsd_bits"] == 0.0
    a = spark.createDataFrame([("x",), ("x",)], "term string")
    b = spark.createDataFrame([("y",), ("z",)], "term string")
    out2 = js_divergence(a, b).collect()[0]
    assert out2["jsd_bits"] == 1.0
    assert out2["vocab"] == 3 and out2["vocab_a"] == 1 and out2["vocab_b"] == 2
    assert out2["n_tokens_a"] == 2 and out2["n_tokens_b"] == 2


def test_ks_multi_partition_prefix(spark):
    """The two-phase cumulative counts must agree with a single-node
    ECDF when the distinct-value table spans many slices: 400 distinct
    values across 7 shuffle partitions, compared against a pure-python
    KS D."""
    from vanus_spark.operators.hyptests import ks_two_sample

    import random

    rng = random.Random(5)
    rows = [(0, float(rng.randrange(1000))) for _ in range(300)] + [
        (1, float(rng.randrange(800))) for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "grp int, v double").repartition(7)
    out = ks_two_sample(df, "v", "grp").collect()[0]

    a = sorted(v for g, v in rows if g == 0)
    b = sorted(v for g, v in rows if g == 1)
    support = sorted(set(a + b))
    import bisect

    d = max(
        abs(
            bisect.bisect_right(a, x) / len(a)
            - bisect.bisect_right(b, x) / len(b)
        )
        for x in support
    )
    assert out["d_stat"] == round(d, 6)


def test_logrank_hand_computed(spark):
    """g0: events at t=1,2; g1: event at t=1, censored at t=3.
    t=1: n=4, n1=2, d=2, d1=1 -> E=1, V=1/3;
    t=2: n=2, n1=1, d=1, d1=0 -> E=0.5, V=0.25.
    O_b=1, E_b=1.5, V=7/12 -> chi2=0.25/(7/12)=3/7, z=-0.5/sqrt(7/12)."""
    import math

    from vanus_spark.operators.survival import logrank_test

    rows = [(1, 1, 0), (2, 1, 0), (1, 1, 1), (3, 0, 1)]
    df = spark.createDataFrame(rows, "duration long, event int, grp int")
    out = logrank_test(df).collect()[0].asDict()
    assert out["n_a"] == 2 and out["n_b"] == 2
    assert out["o_b"] == 1
    assert out["e_b"] == 1.5
    assert out["logrank_chi2"] == round(0.25 / (7 / 12), 6)
    assert out["z"] == round(-0.5 / math.sqrt(7 / 12), 6)


def test_logrank_identical_groups_is_null_effect(spark):
    """Identical duration/event profiles in both groups: O = E, so
    chi2 = 0 exactly."""
    from vanus_spark.operators.survival import logrank_test

    rows = [(t, 1, g) for g in (0, 1) for t in (1, 2, 3, 4)]
    df = spark.createDataFrame(rows, "duration long, event int, grp int")
    out = logrank_test(df).collect()[0].asDict()
    assert out["o_b"] == 4 and out["e_b"] == 4.0
    assert out["logrank_chi2"] == 0.0 and out["z"] == 0.0


def _hw_python(ys, p=7, alpha=0.5, beta=0.25, gamma=0.25):
    """Plain-python replica of the Holt-Winters fold."""
    sum1, sum2 = sum(ys[:p]), sum(ys[p : 2 * p])
    lvl, tr = sum1 / p, (sum2 - sum1) / (p * p)
    seas = [y - lvl for y in ys[:p]]
    sse = 0.0
    for t in range(p, len(ys)):
        pos = t % p
        sold = seas[pos]
        fitted = lvl + tr + sold
        sse += (ys[t] - fitted) * (ys[t] - fitted)
        lvl_n = alpha * (ys[t] - sold) + (1 - alpha) * (lvl + tr)
        tr = beta * (lvl_n - lvl) + (1 - beta) * tr
        seas[pos] = gamma * (ys[t] - lvl_n) + (1 - gamma) * sold
        lvl = lvl_n
    n = len(ys)
    fcs = [
        lvl + h * tr + seas[(n - 1 + h) % p] for h in range(1, p + 1)
    ]
    return lvl, tr, sse, fcs


def test_holt_winters_matches_python_fold(spark):
    """16-point seasonal-ish series vs an independent python replica
    of the recursion; a 10-point key is dropped (needs 2 periods)."""
    import datetime as dt

    from vanus_spark.operators.timeseries import holt_winters

    ys = [1000, 1200, 1400, 1600, 1800, 2000, 2200,
          1100, 1300, 1500, 1700, 1900, 2100, 2300, 1200, 1400]
    base = dt.date(2024, 1, 1)
    rows = [("a", base + dt.timedelta(days=i), y) for i, y in enumerate(ys)]
    rows += [
        ("short", base + dt.timedelta(days=i), 10 * i) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "k string, day date, cents long")
    out = holt_winters(df, "k", "day", "cents").collect()
    assert {r["k"] for r in out} == {"a"}
    lvl, tr, sse, fcs = _hw_python([float(y) for y in ys])
    by_h = {r["h"]: r for r in out}
    assert len(by_h) == 7
    for h in range(1, 8):
        assert by_h[h]["forecast"] == round(fcs[h - 1], 6)
        assert by_h[h]["level"] == round(lvl, 6)
        assert by_h[h]["trend"] == round(tr, 6)
        assert by_h[h]["sse"] == round(sse, 6)
        assert by_h[h]["n_days"] == 16


def test_roc_auc_hand_computed(spark):
    """Scores pos=[3,4], neg=[1,2]: perfect separation -> AUC 1,
    Gini 1. One swapped pair (pos=[2,4], neg=[1,3]): concordant
    pairs 3 of 4 -> AUC 0.75. A tie across classes counts half:
    pos=[2,3], neg=[1,2] -> AUC = (1 + 0.5 + 1 + 1)/4 ... computed:
    rank formulation gives 0.875."""
    from vanus_spark.operators.hyptests import roc_auc

    perfect = spark.createDataFrame(
        [(1, 1.0, 1), (2, 2.0, 0), (3, 3.0, 1), (4, 4.0, 1)][:0]
        + [(1, 1.0, 0), (2, 2.0, 0), (3, 3.0, 1), (4, 4.0, 1)],
        "id long, score double, label int",
    )
    out = roc_auc(perfect, "score", "label", "id").collect()[0]
    assert out["auc"] == 1.0 and out["gini"] == 1.0

    swapped = spark.createDataFrame(
        [(1, 1.0, 0), (2, 2.0, 1), (3, 3.0, 0), (4, 4.0, 1)],
        "id long, score double, label int",
    )
    out2 = roc_auc(swapped, "score", "label", "id").collect()[0]
    assert out2["auc"] == 0.75 and out2["gini"] == 0.5

    tied = spark.createDataFrame(
        [(1, 1.0, 0), (2, 2.0, 0), (3, 2.0, 1), (4, 3.0, 1)],
        "id long, score double, label int",
    )
    out3 = roc_auc(tied, "score", "label", "id").collect()[0]
    assert out3["auc"] == 0.875


def test_mmr_prefers_diverse_over_redundant(spark):
    """3D planted geometry, query=(1,0,0): a=(0.9,0.436,0) has top
    qsim; b=(0.85,0.527,0) has HIGHER query similarity than
    c=(0.8,0,0.6) but is nearly parallel to a (cos ~0.995), so round
    2's MMR score for c (0.75*0.8 - 0.25*0.72 = 0.42) beats b's
    (0.75*0.85 - 0.25*0.995 ~ 0.389): pick order a, c, b."""
    from vanus_spark.llm.similarity import mmr_select

    rows = [
        (1, [0.9, 0.436, 0.0]),
        (2, [0.85, 0.527, 0.0]),
        (3, [0.8, 0.0, 0.6]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    picks = mmr_select(df, [1.0, 0.0, 0.0], k=3, lam=0.75)
    assert [p[1] for p in picks] == [1, 3, 2]
    assert picks[0][3] == round(0.75 * picks[0][2], 6)
    assert all(p[2] is not None for p in picks)


def test_mmr_ids_with_sql_metacharacters(spark):
    """Chosen ids are excluded as typed values: string ids holding a
    control character, quotes and backslashes are each picked exactly
    once, in the planted a, c, b, d order (a, c and b are excluded in
    later rounds)."""
    from vanus_spark.llm.similarity import mmr_select

    a, b, c, d = "bell\x07\n", 'it\'s "hi"', "C:\\tmp\\x", "plain"
    rows = [
        (a, [0.9, 0.436, 0.0]),
        (b, [0.85, 0.527, 0.0]),
        (c, [0.8, 0.0, 0.6]),
        (d, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    picks = mmr_select(df, [1.0, 0.0, 0.0], k=4, lam=0.75)
    assert [p[1] for p in picks] == [a, c, b, d]


def test_mann_kendall_hand_computed(spark):
    """Strictly increasing [1..5]: S = 10, var = 5*4*15/18; with a
    tie [1,1,2]: S = 2, tie term 2*1*9 = 18, var = (66-18)/18."""
    import math

    from vanus_spark.operators.timeseries import mann_kendall

    rows = [("up", i, 100 * i) for i in range(1, 6)] + [
        ("tie", 1, 10), ("tie", 2, 10), ("tie", 3, 20),
    ]
    df = spark.createDataFrame(rows, "k string, t long, y long")
    out = {r["k"]: r for r in mann_kendall(df, "k", "t", "y").collect()}
    up = out["up"]
    assert up["s_stat"] == 10 and up["n_obs"] == 5
    var_up = 5 * 4 * 15 / 18
    assert up["var_s"] == round(var_up, 6)
    assert up["z"] == round(9 / math.sqrt(var_up), 6)
    tie = out["tie"]
    assert tie["s_stat"] == 2
    var_tie = (3 * 2 * 11 - 18) / 18
    assert tie["var_s"] == round(var_tie, 6)
    assert tie["z"] == round(1 / math.sqrt(var_tie), 6)


def test_mann_kendall_constant_series_z_zero(spark):
    from vanus_spark.operators.timeseries import mann_kendall

    df = spark.createDataFrame(
        [("c", i, 7) for i in range(1, 6)], "k string, t long, y long"
    )
    out = mann_kendall(df, "k", "t", "y").collect()[0]
    assert out["s_stat"] == 0 and out["z"] == 0.0


def test_cuped_removes_preperiod_variance(spark):
    """y = 2x + variant effect + tiny noise: theta ~ 2, the CUPED z
    dwarfs the raw z (pre-period spread drowns the effect raw), and
    the pooled variance reduction is near 1."""
    from vanus_spark.operators.hyptests import cuped_readout

    rows = []
    for i in range(200):
        v = i % 2
        x = 1000 + 37 * i
        y = 2 * x + 500 * v + (i % 7)
        rows.append((x, y, v))
    df = spark.createDataFrame(rows, "x long, y long, variant int")
    out = cuped_readout(df, "x", "y", "variant").collect()[0]
    assert abs(out["theta"] - 2.0) < 0.01
    assert out["var_reduction"] > 0.99
    assert abs(out["z_cuped"]) > 10 * abs(out["z_raw"])
    assert out["n_a"] == 100 and out["n_b"] == 100


def test_kendall_tau_hand_computed(spark):
    """No ties, x=[1,2,3] y=[1,3,2]: C=2, D=1, n0=3 -> tau = 1/3.
    With an x-tie, x=[1,1,2] y=[1,2,3]: C=2, D=0, n1t=1, n2t=0 ->
    tau_b = 2/sqrt(2*3). Perfect monotone -> 1."""
    import math

    from vanus_spark.operators.hyptests import kendall_tau_by_group

    rows = (
        [("a", 1, 1), ("a", 2, 3), ("a", 3, 2)]
        + [("t", 1, 1), ("t", 1, 2), ("t", 2, 3)]
        + [("m", i, 10 * i) for i in range(1, 6)]
    )
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {
        r["g"]: r
        for r in kendall_tau_by_group(df, "x", "y", "g").collect()
    }
    assert out["a"]["kendall_tau_b"] == round(1 / 3, 6)
    assert out["t"]["kendall_tau_b"] == round(2 / math.sqrt(6), 6)
    assert out["m"]["kendall_tau_b"] == 1.0
