"""Post-r10 wave-2 goldens: hand-computed fixtures for Jarque-Bera,
Fleiss' kappa, the g3' functional-dependency audit, and linear CKA;
the registry queries themselves are gated by the DuckDB oracles
(tools/oracle_check.py)."""

from __future__ import annotations

import math
import os
import tempfile


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


def test_jarque_bera_symmetric_fixture(spark, entry_mod):
    """Six symmetric daily totals 1..6 dollars: zero skewness by
    construction; kurtosis/JB/p agree with the population-moment
    formulas computed in plain Python."""
    m = entry_mod
    rows = [
        (i, f"2024-01-{i + 1:02d} 10:00:00", 1, "purchase", float(i + 1), "{}")
        for i in range(6)
    ]
    tmp = _write_events(spark, rows)
    r = m.queries()["events_jarque_bera"](spark, tmp).collect()[0]
    cents = [100.0 * (i + 1) for i in range(6)]
    n = len(cents)
    mean = sum(cents) / n
    d = [c - mean for c in cents]
    m2 = sum(v * v for v in d) / n
    m4 = sum(v**4 for v in d) / n
    kurt = m4 / (m2 * m2) - 3.0
    jb = n / 6.0 * (kurt * kurt / 4.0)
    assert r["n_days"] == 6
    assert r["mean_daily"] == 3.5
    assert r["skewness"] == 0.0
    assert abs(r["ex_kurtosis"] - kurt) < 1e-6
    assert abs(r["jb_stat"] - jb) < 1e-6
    assert abs(r["p_value"] - math.exp(-jb / 2.0)) < 1e-6


def test_jarque_bera_bounds_real_fixture(spark, entry_mod):
    """sf0.001: one row per event type, p in [0, 1], JB >= 0."""
    m = entry_mod
    out = m.queries()["events_jarque_bera"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == 5
    for r in out:
        assert r["n_days"] >= 3
        assert r["jb_stat"] >= 0.0
        assert 0.0 <= r["p_value"] <= 1.0


def _write_docs(spark, rows):
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    return tmp


def test_fleiss_kappa_hand_fixture(spark, entry_mod):
    """Same four docs as the Cohen-kappa golden (votes k = 1, 2, 1, 3):
    N=4, K=7, S = 2+2+2+6 = 12, Q = 49 + 25 = 74 ->
    P-bar = 0.5, Pe-bar = 74/144, kappa = (144 - 148)/(288 - 148)."""
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
    r = m.queries()["quality_fleiss_kappa"](spark, tmp).collect()[0]
    assert r["n_docs"] == 4 and r["n_raters"] == 3
    assert r["keep_votes"] == 7
    assert abs(r["p_keep"] - 7.0 / 12.0) < 1e-6
    assert r["p_bar"] == 0.5
    assert abs(r["p_e_bar"] - 74.0 / 144.0) < 1e-6
    assert abs(r["fleiss_kappa"] - (-4.0 / 140.0)) < 1e-6


def test_fleiss_kappa_unanimous_is_one_observed(spark, entry_mod):
    """All raters agree on every doc (k = 0 or 3): P-bar = 1; kappa
    = 1 only if both verdicts occur (here they do)."""
    m = entry_mod
    good = " ".join(f"w{i}" for i in range(50)) + " a a the the"
    bad = " ".join(["z"] * 10)
    rows = [
        (0, good, "en", "s", len(good)),
        (1, bad, "en", "s", len(bad)),
    ]
    tmp = _write_docs(spark, rows)
    r = m.queries()["quality_fleiss_kappa"](spark, tmp).collect()[0]
    assert r["p_bar"] == 1.0
    assert r["fleiss_kappa"] == 1.0


def test_fd_violations_hand_fixture(spark, entry_mod):
    """orders: custkey 1 -> {1-P, 1-P, 2-P}, custkey 2 -> {3-P}
    (g3' = 1/4); one shared date with statuses O,O,F,F (g3' = 1/2);
    customer: the key FD holds exactly, nationkey -> segment keeps
    2 of 3."""
    import datetime

    m = entry_mod
    dt = datetime.datetime(1995, 3, 1)
    odf = spark.createDataFrame(
        [
            (1, 1, "O", 10.0, dt, "1-P"),
            (2, 1, "O", 10.0, dt, "1-P"),
            (3, 1, "F", 10.0, dt, "2-P"),
            (4, 2, "F", 10.0, dt, "3-P"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    cdf = spark.createDataFrame(
        [
            (1, "c1", 1, 0.0, "AUTO"),
            (2, "c2", 1, 0.0, "AUTO"),
            (3, "c3", 1, 0.0, "BUILDING"),
        ],
        "c_custkey long, c_name string, c_nationkey long,"
        " c_acctbal double, c_mktsegment string",
    )
    tmp = tempfile.mkdtemp()
    odf.write.mode("overwrite").parquet(os.path.join(tmp, "orders.parquet"))
    cdf.write.mode("overwrite").parquet(os.path.join(tmp, "customer.parquet"))
    out = {
        r["fd"]: r
        for r in m.queries()["table_fd_violations"](spark, tmp).collect()
    }
    r1 = out["orders: o_custkey -> o_orderpriority"]
    assert (r1["n_rows"], r1["n_groups"], r1["n_kept"]) == (4, 2, 3)
    assert r1["violation_rate"] == 0.25 and not r1["holds"]
    r2 = out["orders: o_orderdate -> o_orderstatus"]
    assert (r2["n_rows"], r2["n_groups"], r2["n_kept"]) == (4, 1, 2)
    assert r2["violation_rate"] == 0.5 and not r2["holds"]
    r3 = out["customer: c_custkey -> c_mktsegment"]
    assert r3["holds"] and r3["violation_rate"] == 0.0
    assert r3["n_groups"] == 3
    r4 = out["customer: c_nationkey -> c_mktsegment"]
    assert (r4["n_rows"], r4["n_groups"], r4["n_kept"]) == (3, 1, 2)
    assert not r4["holds"]


def test_fd_key_holds_real_fixture(spark, entry_mod):
    """sf0.001: the customer primary key FD must hold exactly; the
    deliberately-violated date -> status FD must not."""
    m = entry_mod
    out = {
        r["fd"]: r
        for r in m.queries()["table_fd_violations"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    key = out["customer: c_custkey -> c_mktsegment"]
    assert key["holds"] and key["n_kept"] == key["n_rows"]
    assert not out["orders: o_orderdate -> o_orderstatus"]["holds"]


def _write_embeddings(spark, rows):
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(
        os.path.join(tmp, "embeddings.parquet")
    )
    return tmp


def test_cka_prefix_carries_all_variance(spark, entry_mod):
    """Vectors whose dims 8..63 are identically zero: every centered
    gram entry touching a dim >= 8 vanishes, so each prefix >= 8 sees
    the full geometry and CKA is exactly 1 at every prefix."""
    m = entry_mod
    rows = []
    for i in range(4):
        head = [float((i + 1) * (j + 2) % 7) + 0.5 * i for j in range(8)]
        rows.append((i, head + [0.0] * 56, 0))
    tmp = _write_embeddings(spark, rows)
    out = m.queries()["embedding_cka"](spark, tmp).collect()
    assert [r["prefix_dim"] for r in out] == [8, 16, 32, 64]
    for r in out:
        assert r["n_vecs"] == 4
        assert r["cka"] == 1.0, (r["prefix_dim"], r["cka"])


def test_cka_bounds_and_self_check_real_fixture(spark, entry_mod):
    """sf0.001: CKA in (0, 1]; the m=64 row is the exact self-CKA and
    must be 1; truncation to 8 dims must lose at least as much
    geometry as keeping all 64."""
    m = entry_mod
    out = {
        r["prefix_dim"]: r["cka"]
        for r in m.queries()["embedding_cka"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert out[64] == 1.0
    for p in (8, 16, 32):
        assert 0.0 < out[p] <= 1.0
    assert out[8] <= out[64]


def test_kpss_matches_python_reference(spark, entry_mod):
    """10-day rising series: eta and the long-run variance agree with
    a plain-Python transcription of the same KPSS formulas (Bartlett
    weights, q = floor(4 (n/100)^0.25))."""
    m = entry_mod
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    rows = [
        (i, f"2024-01-{i + 1:02d} 10:00:00", 1, "purchase", v, "{}")
        for i, v in enumerate(vals)
    ]
    tmp = _write_events(spark, rows)
    r = m.queries()["events_kpss"](spark, tmp).collect()[0]
    n = len(vals)
    mean = sum(vals) / n
    e = [v - mean for v in vals]
    q = int(4.0 * (n / 100.0) ** 0.25)
    g0s = sum(v * v for v in e)
    nws = 0.0
    for lag in range(1, q + 1):
        gls = sum(e[t] * e[t - lag] for t in range(lag, n))
        nws += (1.0 - lag / (q + 1.0)) * gls
    sigma2 = (g0s + 2.0 * nws) / n
    st = 0.0
    ss = 0.0
    for v in e:
        st += v
        ss += st * st
    eta = (ss / (n * n)) / sigma2
    assert r["n_days"] == n and r["bandwidth"] == q
    assert abs(r["sigma2_lr"] - sigma2) < 1e-6
    assert abs(r["kpss_eta"] - eta) < 1e-6
    assert r["stationary_5pct"] == (eta <= 0.463)


def test_kpss_real_fixture_rows(spark, entry_mod):
    """sf0.001: one row per type, 30-day series -> bandwidth 2,
    positive long-run variance."""
    m = entry_mod
    out = m.queries()["events_kpss"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == 5
    for r in out:
        assert r["bandwidth"] == 2
        assert r["sigma2_lr"] > 0.0
        assert r["kpss_eta"] > 0.0


def test_periodogram_alternating_series(spark, entry_mod):
    """Alternating 15/5 daily totals over 8 days: the period-2 line
    carries essentially all candidate power, and the shares sum
    to 1."""
    m = entry_mod
    rows = []
    for i in range(8):
        v = 15.0 if i % 2 == 0 else 5.0
        rows.append(
            (i, f"2024-01-{i + 1:02d} 10:00:00", 1, "purchase", v, "{}")
        )
    tmp = _write_events(spark, rows)
    out = m.queries()["events_periodogram"](spark, tmp).collect()
    assert len(out) == 14
    by_p = {r["period"]: r["power_frac"] for r in out}
    # n=8 leaks some power into the non-harmonic periods; the
    # period-2 line still dominates by far
    assert by_p[2] > 0.8
    assert by_p[2] == max(by_p.values())
    assert abs(sum(by_p.values()) - 1.0) < 1e-5


def test_granger_lagged_coupling(spark, entry_mod):
    """signups(t) = purchases(t-1) + one off-by-one day: the
    purchase->signup direction fits almost perfectly and its LM
    statistic matches a plain-Python transcription of the
    normal-equation closed form; the reverse direction is weaker."""
    m = entry_mod
    p_cnt = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3]
    s_cnt = [2] + p_cnt[:-1]
    s_cnt[5] += 1  # break the exact fit so RSS_u > 0
    rows = []
    eid = 0
    for d in range(10):
        for _ in range(p_cnt[d]):
            rows.append(
                (eid, f"2024-01-{d + 1:02d} 09:00:00", 1, "purchase", 1.0, "{}")
            )
            eid += 1
        for _ in range(s_cnt[d]):
            rows.append(
                (eid, f"2024-01-{d + 1:02d} 10:00:00", 2, "signup", 1.0, "{}")
            )
            eid += 1
    tmp = _write_events(spark, rows)
    out = {
        r["direction"]: r
        for r in m.queries()["events_granger"](spark, tmp).collect()
    }

    def ref_lm(xs, ys):
        z = ys[1:]
        u = ys[:-1]
        v = xs[:-1]
        n = len(z)
        su, sv, sz = sum(u), sum(v), sum(z)
        suu = sum(a * a for a in u)
        svv = sum(a * a for a in v)
        suv = sum(a * b for a, b in zip(u, v))
        suz = sum(a * b for a, b in zip(u, z))
        svz = sum(a * b for a, b in zip(v, z))
        szz = sum(a * a for a in z)
        auu = float(n * suu - su * su)
        avv = float(n * svv - sv * sv)
        auv = float(n * suv - su * sv)
        auz = float(n * suz - su * sz)
        avz = float(n * svz - sv * sz)
        azz = float(n * szz - sz * sz)
        rss_r = azz - auz * auz / auu
        ess = (
            auz * auz * avv - 2.0 * auz * avz * auv + avz * avz * auu
        ) / (auu * avv - auv * auv)
        rss_u = azz - ess
        return max(n * (rss_r - rss_u) / rss_r, 0.0)

    fwd = out["purchase->signup"]
    assert fwd["n"] == 9
    assert abs(fwd["lm_stat"] - ref_lm(p_cnt, s_cnt)) < 1e-5
    assert abs(
        out["signup->purchase"]["lm_stat"] - ref_lm(s_cnt, p_cnt)
    ) < 1e-5
    assert fwd["lm_stat"] > out["signup->purchase"]["lm_stat"]
    assert fwd["p_value"] < out["signup->purchase"]["p_value"]
    for r in out.values():
        assert r["f_stat"] >= 0.0 and 0.0 <= r["p_value"] <= 1.0


def test_cox_score_matches_python_reference(spark, entry_mod):
    """Four users with known (duration, status, covariate): the score
    statistic matches a direct Breslow risk-set computation."""
    m = entry_mod
    rows = [
        # user 1: x=2 events, converts at +10h
        (0, "2024-01-01 00:00:00", 1, "page_view", 1.0, "{}"),
        (1, "2024-01-01 10:00:00", 1, "purchase", 1.0, "{}"),
        # user 2: x=3 events, censored at +2h
        (2, "2024-01-01 00:00:00", 2, "page_view", 1.0, "{}"),
        (3, "2024-01-01 01:00:00", 2, "click", 1.0, "{}"),
        (4, "2024-01-01 02:00:00", 2, "page_view", 1.0, "{}"),
        # user 3: x=3 events, converts at +5h
        (5, "2024-01-01 00:00:00", 3, "page_view", 1.0, "{}"),
        (6, "2024-01-01 05:00:00", 3, "purchase", 1.0, "{}"),
        (7, "2024-01-01 06:00:00", 3, "click", 1.0, "{}"),
        # user 4: x=1 event, censored at duration 0
        (8, "2024-01-01 00:00:00", 4, "page_view", 1.0, "{}"),
    ]
    tmp = _write_events(spark, rows)
    r = m.queries()["users_cox_score"](spark, tmp).collect()[0]
    subjects = [  # (dur_hours, status, x)
        (10, 1, 2),
        (2, 0, 3),
        (5, 1, 3),
        (0, 0, 1),
    ]
    u = v = 0.0
    for dur, status, x in subjects:
        if not status:
            continue
        atrisk = [s for s in subjects if s[0] >= dur]
        rn = len(atrisk)
        rx = sum(s[2] for s in atrisk)
        rxx = sum(s[2] * s[2] for s in atrisk)
        u += x - rx / rn
        v += rxx / rn - (rx / rn) * (rx / rn)
    assert r["n_users"] == 4 and r["n_conversions"] == 2
    assert abs(r["score_u"] - u) < 1e-6
    assert abs(r["score_var"] - v) < 1e-6
    import math as _math

    assert abs(r["z"] - u / _math.sqrt(v)) < 1e-6


def test_cox_score_real_fixture_bounds(spark, entry_mod):
    """sf0.001: p in [0,1], conversions <= users, variance > 0."""
    m = entry_mod
    r = m.queries()["users_cox_score"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert 0.0 <= r["p_value"] <= 1.0
    assert 0 < r["n_conversions"] <= r["n_users"]
    assert r["score_var"] > 0.0


def test_log_odds_symmetric_fixture(spark, entry_mod):
    """Mirror-image slices (en: apple 3 / banana 1; rest: banana 3 /
    apple 1): the Monroe deltas are exact negatives and match the
    closed form 2 ln(53/51) under the a0=100 pooled prior."""
    m = entry_mod
    rows = [
        (0, "apple apple banana", "en", "s", 18),
        (1, "apple", "en", "s", 5),
        (2, "banana banana", "fr", "s", 13),
        (3, "banana apple", "fr", "s", 12),
    ]
    tmp = _write_docs(spark, rows)
    out = {
        r["term"]: r
        for r in m.queries()["docs_log_odds_terms"](spark, tmp).collect()
    }
    assert set(out) == {"apple", "banana"}
    a = out["apple"]
    assert (a["cnt_en"], a["cnt_rest"]) == (3, 1)
    delta = 2.0 * math.log(53.0 / 51.0)
    var = 1.0 / 53.0 + 1.0 / 51.0
    assert abs(a["log_odds"] - delta) < 1e-6
    assert abs(a["z_score"] - delta / math.sqrt(var)) < 1e-6
    assert abs(out["banana"]["log_odds"] + delta) < 1e-6


def test_msprt_matches_python_reference(spark, entry_mod):
    """Five daily purchase-signup gaps: log Lambda and the running
    always-valid p match a plain-Python transcription; p is monotone
    non-increasing by construction."""
    m = entry_mod
    p_vals = [5.0, 6.0, 5.5, 7.0, 6.5]
    s_vals = [4.0, 4.0, 4.0, 4.5, 4.5]
    rows = []
    eid = 0
    for day, (pv, sv) in enumerate(zip(p_vals, s_vals)):
        rows.append(
            (eid, f"2024-01-{day + 1:02d} 09:00:00", 1, "purchase", pv, "{}")
        )
        eid += 1
        rows.append(
            (eid, f"2024-01-{day + 1:02d} 10:00:00", 2, "signup", sv, "{}")
        )
        eid += 1
    tmp = _write_events(spark, rows)
    out = m.queries()["events_msprt"](spark, tmp).collect()
    d = [a - b for a, b in zip(p_vals, s_vals)]
    n = len(d)
    s2 = sum(v * v for v in d) / n - (sum(d) / n) ** 2
    cd = 0.0
    best = None
    last_p = 1.0
    for t0, v in enumerate(d, start=1):
        cd += v
        dbar = cd / t0
        llam = 0.5 * math.log(s2 / (s2 + t0 * s2)) + (
            t0 * t0 * s2 * dbar * dbar
        ) / (2.0 * s2 * (s2 + t0 * s2))
        best = llam if best is None else max(best, llam)
        p = min(1.0, math.exp(-best))
        r = out[t0 - 1]
        assert r["t"] == t0
        assert abs(r["log_lambda"] - llam) < 1e-6
        assert abs(r["always_valid_p"] - p) < 1e-6
        assert r["always_valid_p"] <= last_p + 1e-9
        last_p = r["always_valid_p"]


def _as_norm_sf(z):
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


def test_anderson_darling_matches_python_reference(spark, entry_mod):
    """Six daily totals with a fat outlier: A^2 matches a direct
    transcription using the same Abramowitz-Stegun tail."""
    m = entry_mod
    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 40.0]
    rows = [
        (i, f"2024-01-{i + 1:02d} 10:00:00", 1, "purchase", v, "{}")
        for i, v in enumerate(vals)
    ]
    tmp = _write_events(spark, rows)
    r = m.queries()["events_anderson_darling"](spark, tmp).collect()[0]
    cents = [v * 100 for v in vals]
    n = len(cents)
    s = sum(cents)
    amom = n * sum(c * c for c in cents) - s * s
    zs = sorted(
        (c - s / n) / (math.sqrt(amom) / n) for c in cents
    )

    def phi(z):
        return 1.0 - _as_norm_sf(z) if z >= 0 else _as_norm_sf(-z)

    def sf(z):
        return _as_norm_sf(z) if z >= 0 else 1.0 - _as_norm_sf(-z)

    ts = sum(
        (2 * i - 1) * math.log(phi(z)) + (2 * (n - i) + 1) * math.log(sf(z))
        for i, z in enumerate(zs, start=1)
    )
    a2 = -n - ts / n
    a2s = a2 * (1.0 + 0.75 / n + 2.25 / (n * n))
    assert r["n_days"] == 6
    assert abs(r["a2"] - a2) < 1e-6
    assert abs(r["a2_star"] - a2s) < 1e-6
    assert r["normal_5pct"] == (a2s <= 0.752)
    assert not r["normal_5pct"]  # the outlier breaks normality


def test_entropy_rate_hand_fixture(spark, entry_mod):
    """docs 'a b a b' and 'a a': H1 over {a:4, b:2}, H2 over bigram
    counts {(a,b):2, (b,a):1, (a,a):1} with first-token margins
    {a:3, b:1} — hand-derived nats."""
    m = entry_mod
    rows = [
        (0, "a b a b", "en", "s", 7),
        (1, "a a", "en", "s", 3),
    ]
    tmp = _write_docs(spark, rows)
    r = m.queries()["docs_entropy_rate"](spark, tmp).collect()[0]
    h1 = -(4 / 6 * math.log(4 / 6) + 2 / 6 * math.log(2 / 6))
    h2 = -(2 * math.log(2 / 3) + math.log(1.0) + math.log(1 / 3)) / 4
    assert r["n_tokens"] == 6 and r["n_bigrams"] == 4
    assert r["vocab"] == 2
    assert abs(r["h_unigram"] - h1) < 1e-6
    assert abs(r["h_bigram_cond"] - h2) < 1e-6
    assert abs(r["entropy_ratio"] - h2 / h1) < 1e-6
    assert abs(r["perplexity_bigram"] - math.exp(h2)) < 1e-6


def test_entropy_rate_conditioning_reduces_entropy(spark, entry_mod):
    """sf0.001: conditioning can only help — H(w2|w1) <= H1 on any
    corpus (Shannon), so the ratio is in (0, 1]."""
    m = entry_mod
    r = m.queries()["docs_entropy_rate"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert 0.0 < r["h_bigram_cond"] <= r["h_unigram"]
    assert 0.0 < r["entropy_ratio"] <= 1.0
