"""Post-r10 wave-1 goldens: hand-computed fixtures for the agreement
and association operators (cluster agreement ARI/NMI/V, Cohen's kappa
between quality raters, Lin's CCC / Bland-Altman, ordinal gamma /
Somers' D / tau-b); the registry queries themselves are gated by the
DuckDB oracles (tools/oracle_check.py)."""

from __future__ import annotations

import math
import os
import tempfile


def _write_docs(spark, rows):
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    return tmp


def test_cluster_agreement_perfect_clustering(spark, entry_mod):
    """Two exact-duplicate pairs + two singletons: LSH(0.8) recovers
    exactly the truth classes, so every chance-corrected metric is
    exactly 1 and the cluster/truth counts match."""
    m = entry_mod
    x = "alpha beta gamma delta epsilon zeta eta theta"
    y = "one two three four five six seven eight nine"
    z = "red green blue cyan magenta yellow black white"
    w = "north south east west up down left right forward"
    rows = [
        (0, x, "en", "s", len(x)),
        (1, x, "en", "s", len(x)),
        (2, y, "en", "s", len(y)),
        (3, y, "en", "s", len(y)),
        (4, z, "en", "s", len(z)),
        (5, w, "en", "s", len(w)),
    ]
    tmp = _write_docs(spark, rows)
    out = m.queries()["dedup_cluster_agreement"](spark, tmp).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_docs"] == 6
    assert r["n_clusters"] == 4 and r["n_truth"] == 4
    for c in ("ari", "nmi", "homogeneity", "completeness", "v_measure"):
        assert r[c] == 1.0, (c, r[c])


def test_cluster_agreement_bounds_on_real_fixture(spark, entry_mod):
    """sf0.001 corpus: metric-range invariants (ARI <= 1, the
    entropy-normalized metrics in [0,1], V between min and max of
    homogeneity/completeness — harmonic-mean property)."""
    m = entry_mod
    r = m.queries()["dedup_cluster_agreement"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert r["ari"] <= 1.0
    for c in ("nmi", "homogeneity", "completeness", "v_measure"):
        assert 0.0 <= r[c] <= 1.0, (c, r[c])
    lo = min(r["homogeneity"], r["completeness"])
    hi = max(r["homogeneity"], r["completeness"])
    assert lo - 1e-6 <= r["v_measure"] <= hi + 1e-6


def test_rater_kappa_hand_fixture(spark, entry_mod):
    """Four docs with hand-derived rater verdicts.

    A: 60x 'tok'                -> structural T, diversity F, stop F
    B: 60 distinct words        -> structural T, diversity T, stop F
    C: 'a the' x10 (20 words)   -> structural F, diversity F, stop T
    D: 47 distinct + 3x 'a'     -> structural T, diversity T, stop T

    structural_vs_diversity: n11=2 n10=1 n01=0 n00=1
      po=0.75, pe=(3*2+1*2)/16=0.5, kappa=0.5
    structural_vs_stopword:  n11=1 n10=2 n01=1 n00=0
      po=0.25, pe=0.5, kappa=-0.5
    diversity_vs_stopword:   n11=1 n10=1 n01=1 n00=1
      po=0.5, pe=0.5, kappa=0.0
    """
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
    out = {
        r["pair"]: r
        for r in m.queries()["quality_rater_kappa"](spark, tmp).collect()
    }
    sd = out["structural_vs_diversity"]
    assert (sd["n11"], sd["n10"], sd["n01"], sd["n00"]) == (2, 1, 0, 1)
    assert sd["p_observed"] == 0.75 and sd["p_expected"] == 0.5
    assert sd["kappa"] == 0.5
    ss = out["structural_vs_stopword"]
    assert (ss["n11"], ss["n10"], ss["n01"], ss["n00"]) == (1, 2, 1, 0)
    assert ss["kappa"] == -0.5
    ds = out["diversity_vs_stopword"]
    assert (ds["n11"], ds["n10"], ds["n01"], ds["n00"]) == (1, 1, 1, 1)
    assert ds["kappa"] == 0.0


def test_score_agreement_perfect_estimate(spark, entry_mod):
    """n_chars = 5 * tokens exactly: the chars/5 estimate agrees
    perfectly — CCC = Pearson = 1, Bland-Altman diff and LoA all 0."""
    m = entry_mod
    rows = []
    for i, n in enumerate((10, 20, 40, 80)):
        t = " ".join(["w"] * n)
        rows.append((i, t, "en", "s", 5 * n))
    tmp = _write_docs(spark, rows)
    r = m.queries()["docs_score_agreement"](spark, tmp).collect()[0]
    assert r["pearson_r"] == 1.0 and r["ccc"] == 1.0
    assert r["ba_mean_diff"] == 0.0 and r["ba_sd_diff"] == 0.0
    assert r["ba_loa_lo"] == 0.0 and r["ba_loa_hi"] == 0.0
    assert r["mean_tokens"] == r["mean_estimate"] == 37.5


def test_score_agreement_matches_numpy_moments(spark, entry_mod):
    """Skewed fixture: operator output equals the population-moment
    formulas computed in plain Python (CCC per Lin 1989, BA per Bland
    & Altman 1986)."""
    m = entry_mod
    toks = [10, 25, 40, 55, 80]
    chars = [61, 120, 230, 260, 390]
    rows = []
    for i, (t, ch) in enumerate(zip(toks, chars)):
        rows.append((i, " ".join(["w"] * t), "en", "s", ch))
    tmp = _write_docs(spark, rows)
    r = m.queries()["docs_score_agreement"](spark, tmp).collect()[0]
    n = len(toks)
    x = toks
    y = [c / 5.0 for c in chars]
    mx = sum(x) / n
    my = sum(y) / n
    sxx = sum(v * v for v in x) / n - mx * mx
    syy = sum(v * v for v in y) / n - my * my
    sxy = sum(a * b for a, b in zip(x, y)) / n - mx * my
    d = [a - b for a, b in zip(x, y)]
    md = sum(d) / n
    sd = math.sqrt(sum(v * v for v in d) / n - md * md)
    assert abs(r["pearson_r"] - sxy / math.sqrt(sxx * syy)) < 1e-6
    assert (
        abs(r["ccc"] - 2 * sxy / (sxx + syy + (mx - my) ** 2)) < 1e-6
    )
    assert abs(r["ba_mean_diff"] - md) < 1e-6
    assert abs(r["ba_loa_lo"] - (md - 1.96 * sd)) < 1e-6
    assert abs(r["ba_loa_hi"] - (md + 1.96 * sd)) < 1e-6


def _write_orders(spark, rows):
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "orders.parquet"))
    return tmp


def test_ordinal_assoc_perfect_concordance(spark, entry_mod):
    """9 orders, priority == tercile by construction: every
    cross-band pair is concordant (C=27, D=0) so gamma = Somers' D =
    tau-b = 1."""
    import datetime

    m = entry_mod
    dt = datetime.datetime(1995, 1, 1)
    rows = []
    for i in range(9):
        prio = i // 3 + 1
        rows.append(
            (i, 1, "O", float(100 + i), dt, f"{prio}-P")
        )
    tmp = _write_orders(spark, rows)
    r = m.queries()["orders_ordinal_assoc"](spark, tmp).collect()[0]
    assert r["n_orders"] == 9
    assert r["c_pairs"] == 27 and r["d_pairs"] == 0
    assert r["gamma"] == 1.0
    assert r["somers_d"] == 1.0 and r["tau_b"] == 1.0


def test_ordinal_assoc_ties_never_straddle_bands(spark, entry_mod):
    """All prices identical: the value-banded tercile keeps the whole
    tie group in band 1 (an ntile would split it), so there are no
    cross-band pairs and the coefficients are NULL (0/0), not a
    fabricated association."""
    import datetime

    m = entry_mod
    dt = datetime.datetime(1995, 1, 1)
    rows = [
        (i, 1, "O", 500.0, dt, f"{i % 3 + 1}-P") for i in range(6)
    ]
    tmp = _write_orders(spark, rows)
    r = m.queries()["orders_ordinal_assoc"](spark, tmp).collect()[0]
    assert r["n_orders"] == 6
    assert r["c_pairs"] == 0 and r["d_pairs"] == 0
    assert r["gamma"] is None
    # denominator keeps the X-tie correction: 2*(C-D)/(N(N-1)-t2x)
    # = 0/24 = 0, a defined "no association", unlike gamma's 0/0;
    # tau-b is NULL because the tercile margin has zero variance
    # (t2y == N(N-1) when every row lands in one band)
    assert r["somers_d"] == 0.0 and r["tau_b"] is None
