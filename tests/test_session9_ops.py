"""Round-7 operator goldens: Mann-Whitney U, Theil-Sen, Zipf fit,
cluster stats, silhouette, minhash calibration — hand-computed
fixtures for the library ops; registry-level behavior is gated by the
DuckDB oracles (tools/oracle_check.py)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F


def test_mann_whitney_hand_computed(spark):
    """A=[1,2,3], B=[2,4]: sorted ranks 1,(2,3 tie->2.5),4,5.
    R_a = 1+2.5+4 = 7.5; U_a = 7.5 - 3*4/2 = 1.5; mu = 3;
    ties: one group of 2 -> t^3-t = 6; N=5;
    sigma^2 = (6/12)*((5+1) - 6/(5*4)) = 0.5*5.7 = 2.85;
    z = -1.5/sqrt(2.85); rank_biserial = 1 - 2*1.5/6 = 0.5."""
    from vanus_spark.operators.ranktests import mann_whitney_u

    rows = [(1, 0, 1.0), (2, 0, 2.0), (3, 0, 3.0), (4, 1, 2.0), (5, 1, 4.0)]
    df = spark.createDataFrame(rows, "id long, grp int, v double")
    out = mann_whitney_u(df, "v", "grp", "id").collect()[0].asDict()
    assert out["n_a"] == 3 and out["n_b"] == 2
    assert out["u_a"] == 1.5
    assert out["z"] == round(-1.5 / math.sqrt(2.85), 6)
    assert out["rank_biserial"] == 0.5


def test_mann_whitney_no_ties_symmetry(spark):
    """Disjoint groups A=[1..4] < B=[5..8]: U_a = 0 (A never wins),
    rank_biserial = 1, and swapping the groups flips both."""
    from vanus_spark.operators.ranktests import mann_whitney_u

    rows = [(i, 0 if i <= 4 else 1, float(i)) for i in range(1, 9)]
    df = spark.createDataFrame(rows, "id long, grp int, v double")
    out = mann_whitney_u(df, "v", "grp", "id").collect()[0].asDict()
    assert out["u_a"] == 0.0 and out["rank_biserial"] == 1.0
    flipped = spark.createDataFrame(
        [(i, 1 - g, v) for i, g, v in rows], "id long, grp int, v double"
    )
    out2 = mann_whitney_u(flipped, "v", "grp", "id").collect()[0].asDict()
    assert out2["u_a"] == 16.0 and out2["rank_biserial"] == -1.0
    assert out2["z"] == -out["z"]


def test_theil_sen_hand_computed_and_outlier_robust(spark):
    """Points (0,0),(1,1),(2,10) under one key: slopes {1, 5, 9},
    median 5. A clean y=2t line plus one wild outlier still reports
    a median slope near 2 (the OLS slope would not)."""
    from vanus_spark.operators.timeseries import theil_sen

    rows = [(1, 1, 0.0, 0.0), (1, 2, 1.0, 1.0), (1, 3, 2.0, 10.0)]
    df = spark.createDataFrame(rows, "k long, id long, t double, v double")
    out = theil_sen(df, "v", "t", "k", "id").collect()[0].asDict()
    assert out["n_pairs"] == 3 and out["theil_slope"] == 5.0

    clean = [(2, i, float(i), 2.0 * i) for i in range(10)]
    clean[5] = (2, 5, 5.0, 500.0)  # one wild outlier
    df2 = spark.createDataFrame(
        clean, "k long, id long, t double, v double"
    )
    slope = theil_sen(df2, "v", "t", "k", "id").collect()[0]["theil_slope"]
    assert abs(slope - 2.0) < 0.5


def test_theil_sen_excludes_equal_time_pairs(spark):
    """Two rows at the same timestamp contribute no pair."""
    from vanus_spark.operators.timeseries import theil_sen

    rows = [(1, 1, 0.0, 0.0), (1, 2, 0.0, 9.0), (1, 3, 1.0, 2.0)]
    df = spark.createDataFrame(rows, "k long, id long, t double, v double")
    out = theil_sen(df, "v", "t", "k", "id").collect()[0].asDict()
    assert out["n_pairs"] == 2  # (1,3) and (2,3); (1,2) excluded


def test_zipf_fit_recovers_planted_slope(spark, sf_dir, entry_mod):
    """q_docs_zipf_fit on the real fixture: a natural-language-ish
    corpus must fit with negative slope and meaningful r2; the
    regression must agree with numpy's polyfit on the same top-500
    (rank, freq) points."""
    import numpy as np

    m = entry_mod
    out = m.queries()["docs_zipf_fit"](spark, sf_dir).collect()[0].asDict()
    assert out["zipf_slope"] < 0
    assert 0.0 < out["r2"] <= 1.0

    from vanus_spark.llm.search import tokens_df
    from vanus_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    freqs = (
        tokens_df(docs)
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("term"))
        .limit(500)
        .collect()
    )
    y = np.log([r["freq"] for r in freqs])
    x = np.log(np.arange(1, len(freqs) + 1))
    slope = np.polyfit(x, y, 1)[0]
    assert abs(out["zipf_slope"] - slope) < 1e-4


def test_cluster_stats_accounting(spark, sf_dir, entry_mod):
    """q_dedup_cluster_stats must account for every document exactly
    once: sum(n_docs) = corpus size, sum(n_clusters) = docs surviving
    keep-one-per-cluster, and size-1 rows dominate a mostly-unique
    corpus."""
    m = entry_mod
    rows = {
        r["cluster_size"]: r.asDict()
        for r in m.queries()["dedup_cluster_stats"](spark, sf_dir).collect()
    }
    from vanus_spark.sources import load_table

    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows.values()) == n_docs
    assert 1 in rows and rows[1]["n_clusters"] == rows[1]["n_docs"]
    survivors = sum(r["n_clusters"] for r in rows.values())
    assert survivors <= n_docs
    # the fixture is known to contain near-dup clusters
    assert any(size > 1 for size in rows)


def test_minhash_calibration_error_bound(spark, sf_dir, entry_mod):
    """The 16-hash MinHash estimate over LSH candidates: every
    estimate within 0.35 of exact Jaccard (3.5 sigma at p(1-p)/16),
    and mean absolute error well inside one sigma (~0.125)."""
    m = entry_mod
    rows = m.queries()["minhash_calibration"](spark, sf_dir).collect()
    assert rows
    errs = [r["abs_err"] for r in rows]
    assert max(errs) <= 0.35
    assert sum(errs) / len(errs) <= 0.125


def test_silhouette_separated_vs_mixed(spark, entry_mod):
    """Inline silhouette logic sanity on a planted fixture: two
    tight, far-apart label clusters score near 1."""
    m = entry_mod
    # plant: label 0 near (0,...), label 1 near (10,...)
    import tempfile

    rows = []
    for i in range(20):
        base = 0.0 if i % 2 == 0 else 10.0
        vec = [base + 0.01 * ((i * 7 + j) % 5) for j in range(64)]
        rows.append((i, vec, i % 2))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = tempfile.mkdtemp(prefix="sil_")
    emb.write.parquet(d + "/embeddings.parquet")
    out = {
        r["label"]: r.asDict()
        for r in m.queries()["embedding_silhouette"](spark, d).collect()
    }
    assert out[0]["silhouette"] > 0.9 and out[1]["silhouette"] > 0.9
    assert out[0]["n_vecs"] == 10 and out[1]["n_vecs"] == 10


def test_runs_test_hand_computed(spark):
    """Values [1,2,9,8,7,3] in time order: median (3+7)/2 = 5, signs
    [0,0,1,1,1,0] -> runs = 3, n1 = n2 = 3; mu = 2*9/6+1 = 4;
    sigma^2 = 18*12/(36*5) = 1.2; z = -1/sqrt(1.2)."""
    from vanus_spark.operators.ranktests import runs_test

    vals = [1.0, 2.0, 9.0, 8.0, 7.0, 3.0]
    rows = [(1, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, t long, v double")
    out = runs_test(df, "v", "k", ["t"]).collect()[0].asDict()
    assert out["n1"] == 3 and out["n2"] == 3 and out["runs"] == 3
    assert out["z"] == round(-1.0 / math.sqrt(1.2), 6)


def test_runs_test_drops_median_equals(spark):
    """Odd count: the median IS a sample value and must drop."""
    from vanus_spark.operators.ranktests import runs_test

    rows = [(1, i, float(v)) for i, v in enumerate([1, 5, 9])]
    df = spark.createDataFrame(rows, "k long, t long, v double")
    out = runs_test(df, "v", "k", ["t"]).collect()[0].asDict()
    assert out["n1"] == 1 and out["n2"] == 1 and out["runs"] == 2
    assert out["z"] is None  # zero-variance degenerate: undefined, not an error


def test_link_prediction_hand_computed(spark):
    """Path graph 1-2, 2-3, 3-4 plus chord 1-3: the 2-hop non-edges
    are (1,4) via 3 and (2,4) via 3, both with one common neighbor:
    score(1,4) = 1/(3+1-1) = 0.5 wait deg(1)={2,3}=2, deg(4)={3}=1 ->
    1/(2+1-1) = 0.5; score(2,4) = 1/(2+1-1) = 0.5."""
    from vanus_spark.llm.graphs import link_prediction_jaccard

    und = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3)], "a long, b long"
    )
    out = {(r["a"], r["b"]): r.asDict() for r in link_prediction_jaccard(und).collect()}
    assert set(out) == {(1, 4), (2, 4)}
    assert out[(1, 4)]["common"] == 1 and out[(1, 4)]["score"] == 0.5
    assert out[(2, 4)]["common"] == 1 and out[(2, 4)]["score"] == 0.5


def test_fs_em_matches_independent_python_em(spark):
    """fs_em_estimate vs a from-scratch python EM on the same
    comparison vectors — independent implementations must agree to
    1e-9 before rounding differences."""
    from vanus_spark.operators.linkage import fs_em_estimate

    rows = []
    # 40 matchy pairs (mostly all-agree) + 160 noise pairs
    for i in range(200):
        if i < 40:
            rows.append((i, True, i % 7 != 0, True))
        else:
            rows.append((i, i % 11 == 0, i % 3 == 0, i % 13 == 0))
    df = spark.createDataFrame(
        rows, "pid long, agree_name boolean, agree_segment boolean, agree_phone boolean"
    )
    got = {
        r["field"]: r.asDict()
        for r in fs_em_estimate(
            df, ["agree_name", "agree_segment", "agree_phone"], iters=2
        ).collect()
    }

    # independent python EM
    fields = ["agree_name", "agree_segment", "agree_phone"]
    data = [dict(zip(["pid", *fields], r)) for r in rows]
    m = {f: 0.9 for f in fields}
    u = {f: 0.1 for f in fields}
    lam = 0.5
    for _ in range(2):
        sw = 0.0
        wa = {f: 0.0 for f in fields}
        va = {f: 0.0 for f in fields}
        for d in data:
            pm, pu = lam, 1.0 - lam
            for f in fields:
                a = bool(d[f])
                pm *= m[f] if a else 1.0 - m[f]
                pu *= u[f] if a else 1.0 - u[f]
            w = pm / (pm + pu)
            sw += w
            for f in fields:
                if d[f]:
                    wa[f] += w
                    va[f] += 1.0 - w
        n = len(data)
        for f in fields:
            m[f] = wa[f] / sw
            u[f] = va[f] / (n - sw)
        lam = sw / n
    for f in fields:
        assert abs(got[f]["m_est"] - round(m[f], 6)) <= 2e-6
        assert abs(got[f]["u_est"] - round(u[f], 6)) <= 2e-6
        assert abs(got[f]["lambda_est"] - round(lam, 6)) <= 2e-6
    # the planted structure is recovered: matches agree more than noise
    assert got["agree_name"]["m_est"] > got["agree_name"]["u_est"]


def test_heaps_law_fit_properties(spark, sf_dir, entry_mod):
    """Heaps beta in (0, 1) on the natural-ish fixture, and the
    regression agrees with numpy on the same 10 (tokens, vocab)
    points (re-derived independently here)."""
    import numpy as np

    m = entry_mod
    out = m.queries()["docs_heaps_law"](spark, sf_dir).collect()[0].asDict()
    assert out["n_points"] == 10
    # the tiny test fixture's closed vocabulary saturates within the
    # first decile (beta -> 0); natural corpora sit in (0.4, 0.6)
    assert 0.0 <= out["heaps_beta"] < 1.0

    from vanus_spark.llm.search import tokens_df
    from vanus_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    toks = tokens_df(docs).select("doc_id", "term").collect()
    cuts = [max(1, (n_docs * i) // 10) for i in range(1, 11)]
    xs, ys = [], []
    for c in cuts:
        xs.append(sum(1 for r in toks if r["doc_id"] < c))
        seen = {r["term"] for r in toks if r["doc_id"] < c}
        ys.append(len(seen))
    beta = np.polyfit(np.log(xs), np.log(ys), 1)[0]
    assert abs(out["heaps_beta"] - beta) < 1e-4
