"""Round-9 goldens: hand-computed fixtures for the four new operators
(Brier decomposition, t-closeness, X-bar/R SPC, exponential-fit KS);
the registry queries themselves are gated by the DuckDB oracles
(tools/oracle_check.py)."""

from __future__ import annotations

import math

from datetime import datetime


SF = "/root/testdata/sf0.001"


def test_brier_decomposition_identity_and_bounds(spark, entry_mod):
    """Murphy decomposition on the real fixture: brier must equal
    rel - res + unc to fp tolerance (the defining identity of the
    bucket-mean decomposition), every component must sit in its
    theoretical range, and mce >= ece (max dominates the weighted
    mean)."""
    m = entry_mod
    r = m.queries()["quality_brier_decomposition"](spark, SF).collect()[0]
    assert r["n"] > 0
    assert 0.0 <= r["brier"] <= 1.0
    assert r["reliability"] >= 0.0
    assert r["resolution"] >= 0.0
    assert 0.0 <= r["uncertainty"] <= 0.25
    # the binned identity brier = rel - res + unc holds up to the
    # within-bin variance term (forecasts are continuous inside each
    # decile, so the classic Murphy identity is only exact for
    # bin-constant forecasts); on this fixture the residual is ~5e-4
    assert abs(
        r["brier"] - (r["reliability"] - r["resolution"] + r["uncertainty"])
    ) < 0.01
    assert r["mce"] >= r["ece"] - 1e-9
    # the brier itself must match quality_calibration's (same staged
    # rows, same mean, both on the round-6 lattice)
    cal = m.queries()["quality_calibration"](spark, SF).collect()[0]
    assert abs(r["brier"] - cal["brier"]) < 2e-6


def test_t_closeness_hand_case(spark):
    """4 rows in group A (3 'x', 1 'y'), 4 in group B (1 'x', 3 'y')
    -> global p = (1/2, 1/2); each group's distribution is
    (3/4, 1/4), so tvd = 0.5 * (|3/4-1/2| + |1/4-1/2|) = 0.25 for
    both groups. Exact-integer form: sum|cnt*n - gc*k| = |3*8-4*4| +
    |1*8-4*4| = 8+8 = 16; tvd = 0.5*16/(4*8) = 0.25."""
    rows = [("A", "x")] * 3 + [("A", "y")] + [("B", "x")] + [("B", "y")] * 3
    df = spark.createDataFrame(rows, "grp string, tier string")
    from pyspark.sql import functions as F

    cells = df.groupBy("grp", "tier").agg(F.count("*").alias("cnt"))
    groups = df.groupBy("grp").agg(F.count("*").alias("k"))
    glob = df.groupBy("tier").agg(F.count("*").alias("gc"))
    tot = df.agg(F.count("*").alias("n_total"))
    frame = groups.crossJoin(F.broadcast(glob)).join(
        cells, ["grp", "tier"], "left"
    ).select(
        "grp", "k", "gc", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    g = frame.crossJoin(F.broadcast(tot)).groupBy("grp").agg(
        F.first("k").alias("k"),
        F.first("n_total").alias("n"),
        F.sum(
            F.abs(F.col("cnt") * F.col("n_total") - F.col("gc") * F.col("k"))
        ).alias("s"),
    )
    got = {
        r["grp"]: 0.5 * r["s"] / (r["k"] * r["n"]) for r in g.collect()
    }
    assert got == {"A": 0.25, "B": 0.25}


def test_t_closeness_registry_consistency(spark, entry_mod):
    """Registry query on the fixture: a group whose tier distribution
    equals the global one has tvd ~ 0; tvd is always in [0, 1]; and
    k matches the k-anonymity query's group sizes."""
    m = entry_mod
    rows = m.queries()["privacy_t_closeness"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["tvd"] <= 1.0
        assert r["t_leaky"] == (r["tvd"] > 0.2)
    ka = {
        (r["c_mktsegment"], r["c_nationkey"]): r["k"]
        for r in m.queries()["privacy_k_anonymity"](spark, SF).collect()
    }
    for r in rows:
        assert ka[(r["c_mktsegment"], r["c_nationkey"])] == r["k"]


def test_spc_xbar_hand_case(spark):
    """Three complete 7-day weeks of daily values per one key: weeks
    [10]*7, [10]*7, [24,10,10,10,10,10,10] -> weekly means
    (10, 10, 12), ranges (0, 0, 14). xbarbar = 32/3, rbar = 14/3;
    UCL_x = 32/3 + 0.419*14/3 ~ 12.62 -> no mean flag; range UCL =
    1.924*14/3 ~ 8.98 -> week 3's range 14 flags, and weeks 1-2's
    range 0 sits below LCL_r = 0.076*14/3 ~ 0.355 -> also flagged
    (zero-range weeks ARE out of control on an R chart)."""
    from pyspark.sql import functions as F

    rows = []
    vals = [10] * 14 + [24] + [10] * 6
    for i, v in enumerate(vals):
        # value*100 cents: use value = v/100 so daily cents = v.
        # 2024-01-04 is epoch day 19726 = 7*2818, so the 21 days fall
        # into exactly three complete week-epochs
        rows.append(
            (i, datetime(2024, 1, 4 + i), 1, "t", v / 100.0, "{}")
        )
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.write.mode("overwrite").parquet("/tmp/spc_fixture/events.parquet")
    # the other tables aren't touched by this query; point sf_dir at
    # the fixture dir with only events present
    from vanus_spark.queries.series import q_events_spc_xbar

    out = q_events_spc_xbar(spark, "/tmp/spc_fixture")
    got = {r["week"]: r for r in out.collect()}
    assert len(got) == 3
    means = sorted(round(r["week_mean_cents"], 6) for r in got.values())
    assert means == [10.0, 10.0, 12.0]
    assert sum(1 for r in got.values() if r["ooc_mean"]) == 0
    flags = [r["ooc_range"] for _, r in sorted(got.items())]
    assert flags == [True, True, True]


def test_interarrival_fit_poisson_vs_metronome(spark):
    """A perfectly regular (metronome) stream must REJECT the
    exponential fit with a large KS distance: all gaps equal g, so
    ECDF jumps 0 -> 1 at g while F(g) = 1 - exp(-1) ~ 0.632; D =
    max(|1 - 0.632|, |0 - 0.632|) = 0.632."""
    # strictly 300 s apart: minute = (i*5) % 60, hour = (i*5) // 60
    rows = [
        (
            i,
            datetime(2024, 1, 1, (i * 5) // 60, (i * 5) % 60, 0),
            1,
            "t",
            1.0,
            "{}",
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.write.mode("overwrite").parquet("/tmp/ia_fixture/events.parquet")
    from vanus_spark.queries.stats import q_events_interarrival_fit

    r = q_events_interarrival_fit(spark, "/tmp/ia_fixture").collect()[0]
    assert r["n_gaps"] == 39
    assert r["mean_gap_s"] == 300.0
    assert abs(r["ks_d"] - (1.0 - math.exp(-1.0))) < 1e-6
    assert r["reject_exponential"]  # 0.632 >> 1.36/sqrt(39) ~ 0.218


def test_t_closeness_brute_force_random(spark):
    """Random group/tier tables: the exact-integer TVD formula must
    equal the brute-forced float definition 0.5*sum|p_group - p_glob|
    for every group (40 random tables batched into one DataFrame via
    a table-id prefix on the group key)."""
    import random as _random

    from pyspark.sql import functions as F

    rng = _random.Random(20260816)
    tiers = ["a", "b", "c"]
    rows = []
    for t in range(40):
        for _ in range(rng.randint(3, 30)):
            rows.append(
                (f"t{t}-g{rng.randint(0, 3)}", tiers[rng.randint(0, 2)], t)
            )
    df = spark.createDataFrame(rows, "grp string, tier string, tid int")
    cells = df.groupBy("tid", "grp", "tier").agg(F.count("*").alias("cnt"))
    groups = df.groupBy("tid", "grp").agg(F.count("*").alias("k"))
    glob = df.groupBy("tid", "tier").agg(F.count("*").alias("gc"))
    tot = df.groupBy("tid").agg(F.count("*").alias("n_total"))
    frame = (
        groups.join(glob, "tid")
        .join(cells, ["tid", "grp", "tier"], "left")
        .select(
            "tid", "grp", "k", "gc",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )
    g = frame.join(tot, "tid").groupBy("tid", "grp").agg(
        F.first("k").alias("k"),
        F.first("n_total").alias("n"),
        F.sum(
            F.abs(F.col("cnt") * F.col("n_total") - F.col("gc") * F.col("k"))
        ).alias("s"),
    )
    got = {
        (r["tid"], r["grp"]): 0.5 * r["s"] / (r["k"] * r["n"])
        for r in g.collect()
    }
    # brute force in Python
    from collections import Counter, defaultdict

    per_table = defaultdict(list)
    for grp, tier, tid in rows:
        per_table[tid].append((grp, tier))
    for tid, items in per_table.items():
        n = len(items)
        glob_c = Counter(t for _, t in items)
        by_group = defaultdict(Counter)
        for grp, t in items:
            by_group[grp][t] += 1
        for grp, cnts in by_group.items():
            k = sum(cnts.values())
            tvd = 0.5 * sum(
                abs(cnts.get(t, 0) / k - glob_c[t] / n) for t in tiers
            )
            assert abs(got[(tid, grp)] - tvd) < 1e-12, (tid, grp)


def test_spc_constants_and_flag_logic(spark):
    """The n=7 Shewhart constants must satisfy their defining
    relations (A2 = 3/(d2*sqrt(7)), D3 = 1-3*d3/d2, D4 = 1+3*d3/d2
    with the tabulated d2 = 2.704, d3 = 0.833) to the 3-decimal
    precision used by the operator."""
    import math

    d2, d3 = 2.704, 0.833
    assert abs(0.419 - 3.0 / (d2 * math.sqrt(7))) < 6e-4
    assert abs(0.076 - (1.0 - 3.0 * d3 / d2)) < 6e-3
    assert abs(1.924 - (1.0 + 3.0 * d3 / d2)) < 6e-3


def test_interarrival_fit_exponential_like_accepts(spark):
    """Gaps drawn from a discretized geometric (the integer-seconds
    analog of exponential) must NOT reject at the 95% KS line —
    the complement of the metronome-rejection golden."""
    import math
    import random as _random

    from datetime import datetime, timedelta

    rng = _random.Random(7)
    t = datetime(2024, 1, 1)
    rows = []
    for i in range(400):
        rows.append((i, t, 1, "t", 1.0, "{}"))
        # geometric with mean ~120 s, >= 1 s
        gap = 1 + int(-120.0 * math.log(1.0 - rng.random()))
        t = t + timedelta(seconds=gap)
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.write.mode("overwrite").parquet("/tmp/ia_geo_fixture/events.parquet")
    from vanus_spark.queries.stats import q_events_interarrival_fit

    r = q_events_interarrival_fit(spark, "/tmp/ia_geo_fixture").collect()[0]
    assert r["n_gaps"] == 399
    assert not r["reject_exponential"], r["ks_d"]
