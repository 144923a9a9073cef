"""as-of join and range join operators."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from vanus_spark.operators import asof_join, range_join_buckets


def ts(h):
    return dt.datetime(2024, 1, 1, h)


@pytest.fixture(scope="module")
def quotes(spark):
    return spark.createDataFrame(
        [("A", ts(1), 10.0), ("A", ts(3), 11.0), ("B", ts(2), 20.0)],
        "sym string, qts timestamp, price double",
    )


@pytest.fixture(scope="module")
def trades(spark):
    return spark.createDataFrame(
        [("A", ts(0), 5), ("A", ts(2), 7), ("A", ts(3), 9), ("B", ts(5), 11)],
        "sym string, tts timestamp, qty int",
    )


def test_asof_backward(spark, trades, quotes):
    out = asof_join(trades, quotes, "sym", "tts", "qts", ["price"])
    got = {(r.sym, r.tts.hour): r.asof_price for r in out.collect()}
    assert got == {
        ("A", 0): None,   # no quote yet
        ("A", 2): 10.0,   # quote@1
        ("A", 3): 11.0,   # quote@3 ties -> visible
        ("B", 5): 20.0,
    }


def test_asof_strict_excludes_ties(spark, trades, quotes):
    out = asof_join(trades, quotes, "sym", "tts", "qts", ["price"], strict=True)
    got = {(r.sym, r.tts.hour): r.asof_price for r in out.collect()}
    assert got[("A", 3)] == 10.0  # quote@3 NOT visible under strict


def test_asof_forward(spark, trades, quotes):
    out = asof_join(
        trades, quotes, "sym", "tts", "qts", ["price"], direction="forward"
    )
    got = {(r.sym, r.tts.hour): r.asof_price for r in out.collect()}
    assert got == {
        ("A", 0): 10.0,  # next quote@1
        ("A", 2): 11.0,  # next quote@3
        ("A", 3): 11.0,  # quote@3 ties -> visible
        ("B", 5): None,  # no later quote
    }


def test_asof_forward_strict_excludes_ties(spark, trades, quotes):
    out = asof_join(
        trades, quotes, "sym", "tts", "qts", ["price"],
        direction="forward", strict=True,
    )
    got = {(r.sym, r.tts.hour): r.asof_price for r in out.collect()}
    assert got[("A", 3)] is None  # quote@3 NOT visible under strict


def test_asof_nearest_picks_smaller_gap_backward_on_tie(spark, quotes):
    t = spark.createDataFrame(
        [
            ("A", ts(2), 1),  # gap 1h back (q@1) vs 1h fwd (q@3): tie -> back
            ("A", ts(0), 2),  # only forward exists
            ("A", ts(9), 3),  # only backward exists
            ("B", ts(1), 4),  # forward q@2 nearer than nothing-backward
        ],
        "sym string, tts timestamp, qty int",
    )
    out = asof_join(
        t, quotes, "sym", "tts", "qts", ["price"], direction="nearest"
    )
    got = {r.qty: r.asof_price for r in out.collect()}
    assert got == {1: 10.0, 2: 10.0, 3: 11.0, 4: 20.0}


def test_asof_matches_pandas_merge_asof(spark, events):
    """Property check vs pandas.merge_asof on real data: for each
    purchase event, the latest prior signup of the same user."""
    import pandas as pd

    purchases = events.where("event_type = 'purchase'").select("user_id", "ts", "event_id")
    signups = events.where("event_type = 'signup'").select(
        "user_id", F.col("ts").alias("sts"), F.col("event_id").alias("signup_id")
    )
    out = asof_join(purchases, signups, "user_id", "ts", "sts", ["signup_id"])
    got = {r.event_id: r.asof_signup_id for r in out.collect()}

    pp = purchases.orderBy("ts").toPandas()
    sp = signups.orderBy("sts").toPandas()
    merged = pd.merge_asof(
        pp, sp.rename(columns={"sts": "ts"}), on="ts", by="user_id"
    )
    expected = {
        int(r.event_id): (None if pd.isna(r.signup_id) else int(r.signup_id))
        for r in merged.itertuples()
    }
    assert got == expected


def test_range_join(spark):
    left = spark.createDataFrame([(1, 10.0), (2, 55.0)], "lid long, v double")
    right = spark.createDataFrame(
        [(100, 12.0), (101, 19.0), (102, 54.0), (103, 70.0)], "rid long, v double"
    )
    out = range_join_buckets(left, right, "v", "v", 5.0)
    pairs = {(r.lid, r.r_rid) for r in out.collect()}
    assert pairs == {(1, 100), (2, 102)}


def test_range_join_matches_cartesian(spark, events):
    a = events.limit(120).select(F.col("event_id").alias("aid"), F.col("value").alias("av"))
    b = events.limit(120).select(F.col("event_id").alias("bid"), F.col("value").alias("bv"))
    fast = {
        (r.aid, r.r_bid)
        for r in range_join_buckets(a, b, "av", "bv", 1.5).collect()
    }
    slow = {
        (r.aid, r.bid)
        for r in a.crossJoin(b).where(F.abs(F.col("av") - F.col("bv")) <= 1.5).collect()
    }
    assert fast == slow


def test_two_phase_count_matches_plain(spark, events):
    from vanus_spark.operators.skew import two_phase_count

    fast = {r.event_type: r["count"] for r in two_phase_count(events, ["event_type"]).collect()}
    plain = {r.event_type: r.n for r in events.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    assert fast == plain


def test_salted_join_matches_plain_join(spark, events):
    from pyspark.sql import functions as F

    from vanus_spark.operators.skew import salted_join

    ev = events.select(
        "event_id",
        "value",
        F.when(F.col("event_type") == "view", F.lit(0))
        .otherwise(F.col("user_id"))
        .cast("long")
        .alias("k"),
    )
    dim = ev.select("k").distinct().select(
        "k", F.pmod(F.col("k"), F.lit(5)).alias("segment")
    )
    plain = sorted(
        (r.event_id, r.segment)
        for r in ev.join(dim, "k").select("event_id", "segment").collect()
    )
    salted = sorted(
        (r.event_id, r.segment)
        for r in salted_join(ev, dim, "k", hot_keys=[0], replicas=8)
        .select("event_id", "segment")
        .collect()
    )
    assert salted == plain


def test_salted_join_left_keeps_unmatched(spark):
    from vanus_spark.operators.skew import salted_join

    probe = spark.createDataFrame(
        [(0, "a"), (0, "b"), (1, "c"), (9, "d")], "k long, tag string"
    )
    build = spark.createDataFrame([(0, "hot"), (1, "cold")], "k long, lab string")
    out = salted_join(probe, build, "k", hot_keys=[0], replicas=4, how="left")
    got = {(r.k, r.tag): r.lab for r in out.collect()}
    assert got == {(0, "a"): "hot", (0, "b"): "hot", (1, "c"): "cold", (9, "d"): None}


def test_fellegi_sunter_weights_and_decisions(spark):
    """linkage.fellegi_sunter: log2 weight math, NULL-as-disagreement,
    fixed-order summation, threshold classification, prior validation."""
    import math

    import pytest as _pytest

    from vanus_spark.operators.linkage import fellegi_sunter, fs_weights

    fields = {"a": (0.9, 0.1), "b": (0.8, 0.2)}
    w = fs_weights(fields)
    # log2(m/u) vs log2((1-m)/(1-u)): compare against the same
    # formula, not an algebraic rearrangement (1-ulp apart)
    assert w["a"] == (math.log2(0.9 / 0.1), math.log2((1 - 0.9) / (1 - 0.1)))
    pairs = spark.createDataFrame(
        [(1, True, True), (2, True, None), (3, False, False)],
        "pid int, agree_a boolean, agree_b boolean",
    )
    out = {
        r["pid"]: r.asDict()
        for r in fellegi_sunter(pairs, fields, 4.0, 0.0).collect()
    }
    assert abs(out[1]["fs_score"] - (w["a"][0] + w["b"][0])) < 1e-12
    # NULL comparison counts as disagreement
    assert abs(out[2]["fs_score"] - (w["a"][0] + w["b"][1])) < 1e-12
    assert out[1]["fs_decision"] == "match"
    assert out[2]["fs_decision"] == "possible"
    assert out[3]["fs_decision"] == "non_match"
    with _pytest.raises(ValueError):
        fs_weights({"bad": (0.1, 0.9)})  # u >= m
    with _pytest.raises(ValueError):
        fellegi_sunter(pairs, fields, 0.0, 4.0)  # thresholds inverted


def test_changepoint_binary_finds_planted_shift(spark):
    """changepoint_binary: a planted level shift at t=10 (values 5.0
    then 50.0) is found exactly; a flat series picks the earliest
    split by the deterministic tie-break."""
    from vanus_spark.operators.timeseries import changepoint_binary

    rows = [("shift", t, 5.0 if t <= 10 else 50.0) for t in range(1, 21)]
    rows += [("flat", t, 7.0) for t in range(1, 6)]
    s = spark.createDataFrame(rows, "key string, t int, v double")
    out = {r["key"]: r.asDict() for r in changepoint_binary(s).collect()}
    assert out["shift"]["split_t"] == 10
    assert out["shift"]["mean_left"] == 5.0
    assert out["shift"]["mean_right"] == 50.0
    assert out["flat"]["stat"] == 0.0 and out["flat"]["split_t"] == 1


def test_random_projection_preserves_norms_in_expectation(spark):
    """random_projection: output dim, determinism across calls, and
    JL norm preservation within loose bounds on real-ish vectors."""
    import math
    import random as _random

    from vanus_spark.llm.similarity import random_projection

    rng = _random.Random(3)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(64)]) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = random_projection(df, dim=64, out_dim=16, seed=7)
    got = {r["vec_id"]: r["proj"] for r in out.collect()}
    assert all(len(v) == 16 for v in got.values())
    again = {
        r["vec_id"]: r["proj"]
        for r in random_projection(df, dim=64, out_dim=16, seed=7).collect()
    }
    assert got == again  # fully deterministic
    # JL: projected norm ~ original norm in expectation; check the
    # mean ratio over 50 vectors lands in a loose band
    ratios = []
    for i, vec in rows:
        on = math.sqrt(sum(x * x for x in vec))
        pn = math.sqrt(sum(x * x for x in got[i]))
        ratios.append(pn / on)
    mean_ratio = sum(ratios) / len(ratios)
    assert 0.8 < mean_ratio < 1.2


def test_kaplan_meier_hand_computed(spark):
    """kaplan_meier vs the textbook worked example: 5 subjects,
    events at t=1 (n=5) and t=3 (n=3), censored at t=2 and t=4."""
    from vanus_spark.operators.survival import kaplan_meier

    subjects = spark.createDataFrame(
        [
            ("a", 1, 1), ("a", 2, 0), ("a", 3, 1), ("a", 3, 1), ("a", 4, 0),
        ],
        "segment string, duration long, event int",
    )
    rows = {r["t"]: r.asDict() for r in kaplan_meier(subjects).collect()}
    assert rows[1]["n_at_risk"] == 5 and rows[1]["survival"] == 0.8
    assert rows[2]["n_at_risk"] == 4 and rows[2]["survival"] == 0.8
    # at t=3: 3 at risk, 2 events -> 0.8 * (1 - 2/3)
    assert rows[3]["n_at_risk"] == 3
    assert abs(rows[3]["survival"] - 0.8 * (1 / 3)) < 1e-6
    assert rows[4]["n_censored"] == 1 and rows[4]["survival"] == rows[3]["survival"]


def test_kaplan_meier_curve_hits_zero_without_ln0(spark):
    """All subjects eventing at the last timepoint drives survival to
    exactly 0.0 via the dead flag (never ln(0))."""
    from vanus_spark.operators.survival import kaplan_meier

    subjects = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 1), ("a", 2, 1)],
        "segment string, duration long, event int",
    )
    rows = {r["t"]: r.asDict() for r in kaplan_meier(subjects).collect()}
    assert rows[2]["survival"] == 0.0 and rows[2]["n_at_risk"] == 2


def test_assoc_rules_hand_computed(spark, entry_mod):
    """events_assoc_rules metric math on a 4-user fixture: lift > 1
    for positively-associated pairs, symmetric support, conditional
    confidence."""
    m = entry_mod
    # 4 users: u1{A,B} u2{A,B} u3{A} u4{B} — P(A)=3/4, P(B)=3/4,
    # P(AB)=1/2, conf(A->B)=2/3, lift=8/9
    import pyspark.sql.functions as F  # noqa: F401

    rows = [(1, "A"), (1, "B"), (2, "A"), (2, "B"), (3, "A"), (4, "B")]
    ev = spark.createDataFrame(
        [(i, u, t) for i, (u, t) in enumerate(rows)],
        "event_id long, user_id long, event_type string",
    )
    import tempfile

    d = tempfile.mkdtemp()
    ev.write.parquet(f"{d}/events.parquet")
    out = {
        (r["antecedent"], r["consequent"]): r.asDict()
        for r in m.queries()["events_assoc_rules"](spark, d).collect()
    }
    ab = out[("A", "B")]
    assert ab["n_ab"] == 2
    assert ab["support"] == 0.5
    assert ab["confidence"] == round(2 / 3, 6)
    assert ab["lift"] == round((2 / 3) / (3 / 4), 6)
    ba = out[("B", "A")]
    assert ba["support"] == 0.5 and ba["confidence"] == round(2 / 3, 6)


def test_distributed_row_number_matches_window_randomized(spark):
    """bus.distributed_row_number (the two-phase global/per-key rank
    that underpins Gini, Lorenz, ABC shares, PR-AUC, RFM, offsets and
    SFT packing) must equal the single-task window row_number - 1 on
    random data, for BOTH the keyed and the global (empty part_cols)
    forms, across duplicate order-values (broken by the unique
    tiebreak) and key-group sizes from 1 to hundreds."""
    import random as _random

    from pyspark.sql import Window, functions as F

    from vanus_spark.bus import distributed_row_number

    rng = _random.Random(20260816)
    rows = []
    rid = 0
    for key in range(7):
        for _ in range(rng.choice([1, 3, 40, 200])):
            # heavy ties: order value drawn from a tiny domain
            rows.append((key, rng.randint(0, 5), rid))
            rid += 1
    df = spark.createDataFrame(rows, "k int, v int, uid long")

    got = distributed_row_number(df, ["k"], ["v", "uid"], "rk")
    w = Window.partitionBy("k").orderBy("v", "uid")
    want = df.withColumn("rk_w", F.row_number().over(w) - 1)
    joined = got.join(want, ["k", "v", "uid"])
    assert joined.where(F.col("rk") != F.col("rk_w")).count() == 0
    assert joined.count() == len(rows)

    got_g = distributed_row_number(df, [], ["v", "uid"], "rk")
    wg = Window.orderBy("v", "uid")
    want_g = df.withColumn("rk_w", F.row_number().over(wg) - 1)
    joined_g = got_g.join(want_g, ["k", "v", "uid"])
    assert joined_g.where(F.col("rk") != F.col("rk_w")).count() == 0


def test_distributed_row_number_slice_contract(spark):
    """keep_slice=True contract (the SFT packer depends on it): within
    every (key, slice), ranks are CONTIGUOUS, and slices ordered by id
    hold strictly increasing rank ranges."""
    import random as _random

    from pyspark.sql import functions as F

    from vanus_spark.bus import distributed_row_number

    rng = _random.Random(99)
    rows = [(i % 3, rng.randint(0, 10**6), i) for i in range(3000)]
    df = spark.createDataFrame(rows, "k int, v long, uid long")
    out = distributed_row_number(
        df, ["k"], ["v", "uid"], "rk", keep_slice=True
    )
    spans = (
        out.groupBy("k", "_slice")
        .agg(
            F.min("rk").alias("lo"),
            F.max("rk").alias("hi"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    by_key = {}
    for r in spans:
        assert r["hi"] - r["lo"] + 1 == r["n"], "ranks not contiguous"
        by_key.setdefault(r["k"], []).append((r["_slice"], r["lo"], r["hi"]))
    for k, lst in by_key.items():
        lst.sort()
        for (s1, lo1, hi1), (s2, lo2, hi2) in zip(lst, lst[1:]):
            assert hi1 < lo2, f"slice ranges overlap for key {k}"
