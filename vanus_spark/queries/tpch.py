"""TPC-H shapes and analytics over the TPC-H tables (orders, lineitem,
parts, suppliers, customers, nations)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from vanus_spark.queries.common import _events, _t


def q_tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                4,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_join_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        p.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rk")
    )


def q_skew_two_phase_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase (salted) aggregation — skew-proof count by type."""
    from vanus_spark.operators.skew import two_phase_count

    return two_phase_count(_events(spark, sf_dir), ["event_type"])


def q_tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (adapted to the fixture's columns): revenue
    locked in small-quantity orders of one brand's small parts —
    l_quantity below 20% of the PART'S OWN average. The correlated
    scalar subquery decorrelates into a per-part aggregate joined
    back (what Catalyst does to the SQL form); the comparison uses
    the integer identity 5*qty*cnt < sum(qty) (quantities are whole)
    and revenue sums in decimal(18,2), so both engines are exact —
    no float aggregation order anywhere."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    sel_parts = part.where(
        (F.col("p_brand") == "Brand#4") & (F.col("p_size") <= 25)
    ).select("p_partkey")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("_qsum"),
        F.count("*").alias("_qcnt"),
    )
    return (
        li.join(F.broadcast(sel_parts), li.l_partkey == sel_parts.p_partkey)
        .join(F.broadcast(per_part), "l_partkey")
        .where(
            F.col("l_quantity").cast("long") * 5 * F.col("_qcnt")
            < F.col("_qsum")
        )
        .agg(
            F.count("*").alias("n_small_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
                "small_qty_revenue"
            ),
        )
    )


def q_tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (adapted to the fixture's columns): unshipped
    BUILDING-segment revenue, top 10. Dims broadcast; the
    orders-lineitem join shuffles on the key both sides are already
    filtered down on."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1995-03-15")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_tpch_q5_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): the classic 6-way join
    — region/nation broadcast all the way down, customer and supplier
    both resolve to the SAME nation (the Q5 co-location predicate),
    revenue summed per nation. The only shuffles are the
    orders-lineitem key join and the final #nations-row aggregate;
    every dimension is a broadcast."""
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    asian_nations = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    cust = c.join(
        F.broadcast(asian_nations), c.c_nationkey == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey", "n_name")
    sup = s.select("s_suppkey", "s_nationkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), o.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds 250, with
    the customer attached. The HAVING aggregate partial-combines; the
    qualifying-key set then drives two key joins."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round("total_qty", 4).alias("total_qty"),
        )
    )


def q_tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): revenue lost to
    'R'-flag lineitems per customer over one quarter, top 20 — key
    join lineitem-orders, broadcast customer/nation dims, one
    aggregate, top-k via a bounded window over the rounded revenue
    (deterministic tiebreak on custkey)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return (
        rev.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 20)
    )


def q_tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join keeps zero-order customers, two stacked aggregates produce
    the histogram — integer-exact end to end."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q_tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue under brand/size/quantity
    DISJUNCTIONS): the OR-of-ANDs predicate is expressed declaratively
    so Catalyst can push the part-side conjuncts below the join and
    keep the whole filter in the scan/codegen path."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    q = F.col("l_quantity")
    pred = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 10)
         & q.between(5, 15))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 25)
           & q.between(15, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 40)
           & q.between(25, 40))
    )
    return j.where(pred).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


def q_tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): the classic
    scan-only aggregate — every predicate (ship-year, discount band,
    quantity cap) sits on the lineitem scan, zero joins, one partial
    aggregate. The float discount comparisons hit the SAME parquet
    doubles in both engines, so the band is deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q_tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): promo revenue share over
    one month — conditional sum / total sum in ONE aggregate over the
    lineitem-part broadcast join."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-03-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_pct"),
            F.count("*").alias("n_items"),
        )
    )


def q_tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): distinct
    suppliers per (brand, size) over the lineitem-part join, excluding
    two brands (NOT IN) and restricted to a size set — a per-group
    count_distinct kept UNMIXED with other aggregates (the Expand
    lesson)."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").where(
        ~F.col("p_brand").isin("Brand#1", "Brand#2")
        & F.col("p_size").isin(5, 10, 15, 20, 25, 30, 35, 40)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


def q_tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping between two nations): lineitem
    resolves to its SUPPLIER nation and, through orders->customer, to
    the CUSTOMER nation; keep only the (0,1)/(1,0) pairs across two
    ship-years. Both nation dims broadcast; one key-join shuffle +
    the final tiny aggregate."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    pair = (
        ((F.col("supp_nation") == "NATION_0") & (F.col("cust_nation") == "NATION_1"))
        | ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_0"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier, TIES INCLUDED): per-supplier
    quarter revenue, then the suppliers whose revenue equals the
    global max — the scalar-max subquery decorrelates into a one-row
    aggregate joined back as a broadcast; the equality compares
    round(4) revenues on both sides, so float fold order cannot break
    the tie set."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.join(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q_tpch_q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): orders in a 6-month
    window having at least one late-shipping lineitem (l_shipdate >
    o_orderdate), counted per priority. The EXISTS subquery becomes a
    LEFT SEMI join on the order key with the cross-table predicate in
    the join condition — one key-join shuffle + a tiny aggregate; no
    decorrelation fallback to an inner join + distinct."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sel = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return sel.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


def q_tpch_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    the fixture's columns: for finished ('F') orders, a supplier is
    'blamed' when its lineitem shipped late (> o_orderdate + 60 days),
    the order involved at least one OTHER supplier (EXISTS -> left-semi
    self-join on the order key), and NO other supplier in that order
    shipped late too (NOT EXISTS -> left-anti self-join). Both
    correlated subqueries become key-join shuffles against the same
    lineitem scan; supplier names resolve via a broadcast."""
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    base = li.join(
        o.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    late = base.where(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    ).select("l_orderkey", "l_suppkey")
    other = li.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    multi = late.join(
        other,
        (late.l_orderkey == other.o2_orderkey)
        & (late.l_suppkey != other.o2_suppkey),
        "left_semi",
    )
    late2 = late.select(
        F.col("l_orderkey").alias("b_orderkey"),
        F.col("l_suppkey").alias("b_suppkey"),
    )
    only_late = multi.join(
        late2,
        (multi.l_orderkey == late2.b_orderkey)
        & (multi.l_suppkey != late2.b_suppkey),
        "left_anti",
    )
    return (
        only_late.join(F.broadcast(s), only_late.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


def q_tpch_q22_idle_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity), adapted: LAPSED
    customers — balance above the positive-balance average and no
    order since 2000-09-01 — rolled up per nation. The scalar AVG
    subquery is a one-row aggregate joined back as a broadcast (never
    a driver collect); NOT EXISTS is a LEFT ANTI join against the
    date-filtered orders key (filter pushed to the scan)."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= "2000-09-01")
        .select("o_custkey")
    )
    thr = c.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    rich = c.join(F.broadcast(thr)).where(F.col("c_acctbal") > F.col("_avg_bal"))
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return idle.groupBy("c_nationkey").agg(
        F.count("*").alias("n_custs"),
        F.round(F.sum("c_acctbal"), 4).alias("total_acctbal"),
    )


def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): of all STANDARD-type
    parts sold into ASIA-region customers across 1996-1997, what
    fraction of each year's volume came from NATION_7 suppliers?
    Every dimension (part-after-filter, supplier+nation, customer+
    nation+region) broadcasts; the only shuffles are the
    lineitem-orders key join and the 2-row final aggregate — the plan
    that survives a 100x lineitem scale-up (ref parity:
    the reference has no TPC-H; this extends the §2 analytics
    surface the reference's CESQL queries imply)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD").select(
        "p_partkey"
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_orderdate")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_7", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share"),
            F.round(F.sum(vol), 4).alias("total_volume"),
            F.count("*").alias("n_items"),
        )
    )


def q_salted_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key salted join end-to-end (operators.skew.salted_join):
    a synthetic skew key funnels ~40% of events onto key 0, the
    build side is a per-key segment dim too 'large' to broadcast in
    the scenario this models, and the salted (key, replica) join
    spreads key 0 over 8 tasks. The oracle is the PLAIN join — the
    salt must be result-invariant."""
    from vanus_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "value",
        F.when(F.col("event_type") == "view", F.lit(0))
        .otherwise(F.col("user_id"))
        .cast("long")
        .alias("k"),
    )
    dim = (
        ev.select("k")
        .distinct()
        .select("k", F.pmod(F.col("k"), F.lit(5)).alias("segment"))
    )
    joined = salted_join(ev, dim, "k", hot_keys=[0], replicas=8)
    return joined.groupBy("segment").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def q_orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary
    quartile scores). Deliberately NOT ntile(): a global ntile is a
    single-task sort at 100 TB — instead the three quartile
    boundaries come from one exact-percentile aggregate (one row,
    broadcast back), and each customer scores by threshold
    comparison — fully parallel, and ties land deterministically on
    the same side in both engines because both compare the same
    round(6) values."""
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2001-09-01").cast("date"), F.max("o_orderdate")
        ).alias("recency_days"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 4).alias("monetary"),
    )
    thr = per_cust.agg(
        *[
            F.round(
                F.percentile(c, F.lit(q)), 6
            ).alias(f"{c}_q{int(q * 100)}")
            for c in ("recency_days", "frequency", "monetary")
            for q in (0.25, 0.5, 0.75)
        ]
    )

    def score(c: str, invert: bool) -> F.Column:
        v = F.col(c).cast("double")
        s = (
            F.lit(1)
            + (v > F.col(f"{c}_q25")).cast("int")
            + (v > F.col(f"{c}_q50")).cast("int")
            + (v > F.col(f"{c}_q75")).cast("int")
        )
        # recency: LOWER days-since = better -> invert to 5 - s
        return (F.lit(5) - s) if invert else s

    return (
        per_cust.join(F.broadcast(thr))
        .select(
            "o_custkey",
            score("recency_days", True).alias("r_score"),
            score("frequency", False).alias("f_score"),
            score("monetary", False).alias("m_score"),
        )
        .withColumn(
            "segment",
            F.concat_ws(
                "", F.col("r_score"), F.col("f_score"), F.col("m_score")
            ),
        )
    )


def q_basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining over orders: for every
    unordered brand pair bought together in >= 5 orders, the support
    count, confidence P(b|a) on the lexicographically smaller side,
    and lift vs independence. The pair join is per-order (bounded by
    items-per-order, like the shingle inverted index — never a global
    cross join); brand totals broadcast back. Deterministic: counts
    are exact integers, ratios rounded."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a, b = ob.alias("a"), ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 5)
    )
    totals = ob.groupBy("p_brand").agg(F.count("*").alias("n_orders"))
    n_all = ob.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_baskets")
    )
    ta = totals.select(
        F.col("p_brand").alias("brand_a"), F.col("n_orders").alias("n_a")
    )
    tb = totals.select(
        F.col("p_brand").alias("brand_b"), F.col("n_orders").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(ta), "brand_a")
        .join(F.broadcast(tb), "brand_b")
        .join(F.broadcast(n_all))
        .select(
            "brand_a",
            "brand_b",
            "support",
            F.round(F.col("support") / F.col("n_a"), 6).alias("confidence"),
            F.round(
                (F.col("support") * F.col("n_baskets")).cast("double")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


def q_pareto_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / cumulative-contribution analysis: brands ranked by
    revenue with running share of total — the 80/20 concentration
    report. The window is over the ~25-row BRAND AGGREGATE (global
    ordering is fine on an aggregate that small; the lineitem-scale
    work is one partial-agg shuffle). Revenue is rounded BEFORE the
    running sum so both engines fold identical doubles; the window
    frame is the explicit running prefix."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice", "l_discount")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )
    tot = rev.agg(F.sum("revenue").alias("_tot"))
    w = (
        Window.orderBy(F.col("revenue").desc(), F.col("p_brand"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.join(F.broadcast(tot))
        .select(
            "p_brand",
            "revenue",
            F.row_number()
            .over(Window.orderBy(F.col("revenue").desc(), F.col("p_brand")))
            .alias("rank"),
            F.round(F.sum("revenue").over(w) / F.col("_tot"), 6).alias(
                "cum_share"
            ),
        )
    )


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics — the report you run BEFORE picking a
    join/partition strategy at 100 TB: per candidate key column, the
    distinct-key count, the share of all rows on the hottest key, the
    max/mean key-frequency ratio, and the top key itself. One
    groupBy(key) per column plus a 1-row fold; the hot-key share
    directly answers 'does this join need a broadcast, AQE skew
    split, or salting?'. Top-key ties break to the lexicographically
    LARGER key (max over (n, k) structs) so the report is
    deterministic."""
    ev = _t(spark, sf_dir, "events")
    docs = _t(spark, sf_dir, "documents")
    parts = []
    for tbl, df, col in (
        ("events", ev, "user_id"),
        ("events", ev, "event_type"),
        ("documents", docs, "lang"),
        ("documents", docs, "source"),
    ):
        freq = df.groupBy(F.col(col).cast("string").alias("k")).agg(
            F.count("*").alias("n")
        )
        parts.append(
            freq.agg(
                F.lit(f"{tbl}.{col}").alias("key_column"),
                F.count("*").alias("n_keys"),
                F.sum("n").alias("n_rows"),
                F.round(F.max("n") / F.sum("n"), 6).alias("top_share"),
                F.round(
                    F.max("n") / (F.sum("n") / F.count("*")), 6
                ).alias("max_over_mean"),
                F.max(F.struct(F.col("n"), F.col("k")))
                .getField("k")
                .alias("top_key"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_SHIPMODES = ["REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"]


def _derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    i = F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i")
    base = p.select(F.col("p_partkey"), i)
    sk = (F.col("p_partkey") + F.col("i") * 31) % 100
    return base.select(
        F.col("p_partkey").alias("ps_partkey"),
        sk.alias("ps_suppkey"),
        ((F.col("p_partkey") * 7 + sk * 3) % 9999 + 1)
        .cast("long")
        .alias("ps_availqty"),
        (((F.col("p_partkey") * 13 + sk * 17) % 10000) / 100.0 + 1.0).alias(
            "ps_supplycost"
        ),
    )


_PARTSUPP_SQL = """
  partsupp AS (
    SELECT p_partkey AS ps_partkey,
           (p_partkey + i * 31) % 100 AS ps_suppkey,
           ((p_partkey * 7 + ((p_partkey + i * 31) % 100) * 3) % 9999 + 1)::BIGINT
             AS ps_availqty,
           ((p_partkey * 13 + ((p_partkey + i * 31) % 100) * 17) % 10000)
             / 100.0 + 1.0 AS ps_supplycost
    FROM part, (VALUES (0), (1), (2), (3)) t(i))
"""


def _derived_lineitem_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem + derived shipmode/commitdate/receiptdate (midnight
    timestamps + whole days stay exact in both engines)."""
    li = _t(spark, sf_dir, "lineitem")
    mode_ix = (F.col("l_orderkey") + F.col("l_linenumber")) % 7
    return li.select(
        "*",
        F.element_at(
            F.array(*[F.lit(m) for m in _SHIPMODES]), mode_ix.cast("int") + 1
        ).alias("l_shipmode"),
        F.expr(
            "l_shipdate + make_dt_interval("
            "CAST((l_orderkey + l_linenumber) % 61 - 30 AS INT), 0, 0, 0)"
        ).alias("l_commitdate"),
        F.expr(
            "l_shipdate + make_dt_interval("
            "CAST((l_orderkey * 3 + l_linenumber) % 30 + 1 AS INT), 0, 0, 0)"
        ).alias("l_receiptdate"),
    )


_LINEITEM_SHIP_SQL = """
  lineitem_ship AS (
    SELECT *,
           (['REG AIR','AIR','RAIL','SHIP','TRUCK','MAIL','FOB'])
             [((l_orderkey + l_linenumber) % 7 + 1)::INTEGER] AS l_shipmode,
           l_shipdate + INTERVAL ((l_orderkey + l_linenumber) % 61 - 30) DAY
             AS l_commitdate,
           l_shipdate + INTERVAL ((l_orderkey * 3 + l_linenumber) % 30 + 1) DAY
             AS l_receiptdate
    FROM lineitem)
"""


def q_tpch_q2_min_cost_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): the correlated scalar
    subquery `ps_supplycost = (SELECT min(...) ...)` becomes a
    per-part min aggregate joined back — no correlated re-execution,
    one partial-agg shuffle. Region-filtered suppliers broadcast."""
    ps = _derived_partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_size") == 11) & (F.col("p_type") == "ECONOMY")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    sup_asia = (
        s.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
               s.s_nationkey == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    costs = ps.join(F.broadcast(sup_asia), ps.ps_suppkey == F.col("s_suppkey"))
    min_cost = costs.groupBy("ps_partkey").agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    return (
        costs.join(F.broadcast(min_cost), "ps_partkey")
        .where(F.col("ps_supplycost") == F.col("min_cost"))
        .join(F.broadcast(p), F.col("ps_partkey") == p.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            F.round("ps_supplycost", 2).alias("supplycost"),
        )
    )


def q_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): lineitem ⋈ partsupp on the
    COMPOSITE (part, supp) key — the one join shape no other query
    exercises — with profit = revenue - supplycost*qty rolled up by
    supplier nation and order year. Dimensions broadcast; lineitem-
    orders is the only key-join shuffle."""
    ps = _derived_partsupp(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    sup_n = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", "n_name"
    )
    profit = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(
            F.broadcast(ps),
            (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey),
        )
        .join(F.broadcast(sup_n), li.l_suppkey == F.col("s_suppkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
                - F.col("ps_supplycost") * F.col("l_quantity")
            ).alias("amount"),
        )
    )
    return profit.groupBy("nation", "o_year").agg(
        F.round(F.sum("amount"), 4).alias("sum_profit"),
        F.count("*").alias("n_items"),
    )


def q_tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock): per-part inventory value in one
    nation vs a 0.1% threshold of the total — the scalar aggregate
    broadcasts as a one-row cross join, never a correlated subquery."""
    ps = _derived_partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    in_nation = ps.join(
        F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)),
        ps.ps_suppkey == F.col("s_suppkey"),
    ).select(
        "ps_partkey",
        (F.col("ps_supplycost") * F.col("ps_availqty")).alias("value"),
    )
    per_part = in_nation.groupBy("ps_partkey").agg(
        F.sum("value").alias("part_value")
    )
    total = in_nation.groupBy().agg(
        (F.sum("value") * 0.001).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("part_value") > F.col("threshold"))
        .select("ps_partkey", F.round("part_value", 2).alias("stock_value"))
    )


def q_tpch_q12_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping-mode priority): late-commit analysis over
    the derived shipmode/commit/receipt columns; one key join + one
    2-row aggregate."""
    li = _derived_lineitem_ship(spark, sf_dir).where(
        F.col("l_shipmode").isin("MAIL", "SHIP")
        & (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.col("l_shipdate") < F.col("l_commitdate"))
        & (F.col("l_receiptdate") >= "1996-01-01")
        & (F.col("l_receiptdate") < "1998-01-01")
    )
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q_tpch_q20_potential_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): suppliers whose derived
    availqty exceeds half the 1997 shipped quantity of that
    (part, supplier) for prefix-named parts — the nested
    IN-subquery chain becomes aggregate → join → semi-join."""
    ps = _derived_partsupp(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    s = _t(spark, sf_dir, "supplier")
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("qty_1997")
    )
    promo_supps = (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .where(F.col("ps_availqty") > 0.5 * F.col("qty_1997"))
        .select("ps_suppkey")
        .distinct()
    )
    return s.join(
        promo_supps, s.s_suppkey == F.col("ps_suppkey")
    ).select("s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal"))


def q_orders_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension built from the orders history
    (operators/scd.py): per customer, runs of equal o_orderpriority
    compress to one row with [valid_from, valid_to) bounds and an
    is_current flag. All per-key windows on o_custkey — one shuffle,
    no global sort. Same-day ties collapse to the highest o_orderkey
    BEFORE the run compression so the per-key order is total."""
    from vanus_spark.operators.scd import scd2_build

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.col("o_orderkey").desc()
    )
    hist = (
        o.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("o_custkey", "o_orderdate", "o_orderpriority")
    )
    return scd2_build(hist, "o_custkey", "o_orderpriority", ["o_orderdate"])


def q_orders_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: monthly revenue forecast =
    the same month one year earlier (lag 12 over the dense month
    series), with per-month absolute error — the baseline every
    demand-forecasting pipeline reports before trying anything
    smarter. One aggregate + one ordered window; revenue sums round(4)
    on both sides (the TPC-H float-sum convention) before the error
    arithmetic."""
    orders = _t(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.round(F.sum("o_totalprice"), 4).alias("actual"))
    )
    w = Window.orderBy("month")
    out = monthly.withColumn("forecast", F.lag("actual", 12).over(w))
    return out.where(F.col("forecast").isNotNull()).select(
        F.date_format("month", "yyyy-MM").alias("month"),
        "actual",
        "forecast",
        F.round(F.abs(F.col("actual") - F.col("forecast")), 4).alias(
            "abs_err"
        ),
    )


def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality report (operators/joinstats.py) for the two
    workhorse TPC-H joins: output size + hottest key from per-side key
    histograms WITHOUT running the join, next to the distinct-count
    planner estimate. The histogram inner product is exact for the
    inner join, so the oracle can check it against SQL aggregation of
    the same histograms."""
    from vanus_spark.operators.joinstats import join_size_estimate

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    a = join_size_estimate(cust, orders, "c_custkey", "o_custkey", "customer_orders")
    b = join_size_estimate(orders, li, "o_orderkey", "l_orderkey", "orders_lineitem")
    return a.unionByName(b)


def q_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of event value per event type — the
    inequality statistic next to pareto_brands' 80/20 cut: values go
    to exact integer cents, the per-type ascending rank comes from the
    two-phase distributed rank (never a single-task sort), and
    G = (2*S1 - (n+1)*S0) / (n*S0) is assembled from EXACT decimal
    sums with ONE double division — engine-exact, like the chi2 gate."""
    from vanus_spark.bus import distributed_row_number

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    ranked = distributed_row_number(
        ev, ["event_type"], ["cents", "event_id"], "rk"
    )
    agg = ranked.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s0"),
        F.sum(
            ((F.col("rk") + 1).cast("decimal(38,0)"))
            * F.col("cents").cast("decimal(38,0)")
        ).alias("s1"),
    )
    gini = (
        (F.lit(2).cast("decimal(38,0)") * F.col("s1")
         - (F.col("n") + 1) * F.col("s0")).cast("double")
        / (F.col("n") * F.col("s0")).cast("double")
    )
    return agg.select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.round(gini, 6).alias("gini"),
    )


def q_lineitem_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag Spearman rank correlation between order
    quantity and discount — the monotone-association readout ("do
    bigger orders get deeper discounts?") that Pearson gets wrong on
    skewed metrics. Both variables live on bounded lattices (50
    quantities, 11 discount steps cast to exact cents), so average
    ranks derive from per-(flag, value) counts: the rank maps are
    broadcastable dims and the fact table is scanned exactly twice.
    rho = Pearson on the average ranks (the standard tie treatment),
    via the built-in corr aggregate."""
    from vanus_spark.operators.hyptests import spearman_by_group

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        F.expr("CAST(round(l_discount * 100) AS BIGINT)").alias("disc_c"),
    )
    out = spearman_by_group(li, "qty", "disc_c", "l_returnflag")
    return out.orderBy("l_returnflag")


def q_orders_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for mean order value — the at-scale
    bootstrap (Poisson(1) weights converge to sampling-with-
    replacement) made DETERMINISTIC: replicate r's weight for an
    order is the inverse-CDF draw from md5(seed_r | orderkey), so the
    DuckDB oracle re-derives the identical 40 replicate sums. All 40
    weighted sums fold into ONE aggregation pass in exact BIGINT
    cents — no 40-way explode, no resampling shuffle; the map-side
    combine carries 82 partial sums per task and nothing else."""
    from vanus_spark.operators.hyptests import poisson_bootstrap_mean

    orders = _t(spark, sf_dir, "orders").withColumn(
        "_cents", F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    )
    return poisson_bootstrap_mean(
        orders, "_cents", "o_orderkey", reps=40, seed=7
    )


def q_lineitem_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag Kendall tau-b between order quantity and
    discount (operators/hyptests.kendall_tau_by_group) — the
    pair-concordance association next to q_lineitem_spearman's
    rank correlation, on the SAME lattice framing: C and D fold from
    a self-join of the bounded (flag, qty, disc) cell table (<= 550
    cells per flag), the raw lineitem touched only by the counting
    pass."""
    from vanus_spark.operators.hyptests import kendall_tau_by_group

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        F.expr("CAST(round(l_discount * 100) AS BIGINT)").alias("disc_c"),
    )
    return kendall_tau_by_group(li, "qty", "disc_c", "l_returnflag").orderBy(
        "l_returnflag"
    )


def q_orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers cohorted by first-order
    month, cumulative revenue per cohort member by month age — the
    marketing-finance companion to q_events_cohort_retention
    (retention says who comes back; LTV says what they are worth by
    age). Exact integer cents end to end: one per-order collapse to
    (cohort, age) cells, cohort sizes from the first-order pass, a
    running sum over the bounded cohort x age table, one division at
    the readout."""
    orders = _t(spark, sf_dir, "orders")
    om = F.date_trunc("month", "o_orderdate")
    with_cohort = orders.select(
        "o_custkey",
        om.alias("_om"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("_cents"),
    ).withColumn(
        "_cohort", F.min("_om").over(Window.partitionBy("o_custkey"))
    )
    cells = with_cohort.groupBy(
        F.date_format("_cohort", "yyyy-MM").alias("cohort"),
        (
            (F.year("_om") - F.year("_cohort")) * 12
            + (F.month("_om") - F.month("_cohort"))
        ).cast("long").alias("age_months"),
    ).agg(F.sum("_cents").alias("_cents"))
    sizes = (
        with_cohort.groupBy("o_custkey")
        .agg(F.date_format(F.min("_cohort"), "yyyy-MM").alias("cohort"))
        .groupBy("cohort")
        .agg(F.count("*").alias("n_customers"))
    )
    w_run = Window.partitionBy("cohort").orderBy("age_months").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        cells.withColumn("_cum", F.sum("_cents").over(w_run))
        .join(sizes, "cohort")
        .select(
            "cohort",
            "age_months",
            "n_customers",
            F.round(F.col("_cents").cast("double") / 100.0, 2).alias(
                "revenue"
            ),
            F.round(
                F.col("_cum").cast("double")
                / 100.0
                / F.col("n_customers"),
                6,
            ).alias("cum_ltv_per_customer"),
        )
        .orderBy("cohort", "age_months")
    )


def q_lineitem_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC revenue classification of parts (the 80/15/5 inventory
    rule): parts ranked by revenue on the two-phase distributed rank,
    cumulative revenue share via the SAME slice-prefix pattern as the
    SFT packer (per-slice totals + triangular broadcast + windows
    partitioned BY SLICE — never a single-task global running sum),
    class cuts tested in EXACT integer algebra (cum*5 <= grand*4 for
    the 80% A-cut), then a 3-row class rollup. Revenue =
    extendedprice * (1 - discount) in exact cents."""
    from vanus_spark.bus import distributed_row_number

    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.expr(
                "CAST(round(l_extendedprice * (1 - l_discount) * 100)"
                " AS BIGINT)"
            )
        ).alias("_cents")
    )
    ranked = distributed_row_number(
        rev.withColumn("_negc", -F.col("_cents")),
        [],
        ["_negc", "l_partkey"],
        "_rk",
        keep_slice=True,
    )
    slice_tot = ranked.groupBy("_slice").agg(F.sum("_cents").alias("_sc"))
    a, b = slice_tot.alias("a"), slice_tot.alias("b")
    prefix = a.join(
        b, F.col("b._slice") < F.col("a._slice"), "left"
    ).groupBy(F.col("a._slice").alias("_slice")).agg(
        F.coalesce(F.sum("b._sc"), F.lit(0)).alias("_pre")
    )
    w_slice = Window.partitionBy("_slice").orderBy("_rk").rowsBetween(
        Window.unboundedPreceding, 0
    )
    grand = rev.agg(F.sum("_cents").alias("_grand"))
    cum = (
        ranked.join(F.broadcast(prefix), "_slice")
        .withColumn("_cum", F.col("_pre") + F.sum("_cents").over(w_slice))
        .crossJoin(F.broadcast(grand))
    )
    cls = (
        F.when(F.col("_cum") * 5 <= F.col("_grand") * 4, F.lit("A"))
        .when(F.col("_cum") * 20 <= F.col("_grand") * 19, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return (
        cum.select(cls.alias("abc_class"), "_cents", "_grand")
        .groupBy("abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(
                F.sum("_cents").cast("double") / 100.0, 2
            ).alias("revenue"),
            F.round(
                F.sum("_cents").cast("double") / F.max("_grand"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


def q_part_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indices per ship month vs
    the first month (the econ-stats basket readout: how unit prices
    moved holding quantities at base — or current — weights): unit
    prices from exact (cents, qty) integer pairs per (part, month),
    restricted to parts present in both base and the month (the
    matched-basket convention). One (part, month) collapse; the index
    math runs on the matched-cell table."""
    li = _t(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        "l_partkey",
        F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias(
            "month"
        ),
    ).agg(
        F.sum(
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
        ).alias("_cents"),
        F.sum(F.col("l_quantity").cast("long")).alias("_qty"),
    )
    base_month = cells.agg(F.min("month").alias("_bm"))
    base = (
        cells.crossJoin(F.broadcast(base_month))
        .where(F.col("month") == F.col("_bm"))
        .select(
            "l_partkey",
            (F.col("_cents").cast("double") / F.col("_qty")).alias("_p0"),
            F.col("_qty").alias("_q0"),
        )
    )
    cur = cells.select(
        "l_partkey",
        "month",
        (F.col("_cents").cast("double") / F.col("_qty")).alias("_pt"),
        F.col("_qty").alias("_qt"),
    )
    j = cur.join(F.broadcast(base), "l_partkey")
    agg = j.groupBy("month").agg(
        F.count("*").alias("n_parts"),
        F.sum(F.col("_pt") * F.col("_q0")).alias("_l_num"),
        F.sum(F.col("_p0") * F.col("_q0")).alias("_l_den"),
        F.sum(F.col("_pt") * F.col("_qt")).alias("_p_num"),
        F.sum(F.col("_p0") * F.col("_qt")).alias("_p_den"),
    )
    lasp = F.col("_l_num") / F.col("_l_den")
    paas = F.col("_p_num") / F.col("_p_den")
    return agg.select(
        "month",
        "n_parts",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    ).orderBy("month")


def q_lineitem_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification (the companion to
    q_lineitem_abc — ABC says how much a part matters, XYZ says how
    predictable it is): per part the coefficient of variation of
    monthly demand over the FULL month range (absent months count as
    zero demand via the global month-count denominator, all moments
    exact BIGINT), classes X (cv < 0.5) / Y (< 1.0) / Z, rolled up to
    class counts. One (part, month) collapse + one part-level fold."""
    li = _t(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        "l_partkey", F.date_trunc("month", "l_shipdate").alias("_m")
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("_q"))
    n_months = monthly.agg(
        F.countDistinct("_m").alias("_nm")
    )
    per_part = monthly.groupBy("l_partkey").agg(
        F.sum("_q").alias("_sq"), F.sum(F.col("_q") * F.col("_q")).alias(
            "_sqq"
        )
    )
    j = per_part.crossJoin(F.broadcast(n_months))
    nm = F.col("_nm").cast("double")
    mu = F.col("_sq").cast("double") / nm
    sigma = F.sqrt(
        (F.col("_sqq").cast("double") - F.col("_sq") * mu) / nm
    )
    cv = sigma / mu
    cls = (
        F.when(cv < 0.5, F.lit("X"))
        .when(cv < 1.0, F.lit("Y"))
        .otherwise(F.lit("Z"))
    )
    staged = j.select(cls.alias("xyz_class"), cv.alias("_cv"))
    tot = staged.agg(F.count("*").alias("_t"))
    return (
        staged.groupBy("xyz_class")
        .agg(F.count("*").alias("n_parts"), F.round(F.avg("_cv"), 6).alias("avg_cv"))
        .crossJoin(F.broadcast(tot))
        .select(
            "xyz_class",
            "n_parts",
            F.round(F.col("n_parts").cast("double") / F.col("_t"), 6).alias(
                "share"
            ),
            "avg_cv",
        )
        .orderBy("xyz_class")
    )


def q_brand_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log price elasticity of demand per brand: regr_slope(
    ln(monthly qty), ln(unit price)) over (part, month) cells — the
    pricing-analytics readout (elasticity < -1 = elastic demand).
    Unit prices from exact integer (cents, qty) pairs; the part dim
    broadcasts; regression runs per brand on the bounded cell
    table."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cells = (
        li.groupBy(
            "l_partkey",
            F.date_trunc("month", "l_shipdate").alias("_m"),
        )
        .agg(
            F.sum(
                F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
            ).alias("_cents"),
            F.sum(F.col("l_quantity").cast("long")).alias("_qty"),
        )
        .join(
            F.broadcast(part),
            F.col("l_partkey") == F.col("p_partkey"),
        )
    )
    lnq = F.log(F.col("_qty").cast("double"))
    lnp = F.log(F.col("_cents").cast("double") / F.col("_qty"))
    staged = cells.select(
        "p_brand", lnq.alias("_lnq"), lnp.alias("_lnp")
    )
    return (
        staged.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_cells"),
            F.round(F.expr("regr_slope(_lnq, _lnp)"), 6).alias(
                "elasticity"
            ),
            F.round(F.expr("regr_r2(_lnq, _lnp)"), 6).alias("r2"),
        )
        .orderBy("p_brand")
    )


def q_brand_rolling_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """28-day rolling market share per part brand over 1995 ship
    dates — the category-management trend readout. Revenue stays on
    the exact cent-percent lattice (price_cents * (100 - disc_pct));
    the raw table collapses once to #brands x #days, the rolling sums
    are RANGE windows over the integer day number (per brand, plus a
    single 365-row daily-total series partitioned by a constant so the
    bounded frame doesn't emit the no-partition warning), and the
    share is one final division. Part joins un-hinted: it scales
    with SF, so AQE picks broadcast only while it fits."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-01-01"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
        * (100 - F.expr("CAST(round(l_discount * 100) AS BIGINT)"))
    ).alias("rev")
    daily = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(
            "p_brand",
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.lit("1995-01-01").cast("date"),
            ).alias("dnum"),
            rev,
        )
        .groupBy("p_brand", "dnum")
        .agg(F.sum("rev").alias("rev"))
    )
    wb = (
        Window.partitionBy("p_brand").orderBy("dnum").rangeBetween(-27, 0)
    )
    rolled = daily.select(
        "p_brand", "dnum", F.sum("rev").over(wb).alias("roll")
    )
    tot = daily.groupBy("dnum").agg(F.sum("rev").alias("trev"))
    wt = Window.partitionBy(F.lit(1)).orderBy("dnum").rangeBetween(-27, 0)
    tot_rolled = tot.select(
        "dnum", F.sum("trev").over(wt).alias("troll")
    )
    out = rolled.join(tot_rolled, "dnum").select(
        "dnum",
        "p_brand",
        F.col("roll").alias("roll_cp"),
        F.round(
            F.col("roll").cast("double") / F.col("troll").cast("double"), 6
        ).alias("share"),
    )
    return out.orderBy("dnum", "p_brand")


def q_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier-concentration index per nation
    (the procurement-risk readout: is one supplier dominating?):
    per-supplier revenue on the exact cent-percent lattice, then
    HHI = sum(rev_i^2) / total^2 with the squares summed in
    DECIMAL(38,0) (HUGEINT on the oracle side) so the quadratic
    lattice never overflows BIGINT at scale. Two partial-agg shuffles
    (supplier rollup, nation rollup); nation is a broadcast dim,
    supplier joins un-hinted (it scales with SF)."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
        * (100 - F.expr("CAST(round(l_discount * 100) AS BIGINT)"))
    ).alias("rev")
    per_sup = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .select("s_nationkey", "s_suppkey", rev)
        .groupBy("s_nationkey", "s_suppkey")
        .agg(F.sum("rev").alias("rs"))
    )
    per_nat = per_sup.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        F.sum("rs").alias("total"),
        F.sum(
            F.col("rs").cast("decimal(19,0)")
            * F.col("rs").cast("decimal(19,0)")
        ).alias("sumsq"),
        F.max("rs").alias("top_rev"),
    )
    hhi = F.col("sumsq").cast("double") / (
        F.col("total").cast("double") * F.col("total").cast("double")
    )
    return (
        per_nat.join(
            F.broadcast(nat), per_nat.s_nationkey == nat.n_nationkey
        )
        .select(
            "n_name",
            "n_suppliers",
            F.round(hhi, 6).alias("hhi"),
            F.round(
                F.col("top_rev").cast("double")
                / F.col("total").cast("double"),
                6,
            ).alias("top_share"),
        )
        .orderBy("n_name")
    )


def q_lineitem_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue waterfall per ship year: gross -> (- discount) -> net
    -> (+ tax) -> charge, every step an exact integer on the
    cent-percent-percent lattice (price*10000, price*disc*100,
    price*(100-disc)*tax) summed in DECIMAL(38,0)/HUGEINT so the
    quadratic units survive any SF. ONE map-side combined aggregate;
    dollars and the discount leakage ratio are final-step
    divisions."""
    li = _t(spark, sf_dir, "lineitem")
    pc = F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    dp = F.expr("CAST(round(l_discount * 100) AS BIGINT)")
    tp = F.expr("CAST(round(l_tax * 100) AS BIGINT)")
    staged = li.select(
        F.year("l_shipdate").alias("ship_year"),
        (pc * 10000).cast("decimal(38,0)").alias("gross_cpp"),
        (pc * dp * 100).cast("decimal(38,0)").alias("disc_cpp"),
        (pc * (100 - dp) * tp).cast("decimal(38,0)").alias("tax_cpp"),
    )
    g = staged.groupBy("ship_year").agg(
        F.count("*").alias("n_lines"),
        F.sum("gross_cpp").alias("g"),
        F.sum("disc_cpp").alias("d"),
        F.sum("tax_cpp").alias("t"),
    )
    usd = lambda c: F.round(c.cast("double") / 1000000.0, 4)  # noqa: E731
    return g.select(
        "ship_year",
        "n_lines",
        usd(F.col("g")).alias("gross_usd"),
        usd(F.col("d")).alias("discount_usd"),
        usd(F.col("g") - F.col("d")).alias("net_usd"),
        usd(F.col("t")).alias("tax_usd"),
        usd(F.col("g") - F.col("d") + F.col("t")).alias("charge_usd"),
        F.round(
            F.col("d").cast("double") / F.col("g").cast("double"), 6
        ).alias("discount_leakage"),
    ).orderBy("ship_year")


def q_orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging buckets per priority as of 1998-08-01
    (the fulfillment-ops report): age = days since order date, bucketed
    0-30 / 31-90 / 91-365 / 365+; one filtered map-side combined
    aggregate, all integers except the final dollar division."""
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderstatus").isin("O", "P")
    )
    age = F.datediff(
        F.lit("1998-08-01").cast("date"), F.col("o_orderdate").cast("date")
    )
    bucket = (
        F.when(age <= 30, "00-30")
        .when(age <= 90, "31-90")
        .when(age <= 365, "91-365")
        .otherwise("365+")
    )
    g = o.select(
        "o_orderpriority",
        bucket.alias("age_bucket"),
        age.alias("age"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    ).groupBy("o_orderpriority", "age_bucket")
    return (
        g.agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("cents").cast("double") / 100.0, 2).alias(
                "backlog_usd"
            ),
            F.max("age").alias("oldest_days"),
        )
        .orderBy("o_orderpriority", "age_bucket")
    )


def q_nation_revenue_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per customer nation: exact cents
    per (nation, order year), then one lag window over the #nations x
    #years rollup — the growth table every regional dashboard leads
    with. Nation is a broadcast dim; customer scales with SF so its
    join stays un-hinted for AQE. First year emits NULL growth
    explicitly."""
    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per = (
        o.join(cust, o.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("yr"))
        .agg(
            F.sum(
                F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
            ).alias("cents")
        )
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    prev = F.lag("cents").over(w)
    return per.select(
        "n_name",
        "yr",
        F.round(F.col("cents").cast("double") / 100.0, 2).alias(
            "revenue_usd"
        ),
        F.round(
            (F.col("cents") - prev).cast("double") / prev.cast("double"), 6
        ).alias("yoy_growth"),
    ).orderBy("n_name", "yr")


def q_lineitem_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order priority (the
    fulfillment SLA report): latency = days from order date to line
    ship date, aggregated to n / exact mean (integer day sums) /
    interpolated p50 + p90 / min / max. One equi-join on orderkey
    (both sides shuffle on the same key; at scale this is the
    bucketed-join candidate) and one map-side combined aggregate."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        ).alias("days"),
    )
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum("days").cast("double") / F.count("*").cast("double"),
                6,
            ).alias("mean_days"),
            F.expr("percentile(days, 0.5)").alias("p50_days"),
            F.expr("percentile(days, 0.9)").alias("p90_days"),
            F.min("days").alias("min_days"),
            F.max("days").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


def q_orders_mix_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue-change decomposition per order priority
    into volume and price effects (the FP&A bridge: delta_rev =
    delta_n * avg_prev + n_now * delta_avg, an exact identity):
    ONE (priority, year) rollup on the exact cents lattice, one lag
    window over the #priorities x #years dim, and the effects are
    fixed IEEE expressions shared with the oracle."""
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy(
        "o_orderpriority", F.year("o_orderdate").alias("yr")
    ).agg(
        F.count("*").alias("n"),
        F.sum(
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
        ).alias("cents"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("yr")
    staged = per.select(
        "o_orderpriority",
        "yr",
        "n",
        "cents",
        F.lag("n").over(w).alias("pn"),
        F.lag("cents").over(w).alias("pc"),
    ).where(F.col("pn").isNotNull())
    avg_prev = F.col("pc").cast("double") / F.col("pn").cast("double")
    avg_now = F.col("cents").cast("double") / F.col("n").cast("double")
    vol = (F.col("n") - F.col("pn")).cast("double") * avg_prev
    price = F.col("n").cast("double") * (avg_now - avg_prev)
    usd = lambda c: F.round(c / 100.0, 4)  # noqa: E731
    return staged.select(
        "o_orderpriority",
        "yr",
        usd((F.col("cents") - F.col("pc")).cast("double")).alias(
            "delta_rev_usd"
        ),
        usd(vol).alias("volume_effect_usd"),
        usd(price).alias("price_effect_usd"),
    ).orderBy("o_orderpriority", "yr")


def q_orders_repeat_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-customer share per order quarter (the loyalty KPI):
    an order is a repeat when its customer has a strictly earlier
    order; first-order dates come from ONE per-customer min window
    (same key partitioning as the rollup), then a (year, quarter)
    aggregate. Exact integer counts to the final ratio."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    staged = o.select(
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        (
            F.col("o_orderdate") > F.min("o_orderdate").over(w)
        ).cast("long").alias("is_repeat"),
    )
    g = staged.groupBy("yr", "qtr").agg(
        F.count("*").alias("n_orders"),
        F.sum("is_repeat").alias("n_repeat"),
    )
    return g.select(
        "yr",
        "qtr",
        "n_orders",
        "n_repeat",
        F.round(
            F.col("n_repeat").cast("double")
            / F.col("n_orders").cast("double"),
            6,
        ).alias("repeat_rate"),
    ).orderBy("yr", "qtr")


def _abc_class_per_part(spark, li, year: int):
    """ABC class per part for one ship year — the q_lineitem_abc
    machinery (two-phase rank + slice-prefix cumulative share + exact
    integer cut tests), returned per part instead of rolled up."""
    from vanus_spark.bus import distributed_row_number

    rev = (
        li.where(F.year("l_shipdate") == year)
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(l_extendedprice * (1 - l_discount)"
                    " * 100) AS BIGINT)"
                )
            ).alias("_cents")
        )
    )
    ranked = distributed_row_number(
        rev.withColumn("_negc", -F.col("_cents")),
        [],
        ["_negc", "l_partkey"],
        "_rk",
        keep_slice=True,
    )
    slice_tot = ranked.groupBy("_slice").agg(F.sum("_cents").alias("_sc"))
    sa, sb = slice_tot.alias("a"), slice_tot.alias("b")
    prefix = sa.join(
        sb, F.col("b._slice") < F.col("a._slice"), "left"
    ).groupBy(F.col("a._slice").alias("_slice")).agg(
        F.coalesce(F.sum("b._sc"), F.lit(0)).alias("_pre")
    )
    w_slice = Window.partitionBy("_slice").orderBy("_rk").rowsBetween(
        Window.unboundedPreceding, 0
    )
    grand = rev.agg(F.sum("_cents").alias("_grand"))
    cum = (
        ranked.join(F.broadcast(prefix), "_slice")
        .withColumn("_cum", F.col("_pre") + F.sum("_cents").over(w_slice))
        .crossJoin(F.broadcast(grand))
    )
    cls = (
        F.when(F.col("_cum") * 5 <= F.col("_grand") * 4, F.lit("A"))
        .when(F.col("_cum") * 20 <= F.col("_grand") * 19, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return cum.select("l_partkey", cls.alias("cls"))


def q_parts_abc_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-class migration matrix of parts between ship years 1996 and
    1997 (the inventory-policy churn readout: which A-parts slid to
    C?): each year's classes come from the shared two-phase-rank ABC
    machinery (never a single-task running sum), inner-joined on
    partkey into a 3x3 transition rollup with per-origin retention
    shares. Exact integers to the final division."""
    li = _t(spark, sf_dir, "lineitem")
    c96 = _abc_class_per_part(spark, li, 1996).select(
        "l_partkey", F.col("cls").alias("cls_from")
    )
    c97 = _abc_class_per_part(spark, li, 1997).select(
        "l_partkey", F.col("cls").alias("cls_to")
    )
    mat = c96.join(c97, "l_partkey").groupBy("cls_from", "cls_to").agg(
        F.count("*").alias("n_parts")
    )
    w = Window.partitionBy("cls_from")
    return mat.select(
        "cls_from",
        "cls_to",
        "n_parts",
        F.round(
            F.col("n_parts").cast("double")
            / F.sum("n_parts").over(w).cast("double"),
            6,
        ).alias("share_of_origin"),
    ).orderBy("cls_from", "cls_to")


def q_customer_churn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarterly customer churn: a customer active in quarter q churns
    if they place no order in q+1 (the final observed quarter is
    censored and excluded). Presence collapses orders once to the
    (customer, quarter-index) grid; churn is one lead() over the
    per-customer quarter sequence — exact integers to the final
    rate."""
    o = _t(spark, sf_dir, "orders")
    pres = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 4 + (F.quarter("o_orderdate") - 1)).alias(
            "qi"
        ),
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("qi")
    flagged = pres.select(
        "o_custkey",
        "qi",
        (
            F.coalesce(F.lead("qi").over(w), F.lit(-1)) != F.col("qi") + 1
        ).cast("long").alias("churned"),
    )
    last_q = pres.agg(F.max("qi").alias("mq"))
    g = (
        flagged.crossJoin(F.broadcast(last_q))
        .where(F.col("qi") < F.col("mq"))
        .groupBy("qi")
        .agg(
            F.count("*").alias("n_active"),
            F.sum("churned").alias("n_churned"),
        )
    )
    return g.select(
        F.expr("CAST(qi DIV 4 AS INT)").alias("yr"),
        (F.col("qi") % 4 + 1).cast("int").alias("qtr"),
        "n_active",
        "n_churned",
        F.round(
            F.col("n_churned").cast("double")
            / F.col("n_active").cast("double"),
            6,
        ).alias("churn_rate"),
    ).orderBy("yr", "qtr")


def _rfm_tier(o: DataFrame, anchor: str) -> DataFrame:
    """(o_custkey, tier) for one period's orders — q_orders_rfm's
    quartile-threshold scoring (broadcast 1-row thresholds, never an
    ntile single-task sort) collapsed to high/mid/low by fixed cuts
    on the 3-12 score sum."""
    per_cust = o.groupBy("o_custkey").agg(
        F.datediff(F.lit(anchor).cast("date"), F.max("o_orderdate")).alias(
            "recency_days"
        ),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 4).alias("monetary"),
    )
    thr = per_cust.agg(
        *[
            F.round(F.percentile(c, F.lit(q)), 6).alias(
                f"{c}_q{int(q * 100)}"
            )
            for c in ("recency_days", "frequency", "monetary")
            for q in (0.25, 0.5, 0.75)
        ]
    )

    def score(c: str, invert: bool) -> F.Column:
        v = F.col(c).cast("double")
        s = (
            F.lit(1)
            + (v > F.col(f"{c}_q25")).cast("int")
            + (v > F.col(f"{c}_q50")).cast("int")
            + (v > F.col(f"{c}_q75")).cast("int")
        )
        return (F.lit(5) - s) if invert else s

    total = (
        score("recency_days", True)
        + score("frequency", False)
        + score("monetary", False)
    )
    return per_cust.join(F.broadcast(thr)).select(
        "o_custkey",
        F.when(total >= 10, "high")
        .when(total >= 6, "mid")
        .otherwise("low")
        .alias("tier"),
    )


def q_orders_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM-tier migration matrix of customers between the 1995-1998
    and 1999-2001 order periods — the customer analog of
    q_parts_abc_migration (which high-value customers slid to low?).
    Each period scores independently (q_orders_rfm's quartile
    thresholds anchored at the period end, fixed 3-tier cuts on the
    score sum), inner-joined on custkey into a 3x3 rollup with
    per-origin retention shares. Exact integers to the final
    division."""
    o = _t(spark, sf_dir, "orders")
    t1 = _rfm_tier(
        o.where(F.col("o_orderdate") < F.lit("1999-01-01")), "1999-01-01"
    ).select("o_custkey", F.col("tier").alias("tier_from"))
    t2 = _rfm_tier(
        o.where(F.col("o_orderdate") >= F.lit("1999-01-01")), "2001-09-01"
    ).select("o_custkey", F.col("tier").alias("tier_to"))
    mat = t1.join(t2, "o_custkey").groupBy("tier_from", "tier_to").agg(
        F.count("*").alias("n_customers")
    )
    w = Window.partitionBy("tier_from")
    return mat.select(
        "tier_from",
        "tier_to",
        "n_customers",
        F.round(
            F.col("n_customers").cast("double")
            / F.sum("n_customers").over(w).cast("double"),
            6,
        ).alias("share_of_origin"),
    ).orderBy("tier_from", "tier_to")


def q_orders_ordinal_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal association between order priority (1-URGENT..5-LOW)
    and price tercile: Goodman-Kruskal gamma, Somers' D (tercile |
    priority), and Kendall tau-b, all from exact concordant /
    discordant / tie pair counts. Terciles are VALUE-BANDED (the
    k-th order statistic of price cents via a cumulative count over
    the DISTINCT-cents table — the zorder-approved shape, never an
    all-rows ntile window — so tied prices never straddle a band and
    the plan survives 100 TB). The pairwise sweep runs on the
    bounded 5x3 contingency (a 15x15 broadcast self-join); every
    product accumulates in decimal(38,0) (HUGEINT in the oracle) and
    tau-b / Somers' D use DOUBLED tie counts so no intermediate
    division rounds."""
    orders = _t(spark, sf_dir, "orders")
    o = orders.select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("prio"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias(
            "cents"
        ),
    )
    n_total = o.agg(F.count("*").alias("_n"))
    dc = o.groupBy("cents").agg(F.count("*").alias("_c"))
    wc = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = dc.select(
        "cents", F.sum("_c").over(wc).alias("_cum")
    ).crossJoin(F.broadcast(n_total))
    b1 = cum.where(
        F.col("_cum") >= F.expr("CAST((_n + 2) DIV 3 AS BIGINT)")
    ).agg(F.min("cents").alias("b1"))
    b2 = cum.where(
        F.col("_cum") >= F.expr("CAST((2 * _n + 2) DIV 3 AS BIGINT)")
    ).agg(F.min("cents").alias("b2"))
    banded = (
        o.crossJoin(F.broadcast(b1))
        .crossJoin(F.broadcast(b2))
        .select(
            "prio",
            (
                F.lit(1)
                + (F.col("cents") > F.col("b1")).cast("int")
                + (F.col("cents") > F.col("b2")).cast("int")
            ).alias("tercile"),
        )
    )
    cells = banded.groupBy("prio", "tercile").agg(
        F.count("*").alias("n")
    )
    a = cells.select(
        F.col("prio").alias("xa"),
        F.col("tercile").alias("ya"),
        F.col("n").cast("decimal(38,0)").alias("na"),
    )
    b = cells.select(
        F.col("prio").alias("xb"),
        F.col("tercile").alias("yb"),
        F.col("n").cast("decimal(38,0)").alias("nb"),
    )
    pairs = a.crossJoin(F.broadcast(b))
    cd = pairs.agg(
        F.sum(
            F.when(
                (F.col("xb") > F.col("xa")) & (F.col("yb") > F.col("ya")),
                F.col("na") * F.col("nb"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("c_pairs"),
        F.sum(
            F.when(
                (F.col("xb") > F.col("xa")) & (F.col("yb") < F.col("ya")),
                F.col("na") * F.col("nb"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("d_pairs"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    rx = cells.groupBy("prio").agg(F.sum("n").alias("r"))
    ry = cells.groupBy("tercile").agg(F.sum("n").alias("r"))
    tx = rx.agg(F.sum(dec("r") * (dec("r") - 1)).alias("t2x"))
    ty = ry.agg(F.sum(dec("r") * (dec("r") - 1)).alias("t2y"))
    j = (
        cd.crossJoin(F.broadcast(n_total))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    n2 = F.col("_n").cast("decimal(38,0)") * (
        F.col("_n").cast("decimal(38,0)") - 1
    )
    m1 = (n2 - F.col("t2x")).cast("double")
    m2 = (n2 - F.col("t2y")).cast("double")
    s = (F.col("c_pairs") - F.col("d_pairs")).cast("double")
    return j.select(
        F.col("_n").alias("n_orders"),
        F.col("c_pairs").cast("long").alias("c_pairs"),
        F.col("d_pairs").cast("long").alias("d_pairs"),
        # try_divide == DuckDB's NULL-on-zero-divisor double division
        # (a fully tied table yields "no defined association", not 8)
        F.round(
            F.try_divide(
                s, (F.col("c_pairs") + F.col("d_pairs")).cast("double")
            ),
            6,
        ).alias("gamma"),
        F.round(F.try_divide(2.0 * s, m1), 6).alias("somers_d"),
        F.round(F.try_divide(2.0 * s, F.sqrt(m1 * m2)), 6).alias(
            "tau_b"
        ),
    )


def q_lineitem_cpk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-capability indices Cp / Cpk (Montgomery, Statistical
    Quality Control ch. 8) for order-to-ship latency per order
    priority against the TPC-H contract window [1, 122] days — the
    'is the process CAPABLE, not just in control' companion to
    q_events_spc_xbar's control chart: Cp compares spread to the
    spec width, Cpk penalizes off-center processes, and the exact
    out-of-spec fraction is reported alongside (capability indices
    assume normality; the count does not). Latencies are integer
    day diffs, so mean and sd fold from exact BIGINT/decimal sums
    ((n sum(d^2) - s^2) / n^2 under the root); one join pruned to
    two columns a side, one aggregate."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select(
        "o_orderpriority",
        F.datediff(
            F.to_date("l_shipdate"), F.to_date("o_orderdate")
        )
        .cast("long")
        .alias("d"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = lat.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum("d").alias("s"),
        F.sum(dec("d") * dec("d")).alias("dd"),
        F.sum(
            ((F.col("d") < 1) | (F.col("d") > 122)).cast("long")
        ).alias("n_out"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("s").cast("double") / nd
    sig = F.sqrt(
        (dec("n") * F.col("dd") - dec("s") * dec("s")).cast("double")
    ) / nd
    cp = (122.0 - 1.0) / (6.0 * sig)
    cpk = F.least(122.0 - mu, mu - 1.0) / (3.0 * sig)
    return agg.select(
        "o_orderpriority",
        "n",
        F.round(mu, 6).alias("mean_days"),
        F.round(sig, 6).alias("sd_days"),
        F.round(cp, 6).alias("cp"),
        F.round(cpk, 6).alias("cpk"),
        "n_out",
        F.round(
            F.col("n_out").cast("double") / nd, 6
        ).alias("frac_out_of_spec"),
    ).orderBy("o_orderpriority")


def q_orders_panel_fe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-effects (within) panel regression of order value on
    calendar time with customer fixed effects (Wooldridge ch. 10) —
    'is spend drifting over time WITHIN a customer?', the question a
    pooled OLS answers wrong whenever customer composition shifts.
    The within estimator demeans per customer: every per-customer
    block reduces to exact decimal(38,0) sums (n, Sx, Sy, Sxy, Sxx,
    Syy — x = days since 1995-01-01, y = cents), the cross-customer
    fold adds the C demeaning corrections in doubles, and beta,
    homoskedastic SE (dof = N - C - 1) and t fall out closed-form.
    One per-customer aggregate + one 1-row fold — the fixed effects
    are never materialized, so C = 10^9 customers costs the same
    two shuffles."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date")
        )
        .cast("long")
        .alias("x"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    per = orders.groupBy("o_custkey").agg(
        F.count("*").alias("nc"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dec("x") * dec("y")).alias("sxy"),
        F.sum(dec("x") * dec("x")).alias("sxx"),
        F.sum(dec("y") * dec("y")).alias("syy"),
    )
    ncd = F.col("nc").cast("double")
    wxy = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double") / ncd
    )
    wxx = (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double") / ncd
    )
    wyy = (
        F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double") / ncd
    )
    tot = per.agg(
        F.sum("nc").cast("long").alias("n_orders"),
        F.count("*").alias("n_customers"),
        F.sum(wxy).alias("wxy"),
        F.sum(wxx).alias("wxx"),
        F.sum(wyy).alias("wyy"),
    )
    beta = F.col("wxy") / F.col("wxx")
    rss = F.col("wyy") - beta * F.col("wxy")
    dof = (
        F.col("n_orders").cast("double")
        - F.col("n_customers").cast("double")
        - 1.0
    )
    se = F.sqrt(rss / dof / F.col("wxx"))
    return tot.select(
        "n_orders",
        "n_customers",
        F.round(beta, 6).alias("beta_cents_per_day"),
        F.round(se, 6).alias("se"),
        # try_divide: a perfect within-fit has rss = 0 -> se = 0; NULL
        # (DuckDB's 0-divisor double semantics) beats an ANSI throw
        F.round(F.try_divide(beta, se), 6).alias("t_stat"),
    )


def q_orders_lmdi_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Log-Mean Divisia Index (LMDI-I, Ang 2005) decomposition of the
    1996->1997 revenue change per order priority into a volume
    (order-count) and an intensity (avg-order-value) effect:
    effect_f = L(R1, R0) ln(f1/f0) with the logarithmic mean L =
    (R1-R0)/(ln R1 - ln R0) — unlike q_orders_mix_decomposition's
    one-sided bridge, LMDI is symmetric in the endpoints and leaves
    ZERO residual (vol + intensity = delta exactly), which is why
    index-decomposition reviews standardized on it. Exact cents/count
    sums feed fixed IEEE expressions; the equal-revenue edge takes
    L = R (the analytic limit) via the same CASE on both engines."""
    o = _t(spark, sf_dir, "orders")
    per = (
        o.where(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            "o_orderpriority", F.year("o_orderdate").alias("yr")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
            ).alias("cents"),
        )
    )
    wide = (
        per.where(F.col("yr") == 1996)
        .select(
            "o_orderpriority",
            F.col("n").alias("n0"),
            F.col("cents").alias("c0"),
        )
        .join(
            per.where(F.col("yr") == 1997).select(
                "o_orderpriority",
                F.col("n").alias("n1"),
                F.col("cents").alias("c1"),
            ),
            "o_orderpriority",
        )
    )
    r0 = F.col("c0").cast("double") / 100.0
    r1 = F.col("c1").cast("double") / 100.0
    lmean = F.when(
        F.col("c1") != F.col("c0"),
        (r1 - r0) / (F.log(r1) - F.log(r0)),
    ).otherwise(r1)
    vol = lmean * F.log(
        F.col("n1").cast("double") / F.col("n0").cast("double")
    )
    inten = lmean * F.log(
        (r1 / F.col("n1").cast("double"))
        / (r0 / F.col("n0").cast("double"))
    )
    return wide.select(
        "o_orderpriority",
        "n0",
        "n1",
        F.round(r0, 6).alias("rev_1996"),
        F.round(r1, 6).alias("rev_1997"),
        F.round(r1 - r0, 6).alias("delta_rev"),
        F.round(vol, 6).alias("volume_effect"),
        F.round(inten, 6).alias("intensity_effect"),
        # + 0.0 normalizes IEEE -0.0 (DuckDB's round keeps the sign
        # bit; Spark's does not) so the twins hash-match on exact-zero
        # residuals
        (F.round(vol + inten - (r1 - r0), 6) + 0.0).alias(
            "residual"
        ),
    ).orderBy("o_orderpriority")


def _bootstrap_oracle_sql(reps: int = 40, seed: int = 7) -> str:
    """DuckDB twin of q_orders_bootstrap_ci: re-derives the identical
    deterministic Poisson(1) weights from the shared md5 draw and
    folds the same ``reps`` exact-cents replicate sums."""
    from vanus_spark.operators.hyptests import _POIS1_CDF

    us = ",\n                  ".join(
        f"((('0x' || substr(md5('{seed * 1000 + r // 3}|' || "
        f"o_orderkey::VARCHAR), {1 + 10 * (r % 3)}, 10))::BIGINT"
        f" % 1000000) / 1000000.0) AS u_{r}"
        for r in range(reps)
    )
    cases = ",\n                  ".join(
        "(CASE "
        + " ".join(
            f"WHEN u_{r} < {th!r} THEN {k}"
            for k, th in enumerate(_POIS1_CDF)
        )
        + f" ELSE {len(_POIS1_CDF)} END) AS w_{r}"
        for r in range(reps)
    )
    sums = ",\n                  ".join(
        f"sum(w_{r} * c)::BIGINT AS ws_{r}, sum(w_{r})::BIGINT AS wn_{r}"
        for r in range(reps)
    )
    means = ", ".join(
        f"ws_{r}::DOUBLE / wn_{r} / 100.0" for r in range(reps)
    )
    return f"""
            WITH e AS (
              SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
                  {us}
              FROM orders),
            w AS (
              SELECT c,
                  {cases}
              FROM e),
            s AS (
              SELECT count(*)::BIGINT AS n, sum(c)::BIGINT AS sc,
                  {sums}
              FROM w),
            m AS (SELECT n, sc, list_sort([{means}]) AS ms FROM s)
            SELECT n,
                   round(sc::DOUBLE / 100.0 / n, 4) AS mean,
                   round(sqrt(list_sum(list_transform(ms,
                         x -> (x - list_sum(ms) / {reps})
                            * (x - list_sum(ms) / {reps})))
                         / {reps - 1}), 4) AS boot_se,
                   round(ms[2], 4) AS ci_lo,
                   round(ms[{reps - 1}], 4) AS ci_hi
            FROM m
        """


def oracle_sql() -> dict[str, str]:
    """DuckDB twins of this family's queries, keyed by query name."""
    return {
        "orders_lmdi_decomposition": """
            WITH per AS (
              SELECT o_orderpriority, year(o_orderdate)::INT AS yr,
                     count(*)::BIGINT AS n,
                     sum(CAST(round(o_totalprice * 100)
                              AS BIGINT))::BIGINT AS cents
              FROM orders
              WHERE year(o_orderdate) IN (1996, 1997)
              GROUP BY 1, 2),
            wide AS (SELECT a.o_orderpriority, a.n AS n0,
                            a.cents AS c0, b.n AS n1, b.cents AS c1
                     FROM (SELECT * FROM per WHERE yr = 1996) a
                     JOIN (SELECT * FROM per WHERE yr = 1997) b
                       USING (o_orderpriority)),
            m AS (SELECT *, c0::DOUBLE / 100.0 AS r0,
                         c1::DOUBLE / 100.0 AS r1
                  FROM wide),
            m2 AS (SELECT *,
                          CASE WHEN c1 <> c0
                               THEN (r1 - r0) / (ln(r1) - ln(r0))
                               ELSE r1 END AS lmean
                   FROM m),
            m3 AS (SELECT *,
                          lmean * ln(n1::DOUBLE / n0::DOUBLE) AS vol,
                          lmean * ln((r1 / n1::DOUBLE)
                                     / (r0 / n0::DOUBLE)) AS inten
                   FROM m2)
            SELECT o_orderpriority, n0, n1,
                   round(r0, 6) AS rev_1996,
                   round(r1, 6) AS rev_1997,
                   round(r1 - r0, 6) AS delta_rev,
                   round(vol, 6) AS volume_effect,
                   round(inten, 6) AS intensity_effect,
                   round(vol + inten - (r1 - r0), 6) + 0.0
                     AS residual
            FROM m3 ORDER BY o_orderpriority
        """,
        "orders_panel_fe": """
            WITH o AS (SELECT o_custkey,
                              date_diff('day', DATE '1995-01-01',
                                        o_orderdate::DATE)::BIGINT
                                AS x,
                              CAST(round(o_totalprice * 100)
                                   AS BIGINT) AS y
                       FROM orders),
            per AS (SELECT o_custkey, count(*)::BIGINT AS nc,
                           sum(x)::BIGINT AS sx,
                           sum(y)::BIGINT AS sy,
                           sum(x::HUGEINT * y) AS sxy,
                           sum(x::HUGEINT * x) AS sxx,
                           sum(y::HUGEINT * y) AS syy
                    FROM o GROUP BY 1),
            tot AS (SELECT sum(nc)::BIGINT AS n_orders,
                           count(*)::BIGINT AS n_customers,
                           sum(sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE
                                             / nc::DOUBLE) AS wxy,
                           sum(sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE
                                             / nc::DOUBLE) AS wxx,
                           sum(syy::DOUBLE - sy::DOUBLE * sy::DOUBLE
                                             / nc::DOUBLE) AS wyy
                    FROM per),
            f AS (SELECT n_orders, n_customers, wxx,
                         wxy / wxx AS beta,
                         wyy - wxy / wxx * wxy AS rss
                  FROM tot),
            g AS (SELECT n_orders, n_customers, beta,
                         sqrt(rss / (n_orders::DOUBLE
                                     - n_customers::DOUBLE - 1.0)
                              / wxx) AS se
                  FROM f)
            SELECT n_orders, n_customers,
                   round(beta, 6) AS beta_cents_per_day,
                   round(se, 6) AS se,
                   round(beta / se, 6) AS t_stat
            FROM g
        """,
        "lineitem_cpk": """
            WITH lat AS (
              SELECT o_orderpriority,
                     date_diff('day', o_orderdate::DATE,
                               l_shipdate::DATE)::BIGINT AS d
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            agg AS (SELECT o_orderpriority, count(*)::BIGINT AS n,
                           sum(d)::BIGINT AS s,
                           sum(d::HUGEINT * d) AS dd,
                           sum((d < 1 OR d > 122)::INT)::BIGINT
                             AS n_out
                    FROM lat GROUP BY 1),
            m AS (SELECT o_orderpriority, n, s, n_out,
                         s::DOUBLE / n::DOUBLE AS mu,
                         sqrt((n::HUGEINT * dd
                               - s::HUGEINT * s)::DOUBLE)
                           / n::DOUBLE AS sig
                  FROM agg)
            SELECT o_orderpriority, n,
                   round(mu, 6) AS mean_days,
                   round(sig, 6) AS sd_days,
                   round((122.0 - 1.0) / (6.0 * sig), 6) AS cp,
                   round(least(122.0 - mu, mu - 1.0)
                         / (3.0 * sig), 6) AS cpk,
                   n_out,
                   round(n_out::DOUBLE / n::DOUBLE, 6)
                     AS frac_out_of_spec
            FROM m ORDER BY o_orderpriority
        """,
        "orders_ordinal_assoc": """
            WITH o AS (SELECT substring(o_orderpriority, 1, 1)::INT
                                AS prio,
                              CAST(round(o_totalprice * 100) AS BIGINT)
                                AS cents
                       FROM orders),
            nt AS (SELECT count(*)::BIGINT AS _n FROM o),
            dc AS (SELECT cents, count(*)::BIGINT AS _c FROM o
                   GROUP BY 1),
            cum AS (SELECT cents,
                           sum(_c) OVER (ORDER BY cents)::BIGINT
                             AS _cum
                    FROM dc),
            bb1 AS (SELECT min(cents) AS b1 FROM cum, nt
                    WHERE _cum >= (_n + 2) // 3),
            bb2 AS (SELECT min(cents) AS b2 FROM cum, nt
                    WHERE _cum >= (2 * _n + 2) // 3),
            banded AS (SELECT prio,
                              1 + (cents > b1)::INT
                                + (cents > b2)::INT AS tercile
                       FROM o, bb1, bb2),
            cells AS (SELECT prio, tercile, count(*)::BIGINT AS n
                      FROM banded GROUP BY 1, 2),
            cd AS (SELECT
                     sum(CASE WHEN b.prio > a.prio
                               AND b.tercile > a.tercile
                              THEN a.n::HUGEINT * b.n
                              ELSE 0::HUGEINT END) AS c_pairs,
                     sum(CASE WHEN b.prio > a.prio
                               AND b.tercile < a.tercile
                              THEN a.n::HUGEINT * b.n
                              ELSE 0::HUGEINT END) AS d_pairs
                   FROM cells a, cells b),
            rx AS (SELECT prio, sum(n)::BIGINT AS r FROM cells
                   GROUP BY 1),
            ry AS (SELECT tercile, sum(n)::BIGINT AS r FROM cells
                   GROUP BY 1),
            tx AS (SELECT sum(r::HUGEINT * (r - 1)) AS t2x FROM rx),
            ty AS (SELECT sum(r::HUGEINT * (r - 1)) AS t2y FROM ry)
            SELECT _n AS n_orders,
                   c_pairs::BIGINT AS c_pairs,
                   d_pairs::BIGINT AS d_pairs,
                   round((c_pairs - d_pairs)::DOUBLE
                         / (c_pairs + d_pairs)::DOUBLE, 6) AS gamma,
                   round(2.0 * (c_pairs - d_pairs)::DOUBLE
                         / (_n::HUGEINT * (_n - 1) - t2x)::DOUBLE, 6)
                     AS somers_d,
                   round(2.0 * (c_pairs - d_pairs)::DOUBLE
                         / sqrt((_n::HUGEINT * (_n - 1) - t2x)::DOUBLE
                                * (_n::HUGEINT * (_n - 1)
                                   - t2y)::DOUBLE), 6) AS tau_b
            FROM cd, nt, tx, ty
        """,
        "orders_rfm_migration": """
            WITH tiers AS (
              SELECT p.period, p.o_custkey,
                     CASE WHEN (5 - (1 + (recency_days::DOUBLE > r25)::INT
                                      + (recency_days::DOUBLE > r50)::INT
                                      + (recency_days::DOUBLE > r75)::INT))
                             + (1 + (frequency::DOUBLE > f25)::INT
                                  + (frequency::DOUBLE > f50)::INT
                                  + (frequency::DOUBLE > f75)::INT)
                             + (1 + (monetary::DOUBLE > m25)::INT
                                  + (monetary::DOUBLE > m50)::INT
                                  + (monetary::DOUBLE > m75)::INT) >= 10
                          THEN 'high'
                          WHEN (5 - (1 + (recency_days::DOUBLE > r25)::INT
                                       + (recency_days::DOUBLE > r50)::INT
                                       + (recency_days::DOUBLE > r75)::INT))
                             + (1 + (frequency::DOUBLE > f25)::INT
                                  + (frequency::DOUBLE > f50)::INT
                                  + (frequency::DOUBLE > f75)::INT)
                             + (1 + (monetary::DOUBLE > m25)::INT
                                  + (monetary::DOUBLE > m50)::INT
                                  + (monetary::DOUBLE > m75)::INT) >= 6
                          THEN 'mid' ELSE 'low' END AS tier
              FROM (
                SELECT period, o_custkey,
                       date_diff('day', max(o_orderdate)::DATE,
                                 anchor)::INT AS recency_days,
                       count(*)::BIGINT AS frequency,
                       round(sum(o_totalprice), 4) AS monetary,
                       any_value(anchor) AS a2
                FROM (
                  SELECT CASE WHEN o_orderdate < DATE '1999-01-01'
                              THEN 1 ELSE 2 END AS period,
                         CASE WHEN o_orderdate < DATE '1999-01-01'
                              THEN DATE '1999-01-01'
                              ELSE DATE '2001-09-01' END AS anchor,
                         o_custkey, o_orderdate, o_totalprice
                  FROM orders)
                GROUP BY period, o_custkey, anchor) p
              JOIN (
                SELECT period,
                       round(quantile_cont(recency_days, 0.25), 6) AS r25,
                       round(quantile_cont(recency_days, 0.50), 6) AS r50,
                       round(quantile_cont(recency_days, 0.75), 6) AS r75,
                       round(quantile_cont(frequency, 0.25), 6) AS f25,
                       round(quantile_cont(frequency, 0.50), 6) AS f50,
                       round(quantile_cont(frequency, 0.75), 6) AS f75,
                       round(quantile_cont(monetary, 0.25), 6) AS m25,
                       round(quantile_cont(monetary, 0.50), 6) AS m50,
                       round(quantile_cont(monetary, 0.75), 6) AS m75
                FROM (
                  SELECT period, o_custkey,
                         date_diff('day', max(o_orderdate)::DATE,
                                   anchor)::INT AS recency_days,
                         count(*)::BIGINT AS frequency,
                         round(sum(o_totalprice), 4) AS monetary
                  FROM (
                    SELECT CASE WHEN o_orderdate < DATE '1999-01-01'
                                THEN 1 ELSE 2 END AS period,
                           CASE WHEN o_orderdate < DATE '1999-01-01'
                                THEN DATE '1999-01-01'
                                ELSE DATE '2001-09-01' END AS anchor,
                           o_custkey, o_orderdate, o_totalprice
                    FROM orders)
                  GROUP BY period, o_custkey, anchor)
                GROUP BY period) t USING (period)),
            mat AS (
              SELECT a.tier AS tier_from, b.tier AS tier_to,
                     count(*)::BIGINT AS n_customers
              FROM (SELECT * FROM tiers WHERE period = 1) a
              JOIN (SELECT * FROM tiers WHERE period = 2) b
                USING (o_custkey)
              GROUP BY 1, 2)
            SELECT tier_from, tier_to, n_customers,
                   round(n_customers::DOUBLE
                         / (sum(n_customers)
                            OVER (PARTITION BY tier_from))::DOUBLE,
                         6) AS share_of_origin
            FROM mat ORDER BY tier_from, tier_to
        """,
        "parts_abc_migration": """
            WITH r94 AS (SELECT l_partkey,
                                sum(CAST(round(l_extendedprice
                                    * (1 - l_discount) * 100) AS
                                    BIGINT))::BIGINT AS cents
                         FROM lineitem
                         WHERE year(l_shipdate) = 1996 GROUP BY 1),
            c94 AS (SELECT l_partkey,
                           CASE WHEN cum * 5 <= grand * 4 THEN 'A'
                                WHEN cum * 20 <= grand * 19 THEN 'B'
                                ELSE 'C' END AS cls_from
                    FROM (SELECT l_partkey,
                                 sum(cents) OVER (ORDER BY -cents,
                                   l_partkey ROWS UNBOUNDED
                                   PRECEDING) AS cum,
                                 sum(cents) OVER () AS grand
                          FROM r94)),
            r95 AS (SELECT l_partkey,
                                sum(CAST(round(l_extendedprice
                                    * (1 - l_discount) * 100) AS
                                    BIGINT))::BIGINT AS cents
                         FROM lineitem
                         WHERE year(l_shipdate) = 1997 GROUP BY 1),
            c95 AS (SELECT l_partkey,
                           CASE WHEN cum * 5 <= grand * 4 THEN 'A'
                                WHEN cum * 20 <= grand * 19 THEN 'B'
                                ELSE 'C' END AS cls_to
                    FROM (SELECT l_partkey,
                                 sum(cents) OVER (ORDER BY -cents,
                                   l_partkey ROWS UNBOUNDED
                                   PRECEDING) AS cum,
                                 sum(cents) OVER () AS grand
                          FROM r95)),
            m AS (SELECT cls_from, cls_to, count(*)::BIGINT AS n_parts
                  FROM c94 JOIN c95 USING (l_partkey) GROUP BY 1, 2)
            SELECT cls_from, cls_to, n_parts,
                   round(n_parts::DOUBLE
                         / (sum(n_parts) OVER (PARTITION BY
                            cls_from))::DOUBLE, 6) AS share_of_origin
            FROM m ORDER BY cls_from, cls_to
        """,
        "customer_churn_rate": """
            WITH pres AS (SELECT DISTINCT o_custkey,
                                 year(o_orderdate)::BIGINT * 4
                                   + (quarter(o_orderdate)::BIGINT - 1)
                                   AS qi
                          FROM orders),
            f AS (SELECT o_custkey, qi,
                         (coalesce(lead(qi) OVER (PARTITION BY
                            o_custkey ORDER BY qi), -1)
                          <> qi + 1)::BIGINT AS churned
                  FROM pres),
            mq AS (SELECT max(qi)::BIGINT AS mq FROM pres),
            g AS (SELECT qi, count(*)::BIGINT AS n_active,
                         sum(churned)::BIGINT AS n_churned
                  FROM f, mq WHERE qi < mq GROUP BY 1)
            SELECT (qi // 4)::INT AS yr, (qi % 4 + 1)::INT AS qtr,
                   n_active, n_churned,
                   round(n_churned::DOUBLE / n_active::DOUBLE, 6)
                     AS churn_rate
            FROM g ORDER BY yr, qtr
        """,
        "orders_repeat_rate": """
            WITH s AS (SELECT year(o_orderdate)::INT AS yr,
                              quarter(o_orderdate)::INT AS qtr,
                              (o_orderdate > min(o_orderdate)
                                 OVER (PARTITION BY o_custkey))::BIGINT
                                AS is_repeat
                       FROM orders),
            g AS (SELECT yr, qtr, count(*)::BIGINT AS n_orders,
                         sum(is_repeat)::BIGINT AS n_repeat
                  FROM s GROUP BY 1, 2)
            SELECT yr, qtr, n_orders, n_repeat,
                   round(n_repeat::DOUBLE / n_orders::DOUBLE, 6)
                     AS repeat_rate
            FROM g ORDER BY yr, qtr
        """,
        "orders_mix_decomposition": """
            WITH per AS (SELECT o_orderpriority,
                                year(o_orderdate)::INT AS yr,
                                count(*)::BIGINT AS n,
                                sum(CAST(round(o_totalprice * 100) AS
                                         BIGINT))::BIGINT AS cents
                         FROM orders GROUP BY 1, 2),
            l AS (SELECT o_orderpriority, yr, n, cents,
                         lag(n) OVER w AS pn,
                         lag(cents) OVER w AS pc
                  FROM per
                  WINDOW w AS (PARTITION BY o_orderpriority
                               ORDER BY yr)),
            s AS (SELECT o_orderpriority, yr, n, cents, pn, pc,
                         pc::DOUBLE / pn::DOUBLE AS ap,
                         cents::DOUBLE / n::DOUBLE AS an
                  FROM l WHERE pn IS NOT NULL)
            SELECT o_orderpriority, yr,
                   round((cents - pc)::DOUBLE / 100.0, 4)
                     AS delta_rev_usd,
                   round((n - pn)::DOUBLE * ap / 100.0, 4)
                     AS volume_effect_usd,
                   round(n::DOUBLE * (an - ap) / 100.0, 4)
                     AS price_effect_usd
            FROM s ORDER BY o_orderpriority, yr
        """,
        "lineitem_ship_latency": """
            WITH lat AS (
              SELECT o.o_orderpriority,
                     date_diff('day', o.o_orderdate::DATE,
                               l.l_shipdate::DATE)::BIGINT AS days
              FROM lineitem l JOIN orders o
                ON l.l_orderkey = o.o_orderkey)
            SELECT o_orderpriority, count(*)::BIGINT AS n_lines,
                   round(sum(days)::DOUBLE / count(*)::DOUBLE, 6)
                     AS mean_days,
                   quantile_cont(days, 0.5) AS p50_days,
                   quantile_cont(days, 0.9) AS p90_days,
                   min(days)::BIGINT AS min_days,
                   max(days)::BIGINT AS max_days
            FROM lat GROUP BY 1 ORDER BY 1
        """,
        "brand_rolling_share": """
            WITH li AS (
              SELECT p.p_brand,
                     date_diff('day', DATE '1995-01-01',
                               l_shipdate::DATE)::BIGINT AS dnum,
                     CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT))
                       AS rev
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              WHERE l_shipdate >= TIMESTAMP '1995-01-01'
                AND l_shipdate < TIMESTAMP '1996-01-01'),
            daily AS (SELECT p_brand, dnum, sum(rev)::BIGINT AS rev
                      FROM li GROUP BY 1, 2),
            rolled AS (SELECT p_brand, dnum,
                              sum(rev) OVER (PARTITION BY p_brand
                                ORDER BY dnum
                                RANGE BETWEEN 27 PRECEDING
                                  AND CURRENT ROW)::BIGINT AS roll
                       FROM daily),
            tot AS (SELECT dnum, sum(rev)::BIGINT AS trev
                    FROM daily GROUP BY 1),
            trolled AS (SELECT dnum,
                               sum(trev) OVER (ORDER BY dnum
                                 RANGE BETWEEN 27 PRECEDING
                                   AND CURRENT ROW)::BIGINT AS troll
                        FROM tot)
            SELECT r.dnum, r.p_brand, r.roll AS roll_cp,
                   round(r.roll::DOUBLE / t.troll::DOUBLE, 6) AS share
            FROM rolled r JOIN trolled t USING (dnum)
            ORDER BY r.dnum, r.p_brand
        """,
        "supplier_hhi": """
            WITH rev AS (
              SELECT s.s_nationkey, s.s_suppkey,
                     CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT))
                       AS rev
              FROM lineitem l JOIN supplier s
                ON l.l_suppkey = s.s_suppkey),
            per_sup AS (SELECT s_nationkey, s_suppkey,
                               sum(rev)::BIGINT AS rs
                        FROM rev GROUP BY 1, 2),
            per_nat AS (SELECT s_nationkey,
                               count(*)::BIGINT AS n_suppliers,
                               sum(rs)::BIGINT AS total,
                               sum(rs::HUGEINT * rs::HUGEINT) AS sumsq,
                               max(rs)::BIGINT AS top_rev
                        FROM per_sup GROUP BY 1)
            SELECT n.n_name, p.n_suppliers,
                   round(p.sumsq::DOUBLE
                         / (p.total::DOUBLE * p.total::DOUBLE), 6) AS hhi,
                   round(p.top_rev::DOUBLE / p.total::DOUBLE, 6)
                     AS top_share
            FROM per_nat p JOIN nation n
              ON p.s_nationkey = n.n_nationkey
            ORDER BY n.n_name
        """,
        "lineitem_waterfall": """
            WITH s AS (
              SELECT year(l_shipdate)::INT AS ship_year,
                     CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
                     CAST(round(l_discount * 100) AS BIGINT) AS dp,
                     CAST(round(l_tax * 100) AS BIGINT) AS tp
              FROM lineitem),
            g AS (SELECT ship_year, count(*)::BIGINT AS n_lines,
                         sum((pc * 10000)::HUGEINT) AS g,
                         sum((pc * dp * 100)::HUGEINT) AS d,
                         sum((pc * (100 - dp) * tp)::HUGEINT) AS t
                  FROM s GROUP BY 1)
            SELECT ship_year, n_lines,
                   round(g::DOUBLE / 1000000.0, 4) AS gross_usd,
                   round(d::DOUBLE / 1000000.0, 4) AS discount_usd,
                   round((g - d)::DOUBLE / 1000000.0, 4) AS net_usd,
                   round(t::DOUBLE / 1000000.0, 4) AS tax_usd,
                   round((g - d + t)::DOUBLE / 1000000.0, 4) AS charge_usd,
                   round(d::DOUBLE / g::DOUBLE, 6) AS discount_leakage
            FROM g ORDER BY ship_year
        """,
        "orders_backlog_aging": """
            WITH o AS (
              SELECT o_orderpriority,
                     date_diff('day', o_orderdate::DATE,
                               DATE '1998-08-01')::BIGINT AS age,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders WHERE o_orderstatus IN ('O', 'P')),
            b AS (SELECT o_orderpriority,
                         CASE WHEN age <= 30 THEN '00-30'
                              WHEN age <= 90 THEN '31-90'
                              WHEN age <= 365 THEN '91-365'
                              ELSE '365+' END AS age_bucket,
                         age, cents
                  FROM o)
            SELECT o_orderpriority, age_bucket,
                   count(*)::BIGINT AS n_orders,
                   round(sum(cents)::DOUBLE / 100.0, 2) AS backlog_usd,
                   max(age)::INT AS oldest_days
            FROM b GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "nation_revenue_yoy": """
            WITH per AS (
              SELECT n.n_name, year(o_orderdate)::INT AS yr,
                     sum(CAST(round(o_totalprice * 100) AS
                              BIGINT))::BIGINT AS cents
              FROM orders o
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation n ON c.c_nationkey = n.n_nationkey
              GROUP BY 1, 2),
            l AS (SELECT n_name, yr, cents,
                         lag(cents) OVER (PARTITION BY n_name
                                          ORDER BY yr) AS prev
                  FROM per)
            SELECT n_name, yr,
                   round(cents::DOUBLE / 100.0, 2) AS revenue_usd,
                   round((cents - prev)::DOUBLE / prev::DOUBLE, 6)
                     AS yoy_growth
            FROM l ORDER BY n_name, yr
        """,
        "part_price_index": """
            WITH cells AS (
              SELECT l_partkey,
                     strftime(date_trunc('month', l_shipdate), '%Y-%m')
                       AS month,
                     sum(CAST(round(l_extendedprice * 100) AS
                              BIGINT))::BIGINT AS cents,
                     sum(CAST(l_quantity AS BIGINT))::BIGINT AS qty
              FROM lineitem GROUP BY 1, 2),
            bm AS (SELECT min(month) AS bm FROM cells),
            base AS (SELECT l_partkey,
                            cents::DOUBLE / qty AS p0, qty AS q0
                     FROM cells, bm WHERE month = bm),
            cur AS (SELECT l_partkey, month,
                           cents::DOUBLE / qty AS pt, qty AS qt
                    FROM cells),
            j AS (SELECT cur.month, pt, qt, p0, q0
                  FROM cur JOIN base USING (l_partkey)),
            agg AS (SELECT month, count(*)::BIGINT AS n_parts,
                           sum(pt * q0) AS lnum, sum(p0 * q0) AS lden,
                           sum(pt * qt) AS pnum, sum(p0 * qt) AS pden
                    FROM j GROUP BY month)
            SELECT month, n_parts,
                   round(lnum / lden, 6) AS laspeyres,
                   round(pnum / pden, 6) AS paasche,
                   round(sqrt((lnum / lden) * (pnum / pden)), 6)
                     AS fisher
            FROM agg ORDER BY month
        """,
        "lineitem_xyz": """
            WITH m AS (SELECT l_partkey,
                              date_trunc('month', l_shipdate) AS mo,
                              sum(CAST(l_quantity AS BIGINT))::BIGINT
                                AS q
                       FROM lineitem GROUP BY 1, 2),
            nm AS (SELECT count(DISTINCT mo)::BIGINT AS nmv FROM m),
            pp AS (SELECT l_partkey, sum(q)::BIGINT AS sq,
                          sum(q * q)::BIGINT AS sqq
                   FROM m GROUP BY 1),
            st AS (SELECT
                     CASE WHEN sqrt((sqq::DOUBLE
                                     - sq * (sq::DOUBLE / nmv::DOUBLE))
                                    / nmv::DOUBLE)
                               / (sq::DOUBLE / nmv::DOUBLE) < 0.5
                          THEN 'X'
                          WHEN sqrt((sqq::DOUBLE
                                     - sq * (sq::DOUBLE / nmv::DOUBLE))
                                    / nmv::DOUBLE)
                               / (sq::DOUBLE / nmv::DOUBLE) < 1.0
                          THEN 'Y' ELSE 'Z' END AS xyz_class,
                     sqrt((sqq::DOUBLE
                           - sq * (sq::DOUBLE / nmv::DOUBLE))
                          / nmv::DOUBLE)
                       / (sq::DOUBLE / nmv::DOUBLE) AS cv
                   FROM pp, nm),
            tot AS (SELECT count(*)::BIGINT AS t FROM st)
            SELECT xyz_class, count(*)::BIGINT AS n_parts,
                   round(count(*)::DOUBLE / max(t), 6) AS share,
                   round(avg(cv), 6) AS avg_cv
            FROM st, tot GROUP BY xyz_class ORDER BY xyz_class
        """,
        "brand_price_elasticity": """
            WITH cells AS (
              SELECT l_partkey,
                     date_trunc('month', l_shipdate) AS mo,
                     sum(CAST(round(l_extendedprice * 100) AS
                              BIGINT))::BIGINT AS cents,
                     sum(CAST(l_quantity AS BIGINT))::BIGINT AS qty
              FROM lineitem GROUP BY 1, 2),
            j AS (SELECT p_brand, ln(qty::DOUBLE) AS lnq,
                         ln(cents::DOUBLE / qty) AS lnp
                  FROM cells JOIN part ON l_partkey = p_partkey)
            SELECT p_brand, count(*)::BIGINT AS n_cells,
                   round(regr_slope(lnq, lnp), 6) AS elasticity,
                   round(regr_r2(lnq, lnp), 6) AS r2
            FROM j GROUP BY p_brand ORDER BY p_brand
        """,
        "lineitem_abc": """
            WITH rev AS (SELECT l_partkey,
                                sum(CAST(round(l_extendedprice
                                    * (1 - l_discount) * 100) AS
                                    BIGINT))::BIGINT AS cents
                         FROM lineitem GROUP BY 1),
            rk AS (SELECT l_partkey, cents,
                          sum(cents) OVER (ORDER BY -cents, l_partkey
                              ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
                          sum(cents) OVER ()::BIGINT AS grand
                   FROM rev),
            cls AS (SELECT CASE WHEN cum * 5 <= grand * 4 THEN 'A'
                                WHEN cum * 20 <= grand * 19 THEN 'B'
                                ELSE 'C' END AS abc_class,
                           cents, grand
                    FROM rk)
            SELECT abc_class, count(*)::BIGINT AS n_parts,
                   round(sum(cents)::DOUBLE / 100.0, 2) AS revenue,
                   round(sum(cents)::DOUBLE / max(grand), 6)
                     AS revenue_share
            FROM cls GROUP BY abc_class ORDER BY abc_class
        """,
        "orders_cohort_ltv": """
            WITH wc AS (
              SELECT o_custkey, date_trunc('month', o_orderdate) AS om,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                     min(date_trunc('month', o_orderdate))
                       OVER (PARTITION BY o_custkey) AS cohort_m
              FROM orders),
            cells AS (SELECT strftime(cohort_m, '%Y-%m') AS cohort,
                             ((year(om) - year(cohort_m)) * 12
                              + (month(om) - month(cohort_m)))::BIGINT
                               AS age_months,
                             sum(cents)::BIGINT AS cents
                      FROM wc GROUP BY 1, 2),
            sizes AS (SELECT cohort, count(*)::BIGINT AS n_customers
                      FROM (SELECT o_custkey,
                                   strftime(min(cohort_m), '%Y-%m')
                                     AS cohort
                            FROM wc GROUP BY 1)
                      GROUP BY 1),
            run AS (SELECT cohort, age_months, cents,
                           sum(cents) OVER (PARTITION BY cohort
                               ORDER BY age_months
                               ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
                    FROM cells)
            SELECT run.cohort, age_months, n_customers,
                   round(cents::DOUBLE / 100.0, 2) AS revenue,
                   round(cum::DOUBLE / 100.0 / n_customers, 6)
                     AS cum_ltv_per_customer
            FROM run JOIN sizes ON run.cohort = sizes.cohort
            ORDER BY run.cohort, age_months
        """,
        "lineitem_spearman": """
            WITH li AS (SELECT l_returnflag,
                               CAST(l_quantity AS BIGINT) AS qty,
                               CAST(round(l_discount * 100) AS BIGINT)
                                 AS disc_c
                        FROM lineitem),
            cx AS (SELECT l_returnflag, qty, count(*)::BIGINT AS t
                   FROM li GROUP BY 1, 2),
            rx AS (SELECT l_returnflag, qty,
                          sum(t) OVER (PARTITION BY l_returnflag
                                       ORDER BY qty)::DOUBLE
                            - (t - 1) / 2.0 AS rkx
                   FROM cx),
            cy AS (SELECT l_returnflag, disc_c, count(*)::BIGINT AS t
                   FROM li GROUP BY 1, 2),
            ry AS (SELECT l_returnflag, disc_c,
                          sum(t) OVER (PARTITION BY l_returnflag
                                       ORDER BY disc_c)::DOUBLE
                            - (t - 1) / 2.0 AS rky
                   FROM cy),
            j AS (SELECT li.l_returnflag AS rf, rkx, rky
                  FROM li
                  JOIN rx ON li.l_returnflag = rx.l_returnflag
                         AND li.qty = rx.qty
                  JOIN ry ON li.l_returnflag = ry.l_returnflag
                         AND li.disc_c = ry.disc_c)
            SELECT rf AS l_returnflag, count(*)::BIGINT AS n,
                   round(corr(rkx, rky), 6) AS spearman_rho
            FROM j GROUP BY rf ORDER BY rf
        """,
        "orders_bootstrap_ci": _bootstrap_oracle_sql(reps=40, seed=7),
        "lineitem_kendall": """
            WITH li AS (SELECT l_returnflag AS g,
                               CAST(l_quantity AS BIGINT) AS x,
                               CAST(round(l_discount * 100) AS BIGINT) AS y
                        FROM lineitem),
            cells AS (SELECT g, x, y, count(*)::BIGINT AS n
                      FROM li GROUP BY 1, 2, 3),
            pr AS (SELECT a.g,
                          sum(CASE WHEN b.y > a.y
                                   THEN a.n::DOUBLE * b.n END) AS c,
                          sum(CASE WHEN b.y < a.y
                                   THEN a.n::DOUBLE * b.n END) AS d
                   FROM cells a JOIN cells b
                     ON a.g = b.g AND b.x > a.x
                   GROUP BY a.g),
            tx AS (SELECT g, sum(t)::BIGINT AS nn,
                          sum(t * (t - 1) / 2) AS n1t
                   FROM (SELECT g, x, sum(n)::BIGINT AS t FROM cells
                         GROUP BY 1, 2) GROUP BY g),
            ty AS (SELECT g, sum(t * (t - 1) / 2) AS n2t
                   FROM (SELECT g, y, sum(n)::BIGINT AS t FROM cells
                         GROUP BY 1, 2) GROUP BY g),
            j AS (SELECT pr.g, c, d, nn, n1t, n2t,
                         nn::DOUBLE * (nn::DOUBLE - 1) / 2 AS n0
                  FROM pr JOIN tx ON pr.g = tx.g JOIN ty ON pr.g = ty.g)
            SELECT g AS l_returnflag, nn AS n,
                   round(CASE WHEN sqrt((n0 - n1t) * (n0 - n2t)) > 0 THEN
                         (coalesce(c, 0.0) - coalesce(d, 0.0))
                         / sqrt((n0 - n1t) * (n0 - n2t)) END, 6)
                     AS kendall_tau_b
            FROM j ORDER BY g
        """,
        "value_gini": """
            WITH ev AS (
              SELECT event_type, event_id,
                     round(value * 100)::BIGINT AS cents
              FROM events),
            r AS (SELECT *,
                         row_number() OVER (PARTITION BY event_type
                                            ORDER BY cents, event_id) - 1
                           AS rk
                  FROM ev),
            a AS (SELECT event_type,
                         count(*)::HUGEINT AS n,
                         sum(cents::HUGEINT) AS s0,
                         sum((rk + 1)::HUGEINT * cents::HUGEINT) AS s1
                  FROM r GROUP BY 1)
            SELECT event_type, n::BIGINT AS n_events,
                   round((2::HUGEINT * s1 - (n + 1) * s0)::DOUBLE
                         / (n * s0)::DOUBLE, 6) AS gini
            FROM a
        """,
        "join_size_estimate": """
            WITH hl1 AS (SELECT c_custkey::VARCHAR AS k, count(*)::BIGINT AS cl
                         FROM customer GROUP BY 1),
            hr1 AS (SELECT o_custkey::VARCHAR AS k, count(*)::BIGINT AS cr
                    FROM orders GROUP BY 1),
            p1 AS (SELECT k, cl * cr AS out_rows FROM hl1 JOIN hr1 USING (k)),
            hl2 AS (SELECT o_orderkey::VARCHAR AS k, count(*)::BIGINT AS cl
                    FROM orders GROUP BY 1),
            hr2 AS (SELECT l_orderkey::VARCHAR AS k, count(*)::BIGINT AS cr
                    FROM lineitem GROUP BY 1),
            p2 AS (SELECT k, cl * cr AS out_rows FROM hl2 JOIN hr2 USING (k)),
            s1 AS (SELECT 'customer_orders' AS join_name,
                          (SELECT count(*) FROM customer)::BIGINT AS n_left,
                          (SELECT count(*) FROM orders)::BIGINT AS n_right,
                          (SELECT count(*) FROM hl1)::BIGINT AS d_left,
                          (SELECT count(*) FROM hr1)::BIGINT AS d_right,
                          (SELECT coalesce(sum(out_rows), 0) FROM p1)::BIGINT AS est_rows,
                          (SELECT top_key FROM (SELECT k AS top_key FROM p1
                             ORDER BY out_rows DESC, k DESC LIMIT 1)) AS top_key,
                          (SELECT out_rows FROM p1
                             ORDER BY out_rows DESC, k DESC LIMIT 1)::BIGINT AS top_key_rows),
            s2 AS (SELECT 'orders_lineitem' AS join_name,
                          (SELECT count(*) FROM orders)::BIGINT AS n_left,
                          (SELECT count(*) FROM lineitem)::BIGINT AS n_right,
                          (SELECT count(*) FROM hl2)::BIGINT AS d_left,
                          (SELECT count(*) FROM hr2)::BIGINT AS d_right,
                          (SELECT coalesce(sum(out_rows), 0) FROM p2)::BIGINT AS est_rows,
                          (SELECT top_key FROM (SELECT k AS top_key FROM p2
                             ORDER BY out_rows DESC, k DESC LIMIT 1)) AS top_key,
                          (SELECT out_rows FROM p2
                             ORDER BY out_rows DESC, k DESC LIMIT 1)::BIGINT AS top_key_rows)
            SELECT join_name, n_left, n_right, d_left, d_right, est_rows,
                   ((n_left::HUGEINT * n_right::HUGEINT)
                    // greatest(d_left, d_right)::HUGEINT)::BIGINT AS est_independent,
                   top_key, top_key_rows
            FROM s1
            UNION ALL
            SELECT join_name, n_left, n_right, d_left, d_right, est_rows,
                   ((n_left::HUGEINT * n_right::HUGEINT)
                    // greatest(d_left, d_right)::HUGEINT)::BIGINT AS est_independent,
                   top_key, top_key_rows
            FROM s2
        """,
        "tpch_q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)
                     AS sum_charge,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_extendedprice), 6) AS avg_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "join_revenue_by_region": """
            SELECT r_name, round(sum(o_totalprice), 4) AS revenue,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "topk_per_group": """
            WITH ranked AS (
              SELECT p_brand, p_partkey, p_retailprice,
                     row_number() OVER (PARTITION BY p_brand
                                        ORDER BY p_retailprice DESC, p_partkey ASC)
                       AS rk
              FROM part)
            SELECT p_brand, p_partkey, p_retailprice, rk FROM ranked WHERE rk <= 3
        """,
        "tpch_q3_shipping": """
            SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < '1995-03-15'
              AND l.l_shipdate > '1995-03-15'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, l.l_orderkey
            LIMIT 10
        """,
        "tpch_q18_large_orders": """
            WITH big AS (
              SELECT l_orderkey, sum(l_quantity) AS total_qty
              FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250)
            SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
                   round(b.total_qty, 4) AS total_qty
            FROM big b
            JOIN orders o ON b.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
        """,
        "tpch_q7_volume_shipping": """
            SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                   year(l.l_shipdate)::BIGINT AS l_year,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                     AS revenue,
                   count(*)::BIGINT AS n_items
            FROM lineitem l
                 JOIN orders o ON l.l_orderkey = o.o_orderkey
                 JOIN supplier s ON l.l_suppkey = s.s_suppkey
                 JOIN nation sn ON s.s_nationkey = sn.n_nationkey
                 JOIN customer c ON o.o_custkey = c.c_custkey
                 JOIN nation cn ON c.c_nationkey = cn.n_nationkey
            WHERE l.l_shipdate >= '1996-01-01' AND l.l_shipdate < '1998-01-01'
              AND ((sn.n_name = 'NATION_0' AND cn.n_name = 'NATION_1')
                   OR (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_0'))
            GROUP BY 1, 2, 3
        """,
        "tpch_q8_market_share": """
            WITH vol AS (
              SELECT year(o.o_orderdate)::BIGINT AS o_year,
                     l.l_extendedprice * (1 - l.l_discount) AS volume,
                     sn.n_name AS supp_nation
              FROM lineitem l
                   JOIN part p ON l.l_partkey = p.p_partkey
                   JOIN orders o ON l.l_orderkey = o.o_orderkey
                   JOIN customer c ON o.o_custkey = c.c_custkey
                   JOIN nation cn ON c.c_nationkey = cn.n_nationkey
                   JOIN region r ON cn.n_regionkey = r.r_regionkey
                   JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   JOIN nation sn ON s.s_nationkey = sn.n_nationkey
              WHERE p.p_type = 'STANDARD' AND r.r_name = 'ASIA'
                AND o.o_orderdate >= '1996-01-01'
                AND o.o_orderdate < '1998-01-01')
            SELECT o_year,
                   round(sum(CASE WHEN supp_nation = 'NATION_7'
                                  THEN volume ELSE 0.0::DOUBLE END)
                         / sum(volume), 6) AS mkt_share,
                   round(sum(volume), 4) AS total_volume,
                   count(*)::BIGINT AS n_items
            FROM vol GROUP BY 1
        """,
        "salted_join_skew": """
            WITH ev AS (
              SELECT event_id, value,
                     (CASE WHEN event_type = 'view' THEN 0
                           ELSE user_id END)::BIGINT AS k
              FROM events),
            dim AS (SELECT DISTINCT k, k % 5 AS segment FROM ev)
            SELECT segment, count(*)::BIGINT AS n,
                   round(sum(value), 4) AS total_value
            FROM ev JOIN dim USING (k) GROUP BY 1
        """,
        "basket_brand_pairs": """
            WITH ob AS (SELECT DISTINCT l.l_orderkey, p.p_brand
                        FROM lineitem l
                             JOIN part p ON l.l_partkey = p.p_partkey),
            pairs AS (
              SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                     count(*)::BIGINT AS support
              FROM ob a JOIN ob b
                ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
              GROUP BY 1, 2 HAVING count(*) >= 5),
            t AS (SELECT p_brand, count(*)::BIGINT AS n FROM ob GROUP BY 1),
            na AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_baskets
                   FROM ob)
            SELECT p.brand_a, p.brand_b, p.support,
                   round(p.support::DOUBLE / ta.n, 6) AS confidence,
                   round((p.support * na.n_baskets)::DOUBLE
                         / (ta.n * tb.n), 6) AS lift
            FROM pairs p JOIN t ta ON p.brand_a = ta.p_brand
                         JOIN t tb ON p.brand_b = tb.p_brand
                         CROSS JOIN na
        """,
        "pareto_brands": """
            WITH rev AS (
              SELECT p.p_brand,
                     round(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                       AS revenue
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              GROUP BY 1),
            tot AS (SELECT sum(revenue) AS t FROM rev)
            SELECT r.p_brand, r.revenue,
                   row_number() OVER (ORDER BY r.revenue DESC,
                                      r.p_brand)::INT AS rank,
                   round(sum(r.revenue)
                           OVER (ORDER BY r.revenue DESC, r.p_brand
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW)
                         / tot.t, 6) AS cum_share
            FROM rev r CROSS JOIN tot
        """,
        "skew_report": """
            WITH f1 AS (SELECT user_id::VARCHAR AS k, count(*)::BIGINT AS n
                        FROM events GROUP BY 1),
            f2 AS (SELECT event_type AS k, count(*)::BIGINT AS n
                   FROM events GROUP BY 1),
            f3 AS (SELECT lang AS k, count(*)::BIGINT AS n
                   FROM documents GROUP BY 1),
            f4 AS (SELECT source AS k, count(*)::BIGINT AS n
                   FROM documents GROUP BY 1),
            s1 AS (SELECT 'events.user_id' AS key_column,
                          count(*)::BIGINT AS n_keys,
                          sum(n)::BIGINT AS n_rows,
                          round(max(n)::DOUBLE / sum(n)::DOUBLE, 6)
                            AS top_share,
                          round(max(n)::DOUBLE
                                / (sum(n)::DOUBLE / count(*)::DOUBLE), 6)
                            AS max_over_mean,
                          (SELECT k FROM f1 ORDER BY n DESC, k DESC LIMIT 1)
                            AS top_key
                   FROM f1),
            s2 AS (SELECT 'events.event_type', count(*)::BIGINT,
                          sum(n)::BIGINT,
                          round(max(n)::DOUBLE / sum(n)::DOUBLE, 6),
                          round(max(n)::DOUBLE
                                / (sum(n)::DOUBLE / count(*)::DOUBLE), 6),
                          (SELECT k FROM f2 ORDER BY n DESC, k DESC LIMIT 1)
                   FROM f2),
            s3 AS (SELECT 'documents.lang', count(*)::BIGINT,
                          sum(n)::BIGINT,
                          round(max(n)::DOUBLE / sum(n)::DOUBLE, 6),
                          round(max(n)::DOUBLE
                                / (sum(n)::DOUBLE / count(*)::DOUBLE), 6),
                          (SELECT k FROM f3 ORDER BY n DESC, k DESC LIMIT 1)
                   FROM f3),
            s4 AS (SELECT 'documents.source', count(*)::BIGINT,
                          sum(n)::BIGINT,
                          round(max(n)::DOUBLE / sum(n)::DOUBLE, 6),
                          round(max(n)::DOUBLE
                                / (sum(n)::DOUBLE / count(*)::DOUBLE), 6),
                          (SELECT k FROM f4 ORDER BY n DESC, k DESC LIMIT 1)
                   FROM f4)
            SELECT * FROM s1 UNION ALL SELECT * FROM s2
            UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
        """,
        "orders_rfm": """
            WITH pc AS (
              SELECT o_custkey,
                     date_diff('day', max(o_orderdate)::DATE,
                               DATE '2001-09-01')::INT AS recency_days,
                     count(*)::BIGINT AS frequency,
                     round(sum(o_totalprice), 4) AS monetary
              FROM orders GROUP BY 1),
            thr AS (
              SELECT round(quantile_cont(recency_days, 0.25), 6) AS r25,
                     round(quantile_cont(recency_days, 0.50), 6) AS r50,
                     round(quantile_cont(recency_days, 0.75), 6) AS r75,
                     round(quantile_cont(frequency, 0.25), 6) AS f25,
                     round(quantile_cont(frequency, 0.50), 6) AS f50,
                     round(quantile_cont(frequency, 0.75), 6) AS f75,
                     round(quantile_cont(monetary, 0.25), 6) AS m25,
                     round(quantile_cont(monetary, 0.50), 6) AS m50,
                     round(quantile_cont(monetary, 0.75), 6) AS m75
              FROM pc),
            s AS (
              SELECT o_custkey,
                     5 - (1 + (recency_days::DOUBLE > r25)::INT
                            + (recency_days::DOUBLE > r50)::INT
                            + (recency_days::DOUBLE > r75)::INT) AS r_score,
                     1 + (frequency::DOUBLE > f25)::INT
                       + (frequency::DOUBLE > f50)::INT
                       + (frequency::DOUBLE > f75)::INT AS f_score,
                     1 + (monetary::DOUBLE > m25)::INT
                       + (monetary::DOUBLE > m50)::INT
                       + (monetary::DOUBLE > m75)::INT AS m_score
              FROM pc CROSS JOIN thr)
            SELECT o_custkey, r_score, f_score, m_score,
                   r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR
                     AS segment
            FROM s
        """,
        "tpch_q15_top_supplier": """
            WITH rev AS (
              SELECT l_suppkey,
                     round(sum(l_extendedprice * (1 - l_discount)), 4)
                       AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
              GROUP BY l_suppkey)
            SELECT s.s_suppkey, s.s_name, r.total_revenue
            FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
            WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
        """,
        "tpch_q6_forecast": """
            SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
                   count(*)::BIGINT AS n_items
            FROM lineitem
            WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "tpch_q14_promo": """
            SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                          THEN l.l_extendedprice * (1 - l.l_discount)
                                          ELSE 0.0 END)
                         / sum(l.l_extendedprice * (1 - l.l_discount)), 6)
                     AS promo_pct,
                   count(*)::BIGINT AS n_items
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_shipdate >= '1996-03-01' AND l.l_shipdate < '1996-04-01'
        """,
        "tpch_q16_supplier_cnt": """
            SELECT p.p_brand, p.p_size,
                   count(DISTINCT l.l_suppkey)::BIGINT AS supplier_cnt
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_brand NOT IN ('Brand#1', 'Brand#2')
              AND p.p_size IN (5, 10, 15, 20, 25, 30, 35, 40)
            GROUP BY p.p_brand, p.p_size
        """,
        "tpch_q10_returns": """
            WITH rev AS (
              SELECT c.c_custkey, c.c_name, n.n_name,
                     round(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                       AS revenue
              FROM lineitem l
                   JOIN orders o ON l.l_orderkey = o.o_orderkey
                   JOIN customer c ON o.o_custkey = c.c_custkey
                   JOIN nation n ON c.c_nationkey = n.n_nationkey
              WHERE l.l_returnflag = 'R'
                AND o.o_orderdate >= '1996-01-01'
                AND o.o_orderdate < '1996-04-01'
              GROUP BY 1, 2, 3),
            r AS (SELECT *, (row_number() OVER (ORDER BY revenue DESC,
                                                c_custkey))::INT AS rank
                  FROM rev)
            SELECT * FROM r WHERE rank <= 20
        """,
        "tpch_q13_custdist": """
            WITH c_orders AS (
              SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
              FROM customer c LEFT JOIN orders o
                ON c.c_custkey = o.o_custkey
                   AND o.o_orderdate >= '1996-01-01'
                   AND o.o_orderdate < '1997-01-01'
              GROUP BY c.c_custkey)
            SELECT c_count, count(*)::BIGINT AS custdist
            FROM c_orders GROUP BY c_count
        """,
        "tpch_q19_disjunctive": """
            SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                     AS revenue,
                   count(*)::BIGINT AS n_items
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
                   AND l.l_quantity BETWEEN 5 AND 15)
               OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 25
                   AND l.l_quantity BETWEEN 15 AND 30)
               OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 40
                   AND l.l_quantity BETWEEN 25 AND 40)
        """,
        "tpch_q4_priority": """
            SELECT o_orderpriority, count(*)::BIGINT AS order_count
            FROM orders o
            WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-07-01'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > o.o_orderdate)
            GROUP BY o_orderpriority
        """,
        "tpch_q21_waiting": """
            WITH late AS (
              SELECT l.l_orderkey, l.l_suppkey
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE o.o_orderstatus = 'F'
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
            SELECT s.s_name, count(*)::BIGINT AS numwait
            FROM late l1 JOIN supplier s ON l1.l_suppkey = s.s_suppkey
            WHERE EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM late l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey)
            GROUP BY s.s_name
        """,
        "tpch_q22_idle_balances": """
            WITH thr AS (SELECT avg(c_acctbal) AS avg_bal
                         FROM customer WHERE c_acctbal > 0.0)
            SELECT c.c_nationkey, count(*)::BIGINT AS n_custs,
                   round(sum(c_acctbal)::DOUBLE, 4) AS total_acctbal
            FROM customer c, thr
            WHERE c.c_acctbal > thr.avg_bal
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderdate >= '2000-09-01')
            GROUP BY 1
        """,
        "skew_two_phase_count": """
            SELECT event_type, count(*) AS count FROM events GROUP BY event_type
        """,
        "tpch_q5_volume": """
            SELECT n.n_name,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                     AS revenue,
                   count(*)::BIGINT AS n_lineitems
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA'
              AND c.c_nationkey = s.s_nationkey
              AND o.o_orderdate >= '1996-01-01'
              AND o.o_orderdate < '1998-01-01'
            GROUP BY n.n_name
        """,
        # Q17 shape with exact arithmetic: integer identity for the
        # correlated 20%-of-avg predicate, decimal(18,2) revenue sums
        "tpch_q17_small_qty": """
            WITH sel AS (SELECT p_partkey FROM part
                         WHERE p_brand = 'Brand#4' AND p_size <= 25),
            pp AS (SELECT l_partkey, sum(l_quantity::BIGINT) AS qsum,
                          count(*) AS qcnt
                   FROM lineitem GROUP BY l_partkey)
            SELECT count(*) AS n_small_qty,
                   sum(l_extendedprice::DECIMAL(18,2)) AS small_qty_revenue
            FROM lineitem l
            JOIN sel ON l.l_partkey = sel.p_partkey
            JOIN pp ON l.l_partkey = pp.l_partkey
            WHERE l.l_quantity::BIGINT * 5 * pp.qcnt < pp.qsum
        """,
        # the five join shapes the raw testdata blocked — partsupp and
        # shipmode/commit/receipt derive from the SAME formulas on both
        # engines (see _derived_partsupp / _derived_lineitem_ship)
        "tpch_q2_min_cost_supp": f"""
            WITH {_PARTSUPP_SQL},
            sup_asia AS (
              SELECT s_suppkey, s_name, s_acctbal, n_name
              FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA'),
            costs AS (
              SELECT ps.*, sa.s_name, sa.s_acctbal, sa.n_name
              FROM partsupp ps
              JOIN sup_asia sa ON ps.ps_suppkey = sa.s_suppkey),
            mc AS (SELECT ps_partkey, min(ps_supplycost) AS min_cost
                   FROM costs GROUP BY 1)
            SELECT c.s_acctbal, c.s_name, c.n_name, p.p_partkey, p.p_brand,
                   round(c.ps_supplycost, 2) AS supplycost
            FROM costs c
            JOIN mc ON c.ps_partkey = mc.ps_partkey
                   AND c.ps_supplycost = mc.min_cost
            JOIN part p ON c.ps_partkey = p.p_partkey
            WHERE p.p_size = 11 AND p.p_type = 'ECONOMY'
        """,
        "tpch_q9_product_profit": f"""
            WITH {_PARTSUPP_SQL}
            SELECT n.n_name AS nation,
                   year(o.o_orderdate)::INTEGER AS o_year,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)
                             - ps.ps_supplycost * l.l_quantity), 4)
                     AS sum_profit,
                   count(*)::BIGINT AS n_items
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
                       AND p.p_name LIKE '%red%'
            JOIN partsupp ps ON l.l_partkey = ps.ps_partkey
                            AND l.l_suppkey = ps.ps_suppkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY 1, 2
        """,
        "tpch_q11_important_stock": f"""
            WITH {_PARTSUPP_SQL},
            in_nation AS (
              SELECT ps_partkey, ps_supplycost * ps_availqty AS value
              FROM partsupp
              JOIN supplier ON ps_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              WHERE n_name = 'NATION_7'),
            tot AS (SELECT sum(value) * 0.001 AS threshold FROM in_nation)
            SELECT ps_partkey, round(sum(value), 2) AS stock_value
            FROM in_nation, tot
            GROUP BY ps_partkey, threshold
            HAVING sum(value) > threshold
        """,
        "tpch_q12_shipmode": f"""
            WITH {_LINEITEM_SHIP_SQL}
            SELECT l_shipmode,
                   sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
                   sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END)::BIGINT AS low_line_count
            FROM lineitem_ship l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l_shipmode IN ('MAIL', 'SHIP')
              AND l_commitdate < l_receiptdate
              AND l_shipdate < l_commitdate
              AND l_receiptdate >= '1996-01-01'
              AND l_receiptdate < '1998-01-01'
            GROUP BY l_shipmode
        """,
        "tpch_q20_potential_promo": f"""
            WITH {_PARTSUPP_SQL},
            shipped AS (
              SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty_1997
              FROM lineitem
              WHERE l_shipdate >= '1997-01-01'
                AND l_shipdate < '1998-01-01'
              GROUP BY 1, 2),
            promo AS (
              SELECT DISTINCT ps_suppkey
              FROM partsupp
              JOIN part ON ps_partkey = p_partkey
                       AND p_name LIKE 'small%'
              JOIN shipped ON ps_partkey = l_partkey
                          AND ps_suppkey = l_suppkey
              WHERE ps_availqty > 0.5 * qty_1997)
            SELECT s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
            FROM supplier JOIN promo ON s_suppkey = ps_suppkey
        """,
        # run compression + interval close, the same two window passes
        "orders_scd2": """
            WITH h AS (
              SELECT o_custkey, o_orderdate, o_orderpriority,
                     row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                        ORDER BY o_orderkey DESC) AS rn
              FROM orders),
            h1 AS (SELECT o_custkey, o_orderdate, o_orderpriority
                   FROM h WHERE rn = 1),
            r AS (
              SELECT o_custkey, o_orderpriority, o_orderdate,
                     lag(o_orderpriority) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate)
                       AS prev
              FROM h1),
            c AS (SELECT * FROM r
                  WHERE prev IS NULL OR o_orderpriority <> prev)
            SELECT o_custkey, o_orderpriority,
                   o_orderdate AS valid_from,
                   lead(o_orderdate) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate)
                     AS valid_to,
                   lead(o_orderdate) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate) IS NULL
                     AS is_current
            FROM c
        """,
        "orders_forecast": """
            WITH m AS (SELECT date_trunc('month', o_orderdate) AS month,
                              round(sum(o_totalprice), 4) AS actual
                       FROM orders GROUP BY 1),
            f AS (SELECT month, actual,
                         lag(actual, 12) OVER (ORDER BY month) AS forecast
                  FROM m)
            SELECT strftime(month, '%Y-%m') AS month, actual, forecast,
                   round(abs(actual - forecast), 4) AS abs_err
            FROM f WHERE forecast IS NOT NULL
        """,
    }
