"""Plan audit: every registered query's physical plan is screened for
scale red flags. This is the automated form of the per-round manual
`.explain()` review — it catches a regression where an operator
silently picks up a cartesian product or loses its parquet scan.

Red flags (round-8 verdict #5 widened the set beyond CartesianProduct):
- ``CartesianProduct`` — the non-broadcast cross join (a broadcast
  1-row total via BroadcastNestedLoopJoin is fine and expected).
- A SinglePartition Exchange whose input subtree reaches a file scan
  WITHOUT passing any aggregate/limit collapse — the "global window
  over raw rows" funnel that serializes the whole dataset through one
  task at 100 TB. (Bounded global windows over collapsed aggregates
  or driver-created fixtures stay legal.)
- A SortMergeJoin whose broadcast-eligible build side has plan-time
  stats below spark.sql.autoBroadcastJoinThreshold — a small dim that
  should have been a BroadcastHashJoin (only happens when a hint or
  config suppressed the broadcast; the gate keeps it that way).

The audit only PLANS (no job runs for the plan inspection itself),
but several query builders do bounded driver work while constructing
(k-means model collects, BPE training, streaming replays), so the
sweep runs at sf0.001 and is marked slow-ish but kept in the default
suite — it is the widest single guard in the repo.
"""

from __future__ import annotations


import pytest

SF_DIR = "/root/testdata/sf0.001"


def _unwrap(n):
    if n.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return _unwrap(n.initialPlan())
    return n


def _walk(n):
    n = _unwrap(n)
    yield n
    ch = n.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i))


def _first_defined_size(n):
    """Descend through physically-inserted wrappers (Sort/Exchange have
    no logical link) to the first node carrying logical-plan stats —
    the same estimate join selection used."""
    for d in _walk(n):
        ll = d.logicalLink()
        if ll.isDefined():
            try:
                return int(str(ll.get().stats().sizeInBytes()))
            except Exception:  # noqa: BLE001
                return None
    return None


# node names that bound the row count of everything above them: once a
# subtree passed one of these, a single-partition funnel over it is a
# bounded-frame global window (the audited-legal pattern), not a
# full-data serialization
_COLLAPSERS = ("Aggregate", "Limit", "TakeOrdered", "LocalTableScan")
# unbounded leaves: reading these under an uncollapsed SinglePartition
# exchange means the whole file funnels through one task
_UNBOUNDED_SCANS = ("FileSourceScan", "BatchScan", "RowDataSourceScan")


def plan_violations(df, threshold: int) -> list[str]:
    """All scale red flags in one traversal of the planned (pre-AQE)
    physical tree. Returns human-readable violation strings.

    Cost note: the node-by-node walk crosses py4j once per attribute
    read — hundreds of round trips for a large plan — so a clean plan
    is pre-screened with ONE toString() trip: the three detectors can
    only fire on plans whose tree text contains their node names
    (CartesianProduct / SinglePartition / SortMergeJoin print
    verbatim), and most registry plans contain none. The full-suite
    sweep dropped ~4x with this screen + the threaded driver below."""
    out = []
    root = df._jdf.queryExecution().executedPlan()
    tree_text = root.toString()
    if not any(
        key in tree_text
        for key in ("CartesianProduct", "SinglePartition", "SortMergeJoin")
    ):
        return out
    for n in _walk(root):
        cn = n.getClass().getSimpleName()
        if cn == "CartesianProductExec":
            out.append("CartesianProduct in physical plan")
        elif cn == "ShuffleExchangeExec" and (
            "SinglePartition" in n.outputPartitioning().toString()
        ):
            names = [d.getClass().getSimpleName() for d in _walk(n)][1:]
            collapsed = any(
                any(c in dn for c in _COLLAPSERS) for dn in names
            )
            scans_raw = any(
                any(s in dn for s in _UNBOUNDED_SCANS) for dn in names
            )
            if scans_raw and not collapsed:
                out.append(
                    "SinglePartition exchange over a non-collapsed "
                    f"file scan (subtree: {names[:6]})"
                )
        elif cn == "SortMergeJoinExec":
            jt = str(n.joinType().toString())
            left_ok = jt in ("Inner", "Cross", "RightOuter")
            right_ok = jt in (
                "Inner", "Cross", "LeftOuter", "LeftSemi", "LeftAnti",
            ) or jt.startswith("Existence")
            sizes = []
            if left_ok:
                sizes.append(("left", _first_defined_size(n.left())))
            if right_ok:
                sizes.append(("right", _first_defined_size(n.right())))
            for side, sz in sizes:
                if sz is not None and sz < threshold:
                    out.append(
                        f"SortMergeJoin with sub-broadcast-threshold "
                        f"{side} side ({sz} B < {threshold} B) — "
                        "should be a BroadcastHashJoin"
                    )
    return out


def test_no_plan_antipatterns_anywhere(spark, entry_mod):
    """ONE sweep over every registry query applying all three
    detectors (cartesian, single-partition funnel, unbroadcast small
    dim) — plans only, no execution."""
    m = entry_mod
    threshold = 64 * 1024 * 1024  # session.py's autoBroadcastJoinThreshold
    failures = []

    def audit(item):
        name, fn = item
        try:
            df = fn(spark, SF_DIR)
            return [f"{name}: {v}" for v in plan_violations(df, threshold)]
        except Exception as e:  # noqa: BLE001
            return [f"{name}: failed to plan: {e}"]

    # 4 builds in flight: plan construction is py4j/JVM-analysis bound
    # (the GIL is released on every socket wait), and the handful of
    # builders that run bounded driver jobs overlap instead of
    # serializing — guide §2.6's overlap-independent-jobs, applied to
    # the audit itself. Queries are independent; job descriptions are
    # restored by their own finally blocks, and the replay builders
    # serialize their shuffle-partition pin on one lock.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        for viols in pool.map(audit, list(m.queries().items())):
            failures.extend(viols)
    assert not failures, "\n".join(failures)


def test_detectors_fire_on_bad_fixtures(spark):
    """Each detector proven live on a deliberately-bad plan, so a
    silent detector regression can't fake a clean sweep."""
    from pyspark.sql import functions as F, Window

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    threshold = 64 * 1024 * 1024

    # (a) global window directly over the raw scan -> SinglePartition
    # funnel with no collapse
    bad_window = li.withColumn(
        "rn", F.row_number().over(Window.orderBy("l_orderkey"))
    )
    v = plan_violations(bad_window, threshold)
    assert any("SinglePartition exchange" in x for x in v), v

    # (b) merge-hinted join against a 25-row dim -> SMJ whose build
    # side is far below the broadcast threshold
    bad_smj = cust.join(
        nation.hint("merge"), cust.c_nationkey == nation.n_nationkey
    )
    v = plan_violations(bad_smj, threshold)
    assert any("SortMergeJoin with sub-broadcast" in x for x in v), v

    # (c) forced non-broadcast cross join -> CartesianProduct
    bad_cross = nation.crossJoin(cust.hint("shuffle_replicate_nl"))
    v = plan_violations(bad_cross, threshold)
    assert any("CartesianProduct" in x for x in v), v

    # and the legal shapes stay clean: collapsed global window + a
    # broadcastable dim join
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    ok_window = agg.withColumn(
        "rk", F.rank().over(Window.orderBy(F.desc("q")))
    )
    ok_join = cust.join(nation, cust.c_nationkey == nation.n_nationkey)
    assert plan_violations(ok_window, threshold) == []
    assert plan_violations(ok_join, threshold) == []


def test_detector_node_names_still_plan(spark):
    """Canary for the node-name substrings the funnel detector matches
    (_COLLAPSERS, _UNBOUNDED_SCANS): each fixture must plan a node
    whose class name contains its substring, so a Spark upgrade that
    renames one fails here instead of quietly disarming the detector."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    # a child session plans parquet through DataSource V2 (BatchScan)
    # without touching the shared session's source list
    v2 = spark.newSession()
    v2.conf.set("spark.sql.sources.useV1SourceList", "")
    # RowDataSourceScan only plans for a JDBC relation; the bundled
    # Derby driver serves one from an in-memory database
    derby = spark.read.jdbc(
        "jdbc:derby:memory:plan_audit_canary;create=true",
        "SYS.SYSTABLES",
        properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    )
    fixtures = {
        "Aggregate": li.groupBy("l_returnflag").count(),
        "Limit": li.limit(5),
        "TakeOrdered": li.orderBy("l_orderkey").limit(5),
        "LocalTableScan": spark.sql("SELECT * FROM VALUES (1) AS t(x)"),
        "FileSourceScan": li,
        "BatchScan": v2.read.parquet(f"{SF_DIR}/lineitem.parquet"),
        "RowDataSourceScan": derby,
    }
    assert set(fixtures) == set(_COLLAPSERS) | set(_UNBOUNDED_SCANS)
    for key, df in fixtures.items():
        plan = df._jdf.queryExecution().executedPlan()
        names = {n.getClass().getSimpleName() for n in _walk(plan)}
        assert any(key in n for n in names), f"{key}: {sorted(names)}"


def test_r8_rolling_share_pushes_shipdate_filter(spark, entry_mod):
    """brand_rolling_share's 1995 predicate must reach the parquet
    scan (PushedFilters on l_shipdate), not evaluate post-scan — the
    difference between reading one year and reading the table at
    100 TB."""
    m = entry_mod
    df = m.queries()["brand_rolling_share"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    import re

    pushed = re.findall(r"PushedFilters: \[[^\]]*l_shipdate[^\]]*\]", plan)
    assert pushed, "l_shipdate predicate not pushed to the scan"


def test_r8_hhi_uses_partial_aggregation(spark, entry_mod):
    """supplier_hhi's rollups must be map-side combined (HashAggregate
    pairs with a partial mode before the exchange), so the shuffle
    carries per-supplier partials, never raw lineitem rows."""
    m = entry_mod
    df = m.queries()["supplier_hhi"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_" in plan or "HashAggregate" in plan
    # the scan must prune to the 3 needed lineitem columns
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    li = [s for s in schemas if "l_extendedprice" in s]
    assert li and all("l_comment" not in s and len(s.split(",")) <= 4
                      for s in li), f"lineitem scan not pruned: {li}"
