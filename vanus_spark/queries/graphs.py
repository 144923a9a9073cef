"""Graphs and record linkage: link analysis, communities, paths,
k-core, entity resolution, fuzzy matching and geo clusters."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from vanus_spark.queries.common import _t


def q_link_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the synthetic crawl graph (out-degree 2
    per doc): canonicalize to undirected distinct edges, then the
    standard three-way self-join a<b<c — each triangle counted once.
    At scale the joins shuffle on the shared vertex and AQE's skew
    split covers hub vertices; the a<b<c ordering keeps the join
    frontier a strict fraction of the full edge set. Returns the
    count plus a degree checksum so the canonicalization itself is
    hash-checked, not just the final scalar."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    # ring + chord + hash edges: every i closes the (i, i+1, i+2)
    # triangle, the hash edges add irregular extras — a graph with a
    # KNOWN-nonzero triangle count (the pure hash graph had none)
    e = None
    for expr in (
        (F.col("doc_id") + 1) % n,
        (F.col("doc_id") + 2) % n,
        (F.col("doc_id") * 7 + 3) % n,
    ):
        part = docs.select(F.col("doc_id").alias("src"), expr.alias("dst"))
        e = part if e is None else e.unionByName(part)
    und = (
        e.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    # the three join sides reference und via .alias, NOT renamed
    # projections: identical plans let Spark REUSE the distinct's
    # shuffle exchange instead of recomputing the edge table 3x
    tri = (
        und.alias("e1")
        .join(und.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .join(
            und.alias("e3"),
            (F.col("e1.a") == F.col("e3.a"))
            & (F.col("e2.b") == F.col("e3.b")),
        )
    )
    return tri.agg(
        F.count("*").alias("n_triangles"),
        F.sum(
            F.col("e1.a") + F.col("e1.b") + F.col("e2.b")
        ).alias("vertex_checksum"),
    )


def q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-graph PageRank (frontier prioritization / mixture
    weighting — the Common-Crawl-style importance signal): 3 power
    iterations over a deterministic link graph (every doc links to
    its 7x+3 rotation; every 10th doc also links to hub 0). One
    join + one partial-agg shuffle per iteration; the oracle unrolls
    the identical three iterations as chained CTEs."""
    from vanus_spark.llm.graphs import pagerank

    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    e1 = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 7 + 3) % n).alias("dst"),
    )
    e2 = docs.where((F.col("doc_id") % 10 == 0) & (F.col("doc_id") != 0)).select(
        F.col("doc_id").alias("src"), F.lit(0).cast("long").alias("dst")
    )
    ranks = pagerank(e1.unionByName(e2), damping=0.85, iters=3)
    return ranks.select("node", F.round("rank", 9).alias("rank"))


def q_fuzzy_join_typos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table fuzzy join e2e (operators/fuzzy.fuzzy_join): supplier
    names vs a deterministically corrupted copy (every name drops the
    character at position (key mod len)), matched at edit distance 1
    via deletion-neighborhood blocking. The brute-force oracle
    re-derives the corruption and cross-joins with levenshtein."""
    from vanus_spark.operators.fuzzy import fuzzy_join

    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    pos = (F.col("s_suppkey") % F.length("s_name")) + 1
    typos = sup.select(
        F.col("s_suppkey").alias("t_key"),
        F.concat(
            F.substr(F.col("s_name"), F.lit(1), pos - F.lit(1)),
            F.substr(F.col("s_name"), pos + F.lit(1), F.length("s_name")),
        ).alias("t_name"),
    )
    out = fuzzy_join(sup, typos, "s_name", "t_name")
    return out.select("s_suppkey", "s_name", "t_key", "t_name")


def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join (operators/fuzzy.py): all supplier-name
    pairs within edit distance 1 via FastSS deletion-neighborhood
    blocking + exact levenshtein verify. The oracle is the BRUTE-FORCE
    O(n^2) cross join — genuinely independent of the blocking scheme,
    so a missed candidate (incomplete neighborhood) or a phantom pair
    would hash-mismatch."""
    from vanus_spark.operators.fuzzy import fuzzy_self_pairs

    sup = _t(spark, sf_dir, "supplier")
    return fuzzy_self_pairs(sup, "s_name", "s_suppkey", max_dist=1)


def q_link_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous min-label propagation (3
    rounds) over the undirected closure of the crawl link graph —
    the host-grouping signal crawl curation uses next to PageRank.
    Per round: one join + one partial-agg shuffle over the
    symmetrized edge table (graphs.label_propagation); the oracle
    unrolls the same three rounds as chained CTEs."""
    from vanus_spark.llm.graphs import label_propagation

    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    e1 = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 7 + 3) % n).alias("dst"),
    )
    e2 = docs.where((F.col("doc_id") % 10 == 0) & (F.col("doc_id") != 0)).select(
        F.col("doc_id").alias("src"), F.lit(0).cast("long").alias("dst")
    )
    labels = label_propagation(e1.unionByName(e2), iters=3)
    return (
        labels.groupBy("community")
        .agg(F.count("*").alias("n_members"), F.min("node").alias("min_node"))
        .where(F.col("n_members") > 1)
    )


def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-round frontier BFS over the synthetic crawl graph (ring +
    hash chords): per round, ONLY the newly-settled frontier joins the
    edge table — candidates anti-join against the settled set, so the
    per-round shuffle is proportional to the frontier, not the
    reachable set (the textbook distributed-BFS shape; Pregel's
    vote-to-halt without the framework). 4 rounds = 4 bounded joins;
    the settled set accretes by union, never rewritten."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    edges = None
    for expr in ((F.col("doc_id") + 1) % n, (F.col("doc_id") * 7 + 3) % n):
        part = docs.select(F.col("doc_id").alias("src"), expr.alias("dst"))
        edges = part if edges is None else edges.unionByName(part)
    edges = edges.where(F.col("src") != F.col("dst"))
    settled = docs.where(F.col("doc_id") % 97 == 0).select(
        "doc_id", F.lit(0).alias("dist")
    )
    frontier = settled
    for step in range(1, 5):
        cand = (
            frontier.join(edges, frontier.doc_id == edges.src)
            .select(F.col("dst").alias("doc_id"))
            .distinct()
        )
        new = cand.join(settled, "doc_id", "left_anti").select(
            "doc_id", F.lit(step).alias("dist")
        )
        settled = settled.unionByName(new).localCheckpoint(eager=True)
        frontier = settled.where(F.col("dist") == step)
    return settled


def q_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted multi-source shortest paths (llm/graphs.sssp): 4
    hop-bounded Bellman-Ford rounds over the synthetic weighted crawl
    graph — per round ONE relax join + ONE partial-aggregated min, the
    GraphX/Pregel SSSP shape without the framework. Integer weights
    relax exactly, so the oracle unrolls the identical rounds as
    chained CTEs (the pagerank/BFS oracle pattern)."""
    from vanus_spark.llm.graphs import sssp

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    parts = []
    for expr, wexpr in (
        ((F.col("doc_id") + 1) % n, 1 + F.col("doc_id") % 3),
        ((F.col("doc_id") * 7 + 3) % n, 2 + F.col("doc_id") % 5),
    ):
        parts.append(
            docs.select(
                F.col("doc_id").alias("src"),
                expr.alias("dst"),
                wexpr.cast("long").alias("w"),
            )
        )
    edges = parts[0].unionByName(parts[1]).where(F.col("src") != F.col("dst"))
    sources = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("node"), F.lit(0).cast("long").alias("dist")
    )
    out = sssp(edges, sources, rounds=4)
    return out.select(F.col("node").alias("doc_id"), "dist")


_ER_TAGGED_MEMO: dict[tuple[str, str], DataFrame] = {}


def _er_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared entity-resolution chain behind q_entity_resolution
    and q_er_golden_record: dirty registry (hash-suffixed customer
    names, a third duplicated with a deterministic one-char-drop typo,
    typo rows losing acctbal), deletion-neighborhood fuzzy blocking
    (operators/fuzzy, exact for edit distance 1), pointer-jumping
    connected components (llm/dedup.duplicate_components), min-id
    canonicalization. The two gates share ~90% of their work — the
    blocking join and the O(log d) component rounds — so the tagged
    registry localCheckpoints ONCE per (session, sf_dir) and both
    reuse it (round-5 verdict next-step #7); results are unchanged
    because the chain is deterministic."""
    key = (spark.sparkContext.applicationId, sf_dir)
    memo = _ER_TAGGED_MEMO.get(key)
    if memo is not None:
        return memo
    from vanus_spark.llm.dedup import duplicate_components
    from vanus_spark.operators.fuzzy import fuzzy_self_pairs

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat(
            F.col("c_name"),
            F.lit("-"),
            F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 6),
        ).alias("name"),
        "c_acctbal",
        "c_mktsegment",
    )
    pos = (F.col("c_custkey") % F.length("name")) + 1
    typos = cust.where(F.col("c_custkey") % 3 == 0).select(
        (F.col("c_custkey") * 2 + 1).alias("rec_id"),
        F.concat(
            F.substr(F.col("name"), F.lit(1), pos - F.lit(1)),
            F.substr(F.col("name"), pos + F.lit(1), F.length("name")),
        ).alias("name"),
        F.lit(None).cast("double").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    recs = cust.select(
        (F.col("c_custkey") * 2).alias("rec_id"),
        "name",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    ).unionByName(typos)
    pairs = fuzzy_self_pairs(recs, "name", "rec_id", max_dist=1).select(
        F.col("id_l").alias("id_a"), F.col("id_r").alias("id_b")
    )
    comp = duplicate_components(pairs, id_col="rec_id")
    tagged = (
        recs.join(comp, "rec_id", "left")
        .withColumn("entity_id", F.coalesce("component", "rec_id"))
        .localCheckpoint(eager=True)
    )
    for k in [k for k in _ER_TAGGED_MEMO if k[0] != key[0]]:
        del _ER_TAGGED_MEMO[k]
    _ER_TAGGED_MEMO[key] = tagged
    return tagged


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution — the composition real record-
    linkage pipelines run: a dirty registry (every customer name made
    globally distinctive with a hash suffix, then a third of them
    duplicated with a deterministic one-char-drop typo) goes through
    deletion-neighborhood fuzzy blocking (operators/fuzzy, exact for
    edit distance 1), connected components with pointer jumping
    (llm/dedup.duplicate_components), and min-id canonicalization;
    singletons stay their own entity. The oracle recomputes the
    registry, brute-force levenshtein pair graph, and an EXACT
    recursive-CTE transitive closure — so the blocking and the
    O(log d) component rounds are both proven lossless. The chain is
    shared with q_er_golden_record via _er_tagged's checkpoint."""
    return _er_tagged(spark, sf_dir).select("rec_id", "name", "entity_id")


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative peeling (llm/graphs.kcore):
    a seeded-md5 random graph (2-8 out-edges per doc) plus a planted
    dense 80-node block; at k=8 the random periphery cascades away
    over 9 peel rounds and EXACTLY the planted block survives — a
    non-trivial fixed point the oracle restates by unrolling 12
    identical integer peel rounds as chained CTEs (extra rounds
    past convergence are no-ops, the pagerank/SSSP oracle pattern)."""
    from vanus_spark.llm.graphs import kcore

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()

    def h(j_col) -> F.Column:
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("doc_id").cast("string"),
                        j_col.cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")

    cnt = F.lit(2) + (h(F.lit(99)) % 7)
    rand = docs.select(
        F.col("doc_id").alias("src_id"),
        "doc_id",
        F.explode(
            F.sequence(F.lit(0).cast("long"), (cnt - 1))
        ).alias("j"),
    ).select(
        F.col("src_id").alias("src"), (h(F.col("j")) % n).alias("dst")
    )
    blk = (
        docs.where(F.col("doc_id") < 80)
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.sequence(F.lit(0), F.lit(5))).alias("j"),
        )
        .select(
            "src",
            ((F.col("src") * 17 + F.col("j") * 31 + 5) % 80).alias("dst"),
        )
    )
    edges = (
        rand.unionByName(blk)
        .where(F.col("src") != F.col("dst"))
        .select(F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst"))
        .distinct()
    )
    return kcore(edges, k=8, max_rounds=15).select(F.col("node"))


def q_er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship on top of entity resolution: the q_entity_resolution
    record registry (base rows carry acctbal + segment; typo duplicates
    lose acctbal) is clustered, then each entity collapses to ONE
    golden row by rule — master-record fields from the lowest rec_id
    (min_by), most-favorable balance (max over non-nulls), member
    count. This is the merge step every MDM pipeline runs after
    matching; one aggregate over the component join, no extra shuffle
    beyond the ER chain itself — which is shared with
    q_entity_resolution via _er_tagged's per-session checkpoint.
    Oracle = the ER recursive-closure oracle + arg_min/max
    survivorship in SQL."""
    tagged = _er_tagged(spark, sf_dir)
    return tagged.groupBy("entity_id").agg(
        F.min_by("name", "rec_id").alias("name"),
        F.max("acctbal").alias("acctbal"),
        F.min_by("segment", "rec_id").alias("segment"),
        F.count("*").alias("n_members"),
    )


def q_geo_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clustering (DBSCAN's distributed cousin): customer
    coordinates (the geo fixture's seeded-md5 derivation) bucket to
    8-degree cells, cells with >= 3 points are CORE, and clusters are
    connected components of core cells under 8-neighborhood adjacency
    — found by the same 9-cell neighbor-explode equi-join as the
    radius join (never a quadratic cell pair scan) and
    duplicate_components over the cell-adjacency list: the CELL
    universe is bounded by geography (<= ceil(120/8) x ceil(360/8)
    cells at ANY data volume), so the graph is always far below its
    driver-solve edge bound and the component solve is one union-find
    on the driver, not ~60 driver-loop jobs of iterative propagation
    on a few-hundred-node graph. Everything after the one
    floor() is integer algebra; the oracle uses the quadratic |dx|<=1
    adjacency predicate + a recursive-CTE closure, proving the
    neighbor-explode blocking and the component solve both
    lossless."""
    from vanus_spark.llm.dedup import duplicate_components, md5_long

    cell, minpts = 8.0, 3

    def coord(col, seed, span, offset):
        return (md5_long(col, seed) % span).cast("double") / 1000000.0 - offset

    cust = _t(spark, sf_dir, "customer").select(
        coord(F.col("c_custkey"), 1, 120000000, 60.0).alias("lat"),
        coord(F.col("c_custkey"), 2, 360000000, 180.0).alias("lon"),
    )
    cells = cust.groupBy(
        F.floor(F.col("lat") / cell).cast("long").alias("cx"),
        F.floor(F.col("lon") / cell).cast("long").alias("cy"),
    ).agg(F.count("*").alias("n"))
    core = cells.where(F.col("n") >= minpts).withColumn(
        "key", (F.col("cx") + 100) * 1000 + (F.col("cy") + 100)
    )
    # 9-cell neighbor explode on one side -> adjacency as an EQUI-join
    nbr = core.select(
        "key",
        F.explode(
            F.array(
                *[
                    (F.col("cx") + dx + 100) * 1000 + (F.col("cy") + dy + 100)
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("nkey"),
    ).where(F.col("key") != F.col("nkey"))
    other = core.select(F.col("key").alias("nkey"))
    pairs = nbr.join(other, "nkey").select(
        F.col("key").alias("id_a"), F.col("nkey").alias("id_b")
    )
    comp = duplicate_components(pairs, id_col="key")
    return core.join(F.broadcast(comp), "key", "left").select(
        "cx",
        "cy",
        "n",
        F.coalesce("component", "key").alias("cluster"),
    )


def q_er_jw_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler record linkage (operators/fuzzy.jw_best_match):
    link a deterministically-corrupted customer roster (three typo
    classes: delete/swap/substitute inside positions 13-15) back to
    the clean master by best JW score within last-3-chars blocking
    (every corruption class provably preserves the final four
    characters, so the block never loses the true match; selectivity
    ~0.1% of the master per dirty row is what bounds the scored-pair
    volume at scale).
    The scoring pandas UDF is bit-exact against the engine's
    jaro_winkler_similarity (tests/test_fuzzy_jw.py), so the raw
    double ranking itself is under the oracle hash."""
    from vanus_spark.operators.fuzzy import jw_best_match

    cust = _t(spark, sf_dir, "customer")
    name = F.col("c_name")
    k = F.col("c_custkey")
    delete13 = F.concat(F.substring(name, 1, 12), F.substring(name, 14, 6))
    swap1314 = F.concat(
        F.substring(name, 1, 12),
        F.substring(name, 14, 1),
        F.substring(name, 13, 1),
        F.substring(name, 15, 4),
    )
    subst13 = F.concat(F.substring(name, 1, 12), F.lit("X"), F.substring(name, 14, 6))
    dirty = cust.select(
        k.alias("d_id"),
        F.when(k % 3 == 0, delete13)
        .when(k % 3 == 1, swap1314)
        .otherwise(subst13)
        .alias("d_name"),
    )
    return jw_best_match(
        cust,
        dirty,
        master_id="c_custkey",
        master_text="c_name",
        dirty_id="d_id",
        dirty_text="d_name",
        # right() has identical short-string semantics on both engines
        # (|text| < 3 yields the whole string, where substring(c,-3,3)
        # would yield '' in Spark but not in DuckDB) — a latent parity
        # trap if this block key is reused on free-form text, flagged
        # by the round-5 advisor. Unreachable for fixed-18-char c_name,
        # fixed anyway.
        block_key=lambda c: F.right(c, F.lit(3)),
        threshold=0.85,
    )


def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the synthetic crawl
    graph (same ring+chord+hash edge fixture as link_triangles):
    2*tri(v) / (deg(v)*(deg(v)-1)). Degree is one partial-agg groupBy;
    triangles materialize once via the a<b<c wedge-close joins and fan
    out to their three vertices — the coefficient itself is one
    engine-exact double division."""
    from vanus_spark.llm.graphs import clustering_coefficient

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    e = None
    for expr in (
        (F.col("doc_id") + 1) % n,
        (F.col("doc_id") + 2) % n,
        (F.col("doc_id") * 7 + 3) % n,
    ):
        part = docs.select(F.col("doc_id").alias("src"), expr.alias("dst"))
        e = part if e is None else e.unionByName(part)
    und = (
        e.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    return clustering_coefficient(und)


# Fellegi-Sunter priors shared by the Spark query and its oracle: the
# log2 weights are computed ONCE in Python and embedded as identical
# double literals in both plans, so the per-pair score is a fixed-order
# sum of the same constants — bit-identical cross-engine.
_FS_FIELDS = {"name": (0.9, 0.001), "segment": (0.95, 0.2), "phone": (0.9, 0.04)}


_FS_MATCH, _FS_POSSIBLE = 8.0, 0.0


def _fs_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared Fellegi-Sunter fixture: dirty-vs-master customer records
    blocked on (nationkey, acctbal-hundreds), emitting the comparison
    vector (agree_name / agree_segment / agree_phone) that both the
    scoring gate (q_er_fellegi_sunter) and the EM weight estimator
    (q_linkage_em_weights) consume."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    name = F.concat(
        F.col("c_name"),
        F.lit("-"),
        F.substring(F.md5(k.cast("string")), 1, 6),
    )
    cents = (F.col("c_acctbal") * 100).cast("long")
    blk = F.concat_ws(
        "|",
        F.col("c_nationkey").cast("string"),
        F.floor(cents / F.lit(10000.0)).cast("long").cast("string"),
    )
    master = cust.select(
        k.alias("m_id"),
        name.alias("m_name"),
        F.col("c_mktsegment").alias("m_seg"),
        F.lpad((k % 997).cast("string"), 3, "0").alias("m_p3"),
        blk.alias("blk"),
    )
    pos = (k % 12) + 2
    sub1 = F.concat(
        F.substr(name, F.lit(1), pos - F.lit(1)),
        F.lit("X"),
        F.substr(name, pos + F.lit(1), F.length(name)),
    )
    sub3 = F.concat(F.lit("ZZZ"), F.substr(name, F.lit(4), F.length(name)))
    dirty = cust.select(
        k.alias("d_id"),
        F.when(k % 9 == 0, sub3).otherwise(sub1).alias("d_name"),
        F.when(
            k % 5 == 0,
            F.when(F.col("c_mktsegment") == "BUILDING", F.lit("MACHINERY"))
            .otherwise(F.lit("BUILDING")),
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("d_seg"),
        F.when(k % 7 == 0, F.lit("XXX"))
        .otherwise(F.lpad((k % 997).cast("string"), 3, "0"))
        .alias("d_p3"),
        blk.alias("blk"),
    )
    pairs = dirty.join(master, "blk").select(
        "d_id",
        "m_id",
        (F.levenshtein("d_name", "m_name") <= 1).alias("agree_name"),
        (F.col("d_seg") == F.col("m_seg")).alias("agree_segment"),
        (F.col("d_p3") == F.col("m_p3")).alias("agree_phone"),
    )
    return pairs


def q_er_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage
    (operators/linkage.fellegi_sunter) over a blocked candidate set
    (fixture: _fs_pairs — dirty customer records with name/segment/
    phone corruptions, blocked on (nationkey, acctbal-hundreds)):
    each pair's comparison vector is scored with log2(m/u) agreement
    weights and classified match/possible/non_match — the 1969
    decision model production linkers (Splink/Dedupe) still run.
    Scoring is pure Column arithmetic over the blocked join; the
    oracle restates the whole chain with the SAME Python-computed
    weight literals."""
    from vanus_spark.operators.linkage import fellegi_sunter

    pairs = _fs_pairs(spark, sf_dir)
    scored = fellegi_sunter(pairs, _FS_FIELDS, _FS_MATCH, _FS_POSSIBLE)
    return scored.select(
        "d_id",
        "m_id",
        "agree_name",
        "agree_segment",
        "agree_phone",
        F.round("fs_score", 6).alias("fs_score"),
        "fs_decision",
    )


def q_link_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from seeds {3, 17}
    (graphs.personalized_pagerank) over the same deterministic crawl
    graph as link_pagerank — the related-documents proximity signal.
    Constants (alpha/|S|, 1-alpha) fold driver-side and are replayed
    verbatim by the oracle's unrolled CTE iterations."""
    from vanus_spark.llm.graphs import personalized_pagerank

    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    e1 = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 7 + 3) % n).alias("dst"),
    )
    e2 = docs.where((F.col("doc_id") % 10 == 0) & (F.col("doc_id") != 0)).select(
        F.col("doc_id").alias("src"), F.lit(0).cast("long").alias("dst")
    )
    ranks = personalized_pagerank(
        e1.unionByName(e2), seed_nodes=[3, 17], alpha=0.15, iters=3
    )
    return ranks.where(F.col("rank") > 0).select(
        "node", F.round("rank", 9).alias("rank")
    )


def q_linkage_em_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsupervised EM estimation of the Fellegi-Sunter m/u weights
    (operators/linkage.fs_em_estimate) over the SAME blocked
    comparison vectors q_er_fellegi_sunter scores — how Splink-style
    linkers LEARN the weights rather than hand-pick them. Two EM
    iterations; each is one 1-row aggregate whose few scalars re-enter
    the next E-step as plan literals (the k-means model-collect
    pattern). The oracle re-runs the identical EM entirely in SQL —
    its own aggregates, not synced literals — so agreement certifies
    the algorithm, not a copied constant."""
    from vanus_spark.operators.linkage import fs_em_estimate

    pairs = _fs_pairs(spark, sf_dir)
    return fs_em_estimate(
        pairs, ["agree_name", "agree_segment", "agree_phone"], iters=2
    )


def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-Jaccard link prediction over the synthetic crawl graph
    (same ring+chord+hash edge fixture as q_graph_clustering_coeff):
    for every 2-hop NON-edge pair, score = |N(a) n N(b)| /
    (deg(a)+deg(b)-common), top 50 — the classic common-neighbors
    recommender (missing-citation / follow-suggestion shape).
    Candidates come from the wedge join (quadratic only in per-node
    degree), existing edges drop via one anti-join, degrees broadcast;
    top-k is TakeOrderedAndProject on the rounded score with a full
    (a, b) tiebreak."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    e = None
    for expr in (
        (F.col("doc_id") + 1) % n,
        (F.col("doc_id") + 2) % n,
        (F.col("doc_id") * 7 + 3) % n,
    ):
        part = docs.select(F.col("doc_id").alias("src"), expr.alias("dst"))
        e = part if e is None else e.unionByName(part)
    und = (
        e.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    from vanus_spark.llm.graphs import link_prediction_jaccard

    return link_prediction_jaccard(und, k=50)


def _crawl_und_edges(docs: DataFrame, n: int) -> DataFrame:
    """The shared ring+chord crawl-graph fixture (same edges as
    q_graph_clustering_coeff / q_graph_link_prediction), undirected
    and deduplicated: (a, b) with a < b."""
    e = None
    for expr in (
        (F.col("doc_id") + 1) % n,
        (F.col("doc_id") + 2) % n,
        (F.col("doc_id") * 7 + 3) % n,
    ):
        part = docs.select(F.col("doc_id").alias("src"), expr.alias("dst"))
        e = part if e is None else e.unionByName(part)
    return (
        e.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )


def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the crawl graph (Newman 2002): the
    Pearson correlation of endpoint degrees over undirected edges —
    positive means hubs link to hubs (social-network shape), negative
    means hubs link to leaves (internet/AS shape); it decides whether
    degree-targeted sampling or dedup will shear the graph. Degrees
    from one count over the edge list; all moment sums exact BIGINT
    over edges (each edge contributes both orientations, the
    undirected convention)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    und = _crawl_und_edges(docs, n)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    both = und.join(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("_ja")),
        "a",
    ).join(
        deg.select(F.col("node").alias("b"), F.col("deg").alias("_kb")),
        "b",
    )
    # both orientations: (j,k) and (k,j) per edge
    pairs = both.select(
        F.col("_ja").alias("j"), F.col("_kb").alias("k")
    ).unionByName(
        both.select(F.col("_kb").alias("j"), F.col("_ja").alias("k"))
    )
    agg = pairs.agg(
        F.count("*").alias("_m"),
        F.sum(F.col("j") * F.col("k")).alias("_sjk"),
        F.sum("j").alias("_sj"),
        F.sum(F.col("j") * F.col("j")).alias("_sjj"),
    )
    m = F.col("_m").cast("double")
    mean = F.col("_sj").cast("double") / m
    num = F.col("_sjk").cast("double") / m - mean * mean
    den = F.col("_sjj").cast("double") / m - mean * mean
    return agg.select(
        (F.col("_m") / 2).cast("long").alias("n_edges"),
        F.round(num / den, 6).alias("assortativity"),
    )


def q_graph_powerlaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent of the crawl-graph degree distribution via
    the continuous MLE alpha = 1 + n / sum(ln(k / kmin)) (Clauset,
    Shalizi & Newman 2009) — the scale-free-ness readout that decides
    whether hub-aware partitioning (salting the heavy keys) is needed
    before graph joins. One degree count + one #nodes aggregate;
    kmin = min degree."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    und = _crawl_und_edges(docs, n)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    kmin = deg.agg(F.min("deg").alias("_kmin"))
    j = deg.crossJoin(F.broadcast(kmin))
    return j.agg(
        F.count("*").alias("n_nodes"),
        F.max("_kmin").alias("k_min"),
        F.max("deg").alias("k_max"),
        F.round(
            1.0
            + F.count("*")
            / F.sum(F.log(F.col("deg").cast("double") / F.col("_kmin"))),
            6,
        ).alias("alpha"),
    )


def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the detected communities — the quality
    score the bare community listing (q_link_communities) lacks:
    Q = sum_c (e_c/m - (d_c/2m)^2) over the SAME 3-round label
    propagation and crawl graph, where e_c counts intra-community
    undirected edges and d_c sums member degrees. Q ~ 0 means the
    partition is no better than random wiring; the readout that
    decides whether community-based sharding/grouping is worth
    anything. Exact integer counts; per-community contributions on
    the bounded community table."""
    from vanus_spark.llm.graphs import label_propagation

    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    e1 = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 7 + 3) % n).alias("dst"),
    )
    e2 = docs.where(
        (F.col("doc_id") % 10 == 0) & (F.col("doc_id") != 0)
    ).select(F.col("doc_id").alias("src"), F.lit(0).cast("long").alias("dst"))
    edges = e1.unionByName(e2)
    # labels feeds BOTH endpoint joins and sym feeds degree + the
    # undirected edge set: pin them so the 3-round propagation chain
    # is not re-derived per consumer (the shared-chain lesson from
    # the round-5 ER checkpoints; 10.1 s -> ~2 s at sf0.1)
    labels = label_propagation(edges, iters=3).localCheckpoint(eager=False)
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(
            edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    und = sym.where(F.col("a") < F.col("b"))
    m_edges = und.count()
    deg = sym.groupBy("a").agg(F.count("*").alias("_deg"))
    la = labels.select(
        F.col("node").alias("a"), F.col("community").alias("_ca")
    )
    lb = labels.select(
        F.col("node").alias("b"), F.col("community").alias("_cb")
    )
    e_in = (
        und.join(la, "a")
        .join(lb, "b")
        .where(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("community"))
        .agg(F.count("*").alias("e_in"))
    )
    d_c = (
        deg.join(la, "a")
        .groupBy(F.col("_ca").alias("community"))
        .agg(F.sum("_deg").alias("d_c"), F.count("*").alias("n_members"))
    )
    per_c = d_c.join(e_in, "community", "left").select(
        "community",
        "n_members",
        F.coalesce("e_in", F.lit(0)).alias("e_in"),
        "d_c",
        (
            F.coalesce("e_in", F.lit(0)).cast("double") / m_edges
            - (F.col("d_c").cast("double") / (2 * m_edges))
            * (F.col("d_c").cast("double") / (2 * m_edges))
        ).alias("_contrib"),
    )
    q = per_c.agg(F.round(F.sum("_contrib"), 6).alias("modularity"))
    return (
        per_c.crossJoin(F.broadcast(q))
        .select(
            "community",
            "n_members",
            "e_in",
            "d_c",
            F.round("_contrib", 6).alias("contribution"),
            "modularity",
        )
        .orderBy("community")
    )


def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities on the deterministic crawl graph shared
    with q_link_pagerank (doc -> (7d+3) mod n, every 10th doc -> hub
    0): two UNNORMALIZED mutual-reinforcement iterations so every
    score stays an exact BIGINT (a1 = indegree, h1 = sum of a1 over
    out-links, a2 = A^T h1, h2 = A a2) — normalization happens once at
    the end against the max (an order-free integer aggregate). One
    join + one partial-agg shuffle per half-iteration, the PageRank
    scale shape. Top 20 authorities, ties to the lower node id."""
    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    e1 = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 7 + 3) % n).alias("dst"),
    )
    e2 = docs.where(
        (F.col("doc_id") % 10 == 0) & (F.col("doc_id") != 0)
    ).select(F.col("doc_id").alias("src"), F.lit(0).cast("long").alias("dst"))
    edges = e1.unionByName(e2)
    a1 = edges.groupBy("dst").agg(F.count("*").alias("a1"))
    h1 = (
        edges.join(a1, "dst")
        .groupBy("src")
        .agg(F.sum("a1").alias("h1"))
    )
    a2 = (
        edges.join(h1, "src")
        .groupBy("dst")
        .agg(F.sum("h1").alias("a2"))
    )
    h2 = (
        edges.join(a2, "dst")
        .groupBy("src")
        .agg(F.sum("a2").alias("h2"))
    )
    joined = (
        a2.select(F.col("dst").alias("node"), "a2")
        .join(h2.select(F.col("src").alias("node"), "h2"), "node", "full")
        .select(
            "node",
            F.coalesce("a2", F.lit(0)).alias("authority"),
            F.coalesce("h2", F.lit(0)).alias("hub"),
        )
    )
    mx = joined.agg(
        F.max("authority").alias("ma"), F.max("hub").alias("mh")
    )
    out = (
        joined.crossJoin(F.broadcast(mx))
        .select(
            "node",
            "authority",
            "hub",
            F.round(
                F.col("authority").cast("double") / F.col("ma").cast("double"),
                6,
            ).alias("authority_norm"),
            F.round(
                F.col("hub").cast("double") / F.col("mh").cast("double"), 6
            ).alias("hub_norm"),
        )
        .orderBy(F.col("authority").desc(), "node")
        .limit(20)
    )
    return out


def q_graph_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 2-hop reach per node on the shared crawl graph: the
    neighborhood-growth readout behind influence ranking and
    friend-of-friend features. N1 = direct successors; N2 = successors
    of successors; reach = |N1 union N2 minus self|. The expansion is
    one self-join bounded by out-degree squared (the inherent 2-hop
    cost), then one distinct aggregate — exact integers end to end.
    Top 30 by reach, ties to the lower node id."""
    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    e1 = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 7 + 3) % n).alias("dst"),
    )
    e2 = docs.where(
        (F.col("doc_id") % 10 == 0) & (F.col("doc_id") != 0)
    ).select(F.col("doc_id").alias("src"), F.lit(0).cast("long").alias("dst"))
    edges = e1.unionByName(e2)
    two = edges.alias("a").join(
        edges.alias("b"), F.col("a.dst") == F.col("b.src")
    ).select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
    reach = (
        edges.unionByName(two)
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .groupBy("src")
        .agg(F.count("*").alias("reach_2hop"))
    )
    deg = edges.groupBy("src").agg(
        F.count_distinct("dst").alias("out_deg")
    )
    return (
        reach.join(deg, "src")
        .select(
            F.col("src").alias("node"), "out_deg", "reach_2hop"
        )
        .orderBy(F.col("reach_2hop").desc(), "node")
        .limit(30)
    )


def q_graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient (Colizza et al. 2006) phi(k) =
    2 E_k / (N_k (N_k - 1)) over a seeded crawl graph with a planted
    hub clique — do the high-degree nodes link to EACH OTHER more
    than density predicts? (the hub-collusion readout assortativity's
    single correlation number can't localize; rho(k) = phi(k) /
    overall density makes >1 mean 'richer than random'). Graph:
    every doc gets 2-4 md5-seeded out-edges; every 50th doc joins a
    hub clique, so phi(k) jumps to ~1 once k passes the random
    degree range — the fixture has a real rich club to find.
    Undirected dedup via (least, greatest) + distinct; each
    threshold of the bounded panel (k in 2/4/8/16/24) is one
    semi-join of the edge table against the degree table — never an
    all-pairs product."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()

    def h(tag: str) -> F.Column:
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit(":" + tag)
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
    parts = []
    for j in range(4):
        parts.append(
            docs.select(
                F.col("doc_id").alias("src"),
                (h(str(j)) % n).alias("dst"),
                (h("deg") % 3).alias("extra"),
            ).where(F.lit(j) < 2 + F.col("extra"))
        )
    rand = parts[0]
    for p in parts[1:]:
        rand = rand.unionByName(p)
    hubs = docs.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("hid")
    )
    clique = (
        hubs.select(F.col("hid").alias("src"))
        .crossJoin(F.broadcast(hubs.select(F.col("hid").alias("dst"))))
        .where(F.col("src") < F.col("dst"))
    )
    # und feeds deg/gtot/ek and deg feeds gtot/nk/ek(x2): pin both so
    # the 4-part edge synthesis + distinct and the degree shuffle each
    # run ONCE across the k-panel branches (r10 fan-out lesson)
    und = (
        rand.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .unionByName(clique)
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
        .localCheckpoint(eager=False)
    )
    gtot = und.agg(F.count("*").alias("m")).crossJoin(
        F.broadcast(deg.agg(F.count("*").alias("nn")))
    )
    ks = spark.createDataFrame(
        [(2,), (4,), (8,), (16,), (24,)], "k long"
    )
    nk = (
        deg.crossJoin(F.broadcast(ks))
        .where(F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_k"))
    )
    ek = (
        und.join(
            deg.select(F.col("node").alias("a"), F.col("d").alias("da")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("d").alias("db")),
            "b",
        )
        .crossJoin(F.broadcast(ks))
        .where((F.col("da") > F.col("k")) & (F.col("db") > F.col("k")))
        .groupBy("k")
        .agg(F.count("*").alias("e_k"))
    )
    j = (
        ks.join(nk, "k", "left")
        .join(ek, "k", "left")
        .crossJoin(F.broadcast(gtot))
        .select(
            "k",
            F.coalesce("n_k", F.lit(0)).alias("n_k"),
            F.coalesce("e_k", F.lit(0)).alias("e_k"),
            "m",
            "nn",
        )
    )
    phi = F.when(
        F.col("n_k") >= 2,
        2.0
        * F.col("e_k").cast("double")
        / (
            F.col("n_k").cast("double")
            * (F.col("n_k").cast("double") - 1.0)
        ),
    )
    dens = (
        2.0
        * F.col("m").cast("double")
        / (F.col("nn").cast("double") * (F.col("nn").cast("double") - 1.0))
    )
    return j.select(
        "k",
        "n_k",
        "e_k",
        F.round(phi, 6).alias("phi"),
        F.round(phi / dens, 6).alias("rho_vs_density"),
    ).orderBy("k")


def _sssp_oracle() -> str:
    """SQL twin of q_graph_sssp: the same 4 Bellman-Ford rounds
    unrolled as chained CTEs (integer weights — exact relaxation)."""
    rounds = []
    prev = "d0"
    for i in range(1, 5):
        rounds.append(f"""
        d{i} AS (
          SELECT node, min(dist)::BIGINT AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT e2.dst AS node, {prev}.dist + e2.w AS dist
            FROM e2 JOIN {prev} ON e2.src = {prev}.node) u
          GROUP BY 1)""")
        prev = f"d{i}"
    return f"""
        WITH nn AS (SELECT count(*) AS n FROM documents),
        e AS (
          SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst,
                 (1 + doc_id % 3)::BIGINT AS w
          FROM documents, nn
          UNION ALL
          SELECT doc_id, (doc_id * 7 + 3) % nn.n, (2 + doc_id % 5)::BIGINT
          FROM documents, nn),
        e2 AS (SELECT * FROM e WHERE src <> dst),
        d0 AS (SELECT doc_id AS node, 0::BIGINT AS dist
               FROM documents WHERE doc_id % 97 = 0),
        {','.join(rounds)}
        SELECT node AS doc_id, dist FROM d4
    """


def _kcore_oracle(k: int = 8, rounds: int = 12) -> str:
    """SQL twin of q_graph_kcore: the identical edge synthesis (seeded
    md5 random graph + planted 80-node block) and ``rounds`` unrolled
    integer peel rounds — convergence is at round 9 on the fixture, so
    rounds=12 is past the fixed point and extra rounds are no-ops (the
    SSSP/pagerank unroll pattern)."""
    body = []
    prev = "l0"
    for i in range(1, rounds + 1):
        body.append(
            f"""
        k{i} AS MATERIALIZED (
            SELECT src FROM {prev} GROUP BY 1 HAVING count(*) >= {k}),
        l{i} AS MATERIALIZED (
            SELECT l.src, l.dst FROM {prev} l
            JOIN k{i} a ON l.src = a.src
            JOIN k{i} b ON l.dst = b.src)"""
        )
        prev = f"l{i}"
    return f"""
        WITH nn AS (SELECT count(*) AS n FROM documents),
        rnd AS (
          SELECT doc_id AS src,
                 ('0x' || substr(md5(doc_id::VARCHAR || ':' || j::VARCHAR),
                                 1, 8))::BIGINT % nn.n AS dst
          FROM documents, nn,
               unnest(generate_series(0::BIGINT,
                 1 + ('0x' || substr(md5(doc_id::VARCHAR || ':99'),
                                     1, 8))::BIGINT % 7)) AS t(j)),
        blk AS (
          SELECT doc_id AS src, (doc_id * 17 + j * 31 + 5) % 80 AS dst
          FROM documents, unnest(generate_series(0, 5)) AS t(j)
          WHERE doc_id < 80),
        e AS (SELECT DISTINCT src, dst
              FROM (SELECT * FROM rnd UNION ALL SELECT * FROM blk)
              WHERE src <> dst),
        l0 AS MATERIALIZED (
            SELECT DISTINCT src, dst
            FROM (SELECT src, dst FROM e
                  UNION ALL SELECT dst, src FROM e)),
        {','.join(body)}
        SELECT DISTINCT src AS node FROM l{rounds}
    """


def _grid_cluster_oracle(cell: float = 8.0, minpts: int = 3) -> str:
    """SQL twin of q_geo_grid_clusters: same coordinate derivation and
    cell algebra, the QUADRATIC |dx|<=1 adjacency predicate (vs the
    Spark side's 9-cell neighbor-explode equi-join), and an exact
    recursive-CTE closure (vs pointer jumping)."""

    def coord(col, seed, span, offset):
        return (
            f"(('0x' || substr(md5('{seed}|' || {col}::VARCHAR), 1, 15))"
            f"::BIGINT % {span})::DOUBLE / 1000000.0 - {offset}"
        )

    return f"""
        WITH RECURSIVE c AS (
          SELECT {coord('c_custkey', 1, 120000000, 60.0)} AS lat,
                 {coord('c_custkey', 2, 360000000, 180.0)} AS lon
          FROM customer),
        cells AS (SELECT floor(lat / {cell})::BIGINT AS cx,
                         floor(lon / {cell})::BIGINT AS cy,
                         count(*)::BIGINT AS n
                  FROM c GROUP BY 1, 2),
        core AS (SELECT cx, cy, n, (cx + 100) * 1000 + (cy + 100) AS key
                 FROM cells WHERE n >= {minpts}),
        e AS (SELECT a.key AS src, b.key AS dst
              FROM core a JOIN core b
                ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
               AND a.key <> b.key),
        walk(node, label) AS (
          SELECT src, src FROM e
          UNION
          SELECT e.src, w.label FROM e JOIN walk w ON e.dst = w.node),
        comp AS (SELECT node, min(label) AS component
                 FROM walk GROUP BY 1)
        SELECT core.cx, core.cy, core.n,
               coalesce(comp.component, core.key) AS cluster
        FROM core LEFT JOIN comp ON core.key = comp.node
    """


# The SQL twin of _fs_pairs, shared by the Fellegi-Sunter and EM-weight
# twins: master and dirty customer records (name typo, swapped segment,
# masked phone), blocked on (nationkey, acctbal-hundreds), with their
# three agreement flags.
_FS_PAIRS_CTES = """cust AS (
          SELECT c_custkey AS k,
                 c_name || '-' || substr(md5(c_custkey::VARCHAR), 1, 6) AS name,
                 c_mktsegment AS seg,
                 lpad((c_custkey % 997)::VARCHAR, 3, '0') AS p3,
                 c_nationkey::VARCHAR || '|'
                   || floor((c_acctbal * 100)::BIGINT / 10000.0)::BIGINT::VARCHAR
                   AS blk
          FROM customer),
        master AS (
          SELECT k AS m_id, name AS m_name, seg AS m_seg, p3 AS m_p3, blk
          FROM cust),
        dirty AS (
          SELECT k AS d_id,
                 CASE WHEN k % 9 = 0 THEN 'ZZZ' || substr(name, 4, length(name))
                      ELSE substr(name, 1, pos - 1) || 'X'
                           || substr(name, pos + 1, length(name)) END AS d_name,
                 CASE WHEN k % 5 = 0
                      THEN (CASE WHEN seg = 'BUILDING' THEN 'MACHINERY'
                                 ELSE 'BUILDING' END)
                      ELSE seg END AS d_seg,
                 CASE WHEN k % 7 = 0 THEN 'XXX' ELSE p3 END AS d_p3,
                 blk
          FROM (SELECT *, (k % 12) + 2 AS pos FROM cust) t),
        pairs AS (
          SELECT d_id, m_id,
                 levenshtein(d_name, m_name) <= 1 AS agree_name,
                 d_seg = m_seg AS agree_segment,
                 d_p3 = m_p3 AS agree_phone
          FROM dirty JOIN master USING (blk))"""


def _fs_oracle() -> str:
    """SQL twin of q_er_fellegi_sunter: same fixture, same blocked
    join, and the SAME Python-computed log2 weight literals (repr
    round-trips the exact doubles), summed in the same left-to-right
    order so the raw score is bit-identical before the shared
    round(6)."""
    from vanus_spark.operators.linkage import fs_weights

    w = fs_weights(_FS_FIELDS)
    wa_n, wd_n = (repr(x) for x in w["name"])
    wa_s, wd_s = (repr(x) for x in w["segment"])
    wa_p, wd_p = (repr(x) for x in w["phone"])
    return f"""
        WITH {_FS_PAIRS_CTES},
        scored AS (
          SELECT *,
                 ((0.0 + (CASE WHEN agree_name THEN {wa_n} ELSE {wd_n} END))
                   + (CASE WHEN agree_segment THEN {wa_s} ELSE {wd_s} END))
                   + (CASE WHEN agree_phone THEN {wa_p} ELSE {wd_p} END)
                   AS fs_score
          FROM pairs)
        SELECT d_id, m_id, agree_name, agree_segment, agree_phone,
               round(fs_score, 6) AS fs_score,
               CASE WHEN fs_score >= {repr(_FS_MATCH)} THEN 'match'
                    WHEN fs_score >= {repr(_FS_POSSIBLE)} THEN 'possible'
                    ELSE 'non_match' END AS fs_decision
        FROM scored
    """


def _linkage_em_oracle(
    iters: int = 2, m0: float = 0.9, u0: float = 0.1, lam0: float = 0.5
) -> str:
    """SQL twin of q_linkage_em_weights: the SAME blocked comparison
    vectors (the _fs_oracle fixture CTEs), then the EM iterations run
    ENTIRELY in SQL on DuckDB's own aggregates — no literals synced
    from the Spark run, so a hash match certifies the algorithm."""
    fields = ["name", "segment", "phone"]

    def estep(lam_expr: str, m_exprs: dict, u_exprs: dict) -> str:
        pm = lam_expr
        pu = f"(1.0::DOUBLE - {lam_expr})"
        for f in fields:
            a = f"coalesce(agree_{f}, false)"
            pm += (
                f" * (CASE WHEN {a} THEN {m_exprs[f]}"
                f" ELSE 1.0::DOUBLE - {m_exprs[f]} END)"
            )
            pu += (
                f" * (CASE WHEN {a} THEN {u_exprs[f]}"
                f" ELSE 1.0::DOUBLE - {u_exprs[f]} END)"
            )
        return f"({pm}) / (({pm}) + ({pu}))"

    def msums(w: str) -> str:
        cols = [f"sum({w}) AS sw", "count(*)::BIGINT AS n"]
        for f in fields:
            a = f"coalesce(agree_{f}, false)::INT::DOUBLE"
            cols.append(f"sum(({w}) * {a}) AS wa_{f}")
            cols.append(f"sum((1.0::DOUBLE - ({w})) * {a}) AS va_{f}")
        return ", ".join(cols)

    w1 = estep(
        repr(lam0),
        {f: repr(m0) for f in fields},
        {f: repr(u0) for f in fields},
    )
    w2 = estep(
        "(it1.sw / it1.n::DOUBLE)",
        {f: f"(it1.wa_{f} / it1.sw)" for f in fields},
        {f: f"(it1.va_{f} / (it1.n::DOUBLE - it1.sw))" for f in fields},
    )
    finals = " UNION ALL ".join(
        f"""SELECT 'agree_{f}' AS field,
               round(it2.wa_{f} / it2.sw, 6) AS m_est,
               round(it2.va_{f} / (it2.n::DOUBLE - it2.sw), 6) AS u_est,
               round(it2.sw / it2.n::DOUBLE, 6) AS lambda_est,
               it2.n AS n_pairs FROM it2"""
        for f in fields
    )
    return f"""
        WITH {_FS_PAIRS_CTES},
        it1 AS (SELECT {msums(w1)} FROM pairs),
        it2 AS (SELECT {msums(w2)} FROM pairs, it1)
        {finals}
    """


def _ppr_oracle(iters: int = 3) -> str:
    """SQL twin of q_link_ppr: the personalized power iterations
    unrolled as CTEs with the SAME driver-folded constants (repr
    round-trips alpha/|S| and 1-alpha exactly)."""
    seed_mass = repr(1.0 / 2.0)
    tele = repr(0.15 * (1.0 / 2.0))
    damp = repr(1.0 - 0.15)
    parts = [
        f"""
        WITH tot AS (SELECT count(*)::BIGINT AS n FROM documents),
        e AS (
          SELECT doc_id AS src,
                 (doc_id * 7 + 3) % (SELECT n FROM tot) AS dst
          FROM documents
          UNION ALL
          SELECT doc_id AS src, 0::BIGINT AS dst FROM documents
          WHERE doc_id % 10 = 0 AND doc_id != 0),
        nodes AS (SELECT DISTINCT node FROM
                  (SELECT src AS node FROM e
                   UNION ALL SELECT dst FROM e)),
        deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        r0 AS (SELECT node,
                      CASE WHEN node IN (3, 17) THEN {seed_mass}::DOUBLE
                           ELSE 0.0::DOUBLE END AS rank
               FROM nodes)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""",
        r{k} AS (
          SELECT n.node,
                 CASE WHEN n.node IN (3, 17) THEN {tele}::DOUBLE
                      ELSE 0.0::DOUBLE END
                 + {damp}::DOUBLE * coalesce(c.s, 0.0::DOUBLE) AS rank
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank / d.deg) AS s
            FROM e JOIN r{k - 1} r ON e.src = r.node
                   JOIN deg d ON e.src = d.src
            GROUP BY e.dst) c USING (node))"""
        )
    parts.append(
        f"""
        SELECT node, round(rank, 9) AS rank FROM r{iters} WHERE rank > 0"""
    )
    return "".join(parts)


def oracle_sql() -> dict[str, str]:
    """DuckDB twins of this family's queries, keyed by query name."""
    return {
        "graph_rich_club": """
            WITH ids AS (SELECT doc_id FROM documents),
            nt AS (SELECT count(*)::BIGINT AS n FROM ids),
            rand AS (
              SELECT doc_id AS src,
                     (('0x' || substr(md5(doc_id::VARCHAR || ':'
                         || j::VARCHAR), 1, 8))::BIGINT % n) AS dst
              FROM ids, nt,
                   unnest(generate_series(0::BIGINT, 3::BIGINT))
                     AS s(j)
              WHERE j < 2 + (('0x' || substr(md5(doc_id::VARCHAR
                                 || ':deg'), 1, 8))::BIGINT % 3)),
            clique AS (SELECT a.doc_id AS src, b.doc_id AS dst
                       FROM ids a, ids b
                       WHERE a.doc_id % 50 = 0
                         AND b.doc_id % 50 = 0
                         AND a.doc_id < b.doc_id),
            und AS (SELECT DISTINCT least(src, dst) AS a,
                                    greatest(src, dst) AS b
                    FROM (SELECT src, dst FROM rand
                          WHERE src <> dst
                          UNION ALL
                          SELECT src, dst FROM clique)),
            deg AS (SELECT node, count(*)::BIGINT AS d
                    FROM (SELECT a AS node FROM und
                          UNION ALL SELECT b FROM und)
                    GROUP BY 1),
            g AS (SELECT (SELECT count(*)::BIGINT FROM und) AS m,
                         (SELECT count(*)::BIGINT FROM deg) AS nn),
            ks AS (SELECT unnest([2::BIGINT, 4::BIGINT, 8::BIGINT,
                                  16::BIGINT, 24::BIGINT]) AS k),
            nk AS (SELECT k, count(*)::BIGINT AS n_k
                   FROM deg, ks WHERE d > k GROUP BY 1),
            ek AS (SELECT k, count(*)::BIGINT AS e_k
                   FROM und
                   JOIN deg da ON und.a = da.node
                   JOIN deg db ON und.b = db.node, ks
                   WHERE da.d > k AND db.d > k GROUP BY 1),
            j AS (SELECT ks.k, coalesce(n_k, 0)::BIGINT AS n_k,
                         coalesce(e_k, 0)::BIGINT AS e_k, m, nn
                  FROM ks LEFT JOIN nk USING (k)
                          LEFT JOIN ek USING (k), g)
            SELECT k, n_k, e_k,
                   round(CASE WHEN n_k >= 2
                              THEN 2.0 * e_k::DOUBLE
                                   / (n_k::DOUBLE
                                      * (n_k::DOUBLE - 1.0)) END, 6)
                     AS phi,
                   round(CASE WHEN n_k >= 2
                              THEN 2.0 * e_k::DOUBLE
                                   / (n_k::DOUBLE
                                      * (n_k::DOUBLE - 1.0)) END
                         / (2.0 * m::DOUBLE
                            / (nn::DOUBLE * (nn::DOUBLE - 1.0))), 6)
                     AS rho_vs_density
            FROM j ORDER BY k
        """,
        "graph_hits": """
            WITH nd AS (SELECT count(*)::BIGINT AS n FROM documents),
            e AS (SELECT doc_id AS src,
                         (doc_id * 7 + 3) % nd.n AS dst
                  FROM documents, nd
                  UNION ALL
                  SELECT doc_id, 0 FROM documents
                  WHERE doc_id % 10 = 0 AND doc_id <> 0),
            a1 AS (SELECT dst, count(*)::BIGINT AS a1
                   FROM e GROUP BY 1),
            h1 AS (SELECT e.src, sum(a1.a1)::BIGINT AS h1
                   FROM e JOIN a1 USING (dst) GROUP BY 1),
            a2 AS (SELECT e.dst, sum(h1.h1)::BIGINT AS a2
                   FROM e JOIN h1 USING (src) GROUP BY 1),
            h2 AS (SELECT e.src, sum(a2.a2)::BIGINT AS h2
                   FROM e JOIN a2 USING (dst) GROUP BY 1),
            j AS (SELECT coalesce(a2.dst, h2.src) AS node,
                         coalesce(a2.a2, 0)::BIGINT AS authority,
                         coalesce(h2.h2, 0)::BIGINT AS hub
                  FROM a2 FULL JOIN h2 ON a2.dst = h2.src),
            mx AS (SELECT max(authority)::BIGINT AS ma,
                          max(hub)::BIGINT AS mh
                   FROM j)
            SELECT node, authority, hub,
                   round(authority::DOUBLE / ma::DOUBLE, 6)
                     AS authority_norm,
                   round(hub::DOUBLE / mh::DOUBLE, 6) AS hub_norm
            FROM j, mx ORDER BY authority DESC, node LIMIT 20
        """,
        "graph_2hop": """
            WITH nd AS (SELECT count(*)::BIGINT AS n FROM documents),
            e AS (SELECT doc_id AS src,
                         (doc_id * 7 + 3) % nd.n AS dst
                  FROM documents, nd
                  UNION ALL
                  SELECT doc_id, 0 FROM documents
                  WHERE doc_id % 10 = 0 AND doc_id <> 0),
            two AS (SELECT a.src AS src, b.dst AS dst
                    FROM e a JOIN e b ON a.dst = b.src),
            allp AS (SELECT DISTINCT src, dst
                     FROM (SELECT * FROM e
                           UNION ALL SELECT * FROM two)
                     WHERE src <> dst),
            r AS (SELECT src, count(*)::BIGINT AS reach_2hop
                  FROM allp GROUP BY 1),
            d AS (SELECT src, count(DISTINCT dst)::BIGINT AS out_deg
                  FROM e GROUP BY 1)
            SELECT r.src AS node, d.out_deg, r.reach_2hop
            FROM r JOIN d USING (src)
            ORDER BY reach_2hop DESC, node LIMIT 30
        """,
        "graph_assortativity": """
            WITH n AS (SELECT count(*)::BIGINT AS nn FROM documents),
            e AS (
              SELECT doc_id AS src, (doc_id + 1) % nn AS dst
              FROM documents, n
              UNION ALL
              SELECT doc_id, (doc_id + 2) % nn FROM documents, n
              UNION ALL
              SELECT doc_id, (doc_id * 7 + 3) % nn FROM documents, n),
            und AS (SELECT DISTINCT least(src, dst) AS a,
                           greatest(src, dst) AS b
                    FROM e WHERE src <> dst),
            deg AS (SELECT node, count(*)::BIGINT AS deg FROM (
                      SELECT a AS node FROM und
                      UNION ALL SELECT b FROM und)
                    GROUP BY node),
            bth AS (SELECT da.deg AS ja, db.deg AS kb
                    FROM und JOIN deg da ON und.a = da.node
                             JOIN deg db ON und.b = db.node),
            pr AS (SELECT ja AS j, kb AS k FROM bth
                   UNION ALL SELECT kb, ja FROM bth),
            agg AS (SELECT count(*)::BIGINT AS m,
                           sum(j * k)::BIGINT AS sjk,
                           sum(j)::BIGINT AS sj,
                           sum(j * j)::BIGINT AS sjj
                    FROM pr)
            SELECT (m // 2)::BIGINT AS n_edges,
                   round((sjk::DOUBLE / m::DOUBLE
                          - (sj::DOUBLE / m::DOUBLE)
                            * (sj::DOUBLE / m::DOUBLE))
                         / (sjj::DOUBLE / m::DOUBLE
                            - (sj::DOUBLE / m::DOUBLE)
                              * (sj::DOUBLE / m::DOUBLE)), 6)
                     AS assortativity
            FROM agg
        """,
        "graph_powerlaw_alpha": """
            WITH n AS (SELECT count(*)::BIGINT AS nn FROM documents),
            e AS (
              SELECT doc_id AS src, (doc_id + 1) % nn AS dst
              FROM documents, n
              UNION ALL
              SELECT doc_id, (doc_id + 2) % nn FROM documents, n
              UNION ALL
              SELECT doc_id, (doc_id * 7 + 3) % nn FROM documents, n),
            und AS (SELECT DISTINCT least(src, dst) AS a,
                           greatest(src, dst) AS b
                    FROM e WHERE src <> dst),
            deg AS (SELECT node, count(*)::BIGINT AS deg FROM (
                      SELECT a AS node FROM und
                      UNION ALL SELECT b FROM und)
                    GROUP BY node),
            km AS (SELECT min(deg)::BIGINT AS kmin FROM deg)
            SELECT count(*)::BIGINT AS n_nodes,
                   max(kmin)::BIGINT AS k_min,
                   max(deg)::BIGINT AS k_max,
                   round(1.0 + count(*)
                         / sum(ln(deg::DOUBLE / kmin)), 6) AS alpha
            FROM deg, km
        """,
        "graph_modularity": """
            WITH tot AS (SELECT count(*)::BIGINT AS n FROM documents),
            e AS (
              SELECT doc_id AS src,
                     (doc_id * 7 + 3) % (SELECT n FROM tot) AS dst
              FROM documents
              UNION ALL
              SELECT doc_id AS src, 0::BIGINT AS dst FROM documents
              WHERE doc_id % 10 = 0 AND doc_id != 0),
            sym AS (SELECT DISTINCT a, b FROM
                      (SELECT src AS a, dst AS b FROM e
                       UNION ALL SELECT dst, src FROM e)
                    WHERE a != b),
            und AS (SELECT a, b FROM sym WHERE a < b),
            me AS (SELECT count(*)::BIGINT AS m FROM und),
            l0 AS (SELECT DISTINCT a AS node, a::BIGINT AS community
                   FROM sym),
            l1 AS (
              SELECT l.node,
                     least(l.community,
                           coalesce(mm.nmin, l.community)) AS community
              FROM l0 l LEFT JOIN (
                SELECT u.a AS node, min(x.community) AS nmin
                FROM sym u JOIN l0 x ON u.b = x.node
                GROUP BY u.a) mm USING (node)),
            l2 AS (
              SELECT l.node,
                     least(l.community,
                           coalesce(mm.nmin, l.community)) AS community
              FROM l1 l LEFT JOIN (
                SELECT u.a AS node, min(x.community) AS nmin
                FROM sym u JOIN l1 x ON u.b = x.node
                GROUP BY u.a) mm USING (node)),
            l3 AS (
              SELECT l.node,
                     least(l.community,
                           coalesce(mm.nmin, l.community)) AS community
              FROM l2 l LEFT JOIN (
                SELECT u.a AS node, min(x.community) AS nmin
                FROM sym u JOIN l2 x ON u.b = x.node
                GROUP BY u.a) mm USING (node)),
            deg AS (SELECT a, count(*)::BIGINT AS dg FROM sym
                    GROUP BY a),
            ein AS (SELECT la.community, count(*)::BIGINT AS e_in
                    FROM und
                    JOIN l3 la ON und.a = la.node
                    JOIN l3 lb ON und.b = lb.node
                    WHERE la.community = lb.community
                    GROUP BY 1),
            dc AS (SELECT l3.community, sum(dg)::BIGINT AS d_c,
                          count(*)::BIGINT AS n_members
                   FROM deg JOIN l3 ON deg.a = l3.node
                   GROUP BY 1),
            per AS (SELECT dc.community, n_members,
                           coalesce(e_in, 0)::BIGINT AS e_in, d_c,
                           coalesce(e_in, 0)::DOUBLE / m
                           - (d_c::DOUBLE / (2 * m))
                             * (d_c::DOUBLE / (2 * m)) AS contrib
                    FROM dc LEFT JOIN ein ON dc.community = ein.community
                    CROSS JOIN me),
            q AS (SELECT round(sum(contrib), 6) AS modularity FROM per)
            SELECT community, n_members, e_in, d_c,
                   round(contrib, 6) AS contribution, modularity
            FROM per, q ORDER BY community
        """,
        "linkage_em_weights": _linkage_em_oracle(),
        "graph_link_prediction": """
            WITH n AS (SELECT count(*) AS n FROM documents),
            e AS (
              SELECT doc_id AS src, (doc_id + 1) % n.n AS dst
              FROM documents, n
              UNION ALL
              SELECT doc_id, (doc_id + 2) % n.n FROM documents, n
              UNION ALL
              SELECT doc_id, (doc_id * 7 + 3) % n.n FROM documents, n
            ), und AS (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM e WHERE src != dst
            ), sym AS (
              SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und
            ), deg AS (
              SELECT a AS node, count(*)::BIGINT AS deg FROM sym GROUP BY a
            ), wed AS (
              SELECT l.a AS x, r.b AS y, count(*)::BIGINT AS common
              FROM sym l JOIN sym r ON l.b = r.a AND l.a < r.b
              GROUP BY 1, 2
            ), non AS (
              SELECT w.x, w.y, w.common FROM wed w
              ANTI JOIN und u ON w.x = u.a AND w.y = u.b
            )
            SELECT non.x AS a, non.y AS b, non.common AS common,
                   round(non.common
                         / (da.deg + db.deg - non.common)::DOUBLE, 6) AS score
            FROM non
            JOIN deg da ON non.x = da.node
            JOIN deg db ON non.y = db.node
            ORDER BY score DESC, a, b LIMIT 50
        """,
        "link_ppr": _ppr_oracle(iters=3),
        "er_fellegi_sunter": _fs_oracle(),
        "graph_clustering_coeff": """
            WITH n AS (SELECT count(*) AS n FROM documents),
            e AS (
              SELECT doc_id AS src, (doc_id + 1) % n.n AS dst
              FROM documents, n
              UNION ALL
              SELECT doc_id, (doc_id + 2) % n.n FROM documents, n
              UNION ALL
              SELECT doc_id, (doc_id * 7 + 3) % n.n FROM documents, n
            ), und AS (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM e WHERE src != dst
            ), deg AS (
              SELECT node, count(*)::BIGINT AS degree
              FROM (SELECT a AS node FROM und
                    UNION ALL SELECT b FROM und) x
              GROUP BY node
            ), tri AS (
              SELECT e1.a AS a, e1.b AS b, e2.b AS c
              FROM und e1
              JOIN und e2 ON e2.a = e1.b
              JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
            ), pn AS (
              SELECT node, count(*)::BIGINT AS triangles
              FROM (SELECT a AS node FROM tri
                    UNION ALL SELECT b FROM tri
                    UNION ALL SELECT c FROM tri) y
              GROUP BY node
            )
            SELECT deg.node, deg.degree,
                   coalesce(pn.triangles, 0)::BIGINT AS triangles,
                   CASE WHEN deg.degree >= 2
                        THEN round(2 * coalesce(pn.triangles, 0)
                                   / (deg.degree * (deg.degree - 1))::DOUBLE, 6)
                        ELSE 0.0 END AS clustering_coeff
            FROM deg LEFT JOIN pn USING (node)
        """,
        "er_jw_match": """
            WITH dirty AS (
              SELECT c_custkey AS d_id,
                     CASE WHEN c_custkey % 3 = 0
                            THEN substr(c_name, 1, 12) || substr(c_name, 14, 6)
                          WHEN c_custkey % 3 = 1
                            THEN substr(c_name, 1, 12) || substr(c_name, 14, 1)
                                 || substr(c_name, 13, 1) || substr(c_name, 15, 4)
                          ELSE substr(c_name, 1, 12) || 'X' || substr(c_name, 14, 6)
                     END AS d_name
              FROM customer),
            m AS (SELECT c_custkey AS mid, c_name AS mtxt, right(c_name, 3) AS blk
                  FROM customer WHERE length(c_name) > 0),
            d AS (SELECT d_id, d_name, right(d_name, 3) AS blk
                  FROM dirty WHERE length(d_name) > 0),
            s AS (SELECT d_id, mid, jaro_winkler_similarity(d_name, mtxt) AS s
                  FROM d JOIN m USING (blk)),
            r AS (SELECT d_id, mid, s,
                         row_number() OVER (PARTITION BY d_id
                                            ORDER BY s DESC, mid) AS rn
                  FROM s WHERE s >= 0.85)
            SELECT d_id AS dirty_id, mid AS matched_id, round(s, 6) AS score
            FROM r WHERE rn = 1
        """,
        "fuzzy_join_typos": """
            WITH typos AS (
              SELECT s_suppkey AS t_key,
                     substr(s_name, 1, (s_suppkey % length(s_name))::INT)
                     || substr(s_name, (s_suppkey % length(s_name))::INT + 2)
                       AS t_name
              FROM supplier)
            SELECT a.s_suppkey, a.s_name, t.t_key, t.t_name
            FROM supplier a JOIN typos t
              ON levenshtein(a.s_name, t.t_name) <= 1
        """,
        "link_communities": _lpa_oracle(iters=3),
        "fuzzy_name_pairs": """
            SELECT a.s_suppkey AS id_l, b.s_suppkey AS id_r,
                   levenshtein(a.s_name, b.s_name)::INT AS dist
            FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
            WHERE levenshtein(a.s_name, b.s_name) <= 1
        """,
        "link_pagerank": _pagerank_oracle(iters=3),
        # triangles: same canonical undirected three-way join, stated
        # over the generating edge formulas
        "link_triangles": """
            WITH n AS (SELECT count(*) AS n FROM documents),
            e AS (
              SELECT doc_id AS src, (doc_id + 1) % n.n AS dst
              FROM documents, n
              UNION ALL
              SELECT doc_id, (doc_id + 2) % n.n FROM documents, n
              UNION ALL
              SELECT doc_id, (doc_id * 7 + 3) % n.n FROM documents, n
            ), und AS (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM e WHERE src != dst
            )
            SELECT count(*) AS n_triangles,
                   sum(e1.a + e1.b + e2.b)::BIGINT AS vertex_checksum
            FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        """,
        # unrolled frontier BFS: each sk CTE is round k's settled set
        "graph_bfs": """
            WITH n AS (SELECT count(*) AS c FROM documents),
            e AS (
              SELECT doc_id AS src,
                     (doc_id + 1) % (SELECT c FROM n) AS dst
              FROM documents
              UNION ALL
              SELECT doc_id, (doc_id * 7 + 3) % (SELECT c FROM n)
              FROM documents),
            e2 AS (SELECT src, dst FROM e WHERE src <> dst),
            s0 AS (SELECT doc_id, 0 AS dist FROM documents
                   WHERE doc_id % 97 = 0),
            f1 AS (SELECT DISTINCT dst AS doc_id FROM e2
                   JOIN s0 ON e2.src = s0.doc_id
                   WHERE dst NOT IN (SELECT doc_id FROM s0)),
            s1 AS (SELECT * FROM s0
                   UNION ALL SELECT doc_id, 1 FROM f1),
            f2 AS (SELECT DISTINCT dst AS doc_id FROM e2
                   JOIN s1 ON e2.src = s1.doc_id AND s1.dist = 1
                   WHERE dst NOT IN (SELECT doc_id FROM s1)),
            s2 AS (SELECT * FROM s1
                   UNION ALL SELECT doc_id, 2 FROM f2),
            f3 AS (SELECT DISTINCT dst AS doc_id FROM e2
                   JOIN s2 ON e2.src = s2.doc_id AND s2.dist = 2
                   WHERE dst NOT IN (SELECT doc_id FROM s2)),
            s3 AS (SELECT * FROM s2
                   UNION ALL SELECT doc_id, 3 FROM f3),
            f4 AS (SELECT DISTINCT dst AS doc_id FROM e2
                   JOIN s3 ON e2.src = s3.doc_id AND s3.dist = 3
                   WHERE dst NOT IN (SELECT doc_id FROM s3)),
            s4 AS (SELECT * FROM s3
                   UNION ALL SELECT doc_id, 4 FROM f4)
            SELECT doc_id, dist FROM s4
        """,
        "graph_sssp": _sssp_oracle(),
        "entity_resolution": """
            WITH RECURSIVE cust AS (
              SELECT c_custkey,
                     c_name || '-' || substr(md5(c_custkey::VARCHAR), 1, 6)
                       AS name
              FROM customer),
            recs AS (
              SELECT c_custkey * 2 AS rec_id, name FROM cust
              UNION ALL
              SELECT c_custkey * 2 + 1,
                     substr(name, 1, pos - 1)
                       || substr(name, pos + 1, length(name))
              FROM (SELECT c_custkey, name,
                           (c_custkey % length(name)) + 1 AS pos
                    FROM cust) t
              WHERE c_custkey % 3 = 0),
            pr AS (SELECT a.rec_id AS id_a, b.rec_id AS id_b
                   FROM recs a JOIN recs b ON a.rec_id < b.rec_id
                   WHERE levenshtein(a.name, b.name) <= 1),
            edges AS (SELECT id_a AS src, id_b AS dst FROM pr
                      UNION SELECT id_b, id_a FROM pr),
            walk(node, label) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node),
            comp AS (SELECT node AS rec_id, min(label) AS component
                     FROM walk GROUP BY 1)
            SELECT r.rec_id, r.name,
                   coalesce(c.component, r.rec_id) AS entity_id
            FROM recs r LEFT JOIN comp c ON r.rec_id = c.rec_id
        """,
        "graph_kcore": _kcore_oracle(),
        "geo_grid_clusters": _grid_cluster_oracle(),
        "er_golden_record": """
            WITH RECURSIVE cust AS (
              SELECT c_custkey,
                     c_name || '-' || substr(md5(c_custkey::VARCHAR), 1, 6)
                       AS name,
                     c_acctbal, c_mktsegment
              FROM customer),
            recs AS (
              SELECT c_custkey * 2 AS rec_id, name,
                     c_acctbal AS acctbal, c_mktsegment AS segment
              FROM cust
              UNION ALL
              SELECT c_custkey * 2 + 1,
                     substr(name, 1, pos - 1)
                       || substr(name, pos + 1, length(name)),
                     NULL::DOUBLE, c_mktsegment
              FROM (SELECT c_custkey, name, c_mktsegment,
                           (c_custkey % length(name)) + 1 AS pos
                    FROM cust) t
              WHERE c_custkey % 3 = 0),
            pr AS (SELECT a.rec_id AS id_a, b.rec_id AS id_b
                   FROM recs a JOIN recs b ON a.rec_id < b.rec_id
                   WHERE levenshtein(a.name, b.name) <= 1),
            edges AS (SELECT id_a AS src, id_b AS dst FROM pr
                      UNION SELECT id_b, id_a FROM pr),
            walk(node, label) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node),
            comp AS (SELECT node AS rec_id, min(label) AS component
                     FROM walk GROUP BY 1),
            tagged AS (SELECT r.*, coalesce(c.component, r.rec_id) AS entity_id
                       FROM recs r LEFT JOIN comp c ON r.rec_id = c.rec_id)
            SELECT entity_id, arg_min(name, rec_id) AS name,
                   max(acctbal) AS acctbal,
                   arg_min(segment, rec_id) AS segment,
                   count(*)::BIGINT AS n_members
            FROM tagged GROUP BY 1
        """,
    }


def _lpa_oracle(iters: int = 3) -> str:
    """SQL twin of graphs.label_propagation over the q_link_communities
    graph: the synchronous min-label rounds unroll as chained CTEs
    (l0..lN), each the same undirected-neighbor min + least() fold as
    the Spark loop. min/least are order-free, so the hash matches
    exactly with no float concerns."""
    parts = [
        """
        WITH tot AS (SELECT count(*)::BIGINT AS n FROM documents),
        e AS (
          SELECT doc_id AS src,
                 (doc_id * 7 + 3) % (SELECT n FROM tot) AS dst
          FROM documents
          UNION ALL
          SELECT doc_id AS src, 0::BIGINT AS dst FROM documents
          WHERE doc_id % 10 = 0 AND doc_id != 0),
        und AS (SELECT DISTINCT a, b FROM
                  (SELECT src AS a, dst AS b FROM e
                   UNION ALL SELECT dst, src FROM e)
                WHERE a != b),
        l0 AS (SELECT DISTINCT a AS node, a::BIGINT AS community FROM und)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""",
        l{k} AS (
          SELECT l.node,
                 least(l.community,
                       coalesce(m.nmin, l.community)) AS community
          FROM l{k - 1} l LEFT JOIN (
            SELECT u.a AS node, min(x.community) AS nmin
            FROM und u JOIN l{k - 1} x ON u.b = x.node
            GROUP BY u.a) m USING (node))"""
        )
    parts.append(
        f"""
        SELECT community, count(*)::BIGINT AS n_members,
               min(node) AS min_node
        FROM l{iters} GROUP BY 1 HAVING count(*) > 1"""
    )
    return "".join(parts)


def _pagerank_oracle(iters: int = 3) -> str:
    """SQL twin of graphs.pagerank over the q_link_pagerank graph:
    the power iterations unroll as chained CTEs (r0..rN), each the
    same left join + contribution sum + teleport as the Spark loop.
    All arithmetic forced to DOUBLE (DuckDB numeric literals default
    to DECIMAL) so the folds match IEEE-for-IEEE."""
    parts = [
        """
        WITH tot AS (SELECT count(*)::BIGINT AS n FROM documents),
        e AS (
          SELECT doc_id AS src,
                 (doc_id * 7 + 3) % (SELECT n FROM tot) AS dst
          FROM documents
          UNION ALL
          SELECT doc_id AS src, 0::BIGINT AS dst FROM documents
          WHERE doc_id % 10 = 0 AND doc_id != 0),
        nodes AS (SELECT DISTINCT node FROM
                  (SELECT src AS node FROM e
                   UNION ALL SELECT dst FROM e)),
        deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        r0 AS (SELECT node,
                      1.0::DOUBLE / (SELECT n FROM tot) AS rank
               FROM nodes)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""",
        r{k} AS (
          SELECT n.node,
                 0.15::DOUBLE / (SELECT n FROM tot)
                 + 0.85::DOUBLE * coalesce(c.s, 0.0::DOUBLE) AS rank
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank / d.deg) AS s
            FROM e JOIN r{k - 1} r ON e.src = r.node
                   JOIN deg d ON e.src = d.src
            GROUP BY e.dst) c USING (node))"""
        )
    parts.append(
        f"""
        SELECT node, round(rank, 9) AS rank FROM r{iters}"""
    )
    return "".join(parts)
