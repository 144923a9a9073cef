"""LLM-pipeline operators over the documents/embeddings fixtures."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from vanus_spark.llm import dedup, multimodal, similarity, textstats
from vanus_spark.sources import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def test_exact_dedup(spark, docs):
    groups = dedup.exact_dedup(docs)
    n_docs = docs.count()
    n_groups = groups.count()
    assert n_groups <= n_docs
    assert groups.agg(F.sum("dup_count")).first()[0] == n_docs
    survivors = dedup.exact_dedup_rows(docs)
    assert survivors.count() == n_groups
    # duplicated text collapses
    dup = docs.limit(1).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    aug = docs.unionByName(dup)
    assert dedup.exact_dedup_rows(aug).count() == n_groups


def test_minhash_detects_near_dups(spark, docs):
    # a doc with one word changed should share LSH buckets with its source
    base = docs.limit(5)
    mutated = base.withColumn("doc_id", F.col("doc_id") + 1_000_000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" extra"))
    )
    aug = base.unionByName(mutated)
    pairs = dedup.minhash_lsh_pairs(aug, num_hashes=16, bands=8).collect()
    found = {(p.id_a, p.id_b) for p in pairs}
    for r in base.select("doc_id").collect():
        assert (r.doc_id, r.doc_id + 1_000_000) in found


def test_jaccard_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z w v")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    res = {(r.id_a, r.id_b): r.jaccard for r in dedup.ngram_jaccard_pairs(df, pairs).collect()}
    # 3-gram shingles of 5 tokens: 3 each; (1,2) share 2 of 4 distinct
    assert res[(1, 2)] == pytest.approx(0.5)
    assert res[(1, 3)] == 0.0


def test_simhash_identical_and_different(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "totally different words here")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.fingerprint for r in df.select(
        "doc_id", dedup.simhash(F.col("text")).alias("fingerprint")
    ).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_cosine_topk(spark, emb):
    queries = emb.where(F.col("vec_id") < 3)
    res = similarity.cosine_topk(emb, queries, k=5)
    rows = res.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.neighbor_id != r.query_id
        assert -1.0001 <= r.cosine <= 1.0001
    for q, rs in by_q.items():
        sims = [r.cosine for r in sorted(rs, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)


def test_cosine_matches_python(spark, emb):
    two = emb.where(F.col("vec_id").isin(0, 1)).collect()
    v0 = two[0].embedding if two[0].vec_id == 0 else two[1].embedding
    v1 = two[1].embedding if two[1].vec_id == 1 else two[0].embedding
    expected = sum(a * b for a, b in zip(v0, v1)) / (
        math.sqrt(sum(a * a for a in v0)) * math.sqrt(sum(b * b for b in v1))
    )
    got = (
        similarity.cosine_topk(emb, emb.where(F.col("vec_id") == 0), k=emb.count())
        .where(F.col("neighbor_id") == 1)
        .first()
        .cosine
    )
    assert got == pytest.approx(expected, rel=1e-6)


def test_lsh_ann_subset_of_exact_space(spark, emb):
    queries = emb.where(F.col("vec_id") < 3)
    approx = similarity.lsh_ann(emb, queries, k=5, n_planes=4)
    rows = approx.collect()
    assert all(r.neighbor_id != r.query_id for r in rows)
    # recall sanity: with 4 planes buckets are coarse; hits exist
    assert len(rows) > 0


def test_embedding_near_dup_finds_clones(spark, emb):
    clone = emb.limit(3).withColumn("vec_id", F.col("vec_id") + 1_000_000)
    aug = emb.unionByName(clone)
    res = similarity.embedding_near_dup(aug, threshold=0.999)
    found = {(r.id_a, r.id_b) for r in res.collect()}
    for r in emb.limit(3).select("vec_id").collect():
        assert (r.vec_id, r.vec_id + 1_000_000) in found


def test_text_profile(spark, docs):
    prof = textstats.text_profile(docs)
    rows = prof.limit(20).collect()
    for r in rows:
        assert r.n_tokens > 0
        assert 0 <= r.punct_ratio <= 1
        assert 0 <= r.quality <= 1
        assert len(r.fingerprint) == 32
    assert prof.count() == docs.count()


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is here of course"),
            (2, "le chat et la maison les arbres des fleurs"),
            (3, "qqq www eee"),
        ],
        "doc_id long, text string",
    )
    res = {r.doc_id: r.lang for r in df.select(
        "doc_id", textstats.lang_id(F.col("text")).alias("lang")
    ).collect()}
    assert res[1] == "en"
    assert res[2] == "fr"
    assert res[3] == "und"


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42 times")], "doc_id long, text string")
    r = df.select(
        textstats.whitespace_token_count(F.col("text")).alias("ws"),
        textstats.bpe_ish_token_count(F.col("text")).alias("bpe"),
    ).first()
    assert r.ws == 4
    # hello , world ! 42 times -> 6 pieces
    assert r.bpe == 6


def test_multimodal_plumbing(spark, docs):
    media = multimodal.synthesize_media_from_documents(docs.limit(20))
    with_meta = multimodal.attach_image_metadata(media)
    m = with_meta.select("meta.n_bytes", "meta.format").collect()
    assert all(r.n_bytes > 0 for r in m)
    decoded = multimodal.decode_images(with_meta)
    rows = decoded.collect()
    assert len(rows) == 20
    assert all(len(r.features) == 8 for r in rows)
    assert all(64 <= r.width < 256 for r in rows)
    resized = multimodal.resize_images(media, 224, 224).collect()
    assert all(r.width == 224 and r.height == 224 for r in resized)
    # determinism
    d2 = multimodal.decode_images(with_meta).collect()
    assert {(r.media_id, r.width) for r in rows} == {(r.media_id, r.width) for r in d2}


def test_corpus_clean_pipeline(spark, docs):
    from vanus_spark.llm.pipeline import corpus_clean, corpus_clean_report

    cleaned = corpus_clean(docs)
    n_in, n_out = docs.count(), cleaned.count()
    assert 0 < n_out <= n_in
    # stages only remove rows, never mutate them
    assert cleaned.join(docs, "doc_id", "left_anti").count() == 0
    # injected exact duplicate is removed
    dup = docs.limit(1).withColumn("doc_id", F.col("doc_id") + 10_000_000)
    again = corpus_clean(docs.unionByName(dup))
    assert again.where(F.col("doc_id") >= 10_000_000).count() == 0
    report = corpus_clean_report(docs)
    assert report.count() == n_out
    assert "quality" in report.columns and "lang_pred" in report.columns


def test_simhash_near_pairs_recall(spark):
    from vanus_spark.llm.dedup import simhash_df, simhash_near_pairs

    df = spark.createDataFrame(
        [(i, f"shared words base text plus unique{'x' * (i % 3)} token{i}") for i in range(30)],
        "doc_id long, text string",
    )
    fast = {(r.id_a, r.id_b): r.hamming for r in simhash_near_pairs(df, max_hamming=3).collect()}
    fps = {r.doc_id: r.fingerprint for r in simhash_df(df).collect()}
    brute = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for a in fps for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    assert fast == brute


def test_ivf_ann_recall_vs_brute_force(spark, emb):
    """IVF with 2 of 8 probes must recover a solid share of the exact
    top-5 (random 64-dim data: the probed lists cover the near
    neighbors for most queries), and every IVF hit must be a real
    corpus vector scored identically to brute force."""
    from vanus_spark.llm.similarity import cosine_topk, ivf_ann

    queries = emb.where(F.col("vec_id") < 8)
    exact = cosine_topk(emb, queries, k=5)
    approx = ivf_ann(emb, queries, k=5, n_clusters=8, n_probe=2)
    e = {(r.query_id, r.neighbor_id): round(r.cosine, 9) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id): round(r.cosine, 9) for r in approx.collect()}
    hits = set(e) & set(a)
    recall = len(hits) / len(e)
    assert recall >= 0.3  # 2/8 probes on random data; tunable upward
    for key in hits:  # scores agree exactly where both rank the pair
        assert abs(e[key] - a[key]) < 1e-9
    # raising n_probe raises recall monotonically toward exact
    full = ivf_ann(emb, queries, k=5, n_clusters=8, n_probe=8)
    f = {(r.query_id, r.neighbor_id) for r in full.collect()}
    assert set(e) == f  # probing every list IS brute force


def test_kmeans_centroids_deterministic(spark, emb):
    from vanus_spark.llm.similarity import kmeans_centroids

    c1 = kmeans_centroids(emb, n_clusters=4, iters=1)
    c2 = kmeans_centroids(emb, n_clusters=4, iters=1)
    assert c1 == c2
    assert len(c1) == 4 and len(c1[0]) == 64


def test_lsh_bucket_cap_degenerate_corpus(spark):
    """50% identical boilerplate: the capped path must complete with
    O(m) pairs from the hot bucket and still drop every boilerplate
    copy except the representative."""
    from vanus_spark.llm.dedup import minhash_lsh_pairs, near_dup_pairs

    boiler = "this page is intentionally left blank see terms and conditions apply"
    rows = [(i, boiler) for i in range(200)] + [
        (1000 + i, f"unique document number {i} with its own distinct words body {i * 7}")
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = minhash_lsh_pairs(docs, bucket_cap=16)
    pairs = capped.collect()
    # hot bucket contributes star pairs only: every boilerplate doc pairs
    # with representative 0 — 199 pairs, not 200*199/2
    boiler_pairs = [p for p in pairs if p.id_a < 1000 and p.id_b < 1000]
    assert len(boiler_pairs) == 199
    assert all(p.id_a == 0 for p in boiler_pairs)

    # end-to-end: every boilerplate copy except doc 0 is flagged as a dup
    dups = near_dup_pairs(docs, threshold=0.9, bucket_cap=16)
    dropped = {r.id_b for r in dups.collect()}
    assert set(range(1, 200)) <= dropped
    assert 0 not in dropped

    # uncapped on the same corpus gives the quadratic pair set
    full = minhash_lsh_pairs(docs, bucket_cap=None)
    n_full_boiler = full.where((F.col("id_a") < 1000) & (F.col("id_b") < 1000)).count()
    assert n_full_boiler == 200 * 199 // 2


def test_lsh_bucket_cap_is_default(spark):
    """Scale-safe by DEFAULT (round-4 flip): a bucket above
    DEFAULT_BUCKET_CAP star-pairs without any opt-in, on both the raw
    pair generator and the shipped corpus_clean composition."""
    from vanus_spark.llm.dedup import DEFAULT_BUCKET_CAP, minhash_lsh_pairs
    from vanus_spark.llm.pipeline import corpus_clean

    m = DEFAULT_BUCKET_CAP + 300  # one hot bucket well above the cap
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, boiler + f" tail") for i in range(m)] + [
        (10_000 + i, f"unique english document {i} carrying body {i * 13}")
        for i in range(50)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # no bucket_cap argument: the default must bound the hot bucket
    pairs = minhash_lsh_pairs(docs).collect()
    boiler_pairs = [p for p in pairs if p.id_a < 10_000 and p.id_b < 10_000]
    assert len(boiler_pairs) == m - 1  # star, not m*(m-1)/2
    assert all(p.id_a == 0 for p in boiler_pairs)

    # corpus_clean default path: identical texts collapse in the exact
    # stage already, so vary a token to force the near-dup stage
    rows2 = [(i, boiler + f" v{i}") for i in range(m)]
    docs2 = spark.createDataFrame(rows2, "doc_id long, text string")
    cleaned = corpus_clean(docs2, quality_threshold=0.0, languages=("en",))
    n = cleaned.count()
    assert n < m * 0.1  # near-dup stage collapsed the cluster via star pairs


def test_repartition_for_compute_no_rdd(spark, docs):
    """Scan-rooted narrow frames widen; post-shuffle frames are left
    alone (no second exchange)."""
    from vanus_spark.operators.parallelism import repartition_for_compute

    target = spark.sparkContext.defaultParallelism
    widened = repartition_for_compute(docs.select("doc_id", "text"), "doc_id")
    assert "Repartition" in widened._jdf.queryExecution().analyzed().toString()
    assert widened.count() == docs.count()

    agged = docs.groupBy("lang").count()
    same = repartition_for_compute(agged)
    assert same is agged


def test_ppm_bmp_codecs_real():
    """Dependency-free codecs: PPM roundtrip, hand-crafted BMP with
    bottom-up rows + padding, feature stats over real pixels."""
    import numpy as np
    import struct

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    raw = multimodal.encode_ppm(px)
    assert raw.startswith(b"P6\n3 2\n255\n")
    back = multimodal.decode_ppm(raw)
    assert np.array_equal(back, px)
    # comments + extra whitespace in the header parse too
    commented = b"P6\n# a comment\n 3  2 \n255\n" + px.tobytes()
    assert np.array_equal(multimodal.decode_ppm(commented), px)

    # 24bpp BMP, 3x2, bottom-up, rows padded to 4 bytes (3*3=9 -> 12)
    rows = []
    for y in (1, 0):  # bottom-up storage
        row = b""
        for x in range(3):
            r, g, b = px[y, x]
            row += bytes([b, g, r])  # BGR
        rows.append(row + b"\x00\x00\x00")
    raster = b"".join(rows)
    header = (
        b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 24, 0, len(raster), 0, 0, 0, 0)
    )
    assert np.array_equal(multimodal.decode_bmp(header + raster), px)

    w, h, feats = multimodal._decode_image_bytes(raw, stub=False)
    assert (w, h) == (3, 2)
    assert feats[0] == pytest.approx(px[:, :, 0].mean())
    assert feats[6] == float(min(p.astype(int).sum() // 3 for p in px.reshape(-1, 3)))

    with pytest.raises(NotImplementedError):
        multimodal._decode_image_bytes(b"\xff\xd8\xff\xe0fakejpeg", stub=False)


def test_resize_real_ppm(spark):
    """Integer-factor nearest-neighbor resize duplicates pixels
    exactly (checked against the numpy reference)."""
    import numpy as np

    px = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    df = spark.createDataFrame(
        [(1, bytearray(multimodal.encode_ppm(px)))], "media_id long, content binary"
    )
    out = multimodal.resize_images(df, 4, 4, decode_stub=False).collect()
    assert out[0].width == 4 and out[0].height == 4
    resized = multimodal.decode_ppm(bytes(out[0].content))
    assert np.array_equal(resized, px.repeat(2, axis=0).repeat(2, axis=1))


def test_synthesize_ppm_images_decode(spark, docs):
    from vanus_spark.llm.multimodal import synthesize_ppm_images

    media = synthesize_ppm_images(docs, max_rows=20)
    rows = multimodal.decode_images(media, decode_stub=False).collect()
    for r in rows:
        assert r.width == 4 + r.media_id % 8
        assert r.height == 3 + r.media_id % 5
        assert len(r.features) == 8


def test_duplicate_components_transitive(spark, monkeypatch):
    from vanus_spark.llm.dedup import duplicate_components

    monkeypatch.setattr(dedup, "LOCAL_SOLVE_EDGES", 0)  # the rounds
    # path graph 1-2-3-4 (diameter 3, needs >1 round) + separate pair
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    out = {r.doc_id: r.component for r in duplicate_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_duplicate_components_solvers_agree(spark, monkeypatch):
    """The driver union-find and the distributed rounds must emit the
    same (doc_id, component) rows, on a randomized graph with chains,
    cliques, singleton pairs, repeated and reversed edges, self-pairs
    and a null end (no edge)."""
    import random

    from vanus_spark.llm.dedup import duplicate_components

    rng = random.Random(7)
    edges = [(rng.randint(0, 60), rng.randint(0, 60)) for _ in range(80)]
    edges += edges[:10] + [(b, a) for a, b in edges[10:20]]
    edges += [(a, a) for a, _ in edges[20:25]] + [(99, 99), (70, None)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    def solve():
        return sorted(tuple(r) for r in duplicate_components(pairs).collect())

    local = solve()
    monkeypatch.setattr(dedup, "LOCAL_SOLVE_EDGES", 0)
    rounds = solve()
    assert local == rounds
    assert (99, 99) in local and all(n != 70 for n, _ in local)


def test_duplicate_components_small_graph_budget(spark):
    """A small graph costs the edge checkpoint and its collect, and the
    result is a local relation: no RDD, so no Python worker reads it."""
    import pyarrow as pa

    from vanus_spark.llm.dedup import duplicate_components

    pairs = spark.createDataFrame(pa.table({"id_a": [1, 2, 7], "id_b": [2, 3, 8]}))
    sc = spark.sparkContext
    group = "duplicate_components_small_graph"
    sc.setJobGroup(group, group)
    try:
        comp = duplicate_components(pairs)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    plan = comp._jdf.queryExecution().analyzed().toString()
    assert plan.lstrip().startswith("LocalRelation") and "LogicalRDD" not in plan
    assert sorted(tuple(r) for r in comp.collect()) == [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]


def test_duplicate_components_beats_greedy(spark, monkeypatch):
    from vanus_spark.llm.dedup import duplicate_components

    monkeypatch.setattr(dedup, "LOCAL_SOLVE_EDGES", 0)  # the rounds
    # greedy drop-id_b on pairs (5,6),(6,7) drops {6,7}; components
    # cluster all three together under representative 5
    pairs = spark.createDataFrame([(5, 6), (6, 7)], ["id_a", "id_b"])
    out = {r.doc_id: r.component for r in duplicate_components(pairs).collect()}
    assert out == {5: 5, 6: 5, 7: 5}


def test_duplicate_components_long_chain_pointer_jump(spark, monkeypatch):
    """A 64-link duplicate chain (diameter far above the round count)
    must still converge — pointer jumping makes rounds O(log d), and
    the unconverged case now raises instead of silently splitting."""
    from vanus_spark.llm.dedup import duplicate_components

    monkeypatch.setattr(dedup, "LOCAL_SOLVE_EDGES", 0)  # the rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], ["id_a", "id_b"]
    )
    out = {
        r.doc_id: r.component
        for r in duplicate_components(pairs, max_iters=10).collect()
    }
    assert set(out) == set(range(65))
    assert set(out.values()) == {0}


def test_duplicate_components_rounds_raise_unconverged(spark, monkeypatch):
    """Rounds that run out before the labels settle raise; they never
    return split components."""
    from vanus_spark.llm.dedup import duplicate_components

    monkeypatch.setattr(dedup, "LOCAL_SOLVE_EDGES", 0)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(16)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge within 1 rounds"):
        duplicate_components(pairs, max_iters=1)


def test_substring_dup_pairs_offset_independent(spark):
    from vanus_spark.llm.dedup import substring_dup_pairs

    shared = "this exact sentence is copied verbatim between two documents here"
    docs = spark.createDataFrame(
        [
            (1, "unique prefix alpha beta. " + shared),
            (2, shared + " totally different suffix text follows now"),
            (3, "no overlap with anything else whatsoever in this corpus entry"),
        ],
        ["doc_id", "text"],
    )
    pairs = substring_dup_pairs(docs, min_len=40, seed_len=8, anchor_mod=2).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # the shared span sits at DIFFERENT offsets in 1 and 2 — content-
    # defined anchors still align inside it
    assert (1, 2) in found
    assert all(3 not in p for p in found)


def test_substring_windows_short_doc_empty(spark):
    from pyspark.sql import functions as F

    from vanus_spark.llm.dedup import substring_windows

    row = (
        spark.createDataFrame([("short text",)], ["text"])
        .select(substring_windows(F.col("text"), 40).alias("w"))
        .collect()[0]
    )
    assert row.w == []


def test_quantize_embeddings_int8(spark):
    from vanus_spark.llm.similarity import embedding_minmax, quantize_embeddings_int8

    rows = [
        (1, [0.0, 10.0, 5.0]),
        (2, [1.0, 20.0, 5.0]),  # dim 2 is constant -> range 0
        (3, [0.5, 15.0, 5.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    mins, maxs = embedding_minmax(df)
    assert mins == [0.0, 10.0, 5.0] and maxs == [1.0, 20.0, 5.0]
    out = {r.vec_id: r for r in quantize_embeddings_int8(df).collect()}
    assert out[1].codes == [0, 0, 0]
    assert out[2].codes == [255, 255, 0]
    assert out[3].codes == [128, 128, 0]  # 0.5 rounds half-up
    # constant dim reconstructs exactly; mse only from rounding error
    assert out[1].mse < 1e-5 and out[2].mse < 1e-5
    assert 0 < out[3].mse < 1e-3


def test_lsh_multi_recall_superset(spark, sf_dir):
    from vanus_spark.sources import load_table
    from vanus_spark.llm.similarity import lsh_ann, lsh_ann_multi

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where("vec_id < 4")
    single = {
        (r.query_id, r.neighbor_id)
        for r in lsh_ann(emb, q, k=50, n_planes=6).collect()
    }
    multi_pairs = lsh_ann_multi(emb, q, k=50, n_planes=6, n_tables=3)
    multi = {(r.query_id, r.neighbor_id) for r in multi_pairs.collect()}
    # table 0 uses the single-table seed, so OR-amplification can only
    # grow the candidate set (k large enough that ranking doesn't cut)
    assert len(multi) >= len(single)


def test_pq_encode_roundtrip_properties(spark, emb):
    from vanus_spark.llm.similarity import pq_encode, pq_train

    books = pq_train(emb, m=4, n_clusters=8, iters=1, dim=64)
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    assert all(len(c) == 16 for b in books for c in b)
    out = pq_encode(emb, codebooks=books, m=4, dim=64)
    rows = out.collect()
    assert all(len(r.codes) == 4 for r in rows)
    assert all(0 <= c < 8 for r in rows for c in r.codes)
    assert all(r.mse >= -1e-12 for r in rows)
    # seed vectors (ids 0..7) ARE initial codewords; after 1 Lloyd
    # iteration their error stays small relative to corpus mean
    by_id = {r.vec_id: r.mse for r in rows}
    mean_mse = sum(by_id.values()) / len(by_id)
    assert mean_mse > 0


def test_semantic_dedup_drops_within_cluster_clones(spark, emb):
    """The SemDeDup shape: near-identical embeddings land in one
    k-means cluster and only the lowest id survives; dissimilar
    vectors are untouched."""
    from vanus_spark.llm.similarity import semantic_dedup

    survivors = {r.vec_id for r in semantic_dedup(emb, threshold=0.95).collect()}
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    dropped = all_ids - survivors
    # any dropped id must have a surviving near-duplicate with a lower id
    from vanus_spark.llm.similarity import cosine_topk

    if dropped:
        top1 = cosine_topk(emb, emb.where(F.col("vec_id").isin(*dropped)), k=1)
        best = {r.query_id: (r.neighbor_id, r.cosine) for r in top1.collect()}
        for d in dropped:
            nb, cos = best[d]
            assert cos >= 0.95 and nb < d


def test_semantic_dedup_fixture_margin_guards_oracle_parity(spark):
    """Guard (r4 advisor): the Spark side computes cosine as a
    unit-normalized float64 matmul while the DuckDB oracle folds
    dot/(|a||b|) sequentially — different summation order could flip a
    pair sitting exactly at the 0.5 threshold. Assert every
    within-cluster pair of the ORACLE fixture (sf0.01 embeddings,
    n_clusters=8) keeps |cosine - 0.5| far above float error under
    BOTH formulations, and that the two formulations agree pairwise."""
    import numpy as np

    from vanus_spark.llm.similarity import _nearest_clusters, kmeans_centroids
    from vanus_spark.sources import load_table

    emb01 = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    cents = kmeans_centroids(emb01, 8, 1)
    tagged = emb01.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        _nearest_clusters(
            F.col("embedding").cast("array<double>"), cents, 1
        )[0].alias("cluster"),
    ).collect()
    by_cluster: dict[int, list] = {}
    for r in tagged:
        by_cluster.setdefault(r.cluster, []).append(np.array(r.v))
    min_margin = 1.0
    for vecs in by_cluster.values():
        if len(vecs) < 2:
            continue
        mat = np.stack(vecs).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        unit = mat / norms[:, None]
        gram = unit @ unit.T  # the Spark-side formulation
        for i in range(len(vecs)):
            for j in range(i + 1, len(vecs)):
                # the oracle-side formulation: raw dot / (|a||b|)
                seq = float(np.dot(mat[i], mat[j])) / (
                    float(norms[i]) * float(norms[j])
                )
                assert (gram[i, j] >= 0.5) == (seq >= 0.5)
                min_margin = min(
                    min_margin, abs(gram[i, j] - 0.5), abs(seq - 0.5)
                )
    # float64 matmul-vs-fold disagreement is ~1e-15; demand 6+ orders
    # of headroom so fixture drift gets caught before parity breaks
    assert min_margin > 1e-9, f"fixture margin shrank to {min_margin}"


def test_best_representative_dedup_keeps_cleanest(spark):
    """The cluster survivor is the highest-quality member, not the
    lowest id (the greedy rule's pick)."""
    from vanus_spark.llm.pipeline import best_representative_dedup

    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet green field toward the river bank today"
    )
    noisy = base.replace("quiet", "quiet !!! ??? ;;; :::")
    docs = spark.createDataFrame(
        [
            (1, noisy),      # same cluster, punctuation soup
            (2, base),       # cleanest copy, higher id
            (50, "completely unrelated text about spark physical plans"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id for r in best_representative_dedup(docs, 0.5).select("doc_id").collect()}
    assert out == {2, 50}  # 2 beats 1 on quality; 50 unclustered


def test_best_representative_dedup_null_and_repeated_ids(spark):
    """Null and repeated ids: a null-id doc is never kept, clustered or
    not; every row of the best id stays, even a noisier row under it;
    every row of a beaten repeated id goes; an unclustered repeated id
    keeps all its rows."""
    from collections import Counter

    from vanus_spark.llm.pipeline import best_representative_dedup

    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet green field toward the river bank today"
    )
    noisy = base.replace("quiet", "quiet !!! ??? ;;; :::")
    noisier = base.replace("quiet", "quiet !!! ??? ;;; ::: ### @@@")
    other = "completely unrelated text about spark physical plans"
    lone = "another unrelated line on parquet pushdown"
    docs = spark.createDataFrame(
        [
            (1, noisy),
            (2, base),
            (2, noisier),
            (3, noisier),
            (3, noisier),
            (None, base),
            (None, other),
            (50, other),
            (60, lone),
            (60, lone),
        ],
        "doc_id long, text string",
    )
    out = Counter(tuple(r) for r in best_representative_dedup(docs, 0.5).collect())
    assert out == Counter({(2, base): 1, (2, noisier): 1, (50, other): 1, (60, lone): 2})


def test_best_representative_dedup_releases_its_edge_checkpoint(spark, monkeypatch):
    """On the driver-solve path nothing reads duplicate_components' edge
    checkpoint after its collect, so it is released there: a call leaves
    at most the two lazy minhash_lsh_pairs checkpoints persisted, not
    those plus the edges."""
    from vanus_spark.llm import dedup
    from vanus_spark.llm.pipeline import best_representative_dedup
    from vanus_spark.session import rdd_id

    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet green field toward the river bank today"
    )
    docs = spark.createDataFrame(
        [(i, base + " !" * (i % 3)) for i in range(6)]
        + [(10 + i, f"unrelated line number {i} about parquet") for i in range(4)],
        "doc_id long, text string",
    )
    solved = []  # holding the edge frame keeps the JVM from collecting it
    solve = dedup._components_on_driver

    def recording(edges, id_col):
        solved.append(edges)
        return solve(edges, id_col)

    monkeypatch.setattr(dedup, "_components_on_driver", recording)
    jsc = spark.sparkContext._jsc

    def held() -> set[int]:
        return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

    before = held()
    out = best_representative_dedup(docs, 0.5)
    assert out.count() == 5
    assert len(solved) == 1 and rdd_id(solved[0]) not in held()
    assert len(held() - before) <= 2


def test_temperature_weights_interpolate_toward_uniform(spark):
    from vanus_spark.llm.curation import temperature_weights

    docs = spark.createDataFrame(
        [(i, "en" if i < 90 else "fr", "w " * 20) for i in range(100)],
        "doc_id long, lang string, text string",
    )
    natural = {r.stratum: r.weight for r in temperature_weights(docs, "lang", alpha=1.0).collect()}
    cooled = {r.stratum: r.weight for r in temperature_weights(docs, "lang", alpha=0.3).collect()}
    assert abs(natural["en"] - 0.9) < 1e-6  # alpha=1 == natural share
    assert cooled["en"] < natural["en"]     # cooling lifts the tail
    assert cooled["fr"] > natural["fr"]
    assert abs(sum(cooled.values()) - 1.0) < 1e-6


def test_ewma_matches_recursive_definition(spark):
    from vanus_spark.operators.timeseries import ewma

    rows = [(1, i, float(v)) for i, v in enumerate([10, 20, 40, 0, 8])]
    rows += [(2, 0, 100.0)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, value double")
    out = {
        r.event_id: r.ewma
        for r in ewma(
            df.withColumn("ts", F.col("event_id").cast("timestamp")),
            "value", "ts", "user_id", "event_id", alpha=0.5, k=32,
        ).where(F.col("user_id") == 1).collect()
    }
    acc, want = None, {}
    for i, v in enumerate([10.0, 20.0, 40.0, 0.0, 8.0]):
        acc = v if acc is None else 0.5 * v + 0.5 * acc
        want[i] = acc
    assert out == want
    # the lookback is bounded: with k=2 only the previous value counts
    out2 = {
        r.event_id: r.ewma
        for r in ewma(
            df.withColumn("ts", F.col("event_id").cast("timestamp")),
            "value", "ts", "user_id", "event_id", alpha=0.5, k=2,
        ).where(F.col("user_id") == 1).collect()
    }
    assert out2[2] == 0.5 * 40 + 0.5 * 20  # seed = oldest IN FRAME


def test_weighted_sample_properties(spark):
    from vanus_spark.llm.curation import weighted_sample

    docs = spark.createDataFrame(
        [(i, 100.0 if i < 10 else 1.0) for i in range(200)]
        + [(900, 0.0), (901, -1.0)],
        "doc_id long, w double",
    )
    a = weighted_sample(docs, "w", k=20, seed=3).collect()
    b = weighted_sample(docs, "w", k=20, seed=3).collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]  # deterministic
    assert sorted(r.sample_rank for r in a) == list(range(1, 21))
    assert not {900, 901} & {r.doc_id for r in a}  # w<=0 excluded
    # heavy items (100x weight, 10 of 200 docs) dominate the sample
    # across seeds: each heavy doc is ~5x likelier than all light
    # docs combined per draw
    heavy = 0
    for seed in range(8):
        got = {r.doc_id for r in weighted_sample(docs, "w", 20, seed).collect()}
        heavy += len(got & set(range(10)))
    assert heavy >= 8 * 6  # weak bound, p(fail) negligible


def test_schema_drift_nested_and_arrays(spark):
    from vanus_spark.llm.versioning import schema_drift
    from vanus_spark.schema_infer import infer_data_schema

    old = infer_data_schema(
        spark.createDataFrame(
            [('{"a": 1, "tags": ["x"], "m": {"k": 1}}',)], "data string"
        )
    )
    new = infer_data_schema(
        spark.createDataFrame(
            [('{"a": "s", "m": {"k": 1, "j": 2.5}, "b": true}',)],
            "data string",
        )
    )
    got = {r.field: (r.status, r.old_type, r.new_type)
           for r in schema_drift(spark, old, new).collect()}
    assert got["a"] == ("type_changed", "long", "string")
    assert got["tags"] == ("removed", "array<string>", None)
    assert got["b"] == ("added", None, "boolean")
    assert got["m"] == ("unchanged", "struct", "struct")
    assert got["m.j"] == ("added", None, "double")
    assert got["m.k"] == ("unchanged", "long", "long")


def test_hard_negatives_excludes_same_label(spark, emb):
    from vanus_spark.llm.similarity import hard_negatives

    out = hard_negatives(emb, emb.where(F.col("vec_id") < 4), k=3).collect()
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    assert out
    for r in out:
        assert r.neg_label == labels[r.neighbor_id]
        assert labels[r.query_id] != r.neg_label  # never a same-label row
    # per query: ranks contiguous from 1 and cosines non-increasing
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for rs in by_q.values():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert all(rs[i].cosine >= rs[i + 1].cosine for i in range(len(rs) - 1))


def test_sketch_stats_error_bounds(spark, sf_dir):
    """The property that matters for the golden-pinned sketch columns:
    HLL++ distinct estimates land within ~3x the configured rsd of the
    exact count, and GK approx percentiles land within the rank-error
    neighborhood of the exact ones."""
    from vanus_spark.queries.events import q_events_sketch_stats

    rows = q_events_sketch_stats(spark, sf_dir).collect()
    assert rows
    from vanus_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    # RANK-space bounds (the sketch's actual contract): the approx
    # p-quantile must land between the exact (p±0.015)-quantiles —
    # tail VALUES spread widely, so a value-relative bound is wrong
    lo_hi = {
        r[0]: r[1]
        for r in ev.groupBy("event_type")
        .agg(
            F.expr(
                "percentile(value, array(0.485, 0.515, 0.935, 0.965, "
                "0.975, 1.0))"
            ).alias("q")
        )
        .collect()
    }
    for r in rows:
        assert abs(r.approx_users - r.exact_users) <= max(
            3, 0.06 * r.exact_users  # 3x rsd=0.02
        )
        q = lo_hi[r.event_type]
        assert q[0] <= r.p50 <= q[1]
        assert q[2] <= r.p95 <= q[3]
        assert q[4] <= r.p99 <= q[5]


def test_gapfill_dense_grid_and_forward_fill(spark):
    """Gaps become rows carrying the last observation; leading grid
    rows before the first value stay null; flags mark synthesis."""
    import datetime as dt

    from vanus_spark.operators.timeseries import gapfill

    t0 = dt.datetime(2024, 1, 1, 0, 30)
    rows = [
        (1, t0, 10.0),                                 # 00:xx
        (1, t0 + dt.timedelta(hours=3), 13.0),         # 03:xx (01,02 missing)
        (2, t0 + dt.timedelta(hours=1), 5.0),          # single point
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {
        (r.user_id, r.bucket.hour): (r.value_filled, r.filled)
        for r in gapfill(df, "ts", "user_id", "value").collect()
    }
    assert out[(1, 0)] == (10.0, False)
    assert out[(1, 1)] == (10.0, True)
    assert out[(1, 2)] == (10.0, True)
    assert out[(1, 3)] == (13.0, False)
    assert out[(2, 1)] == (5.0, False)
    assert len(out) == 5  # dense grid, per-key span only


def test_cusum_matches_recursive_definition(spark):
    """The prefix-aggregate closed form equals the textbook recursion
    s_i = max(0, s_{i-1} + (x_i - target - slack)), including resets."""
    import datetime as dt

    from vanus_spark.operators.timeseries import cusum

    t0 = dt.datetime(2024, 1, 1)
    vals = [1.0, 9.0, -3.0, 15.0, -30.0, 8.0, 8.0]
    rows = [
        (1, t0 + dt.timedelta(minutes=i), i, v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    out = {
        r.event_id: (r.cusum, r.cusum_alarm)
        for r in cusum(
            df, "value", "ts", "user_id", "event_id",
            target=2.0, slack=1.0, threshold=10.0,
        ).collect()
    }
    s, exp = 0.0, {}
    for i, v in enumerate(vals):
        s = max(0.0, s + (v - 3.0))
        exp[i] = (s, s > 10.0)
    for i in exp:
        assert abs(out[i][0] - exp[i][0]) < 1e-12 and out[i][1] == exp[i][1], (
            i, out[i], exp[i],
        )
    assert out[4][0] == 0.0  # the big negative resets to zero


def test_heavy_hitters_exact_under_eviction(spark):
    """Force Misra-Gries evictions (tiny capacity) on a skewed stream:
    the true heavy hitters must still surface with exact counts."""
    rows = (
        [("alpha",)] * 60
        + [("beta",)] * 30
        + [(f"noise{i}",) for i in range(40)]
    )
    df = spark.createDataFrame(rows, "term string").repartition(4)
    from vanus_spark.operators.sketch_topk import heavy_hitters

    out = {r.value: (r.cnt, r.rank) for r in heavy_hitters(df, "term", k=2, capacity=4).collect()}
    assert out["alpha"] == (60, 1)
    assert out["beta"] == (30, 2)


def test_heavy_hitters_fixture_margin(spark, sf_dir):
    """The registered query's correctness rests on candidate coverage:
    every true top-25 token's count must clear the Misra-Gries bound
    n/capacity with real margin."""
    from vanus_spark.llm.search import tokens_df

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = tokens_df(docs)
    import pyspark.sql.functions as F

    counts = toks.groupBy("term").count().orderBy(F.desc("count"), "term")
    top = counts.limit(25).collect()
    n = toks.count()
    bound = n / 1024
    assert min(r["count"] for r in top) > 2 * bound, (
        f"top-25 floor {min(r['count'] for r in top)} too close to bound {bound}"
    )


def test_expectations_report_hand_counts(spark):
    import pytest as _pytest

    from vanus_spark.operators.expectations import expectations_report

    df = spark.createDataFrame(
        [
            (1, "view", 10.0),
            (2, "view", -5.0),      # range violation
            (2, "Bad Type", 20.0),  # regex + accepted violation; dup id
            (None, "click", None),  # null id; null value -> range violation
        ],
        "id long, etype string, value double",
    )
    rules = [
        {"rule": "not_null", "column": "id"},
        {"rule": "in_range", "column": "value", "lo": 0, "hi": 100},
        {"rule": "matches", "column": "etype", "pattern": "^[a-z_]+$"},
        {"rule": "accepted_values", "column": "etype", "values": ["view", "click"]},
        {"rule": "unique", "column": "id"},
    ]
    out = {r.rule_id: r for r in expectations_report(df, rules).collect()}
    assert [out[i].n_violations for i in range(5)] == [1, 2, 1, 1, 1]
    assert out[0].n_rows == 4 and not out[0].passed
    assert abs(out[1].violation_frac - 0.5) < 1e-12
    # unique counts non-null dupes only (3 non-null ids, 2 distinct)
    assert out[4].n_violations == 1

    with _pytest.raises(ValueError):
        expectations_report(df, [{"rule": "nope", "column": "id"}]).collect()


def test_population_stability_properties(spark):
    """PSI is ~0 for identical snapshots, grows with induced shift,
    and fractions sum to 1 per side."""
    from vanus_spark.llm.versioning import population_stability

    import pyspark.sql.functions as F

    base = spark.range(1000).select((F.col("id") % 100).cast("double").alias("v"))
    same = population_stability(base, base, "v", [0.0, 25.0, 50.0, 75.0]).collect()
    assert abs(same[0].psi) < 1e-9
    assert abs(sum(r.base_frac for r in same) - 1.0) < 1e-6

    shifted = base.select((F.col("v") * 2.0).alias("v"))
    out = population_stability(base, shifted, "v", [0.0, 25.0, 50.0, 75.0]).collect()
    assert out[0].psi > 0.1  # half the mass moved into the top bucket


# ---------------------------------------------------------------------------
# perceptual hash (aHash) near-dup
# ---------------------------------------------------------------------------

def test_image_ahash_matches_python_reference(spark, docs):
    """The Spark-side hash (decode -> block pool -> integer threshold
    -> signed pack) must equal an independent pure-Python fold of the
    same synthesis formula."""
    import hashlib

    media = multimodal.synthesize_ppm_block_images(docs.limit(25))
    got = {
        r["media_id"]: r["ahash"]
        for r in multimodal.image_ahash(media).collect()
    }

    def expect(d):
        b, v = d // 5, d % 5
        bits = [
            int(hashlib.md5(f"{b}:{k}".encode()).hexdigest()[0], 16) % 2
            for k in range(64)
        ]
        if v > 0:
            bits[(b + v - 1) % 64] ^= 1
        u = sum(bits[k] << k for k in range(64))
        return u - (1 << 64) if u >= (1 << 63) else u

    assert got == {d: expect(d) for d in got}


def test_image_ahash_is_brightness_shift_invariant(spark):
    """The whole point of aHash: a global brightness change leaves the
    hash untouched (bits compare each block to the IMAGE mean)."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randint(0, 200, size=(16, 16, 3)).astype(np.uint8)
    shifted = np.clip(base.astype(np.int16) + 40, 0, 255).astype(np.uint8)
    pdf = spark.createDataFrame(
        [
            (0, bytearray(multimodal.encode_ppm(base))),
            (1, bytearray(multimodal.encode_ppm(shifted))),
        ],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r["ahash"] for r in multimodal.image_ahash(pdf).collect()}
    # +40 clips at 255 for some pixels, so allow <=2 bit drift — the
    # unclipped portion must dominate
    drift = bin((rows[0] ^ rows[1]) & (2**64 - 1)).count("1")
    assert drift <= 2, f"brightness shift moved {drift} bits"


def test_ahash_near_pairs_blocking_equals_bruteforce(spark, docs):
    media = multimodal.synthesize_ppm_block_images(docs.limit(60))
    hs = multimodal.image_ahash(media).collect()
    blocked = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in multimodal.ahash_near_pairs(
            spark.createDataFrame(hs), max_hamming=2
        ).collect()
    }
    brute = set()
    for i, a in enumerate(hs):
        for b in hs[i + 1 :]:
            ham = bin((a["ahash"] ^ b["ahash"]) & (2**64 - 1)).count("1")
            if ham <= 2:
                x, y = sorted((a["media_id"], b["media_id"]))
                brute.add((x, y, ham))
    assert blocked == brute and len(brute) > 0


def test_ahash_rejects_unpoolable_sizes(spark):
    import numpy as np
    import pytest as _pytest

    px = np.zeros((10, 10, 3), dtype=np.uint8)  # 10 % 8 != 0
    pdf = spark.createDataFrame(
        [(0, bytearray(multimodal.encode_ppm(px)))], "media_id long, content binary"
    )
    with _pytest.raises(Exception, match="not divisible"):
        multimodal.image_ahash(pdf).collect()


def test_ngram_diversity_approx_tracks_exact(spark, sf_dir, entry_mod):
    """The rows-only approx diversity variant must land within HLL++
    error bounds of the exact oracle-gated sibling (rsd=0.01; allow
    5x rsd for the small fixture) while sharing total counts
    exactly."""
    m = entry_mod
    exact = {
        r["n"]: r.asDict()
        for r in m.queries()["corpus_ngram_diversity"](spark, sf_dir).collect()
    }
    approx = {
        r["n"]: r.asDict()
        for r in m.queries()["corpus_ngram_diversity_approx"](spark, sf_dir).collect()
    }
    assert set(exact) == set(approx) == {1, 2, 3}
    for n in (1, 2, 3):
        assert approx[n]["total_ngrams"] == exact[n]["total_ngrams"]
        err = abs(approx[n]["distinct_ngrams_est"] - exact[n]["distinct_ngrams"])
        assert err <= 0.05 * exact[n]["distinct_ngrams"]


def test_embedding_near_dup_auto_planes(spark, emb):
    """n_planes=None sizes the signature so mean bucket occupancy
    stays ~target_bucket_rows regardless of corpus size (the fixed-
    plane default makes candidate volume quadratic at scale: round-7
    probe measured 31x time on 10x vectors). Clones must still be
    found under auto sizing, and the plan must contain more buckets
    for a bigger corpus (checked via the sizing formula)."""
    import math

    from vanus_spark.llm import similarity

    clone = emb.limit(3).withColumn("vec_id", F.col("vec_id") + 1_000_000)
    aug = emb.unionByName(clone)
    res = similarity.embedding_near_dup(aug, threshold=0.999, n_planes=None)
    found = {(r.id_a, r.id_b) for r in res.collect()}
    for r in emb.limit(3).select("vec_id").collect():
        # exact clones share every plane sign: always same bucket
        assert (r.vec_id, r.vec_id + 1_000_000) in found
    # the sizing formula itself
    for n, want in ((100, 1), (640, 4), (6400, 7), (64 * 1024, 10)):
        got = max(1, math.ceil(math.log2(max(n, 2) / 64)))
        assert got == want, (n, got, want)
