"""ManifestTable: partition-pruned copy-on-write MERGE/delete with
epoch-fenced commits (vanus_spark/sources/manifest_table.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _mk(spark, tmp_path, n=40, buckets=8):
    from vanus_spark.sources.manifest_table import ManifestTable

    t = ManifestTable(spark, str(tmp_path / "t"), "k", n_buckets=buckets)
    base = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    t.write_full(base)
    return t


def test_merge_upserts_and_inserts(spark, tmp_path):
    t = _mk(spark, tmp_path)
    updates = spark.createDataFrame(
        [(3, 999), (7, 777), (1000, 1)], "k long, v long"
    )
    stats = t.merge(updates)
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[3] == 999 and rows[7] == 777 and rows[1000] == 1
    assert rows[4] == 40  # untouched row intact
    assert len(rows) == 41
    assert 0 < stats["rewritten_buckets"] <= 3


def test_merge_rewrites_only_affected_buckets(spark, tmp_path):
    t = _mk(spark, tmp_path)
    before = dict(t._mapping)
    t.merge(spark.createDataFrame([(3, 999)], "k long, v long"))
    after = dict(t._mapping)
    changed = [b for b in before if after[b] != before[b]]
    assert len(changed) == 1  # exactly the bucket key 3 hashes into
    unchanged = [b for b in before if after[b] == before[b]]
    assert len(unchanged) == len(before) - 1


def test_generation_write_parallelism(spark, tmp_path):
    """A generation write must cluster into exactly n_buckets
    partitions (one task per bucket, >= min(buckets, cores) concurrent
    write tasks) regardless of spark.sql.shuffle.partitions or AQE
    coalescing — r10 verdict: repartition("_b") inherited the ambient
    partition count, so write parallelism could collapse. Output stays
    one file per bucket (small-files invariant)."""
    t = _mk(spark, tmp_path, n=400, buckets=8)
    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    clustered = t._cluster_for_write(base)
    assert clustered.rdd.getNumPartitions() == t.n_buckets
    # and the write_full above produced exactly one file per bucket
    gens = os.listdir(f"{t.path}/data")
    assert len(gens) == 1
    for bdir in os.listdir(f"{t.path}/data/{gens[0]}"):
        if not bdir.startswith("_b="):
            continue
        files = [
            f
            for f in os.listdir(f"{t.path}/data/{gens[0]}/{bdir}")
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (bdir, files)


def test_crash_before_commit_leaves_table_intact(spark, tmp_path):
    t = _mk(spark, tmp_path)
    epoch0, rows0 = t._epoch, sorted(
        (r.k, r.v) for r in t.read().collect()
    )
    # simulate a crash: write the generation but never commit
    gen, _ = t._write_generation(
        spark.createDataFrame([(3, 12345)], "k long, v long")
    )
    assert os.path.isdir(f"{t.path}/data/{gen}")
    t.refresh()
    assert t._epoch == epoch0
    assert sorted((r.k, r.v) for r in t.read().collect()) == rows0


def test_concurrent_writer_conflict_vs_rebase(spark, tmp_path):
    """Delta-style conflict resolution: a stale writer whose rewrite
    touched a bucket another commit changed RAISES; a stale writer
    touching only other buckets rebases and commits."""
    from vanus_spark.sources.manifest_table import (
        ConcurrentWriterError,
        ManifestTable,
    )

    t1 = _mk(spark, tmp_path)
    t2 = ManifestTable(spark, t1.path, "k", n_buckets=t1.n_buckets)
    t3 = ManifestTable(spark, t1.path, "k", n_buckets=t1.n_buckets)
    t1.merge(spark.createDataFrame([(3, 1)], "k long, v long"))

    # same-bucket conflict: t2 is stale AND touches key 3's bucket
    with pytest.raises(ConcurrentWriterError):
        t2.merge(spark.createDataFrame([(3, 2)], "k long, v long"))

    # disjoint buckets: find a key hashing into a DIFFERENT bucket
    b_of = {
        r.k: r.b
        for r in spark.range(30)
        .select(
            F.col("id").alias("k"),
            F.pmod(F.xxhash64(F.col("id")), F.lit(t1.n_buckets)).alias("b"),
        )
        .collect()
    }
    other = next(k for k in sorted(b_of) if b_of[k] != b_of[3] and k != 3)
    # t3 is stale (observed the pre-merge epoch) but touches only
    # `other`'s bucket -> rebases onto t1's commit and succeeds
    t3.merge(spark.createDataFrame([(int(other), 777)], "k long, v long"))
    fresh = ManifestTable(spark, t1.path, "k", n_buckets=t1.n_buckets)
    rows = {r.k: r.v for r in fresh.read().collect()}
    assert rows[3] == 1 and rows[other] == 777


def test_delete_and_time_travel_and_vacuum(spark, tmp_path):
    t = _mk(spark, tmp_path)
    e1 = t._epoch
    t.merge(spark.createDataFrame([(3, 999)], "k long, v long"))
    t.delete(F.col("k") < 5)
    rows = {r.k for r in t.read().collect()}
    assert min(rows) == 5 and len(rows) == 35
    # time travel reads the pre-merge snapshot
    old = {r.k: r.v for r in t.read_at_epoch(e1).collect()}
    assert old[3] == 30 and len(old) == 40
    removed = t.vacuum(retain_epochs=1)
    assert removed >= 1
    # live read still intact after vacuum
    assert {r.k for r in t.read().collect()} == rows


def test_cdc_apply_lww_and_idempotent_replay(spark, tmp_path):
    """Within-batch last-writer-wins, cross-batch convergence, and a
    crash-replayed batch leaving the same final state."""
    from vanus_spark.sources.manifest_table import ManifestTable
    from vanus_spark.streaming.cdc import apply_cdc_batch

    t = ManifestTable(spark, str(tmp_path / "cdc"), "k", n_buckets=4)
    b1 = spark.createDataFrame(
        [(1, "i", 1, 10), (2, "i", 2, 20), (1, "u", 3, 11)],
        "k long, op string, seq long, v long",
    )
    apply_cdc_batch(t, b1)
    assert {r.k: r.v for r in t.read().collect()} == {1: 11, 2: 20}

    b2 = spark.createDataFrame(
        [(2, "d", 4, None), (3, "i", 5, 30), (2, "i", 6, 21)],
        "k long, op string, seq long, v long",
    )
    apply_cdc_batch(t, b2)  # delete then re-insert in one batch: insert wins
    assert {r.k: r.v for r in t.read().collect()} == {1: 11, 2: 21, 3: 30}

    # replaying b2 (crash recovery) converges to the same state
    apply_cdc_batch(t, b2)
    assert {r.k: r.v for r in t.read().collect()} == {1: 11, 2: 21, 3: 30}

    b3 = spark.createDataFrame(
        [(1, "d", 7, None)], "k long, op string, seq long, v long"
    )
    apply_cdc_batch(t, b3)
    assert {r.k for r in t.read().collect()} == {2, 3}


def test_run_cdc_stream_converges(spark, tmp_path):
    """A real Structured Streaming query (file source, availableNow)
    folds CDC files into the table; final state matches LWW."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vanus_spark.sources.manifest_table import ManifestTable
    from vanus_spark.streaming.cdc import run_cdc_stream

    src = tmp_path / "cdc_src"
    src.mkdir()
    pq.write_table(
        pa.table(
            {"k": [1, 2], "op": ["i", "i"], "seq": [1, 2], "v": [10, 20]}
        ),
        str(src / "f1.parquet"),
    )
    pq.write_table(
        pa.table(
            {"k": [1, 3, 2], "op": ["u", "i", "d"], "seq": [3, 4, 5],
             "v": [11, 30, None]}
        ),
        str(src / "f2.parquet"),
    )
    t = ManifestTable(spark, str(tmp_path / "t"), "k", n_buckets=4)
    q = run_cdc_stream(
        spark, t, str(src), "k long, op string, seq long, v long",
        checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination(120)
    t.refresh()
    assert {r.k: r.v for r in t.read().collect()} == {1: 11, 3: 30}


def test_run_cdc_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Restarting the stream with the same checkpoint applies ONLY new
    files: the epoch count proves the old batch wasn't re-applied."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vanus_spark.sources.manifest_table import ManifestTable
    from vanus_spark.streaming.cdc import run_cdc_stream

    src = tmp_path / "src"
    src.mkdir()
    schema = "k long, op string, seq long, v long"
    pq.write_table(
        pa.table({"k": [1], "op": ["i"], "seq": [1], "v": [10]}),
        str(src / "f1.parquet"),
    )
    t = ManifestTable(spark, str(tmp_path / "t"), "k", n_buckets=4)
    q = run_cdc_stream(spark, t, str(src), schema,
                       checkpoint_dir=str(tmp_path / "ck"), available_now=True)
    q.awaitTermination(120)
    t.refresh()
    epoch_after_first = t._epoch
    assert {r.k: r.v for r in t.read().collect()} == {1: 10}

    pq.write_table(
        pa.table({"k": [2], "op": ["i"], "seq": [2], "v": [20]}),
        str(src / "f2.parquet"),
    )
    q2 = run_cdc_stream(spark, t, str(src), schema,
                        checkpoint_dir=str(tmp_path / "ck"), available_now=True)
    q2.awaitTermination(120)
    t.refresh()
    assert {r.k: r.v for r in t.read().collect()} == {1: 10, 2: 20}
    # exactly ONE more commit: f1 was not re-applied
    assert t._epoch == epoch_after_first + 1


def test_stats_pruned_read_skips_cold_buckets(spark, tmp_path):
    """Per-bucket min/max sidecars: a range read skips buckets that
    cannot contain matches, and pruning never changes the answer."""
    from vanus_spark.sources.manifest_table import ManifestTable

    t = ManifestTable(spark, str(tmp_path / "t"), "k", n_buckets=8,
                      stats_cols=["v"])
    # find keys all hashing into ONE bucket; give them hot values
    b_of = {
        r.k: r.b
        for r in spark.range(200)
        .select(F.col("id").alias("k"),
                F.pmod(F.xxhash64(F.col("id")), F.lit(8)).alias("b"))
        .collect()
    }
    hot_bucket = b_of[0]
    rows = [
        (int(k), 1000 + int(k) if b == hot_bucket else int(k) % 100)
        for k, b in b_of.items()
    ]
    df = spark.createDataFrame(rows, "k long, v long")
    t.write_full(df)

    pruned, st = t.read_pruned("v", lo=1000)
    expected = {r.k for r in df.where(F.col("v") >= 1000).collect()}
    assert {r.k for r in pruned.collect()} == expected and expected
    assert st["buckets_read"] == 1 and st["buckets_skipped"] == 7

    # a range below every stored minimum of the hot bucket still reads
    # the cold ones; answer identical to the unpruned filter
    pruned2, st2 = t.read_pruned("v", lo=0, hi=50)
    assert {r.k for r in pruned2.collect()} == {
        r.k for r in df.where((F.col("v") >= 0) & (F.col("v") <= 50)).collect()
    }
    assert st2["buckets_skipped"] >= 1  # the hot bucket misses [0, 50]

    # empty range: everything pruned, empty result, no wrong rows
    pruned3, st3 = t.read_pruned("v", lo=10_000)
    assert pruned3.count() == 0 and st3["buckets_read"] == 0


def test_stats_sidecar_survives_merge(spark, tmp_path):
    """A merge refreshes the rewritten buckets' stats; pruning after
    the merge reflects the NEW values."""
    from vanus_spark.sources.manifest_table import ManifestTable

    t = ManifestTable(spark, str(tmp_path / "t"), "k", n_buckets=4,
                      stats_cols=["v"])
    t.write_full(spark.createDataFrame(
        [(i, i) for i in range(40)], "k long, v long"))
    t.merge(spark.createDataFrame([(3, 99999)], "k long, v long"))
    pruned, st = t.read_pruned("v", lo=99999)
    assert [r.k for r in pruned.collect()] == [3]
    assert st["buckets_read"] == 1


def test_lookup_reads_only_key_buckets(spark, tmp_path):
    t = _mk(spark, tmp_path, n=100, buckets=16)
    out = {r.k: r.v for r in t.lookup([5, 17, 41]).collect()}
    assert out == {5: 50, 17: 170, 41: 410}
    assert t.lookup([99999]).count() == 0


def test_merge_aggregate_accumulates(spark, tmp_path):
    from vanus_spark.sources.manifest_table import ManifestTable

    t = ManifestTable(spark, str(tmp_path / "agg"), "k", n_buckets=4)
    t.merge_aggregate(
        spark.createDataFrame([(1, 10, 1), (2, 5, 1)], "k long, s long, n long"),
        ["s", "n"],
    )
    t.merge_aggregate(
        spark.createDataFrame([(1, 7, 2), (3, 1, 1)], "k long, s long, n long"),
        ["s", "n"],
    )
    out = {r.k: (r.s, r.n) for r in t.read().collect()}
    assert out == {1: (17, 3), 2: (5, 1), 3: (1, 1)}


def test_run_aggregate_stream_exactly_once(spark, tmp_path):
    """Running totals accumulate across batches; re-running the whole
    stream WITHOUT a checkpoint (full replay) does not double-count,
    because applied batch ids commit atomically with the data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F2

    from vanus_spark.sources.manifest_table import ManifestTable
    from vanus_spark.streaming.cdc import run_aggregate_stream

    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table({"k": [1, 1, 2], "v": [10, 20, 5]}), str(src / "f1.parquet")
    )
    t = ManifestTable(spark, str(tmp_path / "t"), "k", n_buckets=4)

    def agg(df):
        return df.groupBy("k").agg(
            F2.sum("v").alias("total"), F2.count("*").alias("n")
        )

    def run(ck):
        q = run_aggregate_stream(
            spark, t, str(src), "k long, v long", agg, ["total", "n"],
            checkpoint_dir=str(tmp_path / ck), available_now=True,
        )
        q.awaitTermination(120)
        t.refresh()

    run("ck1")
    assert {r.k: (r.total, r.n) for r in t.read().collect()} == {
        1: (30, 2), 2: (5, 1),
    }
    # full replay from scratch (fresh checkpoint, same epoch ids):
    # the manifest's applied_epoch marker suppresses double-counting
    run("ck2")
    assert {r.k: (r.total, r.n) for r in t.read().collect()} == {
        1: (30, 2), 2: (5, 1),
    }
    # new data in a later batch DOES apply
    pq.write_table(
        pa.table({"k": [2], "v": [100]}), str(src / "f2.parquet")
    )
    run("ck1")
    assert {r.k: (r.total, r.n) for r in t.read().collect()} == {
        1: (30, 2), 2: (105, 2),
    }


def test_schema_evolution_on_merge(spark, tmp_path):
    """An update batch may add a column: old rows read it as null;
    later merges omitting a column fill it with null."""
    t = _mk(spark, tmp_path, n=10, buckets=4)
    t.merge(spark.createDataFrame(
        [(3, 999, "en")], "k long, v long, lang string"))
    rows = {r.k: (r.v, r.lang) for r in t.read().collect()}
    assert rows[3] == (999, "en")
    assert rows[4] == (40, None)
    # a later old-schema merge still works; the new column stays null
    t.merge(spark.createDataFrame([(5, 555)], "k long, v long"))
    rows = {r.k: (r.v, r.lang) for r in t.read().collect()}
    assert rows[5] == (555, None) and rows[3] == (999, "en")


def test_fsck_reports_orphans_and_missing_dirs(spark, tmp_path):
    import shutil

    t = _mk(spark, tmp_path)
    assert t.fsck()["ok"] and t.fsck()["orphan_generations"] == []
    # a crash leftover: written but never committed
    gen, _ = t._write_generation(
        spark.createDataFrame([(1, 1)], "k long, v long")
    )
    rep = t.fsck()
    assert rep["ok"] and rep["orphan_generations"] == [gen]
    # destroy a live directory -> fsck flags it
    victim = sorted(t._mapping.values())[0]
    shutil.rmtree(f"{t.path}/data/{victim}")
    rep2 = t.fsck()
    assert not rep2["ok"] and victim in rep2["missing_dirs"]


def _fragmented_write(spark, t, df, max_records=30):
    """write_full with a low per-file row cap so each bucket holds
    several files — the fragmentation compact_files exists to fix.
    (The clustered generation write otherwise leaves one file per
    bucket, which is the point of the r10 write-path change.)"""
    spark.conf.set("spark.sql.files.maxRecordsPerFile", str(max_records))
    try:
        t.write_full(df)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")


def _file_counts(t):
    out = {}
    for b, rel in t._mapping.items():
        d = f"{t.path}/data/{rel}"
        out[b] = sum(
            1
            for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith(".")
        )
    return out


def test_compact_files_packs_and_preserves_data(spark, tmp_path):
    from vanus_spark.sources.manifest_table import ManifestTable

    t = ManifestTable(spark, str(tmp_path / "t"), "k", n_buckets=4)
    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    # the r10 clustered write leaves one file per bucket, so fragment
    # via the file-size cap instead (how real buckets fragment at
    # scale): 100 rows/bucket at 30 rows/file -> 4 files per bucket
    _fragmented_write(spark, t, base)
    before = _file_counts(t)
    assert max(before.values()) > 1
    rows0 = sorted((r.k, r.v) for r in t.read().collect())
    stats = t.compact_files(max_files=1)
    assert stats["compacted_buckets"] == sum(
        1 for n in before.values() if n > 1
    )
    assert stats["files_after"] < stats["files_before"]
    after = _file_counts(t)
    assert max(after.values()) == 1
    assert sorted((r.k, r.v) for r in t.read().collect()) == rows0
    # idempotent: a second pass finds nothing to do
    assert t.compact_files(max_files=1)["compacted_buckets"] == 0


def test_compact_files_rebases_over_disjoint_writer(spark, tmp_path):
    """A concurrent merge that commits BETWEEN the compaction's read
    and its commit succeeds if it touched other buckets (rebase), and
    both changes survive."""
    from vanus_spark.sources import manifest_table as mt

    t = mt.ManifestTable(spark, str(tmp_path / "t"), "k", n_buckets=4)
    _fragmented_write(spark, t, spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    ))
    writer2 = mt.ManifestTable(spark, t.path, "k", n_buckets=4)

    # find the bucket key 3 hashes into by merging and diffing, then
    # compact every OTHER bucket while the hook sneaks a second merge
    # into the target bucket between the compaction's read and commit
    target_key = 3
    before = dict(writer2._mapping)
    writer2.merge(spark.createDataFrame([(target_key, 111)], "k long, v long"))
    target_bucket = [b for b in before if writer2._mapping[b] != before[b]][0]

    orig_commit_buckets = t._commit_buckets
    fired = {}

    def hooked(base_view, updates, **kw):
        if not fired:
            fired["x"] = True
            writer2.refresh()
            writer2.merge(
                spark.createDataFrame([(target_key, 222)], "k long, v long")
            )
        return orig_commit_buckets(base_view, updates, **kw)

    t._commit_buckets = hooked
    t.refresh()
    stats = t.compact_files(
        max_files=1, buckets=[b for b in range(4) if b != target_bucket]
    )
    assert stats["compacted_buckets"] >= 1
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[target_key] == 222  # the interleaved merge survived
    assert rows[5] == 50  # compacted data intact


def test_compact_files_conflicts_on_overlapping_writer(spark, tmp_path):
    """If the interleaved writer rewrote a bucket the compaction also
    read, committing the compacted copy would resurrect overwritten
    rows — it must raise instead."""
    from pyspark.sql import functions as FF

    from vanus_spark.sources import manifest_table as mt

    t = mt.ManifestTable(spark, str(tmp_path / "t"), "k", n_buckets=2)
    _fragmented_write(spark, t, spark.range(100).select(
        FF.col("id").alias("k"), (FF.col("id") * 10).alias("v")
    ))
    writer2 = mt.ManifestTable(spark, t.path, "k", n_buckets=2)

    orig = t._commit_buckets
    fired = {}

    def hooked(base_view, updates, **kw):
        if not fired:
            fired["x"] = True
            writer2.refresh()
            # touch EVERY bucket so the conflict is guaranteed
            writer2.merge(spark.createDataFrame(
                [(1, 111), (2, 222), (3, 333), (4, 444)], "k long, v long"
            ))
        return orig(base_view, updates, **kw)

    t._commit_buckets = hooked
    t.refresh()
    with pytest.raises(mt.ConcurrentWriterError):
        t.compact_files(max_files=1)
    # the losing compaction left the table exactly as writer2 committed
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[1] == 111 and rows[4] == 444


def test_changes_feed_semantics(spark, tmp_path):
    """insert / delete / update pre+post images between epochs, and a
    key inserted then deleted inside the span yields NO row."""
    t = _mk(spark, tmp_path)  # epoch 1: keys 0..39, v = k*10
    t.merge(
        spark.createDataFrame([(3, 999), (1000, 1)], "k long, v long")
    )  # epoch 2: update k=3, insert k=1000
    t.delete_keys(spark.createDataFrame([(1000,), (5,)], "k long"))  # epoch 3
    c12 = {(r.k, r._change_type) for r in t.changes(1, 2).collect()}
    assert c12 == {
        (3, "update_preimage"),
        (3, "update_postimage"),
        (1000, "insert"),
    }
    c13 = {(r.k, r._change_type) for r in t.changes(1, 3).collect()}
    # 1000 was inserted AND deleted within the span: no row at all
    assert c13 == {
        (3, "update_preimage"),
        (3, "update_postimage"),
        (5, "delete"),
    }
    # preimage carries the OLD value, postimage the new one
    rows = {
        r._change_type: r.row_json for r in t.changes(1, 2).collect() if r.k == 3
    }
    assert '"v":30' in rows["update_preimage"]
    assert '"v":999' in rows["update_postimage"]


def test_changes_scans_only_changed_buckets(spark, tmp_path):
    """The scale contract: the feed's scans touch ONLY directories of
    buckets whose manifest entry differs between the epochs."""
    t = _mk(spark, tmp_path, n=200, buckets=16)
    t.merge(spark.createDataFrame([(3, 999)], "k long, v long"))
    m1, m2 = t._mapping_at(1), t._mapping_at(2)
    changed = {b for b in set(m1) | set(m2) if m1.get(b) != m2.get(b)}
    assert len(changed) == 1
    allowed = {
        f"{t.path}/data/{m[b]}"
        for m in (m1, m2)
        for b in changed
        if b in m
    }
    feed = t.changes(1, 2)
    for f in feed.inputFiles():
        local = "/" + f.split("://", 1)[-1].lstrip("/")
        assert any(local.startswith(d) for d in allowed), f
    assert {r._change_type for r in feed.collect()} == {
        "update_preimage",
        "update_postimage",
    }


def test_changes_missing_manifest_raises(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(FileNotFoundError):
        t.changes(1, 99)


def test_vacuum_spares_an_uncommitted_generation(spark, tmp_path):
    """A vacuum that runs while another handle is between writing its
    generation and committing it must not delete that generation."""
    from vanus_spark.sources.manifest_table import ManifestTable

    a = _mk(spark, tmp_path)
    b = ManifestTable(spark, a.path, "k", n_buckets=a.n_buckets)
    upd = spark.createDataFrame([(3, 999)], "k long, v long")
    bucket = upd.select(b._bucket_col().alias("_b")).first()["_b"]
    rows = (
        b.read(buckets=[bucket])
        .join(upd.select("k"), "k", "left_anti")
        .unionByName(upd)
    )
    gen, written = b._write_generation(rows)
    a.vacuum(retain_epochs=1)
    b._commit_buckets(
        {bucket: b._mapping.get(bucket)}, {x: f"{gen}/_b={x}" for x in written}
    )
    assert b.fsck()["ok"]
    fresh = ManifestTable(spark, a.path, "k", n_buckets=a.n_buckets)
    assert {r.k: r.v for r in fresh.read().collect()}[3] == 999
