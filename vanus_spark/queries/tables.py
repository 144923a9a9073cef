"""Tables and state: table statistics and expectations, versioning,
change feeds, merges, streaming replays, exports, layouts and sketches."""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.streaming import DataStreamWriter

from vanus_spark.queries.common import _NORM, _t


def _materialize_parquet(spark: SparkSession, df: DataFrame, scratch: str) -> DataFrame:
    """Materialize *df* distributed (temp parquet next to *scratch*) and
    return a real scan over it; both dirs are reclaimed at interpreter
    exit. Query paths whose result must outlive a temp state dir used to
    ``collect()`` the result through the driver instead — the full change
    feed / every epoch's corpus in driver memory, a guaranteed OOM at
    100 TB (guide §5: the driver is not a data plane)."""
    import atexit
    import shutil

    out_dir = scratch.rstrip("/") + "_result"
    df.write.mode("overwrite").parquet(out_dir)
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    return spark.read.parquet(out_dir)


def q_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced export sharding: per-lang running token sums
    assign each doc the shard where its first token lands (~2000
    tokens per shard, docs never split). The writer's
    partitionBy(lang, shard) then yields near-target files."""
    from vanus_spark.llm.curation import shard_assignment

    docs = _t(spark, sf_dir, "documents")
    return shard_assignment(docs, target_tokens=2000, group_col="lang")


def q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics in ONE scan (rows, nulls,
    exact ndv, min/max as strings per column) — what a cost-based
    join planner reads. All per-column aggregates batch into a single
    grouping-free agg; the rows-per-column explode is 1-row."""
    from vanus_spark.sources.layout import table_stats

    docs = _t(spark, sf_dir, "documents")
    return table_stats(docs, ["doc_id", "lang", "n_chars"])


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key over (n_chars, doc_id%97): per-dim
    quantile buckets bit-interleaved into one sort key (the Delta
    OPTIMIZE ZORDER shape — sorting by zkey makes min/max file stats
    prune range predicates on EITHER dimension). The oracle
    re-derives the identical rank-bucket + bit-interleave chain;
    exact=True is passed EXPLICITLY for that oracle determinism — the
    library default is the sketch path (no global sort)."""
    from vanus_spark.sources.layout import zorder_table

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", (F.col("doc_id") % 97).alias("d2")
    )
    out = zorder_table(docs, ["n_chars", "d2"], bits=4, exact=True)
    return out.select("doc_id", "_zb_n_chars", "_zb_d2", "zkey")


def q_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The export MANIFEST next to the shards: per (lang, shard) row
    counts, token totals, and an order-insensitive content checksum
    (sum of per-doc 60-bit digests) — what a downstream loader uses
    to validate a delivered dataset without re-reading the text. One
    extra aggregate over the shard assignment; the checksum addends
    are per-doc map-side."""
    from vanus_spark.llm.curation import shard_assignment
    from vanus_spark.llm.dedup import md5_long, normalize_text

    docs = _t(spark, sf_dir, "documents")
    shards = shard_assignment(docs, target_tokens=2000, group_col="lang")
    checks = docs.select(
        "doc_id", md5_long(normalize_text(F.col("text"))).alias("_dg")
    )
    # checksum = sum of per-doc digests mod 2^61-1: the sum accumulates
    # in decimal(38,0) (exact, no ANSI long overflow at any corpus
    # size), the mod folds it back to one long — order-insensitive and
    # engine-exact (DuckDB sums into HUGEINT and takes the same mod)
    mod = 2_305_843_009_213_693_951  # 2^61 - 1
    return (
        shards.join(checks, "doc_id")
        .groupBy("lang", "shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.pmod(F.sum(F.col("_dg").cast("decimal(38,0)")), F.lit(mod))
            .cast("long")
            .alias("content_checksum"),
        )
    )


_SESSION_GAP_S = 6 * 3600  # 6 h gap over ~8 h median inter-event time


def _write_replay_frames(
    src: str, frames: list, cols: list[tuple[str, str]]
) -> None:
    """Driver-side parquet batch files for deterministic stream
    replays: one file per micro-batch of PANDAS rows, mtime-forced
    order (the file source admits by (modTime, path)). Batch
    assignment runs as vectorized masks over one Arrow toPandas
    instead of a collect() + per-row python loop (guide §4 applies to
    the driver too — at sf0.1 the row loop over 100k events was the
    dominant cost of several replay queries). Timestamps truncate
    ns -> us (the source data is µs)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {"ts": pa.timestamp("us"), "long": pa.int64(), "str": pa.string()}
    for i, pdf in enumerate(frames):
        tbl = pa.table(
            {
                name: pa.Array.from_pandas(pdf[name], type=types[kind])
                for name, kind in cols
            }
        )
        dst = os.path.join(src, f"b{i}.parquet")
        pq.write_table(tbl, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))


# spark.sql.shuffle.partitions is session-wide, so one lock spans each
# replay's pin, run and restore: two replays on different threads
# cannot interleave their save and restore.
_REPLAY_LOCK = threading.Lock()


def _replay(spark: SparkSession, writer: DataStreamWriter) -> None:
    """Start a streaming replay, run it to the end of its files, stop it.

    spark.sql.shuffle.partitions is pinned to 4 while the query starts
    and runs: a replay's state holds a few dozen keys, and each
    state-store partition costs a store instance per micro-batch, which
    dominates the replay's wall time at the session default."""
    with _REPLAY_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            q = writer.start()
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def q_session_windows_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful sessionizer (applyInPandasWithState +
    event-time timeouts, streaming/stateful.py) driven through a REAL
    Structured Streaming replay: events of users < 12 split into three
    time-ordered micro-batches (a file per batch, mtime-forced order)
    plus a far-future sentinel that advances the watermark past every
    open session's end + gap, flushing them all. The watermark delay
    (60 d) exceeds the 30 d event span, so every session is emitted at
    the final flush with all of its user's segments in state — labels
    are then pure gap semantics: 'gap' when a later session of the
    same user exists, 'timeout' for the user's final session, which is
    exactly the shape the DuckDB islands oracle states independently."""
    import datetime as dtm
    import os
    import shutil
    import tempfile

    from vanus_spark.streaming.stateful import session_windows

    ev = (
        _t(spark, sf_dir, "events")
        .where((F.col("user_id") < 12) & F.col("ts").isNotNull())
        .select("ts", "user_id")
    )
    work = tempfile.mkdtemp(prefix="vs_session_replay_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    cut1, cut2 = dtm.datetime(2024, 1, 11), dtm.datetime(2024, 1, 21)
    # ONE Arrow toPandas collects the replay slice; batch assignment is
    # vectorized masks (the collect() + per-row python loop this
    # replaces was the _write_replay_frames pathology class) and the
    # per-batch files are written driver-side via pyarrow
    import pandas as pd

    pdf = ev.select("ts", "user_id").toPandas()
    early, late = pdf["ts"] < cut1, pdf["ts"] >= cut2
    frames = [
        pdf[early],
        pdf[~early & ~late],
        pdf[late],
        pd.DataFrame({"ts": [dtm.datetime(2030, 1, 1)], "user_id": [-1]}),
    ]
    _write_replay_frames(src, frames, [("ts", "ts"), ("user_id", "long")])
    out = session_windows(
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        gap_s=_SESSION_GAP_S,
        watermark_delay="60 days",
    )
    name = "session_replay_sink"
    _replay(
        spark,
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append"),
    )
    rows = spark.table(name).where(F.col("user_id") >= 0).collect()
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, closed_by string",
    )


def q_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract drift detection between two payload snapshots:
    both corpus versions' JSON payload schemas are SAMPLE-INFERRED
    (schema_infer.infer_data_schema), then diffed field-by-field into
    (added / removed / type_changed / unchanged) — v2 drops 'legacy',
    adds 'metrics.retries', and changes 'code' from long to string.
    The oracle states the expected report straight from the
    generating rules, so the inference + flatten + diff chain is
    checked end-to-end."""
    from vanus_spark.llm.versioning import schema_drift
    from vanus_spark.schema_infer import infer_data_schema

    ev = _t(spark, sf_dir, "events")
    v1 = ev.select(
        F.to_json(
            F.struct(
                F.col("user_id"),
                (F.col("event_id") % 5).alias("code"),
                F.lit("x").alias("legacy"),
                F.struct(F.col("value").alias("score")).alias("metrics"),
            )
        ).alias("data")
    )
    v2 = ev.select(
        F.to_json(
            F.struct(
                F.col("user_id"),
                F.concat(F.lit("c"), (F.col("event_id") % 5)).alias("code"),
                F.struct(
                    F.col("value").alias("score"),
                    (F.col("event_id") % 3).alias("retries"),
                ).alias("metrics"),
            )
        ).alias("data")
    )
    return schema_drift(
        spark, infer_data_schema(v1), infer_data_schema(v2)
    )


def q_stream_stream_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL watermarked stream-stream interval join (the §2.10
    surface beyond per-key state): views and purchases replay as TWO
    file streams (two time-ordered micro-batches each), inner-joined
    on user with purchase_ts in [view_ts, view_ts + 2h]. Both sides
    carry 1-day watermarks, so join state is BOUNDED — a view row is
    evicted once the watermark passes view_ts + 2h — while the
    time-split replay keeps every true pair inside the retention
    window (a pair spans at most 2h; the files split at day 15 and
    the watermark trails the max seen event time by a full day). The
    oracle is the equivalent batch interval join."""
    import os
    import shutil
    import tempfile

    ev = _t(spark, sf_dir, "events").where(
        (F.col("user_id") < 30) & F.col("ts").isNotNull()
    )
    import datetime as dtm

    # ONE Arrow toPandas serves BOTH stream sides (was a collect() +
    # per-row python loop per side = two events scans); batch split is
    # vectorized masks, files written driver-side via pyarrow
    base = (
        ev.where(F.col("event_type").isin("view", "purchase"))
        .select("event_type", "user_id", "ts", "event_id")
        .toPandas()
    )
    work = tempfile.mkdtemp(prefix="vs_ssj_replay_")
    cut = dtm.datetime(2024, 1, 15)
    dirs = {}
    for side, etype, cols in (
        ("v", "view", [("v_user", "long"), ("v_ts", "ts"), ("view_id", "long")]),
        ("p", "purchase", [("p_user", "long"), ("p_ts", "ts"), ("purchase_id", "long")]),
    ):
        src = os.path.join(work, side)
        os.makedirs(src)
        dirs[side] = src
        sub = base[base["event_type"] == etype].rename(
            columns={"user_id": cols[0][0], "ts": cols[1][0], "event_id": cols[2][0]}
        )
        early = sub[cols[1][0]] < cut
        _write_replay_frames(src, [sub[early], sub[~early]], cols)
    v_stream = (
        spark.readStream.schema("v_user long, v_ts timestamp, view_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(dirs["v"])
        .withWatermark("v_ts", "1 day")
    )
    p_stream = (
        spark.readStream.schema("p_user long, p_ts timestamp, purchase_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(dirs["p"])
        .withWatermark("p_ts", "1 day")
    )
    joined = v_stream.join(
        p_stream,
        F.expr(
            "v_user = p_user AND p_ts >= v_ts "
            "AND p_ts <= v_ts + interval 2 hours"
        ),
        "inner",
    ).select("view_id", "purchase_id", F.col("v_user").alias("user_id"))
    name = "ssj_replay_sink"
    _replay(
        spark,
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append"),
    )
    rows = spark.table(name).collect()
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "view_id long, purchase_id long, user_id long"
    )


def q_stream_outer_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked LEFT OUTER stream-stream join — the half of the
    interval-join surface `stream_stream_join_replay` doesn't cover:
    views with NO purchase inside [v_ts, v_ts + 2h] must still emit,
    null-padded, once the watermark passes the end of their join
    window (outer results are withheld while a match could still
    arrive). The tail of the replay would otherwise never flush — the
    watermark only trails seen data — so each side appends a
    far-future sentinel batch that pushes the watermark past every
    real window (state cleanup runs an extra no-data batch under
    processAllAvailable, so ONE sentinel suffices — measured, not
    assumed). The oracle is the equivalent batch left join."""
    import datetime as dtm
    import os
    import shutil
    import tempfile

    ev = _t(spark, sf_dir, "events").where(
        (F.col("user_id") < 30) & F.col("ts").isNotNull()
    )
    # ONE Arrow toPandas serves BOTH stream sides (was a collect() +
    # per-row python loop per side = two events scans); batch split is
    # vectorized masks, files written driver-side via pyarrow
    import pandas as pd

    base = (
        ev.where(F.col("event_type").isin("view", "purchase"))
        .select("event_type", "user_id", "ts", "event_id")
        .toPandas()
    )
    work = tempfile.mkdtemp(prefix="vs_ssoj_replay_")
    cut = dtm.datetime(2024, 1, 15)
    sentinel_ts = dtm.datetime(2030, 1, 1)
    dirs = {}
    for side, etype, cols, sentinel in (
        (
            "v",
            "view",
            [("v_user", "long"), ("v_ts", "ts"), ("view_id", "long")],
            1_000_000,
        ),
        (
            "p",
            "purchase",
            [("p_user", "long"), ("p_ts", "ts"), ("purchase_id", "long")],
            1_000_001,
        ),
    ):
        src = os.path.join(work, side)
        os.makedirs(src)
        dirs[side] = src
        sub = base[base["event_type"] == etype].rename(
            columns={"user_id": cols[0][0], "ts": cols[1][0], "event_id": cols[2][0]}
        )
        early = sub[cols[1][0]] < cut
        _write_replay_frames(
            src,
            [
                sub[early],
                sub[~early],
                pd.DataFrame(
                    {
                        cols[0][0]: [sentinel],
                        cols[1][0]: [sentinel_ts],
                        cols[2][0]: [-1],
                    }
                ),
            ],
            cols,
        )
    v_stream = (
        spark.readStream.schema("v_user long, v_ts timestamp, view_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(dirs["v"])
        .withWatermark("v_ts", "1 day")
    )
    p_stream = (
        spark.readStream.schema("p_user long, p_ts timestamp, purchase_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(dirs["p"])
        .withWatermark("p_ts", "1 day")
    )
    # NOTE: the sentinel filter must NOT live inside the streaming
    # plan — Catalyst pushes a left-column predicate below the
    # EventTimeWatermark node, so the sentinel row would never reach
    # the watermark stats and the v-side watermark (hence the global
    # min) would stall a day behind; sentinels are dropped from the
    # COLLECTED result instead.
    joined = v_stream.join(
        p_stream,
        F.expr(
            "v_user = p_user AND p_ts >= v_ts "
            "AND p_ts <= v_ts + interval 2 hours"
        ),
        "left_outer",
    ).select("view_id", "purchase_id", F.col("v_user").alias("user_id"))
    name = "ssoj_replay_sink"
    _replay(
        spark,
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append"),
    )
    rows = [r for r in spark.table(name).collect() if r["view_id"] >= 0]
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "view_id long, purchase_id long, user_id long"
    )


def q_state_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style TIME TRAVEL over the manifest-committed state store:
    the documents corpus replays as three exact-dedup ingest batches
    (manifest epochs 1-3), then compacts (epoch 4), and the query
    reads the corpus AS OF every epoch from the manifest history —
    epoch 3 and the post-compaction epoch 4 must be identical, and
    older epochs stay readable because compaction defers deletion to
    ``vacuum`` (the OPTIMIZE/VACUUM split). The oracle re-derives each
    epoch's corpus independently: cumulative exact dedup = the lowest
    doc_id per normalized text within the epoch's id prefix."""
    import tempfile

    from vanus_spark.streaming.dedup_ingest import DedupIngestLoop

    docs = _t(spark, sf_dir, "documents")
    state = tempfile.mkdtemp(prefix="vs_time_travel_")
    loop = DedupIngestLoop(spark, lsh=False, state_dir=state)
    loop.process_batch(docs.where(F.col("doc_id") < 170))
    loop.process_batch(
        docs.where((F.col("doc_id") >= 170) & (F.col("doc_id") < 340))
    )
    loop.process_batch(docs.where(F.col("doc_id") >= 340))
    loop.compact_state()
    out = None
    for e in loop.epochs():  # [1, 2, 3, 4]
        part = loop.corpus_at_epoch(e).select(
            F.lit(e).alias("epoch"), "doc_id"
        )
        out = part if out is None else out.unionByName(part)
    # Materialize distributed (temp parquet, cleanup deferred) — the
    # result must outlive the temp state dir, but pulling every epoch's
    # corpus through the driver is a 100 TB OOM (guide §5).
    return _materialize_parquet(spark, out, state)


def q_stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE streaming dedup (dropDuplicatesWithinWatermark)
    under deterministic two-batch replay: events keyed down to
    dup_key = event_id % 3000 (so ~70% of rows are duplicates, many
    across the batch boundary), payload derived FROM the key so the
    kept row is deterministic whichever arrival wins. State is bounded
    by the 1-day watermark — the engine-provided counterpart of the
    digest-state dedup the ingest loop implements, registered so both
    shapes are oracle-gated."""
    import os
    import shutil
    import tempfile

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    import datetime as dtm

    # vectorized split over one Arrow toPandas (was a 100k-row
    # collect + python loop)
    pdf = ev.select("ts", (F.col("event_id") % 3000).alias("dup_key")).toPandas()
    cut = dtm.datetime(2024, 1, 15)
    early = pdf["ts"] < cut
    halves = [pdf[early], pdf[~early]]
    work = tempfile.mkdtemp(prefix="vs_sdedup_replay_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    _write_replay_frames(src, halves, [("ts", "ts"), ("dup_key", "long")])
    stream = (
        spark.readStream.schema("ts timestamp, dup_key long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "1 day")
        .withColumn("payload", F.md5(F.col("dup_key").cast("string")))
        .dropDuplicatesWithinWatermark(["dup_key"])
        .select("dup_key", "payload")
    )
    name = "sdedup_replay_sink"
    _replay(
        spark,
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append"),
    )
    out = spark.table(name).collect()
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(out, "dup_key long, payload string")


def q_export_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL export/ingest roundtrip (sources/jsonl.py): write the
    documents table as 8 gzip JSONL shards, read it back with an
    explicit schema, and hand the rows to the oracle — the writer,
    shard layout, and reader are all under the hash (exact integer/
    string columns, so JSON rendering cannot introduce drift)."""
    import tempfile

    from vanus_spark.sources.jsonl import write_documents_jsonl

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    tmp = tempfile.mkdtemp(prefix="vs_jsonl_")
    write_documents_jsonl(docs.repartition(8), f"{tmp}/out", compression="gzip")
    return spark.read.schema(
        "doc_id long, lang string, source string, n_chars long"
    ).json(f"{tmp}/out")


def q_cdc_apply_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium-style CDC replay into the ACID manifest table
    (streaming/cdc.apply_cdc_batch): three ordered change batches —
    full insert load, then updates + deletes (one key gets both in a
    batch: the higher source offset wins), then re-inserts of deleted
    keys — folded with per-batch last-writer-wins + partition-pruned
    MERGE/delete. The oracle computes the SAME converged state as one
    global last-writer-wins window over the union of all change rows,
    so batch folding, bucket routing, and both write paths sit under
    the hash."""
    import tempfile

    from vanus_spark.sources.manifest_table import ManifestTable
    from vanus_spark.streaming.cdc import apply_cdc_batch

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    tmp = tempfile.mkdtemp(prefix="vs_cdc_")
    t = ManifestTable(spark, f"{tmp}/t", "doc_id", n_buckets=8)

    b1 = docs.select(
        "doc_id",
        F.lit("i").alias("op"),
        F.col("doc_id").alias("seq"),
        "lang",
        "n_chars",
    )
    upd = docs.where(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.lit("u").alias("op"),
        (F.col("doc_id") + 100000).alias("seq"),
        "lang",
        (F.col("n_chars") + 1000).alias("n_chars"),
    )
    dels = docs.where(F.col("doc_id") % 7 == 3).select(
        "doc_id",
        F.lit("d").alias("op"),
        (F.col("doc_id") + 200000).alias("seq"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("long").alias("n_chars"),
    )
    b3 = docs.where(F.col("doc_id") % 14 == 3).select(
        "doc_id",
        F.lit("i").alias("op"),
        (F.col("doc_id") + 300000).alias("seq"),
        F.lit("zz").alias("lang"),
        F.lit(5).cast("long").alias("n_chars"),
    )
    for batch in (b1, upd.unionByName(dels), b3):
        apply_cdc_batch(t, batch)
    return t.read()


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACID-ish MERGE on the manifest-committed table
    (sources/manifest_table.ManifestTable): load documents, upsert a
    batch (every 7th doc's n_chars doubled + 20 brand-new rows) via
    partition-pruned copy-on-write (only the buckets the update keys
    hash into are rewritten; commits are epoch-fenced). The oracle
    re-states MERGE semantics as anti-join + union in SQL, so the
    bucket routing, rewrite, and manifest swap are all under the
    hash."""
    import tempfile

    from vanus_spark.sources.manifest_table import ManifestTable

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    tmp = tempfile.mkdtemp(prefix="vs_merge_")
    t = ManifestTable(spark, f"{tmp}/t", "doc_id", n_buckets=8)
    t.write_full(docs)
    updates = (
        docs.where(F.col("doc_id") % 7 == 0)
        .withColumn("n_chars", F.col("n_chars") * 2)
        .unionByName(
            docs.where(F.col("doc_id") < 20).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.lit("xx").alias("lang"),
                (F.col("doc_id") % 50).cast("long").alias("n_chars"),
            )
        )
    )
    t.merge(updates)
    return t.read()


def q_table_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations
    (operators/expectations.py): six rules over events — null checks,
    range, regex, accepted values, two uniqueness rules — evaluated as
    ONE conditional-sum aggregate over one scan plus a separate
    distinct aggregate (the Expand lesson), stacked to one row per
    rule. The oracle re-states every rule in plain SQL."""
    from vanus_spark.operators.expectations import expectations_report

    ev = _t(spark, sf_dir, "events")
    return expectations_report(
        ev,
        [
            {"rule": "not_null", "column": "user_id"},
            {"rule": "in_range", "column": "value", "lo": 0, "hi": 450},
            {"rule": "matches", "column": "event_type", "pattern": "^[a-z_]+$"},
            {
                "rule": "accepted_values",
                "column": "event_type",
                "values": ["view", "click", "purchase"],
            },
            {"rule": "unique", "column": "event_id"},
            {"rule": "unique", "column": "user_id"},
        ],
    )


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profiling of the documents table (the
    SUMMARIZE / data-quality report every curation pipeline starts
    with): per column — row count, non-null count, exact distinct
    count, min/max (computed in the NATIVE type, then rendered), and
    mean rendered length. One tiny aggregate per column over a
    pruned single-column scan (exact count_distinct is kept in its
    own aggregate per column — fusing several distincts into one
    groupBy triggers Catalyst's Expand-every-row plan), unioned into
    a 5-row report."""
    docs = _t(spark, sf_dir, "documents")
    parts = []
    for col in ["doc_id", "text", "lang", "source", "n_chars"]:
        c = F.col(col)
        parts.append(
            docs.select(c).agg(
                F.lit(col).alias("column_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(c).alias("n_nonnull"),
                F.countDistinct(c).alias("n_distinct"),
                F.min(c).cast("string").alias("min_repr"),
                F.max(c).cast("string").alias("max_repr"),
                F.round(F.avg(F.length(c.cast("string"))), 4).alias(
                    "avg_repr_len"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_stream_late_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics under deterministic replay: a
    daily windowed count (append mode, 2-hour watermark) over three
    arrival batches where user_id%7==0 events arrive TWO batches late
    and user_id%5==0 one batch late. Spark 3.4+ filters late events
    with the PREVIOUS batch's watermark (watermarkForLateEvents — one
    batch BEHIND the eviction watermark, verified empirically against
    recentProgress), so the oracle restates exactly that rule in SQL:
    a batch-k row is kept iff its day-window END exceeds
    max(event time over batches <= k-2) - 2h. One-batch stragglers
    all survive; two-batch stragglers beyond the lagged watermark are
    dropped (427 rows at sf0.01). A far-future sentinel batch
    advances the watermark past every real window so append mode
    flushes them all (the sentinel's own window stays unemitted, so
    it never reaches the output)."""
    import datetime as dtm
    import os
    import shutil
    import tempfile

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    # vectorized batch assignment over one Arrow toPandas (was a
    # 100k-row collect + python loop — the dominant prep cost)
    import numpy as np
    import pandas as pd

    pdf = ev.select("ts", "event_type", "user_id").toPandas()
    c1, c2 = dtm.datetime(2024, 1, 11), dtm.datetime(2024, 1, 21)
    base = np.where(pdf["ts"] < c1, 0, np.where(pdf["ts"] < c2, 1, 2))
    uid = pdf["user_id"].to_numpy()
    shift = np.where(uid % 7 == 0, 2, np.where(uid % 5 == 0, 1, 0))
    b = np.minimum(2, base + shift)
    frames = [pdf[b == i] for i in range(3)]
    frames.append(
        pd.DataFrame(
            {"ts": [dtm.datetime(2030, 1, 1)], "event_type": ["sentinel"]}
        )
    )
    work = tempfile.mkdtemp(prefix="vs_late_replay_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    _write_replay_frames(src, frames, [("ts", "ts"), ("event_type", "str")])
    stream = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("wstart"),
            "event_type",
            "n",
        )
    )
    name = "late_metrics_sink"
    _replay(
        spark,
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append"),
    )
    out = spark.table(name).collect()
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(out, "wstart string, event_type string, n long")


def q_stream_static_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join under deterministic replay: the
    event stream (3 micro-batches) joins a STATIC user-segment
    dimension per batch — the standard streaming enrichment shape
    (dim re-resolved every micro-batch, broadcast because it is
    bounded; stateless, so no watermark needed). With a fixed dim the
    result equals the batch join, which is exactly what the oracle
    asserts; the per-type x segment rollup aggregates across all
    batches in the sink table."""
    import datetime as dtm
    import os
    import shutil
    import tempfile

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    # vectorized batch assignment over one Arrow toPandas (was a
    # 100k-row collect + python loop)
    import numpy as np

    pdf = ev.select("ts", "event_type", "user_id").toPandas()
    c1, c2 = dtm.datetime(2024, 1, 11), dtm.datetime(2024, 1, 21)
    b = np.where(pdf["ts"] < c1, 0, np.where(pdf["ts"] < c2, 1, 2))
    batches = [pdf[b == i] for i in range(3)]
    work = tempfile.mkdtemp(prefix="vs_ssj_replay_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    _write_replay_frames(
        src,
        batches,
        [("ts", "ts"), ("event_type", "str"), ("user_id", "long")],
    )
    dim = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(F.col("user_id") % 3 == 0, "gold")
            .when(F.col("user_id") % 3 == 1, "silver")
            .otherwise("bronze")
            .alias("segment"),
        )
    )
    stream = (
        spark.readStream.schema(
            "ts timestamp, event_type string, user_id long"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .join(F.broadcast(dim), "user_id")
        .select("event_type", "segment")
    )
    name = "sstatic_replay_sink"
    _replay(
        spark,
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append"),
    )
    out = (
        spark.table(name)
        .groupBy("event_type", "segment")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        out, "event_type string, segment string, n long"
    )


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning: lineitem ⋈ urgent-orders with the
    fact side pre-filtered by a distributed-built Bloom bitmap of the
    dim keys BEFORE the join shuffle (`operators/bloom.py`). At 100 TB
    this is semi-join reduction — only ~matching fact rows reach the
    exchange. The result is bit-for-bit the plain join (the exact join
    removes Bloom false positives), which is exactly what the oracle
    states."""
    from vanus_spark.operators.bloom import bloom_prune_join

    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        bloom_prune_join(li, od, "l_orderkey", "o_orderkey", num_bits=1 << 14)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
        )
    )


def q_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-CDF-style incremental read over ManifestTable: build a
    3-epoch history (full load -> COW upsert with inserts -> key
    delete) and emit ``changes(e1, e2)`` for every epoch span. The
    reader diffs the two MANIFESTS first and scans only buckets whose
    entry changed — at 100 TB an adjacent-epoch feed reads the few
    percent of buckets the commits touched, never the table; carried
    rows inside rewritten buckets are dropped by a row-digest
    equality check. The oracle re-derives each span's insert/update/
    delete key sets from the same deterministic modular rules."""
    import tempfile

    from vanus_spark.sources.manifest_table import ManifestTable

    orders = _t(spark, sf_dir, "orders")
    base = orders.where(F.col("o_orderkey") < 3000).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    path = tempfile.mkdtemp(prefix="vs_tchanges_")
    t = ManifestTable(spark, path, key_col="o_orderkey", n_buckets=8)
    t.write_full(base)  # epoch 1
    upd = orders.where(
        (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") < 3000)
    ).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    ins = orders.where(
        (F.col("o_orderkey") >= 3000) & (F.col("o_orderkey") < 3300)
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    t.merge(upd.unionByName(ins))  # epoch 2
    t.delete_keys(
        orders.where(F.col("o_orderkey") % 11 == 0).select("o_orderkey")
    )  # epoch 3
    out = None
    for e1, e2 in [(1, 2), (2, 3), (1, 3)]:
        part = t.changes(e1, e2).select(
            F.lit(f"{e1}->{e2}").alias("span"),
            "o_orderkey",
            F.col("_change_type").alias("change_type"),
        )
        out = part if out is None else out.unionByName(part)
    # Materialize distributed (temp parquet, cleanup deferred) — the
    # full change feed through the driver is a 100 TB OOM (guide §5).
    return _materialize_parquet(spark, out, path)


def q_stream_topk_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE-output-mode windowed aggregation under deterministic
    replay — the trending-topics shape, and the one output mode no
    other registry stream exercises. Events replay as three
    time-ordered micro-batches into a 6 h tumbling count per
    event_type; update mode re-emits a (window, type) row in exactly
    the micro-batches where its count CHANGED, each emission carrying
    the cumulative count so far — foreachBatch captures the full
    revision history. final_rank then orders each window's types by
    their LAST revision (the trending answer). The oracle restates
    both semantics independently: revisions = batches containing at
    least one event of the pair, cumulative over batches so far;
    ranks from the total counts. No watermark, so no lateness rule
    applies (batches are time-ordered by construction) and state is
    never evicted — bounded here by the fixture's window span; a
    production trend stream would add the watermark back."""
    import datetime as dtm
    import os
    import shutil
    import tempfile

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    # vectorized batch assignment over one Arrow toPandas (was a
    # 100k-row collect + python loop)
    import numpy as np

    pdf = ev.select("ts", "event_type").toPandas()
    cut1, cut2 = dtm.datetime(2024, 1, 11), dtm.datetime(2024, 1, 21)
    b = np.where(pdf["ts"] < cut1, 0, np.where(pdf["ts"] < cut2, 1, 2))
    batches = [pdf[b == i] for i in range(3)]
    work = tempfile.mkdtemp(prefix="vs_topk_replay_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    _write_replay_frames(src, batches, [("ts", "ts"), ("event_type", "str")])
    agg = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("window.start").cast("long").alias("ws_epoch"),
            "event_type",
            "cnt",
        )
    )
    captured: list[tuple[int, list]] = []

    def sink(df: DataFrame, epoch_id: int) -> None:
        got = df.collect()
        if got:
            captured.append((epoch_id, got))

    _replay(
        spark,
        agg.writeStream.foreachBatch(sink).outputMode("update"),
    )
    shutil.rmtree(work, ignore_errors=True)
    flat = [
        (b, r.ws_epoch, r.event_type, r.cnt)
        for b, (_, got) in enumerate(sorted(captured))
        for r in got
    ]
    rev = spark.createDataFrame(
        flat, "batch long, ws_epoch long, event_type string, cnt long"
    )
    w = Window.partitionBy("ws_epoch", "event_type").orderBy(
        F.col("batch").desc()
    )
    final = (
        rev.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "ws_epoch",
            "event_type",
            F.col("cnt").alias("final_cnt"),
        )
    )
    rk = final.select(
        "ws_epoch",
        "event_type",
        F.row_number()
        .over(
            Window.partitionBy("ws_epoch").orderBy(
                F.col("final_cnt").desc(), "event_type"
            )
        )
        .alias("final_rank"),
    )
    return rev.join(rk, ["ws_epoch", "event_type"]).select(
        "batch", "ws_epoch", "event_type", "cnt", "final_rank"
    )


def q_sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (operators/countmin.py) over document tokens:
    the 4x512 counter matrix builds in ONE bounded-output aggregate
    (shuffle carries at most depth*width rows however large the
    corpus), then the exact top-20 tokens' estimates read back via a
    broadcast cell join. cm_est >= exact_cnt ALWAYS (Count-Min never
    undercounts) — the oracle re-derives the full sketch with the
    same md5-based universal hashes and must land on identical cells.
    The top-20 selection's global window runs on the POST-aggregate
    vocabulary table (bounded); unbounded-vocabulary top-k is what the
    Misra-Gries operator is for."""
    from vanus_spark.llm.search import tokens_df
    from vanus_spark.operators.countmin import cm_estimate, cm_sketch

    docs = _t(spark, sf_dir, "documents")
    toks = tokens_df(docs)
    sketch = cm_sketch(toks, "term", depth=4, width=512)
    exact = toks.groupBy("term").agg(F.count("*").alias("exact_cnt"))
    top = (
        exact.withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("exact_cnt").desc(), "term")
            ),
        )
        .where(F.col("rank") <= 20)
        .drop("rank")
    )
    est = cm_estimate(sketch, top.select("term"), "term", depth=4, width=512)
    return top.join(est, "term").select(
        "term",
        "exact_cnt",
        "cm_est",
        (F.col("cm_est") - F.col("exact_cnt")).alias("overcount"),
    )


def q_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog distinct-count sketch (operators/hll.py):
    distinct users per event_type via an EXPLICIT 256-register table
    that merges across shards/days by union+max — the workflow Spark's
    opaque approx_count_distinct state cannot express. The build is
    one partial-aggregated groupBy bounded by m x |groups| rows; the
    oracle re-derives every register (same md5 hash, trailing-zero
    rho) and the exact-integer scaled harmonic sum, so the estimate
    must match to the last IEEE division. Exact distinct (its own
    aggregate — count_distinct beside other aggs forces a catalyst
    Expand of every row) joins back on the 5-row key for the error
    report."""
    from vanus_spark.operators.hll import hll_estimate, hll_registers

    ev = _t(spark, sf_dir, "events")
    regs = hll_registers(ev, "user_id", ["event_type"])
    est = hll_estimate(regs, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "n_regs",
        F.round("hll_est", 6).alias("hll_est"),
        "exact_distinct",
        F.round(
            F.abs(F.col("hll_est") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_err"),
    )


def q_export_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC export/ingest roundtrip (the columnar-sink sibling of
    export_jsonl_roundtrip): write events as 8 ORC shards, read them
    back, and hand every column — including the double and the
    timestamp, which ORC roundtrips exactly where a text format could
    drift — to the oracle, which restates the table from parquet."""
    import tempfile

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    tmp = tempfile.mkdtemp(prefix="vs_orc_")
    ev.repartition(8).write.mode("overwrite").orc(f"{tmp}/out")
    return spark.read.orc(f"{tmp}/out")


#: shared (lo, hi, bins) for the registered quantile-sketch query —
#: width (hi-lo)/bins = 2.0 is dyadic-exact, so the bin-edge read-back
#: arithmetic cannot drift between engines.
_QSK = (0.0, 512.0, 256)


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram quantile sketch (operators/qsketch.py):
    p50/p90/p99 of events.value per event_type from a 256-bin count
    table — the bounded-state alternative to a per-group sort, merged
    across shards by summing counts (the t-digest workflow with an
    engine-portable statistic). The oracle re-derives the bins, the
    cumulative read-back, AND the exact type-1 quantile baseline
    (row_number pick — the validation-only side, like exact_cnt beside
    the Count-Min estimate), so the one-bin-width error bound is
    hash-checked, not asserted."""
    from vanus_spark.operators.qsketch import histogram_sketch, sketch_quantiles

    lo, hi, bins = _QSK
    ev = _t(spark, sf_dir, "events")
    sk = histogram_sketch(ev, "value", ["event_type"], lo, hi, bins)
    est = sketch_quantiles(
        spark, sk, ["event_type"], [0.5, 0.9, 0.99], lo, hi, bins
    ).select(
        F.col("event_type").alias("etype"), "q", "n", "est"
    )
    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy("value", "event_id")
    )
    ranked = ev.select("event_type", "value", "event_id").withColumn("rn", rn)
    return (
        est.join(
            ranked,
            (est.etype == ranked.event_type)
            & (ranked.rn == F.ceil(est.q * est.n)),
        )
        .select(
            F.col("etype").alias("event_type"),
            "q",
            "n",
            F.round("est", 6).alias("est_value"),
            F.round("value", 6).alias("exact_value"),
            F.round(F.col("est") - F.col("value"), 6).alias("err"),
        )
    )


def q_stream_hll_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental HLL maintenance over a REAL Structured Streaming
    replay — the 'daily uniques, merged monthly' workflow the explicit
    register table exists for: 4 micro-batches (events split by
    event_id % 4, one file per batch, mtime-forced order) each build
    batch registers, union+max-merge into the standing state (bounded:
    m x |groups| entries), and emit the post-merge estimate per epoch.
    The HLL merge law makes each epoch's state identical to sketching
    the prefix outright, which is exactly what the oracle restates:
    the full register chain over event_id % 4 <= k for every epoch."""
    import os
    import shutil
    import tempfile

    from vanus_spark.operators.hll import hll_estimate, hll_registers

    ev = _t(spark, sf_dir, "events")
    # ONE Arrow toPandas + vectorized masks replace the old
    # row-collect + python append loop (guide §4: the driver is
    # Python too — keep it vectorized); the per-batch files are
    # written driver-side via pyarrow as before
    pdf = ev.select(
        "event_type", "user_id", (F.col("event_id") % 4).alias("b")
    ).toPandas()
    import pyarrow as pa
    import pyarrow.parquet as pq

    work = tempfile.mkdtemp(prefix="vs_hll_replay_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    for i in range(4):
        part = pdf[pdf["b"] == i]
        tbl = pa.table(
            {
                "event_type": pa.array(part["event_type"], type=pa.string()),
                "user_id": pa.array(part["user_id"], type=pa.int64()),
            }
        )
        dst = os.path.join(src, f"b{i}.parquet")
        pq.write_table(tbl, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    state: dict[tuple, int] = {}
    snap_rows: list[tuple] = []
    epoch = {"k": 0}

    def handle(bdf, _bid):
        # per-batch registers are sketch-bounded -> the collect is a
        # bounded model read, not a data read
        for r in hll_registers(bdf, "user_id", ["event_type"]).collect():
            key = (r.event_type, r.reg)
            if state.get(key, 0) < r.rho:
                state[key] = r.rho
        # snapshot the merged state; the estimates for ALL epochs run
        # as ONE post-stream job grouped by (epoch, event_type) — the
        # per-group math is identical to the old per-epoch
        # hll_estimate jobs (4 jobs -> 1)
        k = epoch["k"]
        epoch["k"] += 1
        snap_rows.extend(
            (k, et, reg, rho) for (et, reg), rho in state.items()
        )

    _replay(
        spark,
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(handle)
        .outputMode("append"),
    )
    shutil.rmtree(work, ignore_errors=True)
    snaps = spark.createDataFrame(
        snap_rows, "epoch int, event_type string, reg long, rho long"
    )
    return hll_estimate(snaps, ["epoch", "event_type"]).select(
        "epoch", "event_type", "n_regs", F.round("hll_est", 6).alias("hll_est")
    )


def q_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-similarity sketch (operators/kmv.py): per-event-type
    high-value audiences (distinct users with a value > 200 event)
    sketched as the 64 minimum hash values, pairwise Jaccard estimated
    from the union's k smallest — the set-operation capability HLL
    lacks. Build is the two-phase bounded pattern (per-partition heaps
    via mapInPandas, exact candidate merge), so the result is EXACTLY
    the k smallest distinct hashes and the oracle restates it as a
    row_number over hashes; the exact Jaccard baseline rides along,
    hash-checked like every other sketch-vs-truth report."""
    from vanus_spark.operators.kmv import kmv_jaccard_pairs, kmv_sketch

    ev = _t(spark, sf_dir, "events").where(F.col("value") > 200.0)
    members = ev.select("event_type", "user_id").distinct()
    sk = kmv_sketch(members, "user_id", "event_type", k=64)
    est = kmv_jaccard_pairs(sk, k=64)
    sizes = members.groupBy("event_type").agg(F.count("*").alias("n"))
    a, b = members.alias("a"), members.alias("b")
    ix = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("g_a"),
            F.col("b.event_type").alias("g_b"),
        )
        .agg(F.count("*").alias("nab"))
    )
    sa = sizes.select(F.col("event_type").alias("g_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("event_type").alias("g_b"), F.col("n").alias("nb"))
    return (
        est.join(F.broadcast(sa), "g_a")
        .join(F.broadcast(sb), "g_b")
        .join(F.broadcast(ix), ["g_a", "g_b"], "left")
        .select(
            "g_a",
            "g_b",
            "kk",
            "inter",
            F.round("j_est", 6).alias("j_est"),
            F.round(
                F.coalesce(F.col("nab"), F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("nab"), F.lit(0))),
                6,
            ).alias("j_exact"),
        )
    )


def q_layout_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key (sources/layout.hilbert_key) over
    synthetic 8-bit bucket coordinates (doc_id residues) — zorder's
    locality-better sibling for write-time multi-dimensional
    clustering. The key is a driver-precomputed hex-string-literal
    lookup (O(1) plan size — the round-6 unrolled expression was
    compile-bound at 450 s); the oracle re-walks the 8 xy2d levels
    as chained CTEs, so every bit of the curve arithmetic is
    hash-checked."""
    from vanus_spark.sources.layout import hilbert_key

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    x = (F.col("doc_id") % 256).cast("long")
    y = ((F.col("doc_id") * 7 + 3) % 256).cast("long")
    return docs.select(
        "doc_id",
        x.alias("bx"),
        y.alias("by"),
        hilbert_key(x, y, bits=8).alias("hilbert_key"),
    )


def q_stats_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth histogram of order totals
    (operators/joinstats.equi_depth_histogram): 16 equal-count buckets
    with bounds/rows/ndv — the CBO range-selectivity statistic,
    built on the two-phase distributed rank (never a single-task
    global window). Oracle = the row_number/floor-cut twin."""
    from vanus_spark.operators.joinstats import equi_depth_histogram

    orders = _t(spark, sf_dir, "orders")
    return equi_depth_histogram(
        orders, "o_totalprice", "o_orderkey", n_buckets=16
    ).select(
        "bucket",
        F.col("lo").cast("string").alias("lo"),
        F.col("hi").cast("string").alias("hi"),
        "n_rows",
        "n_distinct",
    )


def q_table_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency audit (the g3' error measure
    of Kivinen & Mannila 1995): for each candidate FD X -> Y, the
    minimum fraction of rows that must be removed for the dependency
    to hold exactly = (n - sum over X-groups of the max Y-value
    count) / n. Four candidates spanning a true key (c_custkey ->
    c_mktsegment must hold), a near-FD, and two deliberately-violated
    dependencies — the data-profiling step that decides which columns
    are safe join/merge keys before a backfill. Each FD is one
    two-level aggregate (cells -> per-LHS max -> 1 row); the union is
    4 rows. Exact integers until the single output division."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")

    def g3(df: DataFrame, lhs: str, rhs: str, name: str) -> DataFrame:
        cells = df.groupBy(lhs, rhs).agg(F.count("*").alias("c"))
        per = cells.groupBy(lhs).agg(
            F.max("c").alias("mx"), F.sum("c").alias("tot")
        )
        return per.agg(
            F.lit(name).alias("fd"),
            F.sum("tot").alias("n_rows"),
            F.count("*").alias("n_groups"),
            F.sum("mx").alias("n_kept"),
        )
    u = (
        g3(
            orders,
            "o_custkey",
            "o_orderpriority",
            "orders: o_custkey -> o_orderpriority",
        )
        .unionByName(
            g3(
                orders,
                "o_orderdate",
                "o_orderstatus",
                "orders: o_orderdate -> o_orderstatus",
            )
        )
        .unionByName(
            g3(
                cust,
                "c_custkey",
                "c_mktsegment",
                "customer: c_custkey -> c_mktsegment",
            )
        )
        .unionByName(
            g3(
                cust,
                "c_nationkey",
                "c_mktsegment",
                "customer: c_nationkey -> c_mktsegment",
            )
        )
    )
    return u.select(
        "fd",
        "n_rows",
        "n_groups",
        "n_kept",
        F.round(
            (F.col("n_rows") - F.col("n_kept")).cast("double")
            / F.col("n_rows").cast("double"),
            6,
        ).alias("violation_rate"),
        (F.col("n_kept") == F.col("n_rows")).alias("holds"),
    ).orderBy("fd")


def _hll_oracle() -> str:
    """SQL twin of q_sketch_hll: re-derives every register (shared md5
    hash, trailing-zero rho via log2 of the isolated low bit — exact
    in doubles because v & -v is a power of two) and the scaled-
    integer harmonic sum, then the same estimator branch logic."""
    from vanus_spark.operators.hll import (
        HLL_ALPHA, HLL_M, HLL_SCALE, REG_BITS, RHO_MAX,
    )

    raw_num = repr(HLL_ALPHA * HLL_M * HLL_M * float(2**HLL_SCALE))
    return f"""
        WITH h AS (
          SELECT event_type,
                 ('0x' || substr(md5('0|' || user_id::VARCHAR), 1, 15))::BIGINT
                   AS hv
          FROM events),
        r AS (
          SELECT event_type, hv % {HLL_M} AS reg,
                 max(CASE WHEN (hv >> {REG_BITS}) = 0 THEN {RHO_MAX + 1}
                     ELSE 1 + floor(log2(((hv >> {REG_BITS}) & (-(hv >> {REG_BITS})))::DOUBLE))::BIGINT
                     END) AS rho
          FROM h GROUP BY 1, 2),
        a AS (
          SELECT event_type, count(*)::BIGINT AS n_regs,
                 sum(1::BIGINT << ({HLL_SCALE} - rho))::BIGINT AS s_present
          FROM r GROUP BY 1),
        e AS (
          SELECT event_type, n_regs,
                 {raw_num}
                   / (s_present
                      + ({HLL_M} - n_regs) * (1::BIGINT << {HLL_SCALE}))::DOUBLE
                   AS raw,
                 {HLL_M} - n_regs AS zeros
          FROM a),
        est AS (
          SELECT event_type, n_regs,
                 CASE WHEN raw <= {repr(2.5 * HLL_M)} AND zeros > 0
                      THEN {repr(float(HLL_M))}
                           * ln({repr(float(HLL_M))} / zeros::DOUBLE)
                      ELSE raw END AS hll_est
          FROM e),
        x AS (SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
              FROM events GROUP BY 1)
        SELECT est.event_type, est.n_regs,
               round(est.hll_est, 6) AS hll_est,
               x.exact_distinct,
               round(abs(est.hll_est - x.exact_distinct) / x.exact_distinct, 6)
                 AS rel_err
        FROM est JOIN x ON est.event_type = x.event_type
    """


def _qsketch_oracle() -> str:
    """SQL twin of q_quantile_sketch: re-derives the 256-bin sketch,
    the cumulative read-back, and the exact row_number baseline.
    Quantile literals are forced ::DOUBLE (DuckDB numerics default to
    DECIMAL, whose exact q*n could ceil differently from the IEEE
    product Spark computes)."""
    lo, hi, bins = _QSK
    width = (hi - lo) / bins
    return f"""
        WITH sk AS (
          SELECT event_type,
                 greatest(0, least({bins - 1},
                   floor((value - {repr(lo)}) / {repr(width)})::BIGINT)) AS bin,
                 count(*)::BIGINT AS cnt
          FROM events GROUP BY 1, 2),
        cum AS (
          SELECT event_type, bin, cnt,
                 sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW)::BIGINT AS cum,
                 sum(cnt) OVER (PARTITION BY event_type)::BIGINT AS n
          FROM sk),
        qs AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q),
        hit AS (SELECT event_type, q, n, min(bin) AS bin
                FROM cum CROSS JOIN qs
                WHERE cum >= ceil(q * n) GROUP BY 1, 2, 3),
        est AS (SELECT event_type, q, n,
                       {repr(lo)} + (bin + 1)::DOUBLE * {repr(width)} AS est
                FROM hit),
        ranked AS (SELECT event_type, value,
                          row_number() OVER (PARTITION BY event_type
                                             ORDER BY value, event_id) AS rn
                   FROM events)
        SELECT e.event_type, e.q, e.n,
               round(e.est, 6) AS est_value,
               round(r.value, 6) AS exact_value,
               round(e.est - r.value, 6) AS err
        FROM est e JOIN ranked r
          ON e.event_type = r.event_type AND r.rn = ceil(e.q * e.n)
    """


def _hll_epoch_oracle() -> str:
    """SQL twin of q_stream_hll_replay: by the HLL merge law each
    epoch's streamed state equals sketching the batch PREFIX outright,
    so the oracle runs the full register chain over
    event_id % 4 <= k for each of the four epochs."""
    from vanus_spark.operators.hll import (
        HLL_ALPHA, HLL_M, HLL_SCALE, REG_BITS, RHO_MAX,
    )

    raw_num = repr(HLL_ALPHA * HLL_M * HLL_M * float(2**HLL_SCALE))
    parts = []
    for k in range(4):
        parts.append(f"""
        SELECT * FROM (
          WITH h AS (
            SELECT event_type,
                   ('0x' || substr(md5('0|' || user_id::VARCHAR), 1, 15))::BIGINT
                     AS hv
            FROM events WHERE event_id % 4 <= {k}),
          r AS (
            SELECT event_type, hv % {HLL_M} AS reg,
                   max(CASE WHEN (hv >> {REG_BITS}) = 0 THEN {RHO_MAX + 1}
                       ELSE 1 + floor(log2(((hv >> {REG_BITS})
                              & (-(hv >> {REG_BITS})))::DOUBLE))::BIGINT
                       END) AS rho
            FROM h GROUP BY 1, 2),
          a AS (
            SELECT event_type, count(*)::BIGINT AS n_regs,
                   sum(1::BIGINT << ({HLL_SCALE} - rho))::BIGINT AS s_present
            FROM r GROUP BY 1),
          e AS (
            SELECT event_type, n_regs,
                   {raw_num}
                     / (s_present
                        + ({HLL_M} - n_regs) * (1::BIGINT << {HLL_SCALE}))::DOUBLE
                     AS raw,
                   {HLL_M} - n_regs AS zeros
            FROM a)
          SELECT {k}::INT AS epoch, event_type, n_regs,
                 round(CASE WHEN raw <= {repr(2.5 * HLL_M)} AND zeros > 0
                       THEN {repr(float(HLL_M))}
                            * ln({repr(float(HLL_M))} / zeros::DOUBLE)
                       ELSE raw END, 6) AS hll_est
          FROM e)""")
    return " UNION ALL ".join(parts)


def _hilbert_oracle(bits: int = 8) -> str:
    """SQL twin of q_layout_hilbert: the same xy2d levels unrolled as
    chained CTEs (state materialized per level — no expression
    blowup in SQL)."""
    ctes = [
        """h0 AS (
          SELECT doc_id,
                 (doc_id % 256)::BIGINT AS bx,
                 ((doc_id * 7 + 3) % 256)::BIGINT AS by,
                 0::BIGINT AS d,
                 (doc_id % 256)::BIGINT AS x,
                 ((doc_id * 7 + 3) % 256)::BIGINT AS y
          FROM documents)"""
    ]
    for i, level in enumerate(range(bits - 1, -1, -1)):
        s = 1 << level
        ctes.append(f"""h{i + 1} AS (
          SELECT doc_id, bx, by,
                 d + {s * s}::BIGINT * xor(3 * rx, ry)::BIGINT AS d,
                 CASE WHEN ry = 0
                      THEN (CASE WHEN rx = 1 THEN {s - 1} - y ELSE y END)
                      ELSE x END AS x,
                 CASE WHEN ry = 0
                      THEN (CASE WHEN rx = 1 THEN {s - 1} - x ELSE x END)
                      ELSE y END AS y
          FROM (SELECT *,
                       CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx,
                       CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry
                FROM h{i}) t{i})""")
    return (
        "WITH " + ",\n        ".join(ctes)
        + f"\n        SELECT doc_id, bx, by, d AS hilbert_key FROM h{bits}"
    )


def oracle_sql() -> dict[str, str]:
    """DuckDB twins of this family's queries, keyed by query name."""
    norm_text = _NORM.format(c="text")
    return {
        "table_fd_violations": """
            WITH c1 AS (SELECT o_custkey AS l, o_orderpriority AS r,
                               count(*)::BIGINT AS c
                        FROM orders GROUP BY 1, 2),
            p1 AS (SELECT l, max(c)::BIGINT AS mx, sum(c)::BIGINT AS tot
                   FROM c1 GROUP BY 1),
            f1 AS (SELECT 'orders: o_custkey -> o_orderpriority' AS fd,
                          sum(tot)::BIGINT AS n_rows,
                          count(*)::BIGINT AS n_groups,
                          sum(mx)::BIGINT AS n_kept
                   FROM p1),
            c2 AS (SELECT o_orderdate AS l, o_orderstatus AS r,
                          count(*)::BIGINT AS c
                   FROM orders GROUP BY 1, 2),
            p2 AS (SELECT l, max(c)::BIGINT AS mx, sum(c)::BIGINT AS tot
                   FROM c2 GROUP BY 1),
            f2 AS (SELECT 'orders: o_orderdate -> o_orderstatus' AS fd,
                          sum(tot)::BIGINT, count(*)::BIGINT,
                          sum(mx)::BIGINT
                   FROM p2),
            c3 AS (SELECT c_custkey AS l, c_mktsegment AS r,
                          count(*)::BIGINT AS c
                   FROM customer GROUP BY 1, 2),
            p3 AS (SELECT l, max(c)::BIGINT AS mx, sum(c)::BIGINT AS tot
                   FROM c3 GROUP BY 1),
            f3 AS (SELECT 'customer: c_custkey -> c_mktsegment' AS fd,
                          sum(tot)::BIGINT, count(*)::BIGINT,
                          sum(mx)::BIGINT
                   FROM p3),
            c4 AS (SELECT c_nationkey AS l, c_mktsegment AS r,
                          count(*)::BIGINT AS c
                   FROM customer GROUP BY 1, 2),
            p4 AS (SELECT l, max(c)::BIGINT AS mx, sum(c)::BIGINT AS tot
                   FROM c4 GROUP BY 1),
            f4 AS (SELECT 'customer: c_nationkey -> c_mktsegment' AS fd,
                          sum(tot)::BIGINT, count(*)::BIGINT,
                          sum(mx)::BIGINT
                   FROM p4),
            u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2
                  UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4)
            SELECT fd, n_rows, n_groups, n_kept,
                   round((n_rows - n_kept)::DOUBLE / n_rows::DOUBLE, 6)
                     AS violation_rate,
                   n_kept = n_rows AS holds
            FROM u ORDER BY fd
        """,
        "layout_hilbert": _hilbert_oracle(),
        "stats_equi_depth": """
            WITH r AS (
              SELECT o_totalprice,
                     row_number() OVER (ORDER BY o_totalprice, o_orderkey) - 1
                       AS rk,
                     count(*) OVER () AS n
              FROM orders)
            SELECT (rk * 16 // n)::BIGINT AS bucket,
                   min(o_totalprice)::VARCHAR AS lo,
                   max(o_totalprice)::VARCHAR AS hi,
                   count(*)::BIGINT AS n_rows,
                   count(DISTINCT o_totalprice)::BIGINT AS n_distinct
            FROM r GROUP BY 1
        """,
        "export_jsonl_roundtrip": """
            SELECT doc_id, lang, source, n_chars FROM documents
        """,
        "cdc_apply_replay": """
            WITH cdc AS (
              SELECT doc_id, 'i' AS op, doc_id::BIGINT AS seq, lang, n_chars
              FROM documents
              UNION ALL
              SELECT doc_id, 'u', doc_id + 100000, lang, n_chars + 1000
              FROM documents WHERE doc_id % 5 = 0
              UNION ALL
              SELECT doc_id, 'd', doc_id + 200000, NULL, NULL
              FROM documents WHERE doc_id % 7 = 3
              UNION ALL
              SELECT doc_id, 'i', doc_id + 300000, 'zz', 5::BIGINT
              FROM documents WHERE doc_id % 14 = 3),
            last AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                                  ORDER BY seq DESC) AS rn
                     FROM cdc)
            SELECT doc_id, lang, n_chars FROM last WHERE rn = 1 AND op <> 'd'
        """,
        "merge_upsert": """
            WITH up AS (
              SELECT doc_id, lang, (n_chars * 2)::BIGINT AS n_chars
              FROM documents WHERE doc_id % 7 = 0
              UNION ALL
              SELECT doc_id + 100000, 'xx', (doc_id % 50)::BIGINT
              FROM documents WHERE doc_id < 20)
            SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 7 <> 0
            UNION ALL
            SELECT * FROM up
        """,
        "table_expectations": """
            WITH b AS (SELECT count(*)::BIGINT AS n_rows,
              sum((user_id IS NULL)::INT)::BIGINT AS v0,
              sum((value IS NULL OR value < 0 OR value > 450)::INT)::BIGINT AS v1,
              sum((event_type IS NULL
                   OR NOT regexp_matches(event_type, '^[a-z_]+$'))::INT)::BIGINT AS v2,
              sum((event_type IS NULL
                   OR event_type NOT IN ('view','click','purchase'))::INT)::BIGINT AS v3,
              (count(event_id) - count(DISTINCT event_id))::BIGINT AS v4,
              (count(user_id) - count(DISTINCT user_id))::BIGINT AS v5
            FROM events),
            r AS (SELECT * FROM (VALUES
                    (0, 'not_null', 'user_id'),
                    (1, 'in_range', 'value'),
                    (2, 'matches', 'event_type'),
                    (3, 'accepted_values', 'event_type'),
                    (4, 'unique', 'event_id'),
                    (5, 'unique', 'user_id'))
                  t(rule_id, rule, col_name))
            SELECT r.rule_id::BIGINT AS rule_id, r.rule, r.col_name, b.n_rows,
                   CASE r.rule_id WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2
                                  WHEN 3 THEN v3 WHEN 4 THEN v4 ELSE v5 END
                     AS n_violations,
                   round((CASE r.rule_id WHEN 0 THEN v0 WHEN 1 THEN v1
                                         WHEN 2 THEN v2 WHEN 3 THEN v3
                                         WHEN 4 THEN v4 ELSE v5 END)::DOUBLE
                         / greatest(b.n_rows, 1), 9) AS violation_frac,
                   (CASE r.rule_id WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2
                                   WHEN 3 THEN v3 WHEN 4 THEN v4 ELSE v5 END) = 0
                     AS passed
            FROM r CROSS JOIN b
        """,
        "profile_table": """
            SELECT 'doc_id' AS column_name, count(*)::BIGINT AS n_rows,
                   count(doc_id)::BIGINT AS n_nonnull,
                   count(DISTINCT doc_id)::BIGINT AS n_distinct,
                   min(doc_id)::VARCHAR AS min_repr,
                   max(doc_id)::VARCHAR AS max_repr,
                   round(avg(length(doc_id::VARCHAR)), 4) AS avg_repr_len
            FROM documents
            UNION ALL
            SELECT 'text', count(*)::BIGINT, count(text)::BIGINT,
                   count(DISTINCT text)::BIGINT, min(text), max(text),
                   round(avg(length(text)), 4)
            FROM documents
            UNION ALL
            SELECT 'lang', count(*)::BIGINT, count(lang)::BIGINT,
                   count(DISTINCT lang)::BIGINT, min(lang), max(lang),
                   round(avg(length(lang)), 4)
            FROM documents
            UNION ALL
            SELECT 'source', count(*)::BIGINT, count(source)::BIGINT,
                   count(DISTINCT source)::BIGINT, min(source), max(source),
                   round(avg(length(source)), 4)
            FROM documents
            UNION ALL
            SELECT 'n_chars', count(*)::BIGINT, count(n_chars)::BIGINT,
                   count(DISTINCT n_chars)::BIGINT, min(n_chars)::VARCHAR,
                   max(n_chars)::VARCHAR,
                   round(avg(length(n_chars::VARCHAR)), 4)
            FROM documents
        """,
        "stream_late_metrics": """
            WITH t AS (
              SELECT ts, event_type,
                     least(2, (CASE WHEN ts < TIMESTAMP '2024-01-11' THEN 0
                                    WHEN ts < TIMESTAMP '2024-01-21' THEN 1
                                    ELSE 2 END)
                            + (CASE WHEN user_id % 7 = 0 THEN 2
                                    WHEN user_id % 5 = 0 THEN 1
                                    ELSE 0 END)) AS batch
              FROM events WHERE ts IS NOT NULL),
            bmax AS (SELECT batch, max(ts) AS mx FROM t GROUP BY 1),
            wm AS (SELECT batch,
                          max(mx) OVER (ORDER BY batch
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND 2 PRECEDING)
                            - INTERVAL 2 HOUR AS lwm
                   FROM bmax),
            kept AS (
              SELECT t.ts, t.event_type
              FROM t JOIN wm USING (batch)
              WHERE lwm IS NULL
                 OR date_trunc('day', t.ts) + INTERVAL 1 DAY > lwm)
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS wstart,
                   event_type, count(*)::BIGINT AS n
            FROM kept GROUP BY 1, 2
        """,
        "stream_static_join_replay": """
            WITH dim AS (
              SELECT user_id,
                     CASE WHEN user_id % 3 = 0 THEN 'gold'
                          WHEN user_id % 3 = 1 THEN 'silver'
                          ELSE 'bronze' END AS segment
              FROM (SELECT DISTINCT user_id FROM events
                    WHERE ts IS NOT NULL))
            SELECT e.event_type, d.segment, count(*)::BIGINT AS n
            FROM events e JOIN dim d USING (user_id)
            WHERE e.ts IS NOT NULL
            GROUP BY 1, 2
        """,
        "export_shards": _shard_assignment_oracle(),
        "table_stats": """
            SELECT 'doc_id' AS "column", count(*)::BIGINT AS n_rows,
                   sum((doc_id IS NULL)::INT)::BIGINT AS n_nulls,
                   count(DISTINCT doc_id)::BIGINT AS n_distinct,
                   min(doc_id::VARCHAR) AS min_str,
                   max(doc_id::VARCHAR) AS max_str
            FROM documents
            UNION ALL
            SELECT 'lang', count(*)::BIGINT, sum((lang IS NULL)::INT)::BIGINT,
                   count(DISTINCT lang)::BIGINT,
                   min(lang::VARCHAR), max(lang::VARCHAR)
            FROM documents
            UNION ALL
            SELECT 'n_chars', count(*)::BIGINT,
                   sum((n_chars IS NULL)::INT)::BIGINT,
                   count(DISTINCT n_chars)::BIGINT,
                   min(n_chars::VARCHAR), max(n_chars::VARCHAR)
            FROM documents
        """,
        "zorder_layout": _zorder_oracle(bits=4),
        "export_manifest": f"""
            WITH s AS ({_shard_assignment_oracle()}),
            d AS (
              SELECT doc_id,
                     ('0x' || substr(md5('0|' ||
                        {_NORM.format(c='text')}), 1, 15))::BIGINT AS dg
              FROM documents)
            SELECT s.lang, s.shard,
                   count(*)::BIGINT AS n_docs,
                   sum(s.n_tokens)::BIGINT AS n_tokens,
                   (sum(d.dg) % 2305843009213693951)::BIGINT
                     AS content_checksum
            FROM s JOIN d USING (doc_id)
            GROUP BY 1, 2
        """,
        # stream-stream interval join: the batch form of the same join
        "stream_stream_join_replay": """
            SELECT v.event_id AS view_id, p.event_id AS purchase_id,
                   v.user_id
            FROM events v JOIN events p
              ON v.user_id = p.user_id
             AND v.event_type = 'view' AND p.event_type = 'purchase'
             AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR
            WHERE v.user_id < 30 AND v.ts IS NOT NULL AND p.ts IS NOT NULL
        """,
        # left-outer interval join: unmatched views null-pad (the
        # streaming side emits them on watermark flush via sentinel)
        "stream_outer_join_replay": """
            SELECT v.event_id AS view_id, p.event_id AS purchase_id,
                   v.user_id
            FROM (SELECT * FROM events
                  WHERE event_type = 'view' AND user_id < 30
                    AND ts IS NOT NULL) v
            LEFT JOIN (SELECT * FROM events
                       WHERE event_type = 'purchase' AND user_id < 30
                         AND ts IS NOT NULL) p
              ON v.user_id = p.user_id
             AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR
        """,
        # schema drift: the expected contract diff straight from the
        # two synthesized payload generators (v1 vs v2 field sets)
        "schema_drift": """
            SELECT * FROM (VALUES
              ('code', 'type_changed', 'long', 'string'),
              ('legacy', 'removed', 'string', NULL),
              ('metrics', 'unchanged', 'struct', 'struct'),
              ('metrics.retries', 'added', NULL, 'long'),
              ('metrics.score', 'unchanged', 'double', 'double'),
              ('user_id', 'unchanged', 'long', 'long')
            ) AS t(field, status, old_type, new_type)
        """,
        # streaming dedup: one row per key, payload a pure function of
        # the key (so the arbitrary-arrival winner is deterministic)
        "stream_dedup_replay": """
            SELECT DISTINCT event_id % 3000 AS dup_key,
                   md5((event_id % 3000)::VARCHAR) AS payload
            FROM events WHERE ts IS NOT NULL
        """,
        # time travel: each epoch's corpus re-derived independently —
        # cumulative exact dedup == lowest doc_id per normalized text
        # within the epoch's id prefix; epoch 4 (post-compaction)
        # must equal epoch 3
        "state_time_travel": f"""
            WITH eps(epoch, hi) AS (
              VALUES (1, 170), (2, 340), (3, 1000000000), (4, 1000000000)
            ), d AS (
              SELECT doc_id, {_NORM.format(c='text')} AS nt FROM documents
            )
            SELECT eps.epoch, min(d.doc_id) AS doc_id
            FROM eps JOIN d ON d.doc_id < eps.hi
            GROUP BY eps.epoch, d.nt
        """,
        # Gap-islands twin of the streaming sessionizer replay: break
        # on inter-event distance > gap, cumulative-sum the breaks
        # into session ids, aggregate — the textbook batch form of
        # session windows, stated independently of the stateful
        # operator. Labels: a user's chronologically final session is
        # the one only the watermark flush (sentinel) closed.
        "session_windows_replay": f"""
            WITH ev AS (
              SELECT user_id, ts FROM events
              WHERE user_id < 12 AND ts IS NOT NULL
            ), lagged AS (
              SELECT user_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts - lag(ts) OVER w) > {_SESSION_GAP_S}
                     THEN 1 ELSE 0 END AS brk
              FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), sess AS (
              SELECT user_id, ts,
                sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
              FROM lagged
            ), agg AS (
              SELECT user_id, sid,
                     min(ts) AS session_start, max(ts) AS session_end,
                     count(*) AS n_events
              FROM sess GROUP BY user_id, sid
            )
            SELECT user_id, session_start, session_end, n_events,
                   CASE WHEN session_end = max(session_end)
                          OVER (PARTITION BY user_id)
                        THEN 'timeout' ELSE 'gap' END AS closed_by
            FROM agg
        """,
        # independent restatement: each span's change set re-derived
        # from the SAME deterministic modular key rules the query's
        # merge/delete batches were built from (never from the table)
        "table_changes": """
            WITH base AS (
              SELECT o_orderkey AS k FROM orders WHERE o_orderkey < 3000),
            ins AS (
              SELECT o_orderkey AS k FROM orders
              WHERE o_orderkey >= 3000 AND o_orderkey < 3300),
            upd AS (SELECT k FROM base WHERE k % 7 = 0)
            SELECT '1->2' AS span, k AS o_orderkey, 'insert' AS change_type
            FROM ins
            UNION ALL
            SELECT '1->2', k, 'update_preimage' FROM upd
            UNION ALL
            SELECT '1->2', k, 'update_postimage' FROM upd
            UNION ALL
            SELECT '2->3', k, 'delete'
            FROM (SELECT k FROM base UNION ALL SELECT k FROM ins)
            WHERE k % 11 = 0
            UNION ALL
            SELECT '1->3', k, 'insert' FROM ins WHERE k % 11 <> 0
            UNION ALL
            SELECT '1->3', k, 'delete' FROM base WHERE k % 11 = 0
            UNION ALL
            SELECT '1->3', k, 'update_preimage' FROM upd WHERE k % 11 <> 0
            UNION ALL
            SELECT '1->3', k, 'update_postimage' FROM upd WHERE k % 11 <> 0
        """,
        # update-mode revisions restated: a (window, type) pair emits
        # in exactly the batches containing one of its events, with
        # the count cumulative over batches so far
        "stream_topk_replay": """
            WITH e AS (
              SELECT floor(epoch(ts) / 21600)::BIGINT * 21600 AS ws_epoch,
                     event_type,
                     CASE WHEN ts < TIMESTAMP '2024-01-11' THEN 0
                          WHEN ts < TIMESTAMP '2024-01-21' THEN 1
                          ELSE 2 END AS batch
              FROM events WHERE ts IS NOT NULL),
            touched AS (SELECT DISTINCT batch, ws_epoch, event_type FROM e),
            rev AS (
              SELECT t.batch, t.ws_epoch, t.event_type,
                     count(*)::BIGINT AS cnt
              FROM touched t
              JOIN e ON e.ws_epoch = t.ws_epoch
                    AND e.event_type = t.event_type
                    AND e.batch <= t.batch
              GROUP BY 1, 2, 3),
            fin AS (SELECT ws_epoch, event_type, count(*)::BIGINT AS fc
                    FROM e GROUP BY 1, 2),
            rk AS (SELECT ws_epoch, event_type,
                          row_number() OVER (PARTITION BY ws_epoch
                                             ORDER BY fc DESC, event_type
                                            )::INT AS final_rank
                   FROM fin)
            SELECT r.batch::BIGINT AS batch, r.ws_epoch, r.event_type,
                   r.cnt, rk.final_rank
            FROM rev r
            JOIN rk ON r.ws_epoch = rk.ws_epoch
                   AND r.event_type = rk.event_type
        """,
        "sketch_count_min": _countmin_oracle().replace("{norm}", norm_text),
        # the Bloom prefilter has no false negatives and the exact join
        # removes its false positives, so the result IS the plain join
        "bloom_semi_join": """
            SELECT l_returnflag,
                   count(*)::BIGINT AS n_items,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderpriority = '1-URGENT'
            GROUP BY l_returnflag
        """,
        "sketch_hll": _hll_oracle(),
        # ORC is binary, so doubles and timestamps roundtrip exactly:
        # the read-back must equal the parquet restatement
        "export_orc_roundtrip": """
            SELECT event_id, ts, user_id, event_type, value, props
            FROM events
        """,
        "quantile_sketch": _qsketch_oracle(),
        "stream_hll_replay": _hll_epoch_oracle(),
        "sketch_kmv": """
            WITH m AS (SELECT DISTINCT event_type, user_id
                       FROM events WHERE value > 200.0),
            hs AS (SELECT DISTINCT event_type AS g,
                     ('0x' || substr(md5('0|' || user_id::VARCHAR), 1, 15))::BIGINT
                       AS h
                   FROM m),
            sk AS (SELECT g, h FROM (
                     SELECT g, h,
                            row_number() OVER (PARTITION BY g ORDER BY h) AS rn
                     FROM hs) WHERE rn <= 64),
            gl AS (SELECT DISTINCT g FROM sk),
            gp AS (SELECT a.g AS g_a, b.g AS g_b
                   FROM gl a JOIN gl b ON a.g < b.g),
            memb AS (
              SELECT g_a, g_b, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
                SELECT gp.g_a, gp.g_b, s.h, 1 AS in_a, 0 AS in_b
                FROM gp JOIN sk s ON s.g = gp.g_a
                UNION ALL
                SELECT gp.g_a, gp.g_b, s.h, 0, 1
                FROM gp JOIN sk s ON s.g = gp.g_b) u
              GROUP BY 1, 2, 3),
            tk AS (SELECT * FROM (
                     SELECT *, row_number() OVER (PARTITION BY g_a, g_b
                                                  ORDER BY h) AS rn
                     FROM memb) WHERE rn <= 64),
            est AS (SELECT g_a, g_b, count(*)::BIGINT AS kk,
                           sum(in_a * in_b)::BIGINT AS inter
                    FROM tk GROUP BY 1, 2),
            sizes AS (SELECT event_type, count(*)::BIGINT AS n FROM m GROUP BY 1),
            ix AS (SELECT a.event_type AS g_a, b.event_type AS g_b,
                          count(*)::BIGINT AS nab
                   FROM m a JOIN m b
                     ON a.user_id = b.user_id AND a.event_type < b.event_type
                   GROUP BY 1, 2)
            SELECT e.g_a, e.g_b, e.kk, e.inter,
                   round(e.inter::DOUBLE / e.kk, 6) AS j_est,
                   round(coalesce(ix.nab, 0)::DOUBLE
                         / (sa.n + sb.n - coalesce(ix.nab, 0)), 6) AS j_exact
            FROM est e JOIN sizes sa ON e.g_a = sa.event_type
                       JOIN sizes sb ON e.g_b = sb.event_type
                       LEFT JOIN ix ON e.g_a = ix.g_a AND e.g_b = ix.g_b
        """,
    }


def _shard_assignment_oracle(target: int = 2000) -> str:
    """SQL twin of q_export_shards (curation.shard_assignment): the
    pack_sequences running-sum window with shard = floor(cum_before /
    target) — a doc lands in the shard where its first token falls."""
    norm = _NORM.format(c="text")
    return f"""
        WITH t AS (
          SELECT doc_id, lang,
                 (CASE WHEN length({norm}) = 0 THEN 0
                       ELSE len(str_split({norm}, ' ')) END)::BIGINT AS n_tokens
          FROM documents),
        c AS (
          SELECT doc_id, lang, n_tokens,
                 (sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
                   AS cum
          FROM t)
        SELECT doc_id, lang, n_tokens,
               floor((cum - n_tokens) / {target}.0)::BIGINT AS shard,
               ((cum - n_tokens) % {target})::BIGINT AS shard_tokens_before
        FROM c
    """


def _countmin_oracle() -> str:
    """SQL twin of q_sketch_count_min: re-derives the ENTIRE 4x512
    sketch with the same md5-based universal hashes
    (operators/countmin.py), so both engines must land every token
    occurrence in identical cells. '{norm}' is substituted at the
    use site."""
    from vanus_spark.llm.dedup import MINHASH_P, minhash_coeffs

    branches = " UNION ALL ".join(
        f"SELECT term, {j} AS d, (({a} * hb + {b}) % {MINHASH_P}) % 512 AS cell"
        " FROM base"
        for j, (a, b) in enumerate(minhash_coeffs(4))
    )
    return f"""
        WITH tk AS (SELECT unnest(str_split({{norm}}, ' ')) AS term
                    FROM documents),
        t2 AS (SELECT term FROM tk WHERE term <> ''),
        base AS (SELECT term,
                        ('0x' || substr(md5('0|' || term), 1, 15))::BIGINT
                          % {MINHASH_P} AS hb
                 FROM t2),
        allcells AS ({branches}),
        sketch AS (SELECT d, cell, count(*)::BIGINT AS cnt
                   FROM allcells GROUP BY 1, 2),
        exact AS (SELECT term, count(*)::BIGINT AS exact_cnt
                  FROM t2 GROUP BY 1),
        top AS (SELECT term, exact_cnt,
                       row_number() OVER (ORDER BY exact_cnt DESC, term)
                         AS rank
                FROM exact),
        q AS (SELECT term, exact_cnt FROM top WHERE rank <= 20),
        qcells AS (SELECT DISTINCT a.term, a.d, a.cell
                   FROM allcells a JOIN q ON a.term = q.term),
        est AS (SELECT qc.term, min(s.cnt) AS cm_est
                FROM qcells qc
                JOIN sketch s ON qc.d = s.d AND qc.cell = s.cell
                GROUP BY 1)
        SELECT q.term, q.exact_cnt, est.cm_est,
               est.cm_est - q.exact_cnt AS overcount
        FROM q JOIN est ON q.term = est.term
    """


def _zorder_oracle(bits: int = 4) -> str:
    """SQL twin of q_zorder_layout: identical percent_rank bucket per
    dimension + the same bit-interleave (dims = [n_chars, d2]; dim i
    contributes bit b at position b*n_dims + (n_dims-1-i))."""
    n_buckets = (1 << bits) - 1
    terms = []
    for b in range(bits):
        terms.append(f"(((zb1 >> {b}) & 1) << {b * 2 + 1})")
        terms.append(f"(((zb2 >> {b}) & 1) << {b * 2})")
    zkey = " + ".join(terms)
    return f"""
        WITH t AS (SELECT doc_id, n_chars, doc_id % 97 AS d2 FROM documents),
        r AS (
          SELECT doc_id,
                 least(floor(percent_rank() OVER (ORDER BY n_chars)
                             * {1 << bits}), {n_buckets})::BIGINT AS zb1,
                 least(floor(percent_rank() OVER (ORDER BY d2)
                             * {1 << bits}), {n_buckets})::BIGINT AS zb2
          FROM t)
        SELECT doc_id, zb1 AS _zb_n_chars, zb2 AS _zb_d2,
               ({zkey})::BIGINT AS zkey
        FROM r
    """
