"""Dedup-on-ingest: the streaming form of the corpus dedup pipeline.

Each micro-batch of documents is deduplicated (a) within itself —
exact digest + MinHash-LSH near-dup, the same rules as
``llm.pipeline.corpus_clean`` — and (b) against everything already
accepted, via ``llm.dedup.incremental_dedup`` probing the loop's
STORED state: the accepted corpus and its signature table. Accepted
rows and their signatures append to the state, so batch N+1 never
re-hashes the corpus (reference has no counterpart — this is the
ingest-time composition of the engine's LLM-pipeline surface, wired
like ``DeliveryLoop``: a pure function of (batch, state), replayable
with deterministic batches, attachable to a real stream via
foreachBatch + checkpoint).

At 100 TB: state lives as parquet/Delta tables keyed by doc id
(``state_dir``); the per-batch cost is hash(batch) + two key joins
against stored state. In-memory localCheckpoint otherwise (tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from vanus_spark import commitlog
from vanus_spark.commitlog import ConcurrentWriterError  # noqa: F401 (re-export)
from vanus_spark.llm.dedup import (
    bucket_pairs,
    exact_dedup_rows,
    minhash_lsh_buckets,
    minhash_signatures_from_shingles,
    ngram_jaccard_pairs,
    normalize_text,
    shingles_df,
)
from vanus_spark.session import local_frame


_METRICS_SCHEMA = (
    "batch long, n_in long, rejected_exact_within long, "
    "rejected_near_within long, rejected_vs_corpus long, accepted long"
)

_METRICS_FIELDS = [
    "batch",
    "n_in",
    "rejected_exact_within",
    "rejected_near_within",
    "rejected_vs_corpus",
    "accepted",
]


class DedupIngestLoop:
    """Per-stream incremental dedup with stored corpus/signature state."""

    # in-memory state: collapse the lazy union-of-checkpoints tree
    # into one checkpoint after this many appended leaves (bounds
    # lineage depth; durable state_dir mode has no such tree — its
    # equivalent is compact_state())
    _COLLAPSE_LEAVES = 32

    def __init__(
        self,
        spark: SparkSession,
        threshold: float = 0.8,
        num_hashes: int = 16,
        bands: int = 8,
        shingle_n: int = 3,
        text_col: str = "text",
        id_col: str = "doc_id",
        state_dir: str | None = None,
        lsh: bool = True,
    ):
        self.spark = spark
        self.threshold = threshold
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        self.text_col = text_col
        self.id_col = id_col
        self.state_dir = state_dir
        # lsh=False: exact-digest-only ingest (the cheap tier — no
        # signature chain, cross-batch check is one digest anti-join).
        # The right mode when near-dup runs as a periodic batch sweep
        # instead of on the ingest path.
        self.lsh = lsh
        self.corpus: DataFrame | None = None
        self.sig: DataFrame | None = None
        # LSH tier only: stored (id, content_hash) digests of every
        # accepted doc, so the cross-batch EXACT check probes 32 B/doc
        # state instead of re-hashing the accumulated corpus text per
        # batch (the exact tier's sig table already IS this)
        self.dig: DataFrame | None = None
        self.accepted_count = 0
        self.metrics: list[dict] = []
        # writer-private directory suffix: two concurrent loops can
        # never write into the same batch directory, so a fenced-off
        # (stale) writer's parquet output is always an orphan — it can
        # not clobber a directory the winning writer committed
        import uuid

        self._writer_id = uuid.uuid4().hex[:8]
        self._epoch = 0  # manifest epoch this loop last observed
        self._state_leaves = 0  # in-memory union-tree width
        if state_dir:
            self._restore_state()

    # ----- durable state ---------------------------------------------------
    #
    # Manifest-committed appends through the shared commit log
    # (``vanus_spark.commitlog``, the no-extra-jars shape of a Delta/
    # Iceberg transaction log): each batch writes its corpus AND sig
    # rows into per-batch directories, then ONE epoch-fenced atomic
    # swap of the COMMITTED manifest makes both visible at once. A
    # crash between the two parquet writes — or before the swap —
    # leaves orphan directories the restore path never reads, so the
    # two state tables can never disagree about which batches exist.
    # A loop whose commit is fenced (another writer committed since it
    # read the manifest) raises ConcurrentWriterError; re-instantiate
    # it to continue. Batch directory names embed a per-writer token
    # plus the log's monotonic generation, so no two writes —
    # concurrent or across compactions — ever target the same path,
    # and mode("overwrite") can never destroy live state.

    def _state_dirs(self) -> list[str]:
        return [f"{self.state_dir}/corpus", f"{self.state_dir}/sig"]

    def _restore_state(self) -> None:
        self._epoch, batches, _ = commitlog.read(self.state_dir)
        if batches:
            stored = self.spark.read.parquet(
                *[f"{self.state_dir}/corpus/{b}" for b in batches]
            )
            self.sig = self.spark.read.parquet(
                *[f"{self.state_dir}/sig/{b}" for b in batches]
            )
            if self.lsh:
                if "_ingest_digest" in stored.columns:
                    self.dig = stored.select(
                        self.id_col,
                        F.col("_ingest_digest").alias("content_hash"),
                    )
                else:
                    # pre-digest state dirs (back-compat): derive from
                    # the stored text — one scan per probe, the legacy
                    # cost the digest column exists to remove
                    self.dig = stored.select(
                        self.id_col,
                        F.md5(
                            normalize_text(F.col(self.text_col))
                        ).alias("content_hash"),
                    )
                self.corpus = stored.drop("_ingest_digest")
            else:
                self.corpus = stored

    def _append_state(self, survivors: DataFrame, new_sig: DataFrame) -> None:
        digest = F.md5(normalize_text(F.col(self.text_col)))
        if self.state_dir:
            batches = commitlog.read(self.state_dir).entries
            b = f"b{commitlog.next_generation(self._state_dirs())}-{self._writer_id}"
            store_c = (
                survivors.withColumn("_ingest_digest", digest)
                if self.lsh
                else survivors
            )
            store_c.write.mode("overwrite").parquet(
                f"{self.state_dir}/corpus/{b}"
            )
            new_sig.write.mode("overwrite").parquet(f"{self.state_dir}/sig/{b}")
            self._epoch = commitlog.commit(self.state_dir, self._epoch, [*batches, b])
            self._restore_state()
        else:
            # DELTA-ONLY checkpointing: `survivors` arrives already
            # eagerly checkpointed and `new_sig` checkpoints lazily
            # (it materializes inside whichever next job probes the
            # state), so the accumulated corpus/sig stay LAZY UNIONS
            # of per-batch checkpointed leaves — scanning them costs
            # the same as scanning one big checkpoint, but the append
            # no longer re-copies the entire state every batch (the
            # old eager union-checkpoint made batch N pay O(state),
            # which is what topped every bench; r9-verdict #3). The
            # union tree collapses into a single checkpoint every
            # _COLLAPSE_LEAVES batches to bound lineage depth on
            # long-lived streams.
            new_sig = new_sig.localCheckpoint(eager=False)
            self.corpus = (
                survivors
                if self.corpus is None
                else self.corpus.unionByName(survivors)
            )
            self.sig = (
                new_sig if self.sig is None else self.sig.unionByName(new_sig)
            )
            if self.lsh:
                new_dig = survivors.select(
                    F.col(self.id_col), digest.alias("content_hash")
                )
                self.dig = (
                    new_dig
                    if self.dig is None
                    else self.dig.unionByName(new_dig)
                )
            self._state_leaves += 1
            if self._state_leaves >= self._COLLAPSE_LEAVES:
                self.corpus = self.corpus.localCheckpoint(eager=True)
                self.sig = self.sig.localCheckpoint(eager=True)
                if self.dig is not None:
                    self.dig = self.dig.localCheckpoint(eager=True)
                self._state_leaves = 1

    # ----- one tick --------------------------------------------------------

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        """Returns the batch's accepted (deduplicated) rows, after
        appending them + their signatures to the stored state.

        Within-batch: exact digest keep-lowest-id, then greedy LSH
        near-dup (drop the higher id of every Jaccard >= t pair) —
        identical rules to corpus_clean. Cross-batch: exact digest
        anti-join + new-bands x stored-bands candidates, Jaccard
        verified, via incremental_dedup probing the stored signature
        table."""
        # a micro-batch is referenced many times downstream (signature
        # chain, bucket self-join both sides, Jaccard both sides) —
        # materialize the exact-dedup survivors once instead of
        # re-deriving the groupBy+semi-join per reference
        uniq = exact_dedup_rows(batch_df, self.text_col, self.id_col).localCheckpoint(
            eager=False
        )
        if not self.lsh:
            # exact-only tier: the stored "sig" table holds content
            # DIGESTS, so the cross-batch check probes the compact
            # digest state (32 B/doc) — the accumulated corpus text
            # is never re-hashed
            within = uniq
            if self.sig is None:
                survivors = within
            else:
                digest = F.md5(normalize_text(F.col(self.text_col)))
                survivors = within.join(
                    self.sig.select(F.col("sig").alias("_d")),
                    digest == F.col("_d"),
                    "left_anti",
                )
        else:
            # FUSED single-LSH-pass (r9-verdict #3): ONE shingle table
            # and ONE checkpointed bucket table per batch serve the
            # within-batch pair search, the cross-corpus candidate
            # probe, AND the state-append signatures; all drop sets
            # (within-greedy, cross-Jaccard, cross-exact-digest) apply
            # in a SINGLE anti-join. Dropping a doc for matching the
            # corpus even when it would also have been within-dropped
            # (and vice versa) is a set-difference no-op, so the
            # accepted set is identical to the old sequential
            # within-then-cross pipeline — the oracle twin pins it.
            batch_sh = shingles_df(
                uniq, self.text_col, self.id_col, self.shingle_n
            ).localCheckpoint(eager=False)
            sig_all = minhash_signatures_from_shingles(
                batch_sh, self.id_col, self.num_hashes
            )
            batch_b = minhash_lsh_buckets(
                uniq,
                self.text_col,
                self.id_col,
                self.num_hashes,
                self.bands,
                self.shingle_n,
                sig_df=sig_all,
            ).localCheckpoint(eager=False)
            pairs = ngram_jaccard_pairs(
                uniq,
                bucket_pairs(batch_b, self.id_col),
                self.text_col,
                self.id_col,
                self.shingle_n,
                shingle_df=batch_sh,
            ).where(F.col("jaccard") >= self.threshold)
            # consumed by BOTH the survivors anti-join and the metrics
            # wdrop branch — checkpoint so the pair search runs once
            within_drops = (
                pairs.select(F.col("id_b").alias(self.id_col))
                .distinct()
                .localCheckpoint(eager=False)
            )
            drops = within_drops
            if self.corpus is not None:
                # cross-corpus candidates: batch buckets equi-joined
                # against buckets derived (narrowly) from the STORED
                # signature table — never a corpus self-join, never a
                # corpus re-shingle except for the candidate docs
                corpus_b = minhash_lsh_buckets(
                    self.corpus,
                    self.text_col,
                    self.id_col,
                    self.num_hashes,
                    self.bands,
                    self.shingle_n,
                    sig_df=self.sig,
                )
                cross_cands = (
                    batch_b.alias("l")
                    .join(
                        corpus_b.alias("r"),
                        (F.col("l.band") == F.col("r.band"))
                        & (F.col("l.band_key") == F.col("r.band_key")),
                    )
                    .select(
                        F.col(f"l.{self.id_col}").alias("new_id"),
                        F.col(f"r.{self.id_col}").alias("corpus_id"),
                    )
                    .distinct()
                )
                cand_corpus = self.corpus.join(
                    cross_cands.select(
                        F.col("corpus_id").alias(self.id_col)
                    ),
                    self.id_col,
                    "left_semi",
                )
                corpus_cand_sh = shingles_df(
                    cand_corpus, self.text_col, self.id_col, self.shingle_n
                )
                a = batch_sh.alias("a")
                bsh = corpus_cand_sh.alias("b")
                cross_jac = (
                    cross_cands.join(
                        a, F.col("new_id") == F.col(f"a.{self.id_col}")
                    )
                    .join(
                        bsh,
                        F.col("corpus_id") == F.col(f"b.{self.id_col}"),
                    )
                    .where(
                        F.size(F.array_intersect("a.sh", "b.sh"))
                        >= F.lit(self.threshold)
                        * F.size(F.array_union("a.sh", "b.sh"))
                    )
                    .select(F.col("new_id").alias(self.id_col))
                )
                # exact-digest cross check probes the STORED digest
                # table (32 B/doc, appended at accept time) — the
                # accumulated corpus text is never re-hashed per batch
                digest = F.md5(normalize_text(F.col(self.text_col)))
                dig_dups = (
                    uniq.select(
                        F.col(self.id_col), digest.alias("_h")
                    )
                    .join(
                        self.dig.select(
                            F.col("content_hash").alias("_h")
                        ),
                        "_h",
                        "left_semi",
                    )
                    .select(self.id_col)
                )
                # no distinct: LEFT ANTI tolerates duplicate drop ids
                drops = within_drops.unionByName(cross_jac).unionByName(
                    dig_dups
                )
            survivors = uniq.join(drops, self.id_col, "left_anti")
        # lazy: the metrics aggregate below is the first action and
        # materializes this checkpoint inside its own job — shuffle
        # stages shared with the uniq/wdrop branches compute once
        # (same RDD objects), so folding saves a whole job boundary
        survivors = survivors.localCheckpoint(eager=False)
        if self.lsh:
            new_sig = minhash_signatures_from_shingles(
                batch_sh.join(
                    survivors.select(self.id_col), self.id_col, "left_semi"
                ),
                self.id_col,
                self.num_hashes,
            )
        else:  # exact tier: digests ARE the signature state
            new_sig = survivors.select(
                F.col(self.id_col),
                F.md5(normalize_text(F.col(self.text_col))).alias("sig"),
            )
        self._append_state(survivors, new_sig)
        # metrics in ONE action: tag each pipeline stage and count per
        # tag in a single 4-group aggregate (each stage frame is
        # already localCheckpoint-materialized by the state append, so
        # this job re-scans checkpointed partitions, it does not
        # re-run the dedup) — vs four separate .count() jobs per batch
        tagged = (
            batch_df.select(F.lit("in").alias("stage"))
            .unionByName(uniq.select(F.lit("uniq").alias("stage")))
            .unionByName(survivors.select(F.lit("acc").alias("stage")))
        )
        if self.lsh:
            # within-drop IDs stand in for the old `within` frame:
            # n_within = n_uniq - |within_drops| (every drop id comes
            # from a uniq-side pair), so the reported metrics are
            # unchanged while the frame itself never materializes
            tagged = tagged.unionByName(
                within_drops.select(F.lit("wdrop").alias("stage"))
            )
        stage_counts = {
            r["stage"]: r["n"]
            for r in tagged.groupBy("stage")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        n_in = stage_counts.get("in", 0)
        n_uniq = stage_counts.get("uniq", 0)
        n_wdrop = stage_counts.get("wdrop", 0)
        n_accepted = stage_counts.get("acc", 0)
        self.accepted_count += n_accepted
        self.metrics.append(
            {
                "batch": len(self.metrics),
                "n_in": n_in,
                "rejected_exact_within": n_in - n_uniq,
                "rejected_near_within": n_wdrop,
                "rejected_vs_corpus": n_uniq - n_wdrop - n_accepted,
                "accepted": n_accepted,
            }
        )
        return survivors

    def compact_state(self) -> int:
        """Fold the accumulated per-batch state directories into one
        (the maintenance half of the manifest-commit design: a
        long-lived ingest stream otherwise grows one corpus + one sig
        directory per micro-batch, and restore-time listing cost
        grows with stream age). Reads every committed batch, rewrites
        corpus+sig into a single FRESH generation directory (the
        monotonic counter guarantees the fold target is never a live
        committed directory — folding into a name already in the
        manifest would delete source files mid-read), then atomically
        swaps the manifest to reference only it — the same crash +
        fencing contract as _append_state: a failure before the swap
        leaves the old manifest (and state) fully intact; orphan
        directories are never read. Returns the number of directories
        folded."""
        if not self.state_dir:
            return 0  # in-memory state is already one checkpoint
        batches = commitlog.read(self.state_dir).entries
        if len(batches) <= 1:
            return 0
        b = f"c{commitlog.next_generation(self._state_dirs())}-{self._writer_id}"
        assert b not in batches  # fold target must never be live state
        store_c = (
            # re-attach the digest column for the folded directory
            # (maintenance-time scan; per-batch probes stay 32 B/doc)
            self.corpus.withColumn(
                "_ingest_digest",
                F.md5(normalize_text(F.col(self.text_col))),
            )
            if self.lsh
            else self.corpus
        )
        store_c.write.mode("overwrite").parquet(
            f"{self.state_dir}/corpus/{b}"
        )
        self.sig.write.mode("overwrite").parquet(f"{self.state_dir}/sig/{b}")
        self._epoch = commitlog.commit(self.state_dir, self._epoch, [b])
        self._restore_state()
        # the folded directories are NOT deleted here: older manifest
        # epochs still reference them (time travel); ``vacuum`` is the
        # retention GC that reclaims directories no retained epoch
        # references — the Delta OPTIMIZE/VACUUM split
        return len(batches)

    # ----- time travel + retention ------------------------------------------

    def epochs(self) -> list[int]:
        """Committed manifest epochs available for time travel."""
        return commitlog.epochs(self.state_dir) if self.state_dir else []

    def corpus_at_epoch(self, epoch: int) -> DataFrame:
        """The accepted corpus EXACTLY as of manifest epoch ``epoch`` —
        Delta-style time travel over the manifest history. Reads only
        the batch directories that epoch's manifest references; raises
        if ``vacuum`` already reclaimed them."""
        import os

        try:
            batches = commitlog.read(self.state_dir, epoch).entries
        except FileNotFoundError:
            raise ValueError(
                f"epoch {epoch} has no manifest (never committed, or its "
                f"history was pruned by vacuum)"
            ) from None
        paths = [f"{self.state_dir}/corpus/{b}" for b in batches]
        missing = [p for p in paths if not os.path.isdir(p)]
        if missing:
            raise ValueError(
                f"epoch {epoch} is no longer readable: vacuum reclaimed "
                f"{missing[:2]}..."
            )
        return self.spark.read.parquet(*paths).drop("_ingest_digest")

    def vacuum(self, retain_epochs: int = 1) -> int:
        """Retention GC (``commitlog.vacuum``): delete every batch
        directory not referenced by the last ``retain_epochs`` manifests
        (the live COMMITTED is always retained), then prune the
        unretained manifest history. Safe against in-flight writers,
        whose directories carry a higher generation than any retained
        one. Returns the number of directories deleted."""
        if not self.state_dir:
            return 0
        return commitlog.vacuum(self.state_dir, self._state_dirs(), retain_epochs)

    def metrics_df(self) -> DataFrame:
        """Per-batch ingest metrics as a DataFrame (the corpus-growth
        observability surface: accepted/rejected counts by reason,
        one row per processed micro-batch)."""
        return local_frame(self.spark, self.metrics, _METRICS_SCHEMA)

    # ----- Structured Streaming wiring -------------------------------------

    def run_stream(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        output_dir: str,
        metrics_dir: str | None = None,
        **trigger_kwargs,
    ):
        """Attach to a document stream via foreachBatch: each
        micro-batch's accepted rows append to ``output_dir``; offsets
        come from the checkpoint, so a restarted stream resumes
        without re-offering delivered batches (and the digest
        anti-join makes a replayed batch a no-op anyway — the dedup
        state IS the idempotency guard). With ``metrics_dir``, each
        batch also appends its metrics row, feeding the live
        ``metrics_stream`` + ``windowed_metrics`` dashboard."""

        def on_batch(batch_df: DataFrame, epoch_id: int):
            self.process_batch(batch_df).write.mode("append").parquet(output_dir)
            if metrics_dir is not None:
                # key the row by the foreachBatch EPOCH (not the loop's
                # in-memory counter, which restarts at 0 on a new
                # process), and publish ONE deterministically-named
                # file per epoch via write-temp + atomic rename: a
                # crash-then-replay of the same epoch atomically
                # replaces the identical filename, so a LIVE file-
                # source reader (which tracks seen filenames) never
                # ingests a duplicate row and never hits a deleted
                # part file — a Spark dir write would mint a fresh
                # part-UUID name on each replay
                import os

                import pyarrow as pa
                import pyarrow.parquet as pq

                row = dict(self.metrics[-1])
                row["batch"] = int(epoch_id)
                os.makedirs(metrics_dir, exist_ok=True)
                tbl = pa.table(
                    {
                        k: pa.array([int(row[k])], type=pa.int64())
                        for k in _METRICS_FIELDS
                    }
                )
                tmp = f"{metrics_dir}/.epoch-{int(epoch_id)}.parquet.tmp"
                pq.write_table(tbl, tmp)
                os.replace(tmp, f"{metrics_dir}/epoch-{int(epoch_id)}.parquet")

        return (
            stream_df.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**(trigger_kwargs or {"availableNow": True}))
            .start()
        )



def windowed_metrics(metrics: DataFrame, every: int = 2) -> DataFrame:
    """Tumbling-window rollup of per-batch ingest metrics: acceptance
    and rejection rates per window of ``every`` consecutive batches —
    the corpus-growth dashboard row. Input is ``metrics_df()`` (batch
    mode) or the metrics stream (see ``metrics_stream``); the same
    aggregation runs in both because it is a plain groupBy over the
    window index (watermark-free: batch indices are monotonic)."""
    win = F.floor(F.col("batch") / every).alias("win")
    agg = metrics.groupBy(win).agg(
        F.min("batch").alias("first_batch"),
        F.max("batch").alias("last_batch"),
        F.sum("n_in").alias("n_in"),
        F.sum("accepted").alias("accepted"),
        (F.sum("n_in") - F.sum("accepted")).alias("rejected"),
    )
    return agg.select(
        "win",
        "first_batch",
        "last_batch",
        "n_in",
        "accepted",
        "rejected",
        F.round(
            F.col("accepted") / F.greatest(F.col("n_in"), F.lit(1)), 6
        ).alias("acceptance_rate"),
    )


def metrics_stream(spark: SparkSession, metrics_dir: str) -> DataFrame:
    """readStream over a metrics directory (each ``process_batch``
    inside ``run_stream`` can append its metrics row there) — feeds
    ``windowed_metrics`` + ``writeStream`` for a LIVE acceptance-rate
    table. Complete-mode aggregation: the batch-index tumble needs no
    watermark, and windows stay revisable until their batches close."""
    return spark.readStream.schema(_METRICS_SCHEMA).parquet(
        f"{metrics_dir}/*"
    )
