"""ManifestTable: a generic manifest-committed parquet table with
ACID-ish append / MERGE (upsert) / delete — the no-extra-jars shape of
a Delta/Iceberg table (cf. the reference's Raft-replicated store,
/root/reference/server/store/raft/, which provides the same atomic
multi-write visibility via consensus).

Layout on disk:

    <path>/COMMITTED             # "#epoch=N" + one "bucket:relative_dir" per bucket
    <path>/manifests/mN          # manifest history (time travel)
    <path>/data/g<G>/_b=<B>/...  # generation directories, bucketed by key hash

Commits, manifest history, generation numbering and vacuum are the
shared epoch-fenced commit log (``vanus_spark.commitlog``): a writer
that observed epoch E can only commit E+1 under a short-lived lock
file; losers raise ConcurrentWriterError and their generation
directories stay orphans. A crash before the COMMITTED swap leaves the
table exactly as it was.

MERGE is partition-pruned copy-on-write: rows hash into ``n_buckets``
by key, and an upsert rewrites ONLY the buckets that contain updated
keys (one Spark job writes all affected buckets via partitionBy);
untouched buckets keep pointing at their existing directories. At
100 TB this is the difference between rewriting the table and
rewriting the few percent of partitions an update touches — the same
pruning Iceberg gets from its partition spec. Bucket count is a
layout choice: more buckets = finer rewrite granularity + more files.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from vanus_spark import commitlog
from vanus_spark.commitlog import ConcurrentWriterError


def _buckets(entries: list[str]) -> dict[int, str]:
    """Manifest entries ``bucket:dir`` -> {bucket: dir}."""
    return {int(b): d for b, d in (e.split(":", 1) for e in entries)}


class ManifestTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str,
        n_buckets: int = 16,
        stats_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.n_buckets = n_buckets
        # columns to collect per-bucket min/max for at write time —
        # the data-skipping sidecar (Iceberg/Delta file stats shape):
        # a stats-pruned read skips whole buckets whose [min, max]
        # cannot satisfy a range predicate
        self.stats_cols = list(stats_cols or [])
        self._writer_id = uuid.uuid4().hex[:8]
        os.makedirs(path, exist_ok=True)
        self.refresh()

    # ----- manifest --------------------------------------------------------

    def refresh(self) -> None:
        """Re-read the live manifest (pick up other writers' commits)."""
        m = commitlog.read(self.path)
        self._epoch, self._mapping, self._meta = m.epoch, _buckets(m.entries), m.meta

    def _commit(
        self, mapping: dict[int, str], meta: dict[str, str] | None = None
    ) -> None:
        # commit metadata rides IN the atomic swap (exactly-once
        # markers for stream batches); unspecified keys carry over —
        # the fence guarantees self._meta is the live manifest's
        merged_meta = {**self._meta, **(meta or {})}
        self._epoch = commitlog.commit(
            self.path,
            self._epoch,
            [f"{b}:{d}" for b, d in sorted(mapping.items())],
            merged_meta,
        )
        self._mapping, self._meta = dict(mapping), merged_meta

    def _next_gen(self) -> int:
        return commitlog.next_generation([f"{self.path}/data"])

    # ----- reads -----------------------------------------------------------

    def _bucket_col(self) -> Column:
        return F.pmod(F.xxhash64(F.col(self.key_col)), F.lit(self.n_buckets))

    def read(self, buckets: list[int] | None = None) -> DataFrame:
        mapping = self._mapping
        if buckets is not None:
            mapping = {b: d for b, d in mapping.items() if b in buckets}
        dirs = [f"{self.path}/data/{d}" for d in mapping.values()]
        if not dirs:
            raise ValueError("empty table (no committed buckets)")
        # mergeSchema: generations written before a column was added
        # surface it as null (schema evolution on read)
        return self.spark.read.option("mergeSchema", "true").parquet(*dirs)

    def read_pruned(
        self, col: str, lo=None, hi=None
    ) -> tuple[DataFrame, dict]:
        """Stats-pruned range read: skip every bucket whose stored
        [min, max] for ``col`` cannot intersect [lo, hi] (either bound
        may be None). The residual predicate is ALWAYS applied to the
        surviving buckets, so a missing or stale sidecar only costs
        the skip, never correctness. Returns (df, {"buckets_read",
        "buckets_skipped"})."""
        import json

        keep: list[int] = []
        skipped = 0
        for b, d in sorted(self._mapping.items()):
            gen_root = f"{self.path}/data/{d.split('/', 1)[0]}"
            sp = f"{gen_root}/_stats.json"
            prune = False
            if os.path.exists(sp):
                with open(sp) as f:
                    st = json.load(f)
                ent = st.get(str(b), {}).get(col)
                if ent is not None and ent[0] is not None:
                    mn, mx = ent
                    if lo is not None and mx < lo:
                        prune = True
                    if hi is not None and mn > hi:
                        prune = True
            if prune:
                skipped += 1
            else:
                keep.append(b)
        stats = {"buckets_read": len(keep), "buckets_skipped": skipped}
        if not keep:
            return self.read().where(F.lit(False)), stats
        df = self.read(buckets=keep)
        if lo is not None:
            df = df.where(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.where(F.col(col) <= F.lit(hi))
        return df, stats

    def lookup(self, keys: list) -> DataFrame:
        """Point lookup: hash-route the keys to their buckets and read
        ONLY those directories — the O(|keys| buckets) path for "fetch
        these documents by id" instead of a table scan."""
        kdf = self.spark.createDataFrame(
            [(k,) for k in keys], f"{self.key_col} {'string' if isinstance(keys[0], str) else 'long'}"
        )
        buckets = [
            r["_b"]
            for r in kdf.select(self._bucket_col().alias("_b")).distinct().collect()
        ]
        buckets = [b for b in buckets if b in self._mapping]
        if not buckets:
            return self.read().where(F.lit(False))
        return self.read(buckets=buckets).join(
            F.broadcast(kdf), self.key_col, "left_semi"
        )

    def read_at_epoch(self, epoch: int) -> DataFrame:
        mapping = _buckets(commitlog.read(self.path, epoch).entries)
        return self.spark.read.parquet(
            *[f"{self.path}/data/{d}" for d in mapping.values()]
        )

    def _mapping_at(self, epoch: int) -> dict[int, str]:
        """Bucket->dir mapping as of a committed epoch (manifest history)."""
        if epoch == self._epoch:
            return dict(self._mapping)
        return _buckets(commitlog.read(self.path, epoch).entries)

    def changes(self, from_epoch: int, to_epoch: int) -> DataFrame:
        """Row-level change feed between two committed epochs — the
        Delta CDF / Iceberg incremental-read shape (``table_changes(v1,
        v2)``). Returns (key, _change_type, row_json) where
        _change_type is one of insert / delete / update_preimage /
        update_postimage.

        Scale contract: only buckets whose manifest entry DIFFERS
        between the two epochs are ever scanned — every copy-on-write
        commit rewrites whole bucket directories, so an untouched
        bucket has a byte-identical manifest token and provably equal
        content. At 100 TB a feed between adjacent epochs reads the
        few percent of buckets the intervening commits touched, never
        the table. Carried-over rows inside a rewritten bucket are
        dropped by a row-digest equality check, so the feed is exact.

        Rows are compared over the INTERSECTION of the two epochs'
        column sets (sorted by name): a column added between the
        epochs does not by itself mark every row an update.
        """
        m1 = self._mapping_at(from_epoch)
        m2 = self._mapping_at(to_epoch)
        changed = sorted(
            b for b in set(m1) | set(m2) if m1.get(b) != m2.get(b)
        )

        def _side(m: dict[int, str]) -> DataFrame | None:
            dirs = [f"{self.path}/data/{m[b]}" for b in changed if b in m]
            if not dirs:
                return None
            return self.spark.read.option("mergeSchema", "true").parquet(*dirs)

        pre, post = _side(m1), _side(m2)
        schema = f"{self.key_col} long, _change_type string, row_json string"
        if pre is None and post is None:
            return self.spark.createDataFrame([], schema)
        if pre is not None and post is not None:
            cols = sorted(set(pre.columns) & set(post.columns))
        else:
            cols = sorted((pre if pre is not None else post).columns)
        if self.key_col not in cols:
            raise ValueError(f"key column {self.key_col} missing from diff")

        def _pack(df: DataFrame) -> DataFrame:
            return df.select(
                F.col(self.key_col).alias("_k"),
                F.to_json(F.struct(*[F.col(c) for c in cols])).alias("_row"),
            )

        key, ct = self.key_col, "_change_type"
        if pre is None:
            return _pack(post).select(
                F.col("_k").alias(key),
                F.lit("insert").alias(ct),
                F.col("_row").alias("row_json"),
            )
        if post is None:
            return _pack(pre).select(
                F.col("_k").alias(key),
                F.lit("delete").alias(ct),
                F.col("_row").alias("row_json"),
            )
        a, b = _pack(pre).alias("a"), _pack(post).alias("b")
        j = a.join(b, F.col("a._k") == F.col("b._k"), "full_outer")
        # ONE join + one explode instead of four union branches over
        # the same join (each branch re-planned and re-executed the
        # full-outer join — 4 joins per span, 12 per 3-span feed):
        # per joined row, a case-built array holds its change events
        # (insert / delete / pre+post image / none) and explodes once.
        def _ev(k, t, r):
            return F.struct(
                k.alias("_ek"), F.lit(t).alias("_et"), r.alias("_er")
            )

        events = (
            F.when(
                F.col("a._k").isNull(),
                F.array(_ev(F.col("b._k"), "insert", F.col("b._row"))),
            )
            .when(
                F.col("b._k").isNull(),
                F.array(_ev(F.col("a._k"), "delete", F.col("a._row"))),
            )
            .when(
                F.col("a._row") != F.col("b._row"),
                F.array(
                    _ev(F.col("a._k"), "update_preimage", F.col("a._row")),
                    _ev(F.col("a._k"), "update_postimage", F.col("b._row")),
                ),
            )
            .otherwise(
                F.array().cast(
                    "array<struct<_ek:long,_et:string,_er:string>>"
                )
            )
        )
        return j.select(F.explode(events).alias("_e")).select(
            F.col("_e._ek").alias(key),
            F.col("_e._et").alias(ct),
            F.col("_e._er").alias("row_json"),
        )

    # ----- writes ----------------------------------------------------------

    def _commit_buckets(
        self,
        base_view: dict[int, str | None],
        updates: dict[int, str | None],
        max_retries: int = 5,
        meta: dict[str, str] | None = None,
    ) -> None:
        """Bucket-level commit with Delta-style conflict resolution:
        if another writer committed in between but touched only OTHER
        buckets, rebase our bucket updates onto the live manifest and
        retry; if any bucket we READ for this rewrite changed
        (``base_view`` mismatch), the rewrite was computed against a
        stale snapshot and the conflict is real — raise."""
        for _ in range(max_retries):
            for b, based_on in base_view.items():
                if self._mapping.get(b) != based_on:
                    raise ConcurrentWriterError(
                        f"bucket {b} changed since this rewrite read it "
                        f"({based_on} -> {self._mapping.get(b)})"
                    )
            mapping = dict(self._mapping)
            for b, d in updates.items():
                if d is None:
                    mapping.pop(b, None)
                else:
                    mapping[b] = d
            try:
                self._commit(mapping, meta)
                return
            except ConcurrentWriterError:
                self.refresh()  # rebase and re-check the conflict set
        raise ConcurrentWriterError(
            f"gave up after {max_retries} rebase attempts"
        )

    def _cluster_for_write(self, df: DataFrame) -> DataFrame:
        """Cluster by bucket before a generation write (Iceberg's
        write.distribution-mode=hash): without it every upstream task
        writes one file per bucket it touches — tasks x buckets tiny
        files per generation (measured 122 files for a 3-commit
        table_changes history at sf0.1; guide §6 small-files) — and
        every later read/merge/changes pays the listing + open cost.
        The partition count is pinned to ``n_buckets`` explicitly
        rather than inherited from spark.sql.shuffle.partitions/AQE, so
        write parallelism is min(n_buckets, cores) by construction and
        cannot silently collapse to one task under AQE coalescing.
        Each bucket value lands in exactly one task, so a generation is
        one file per bucket — which is also what makes bucket pruning
        read contiguous data at scale. Scale note: a single bucket is
        still one task's work, so ``n_buckets`` must scale with table
        size (the 100 TB deployment sizes buckets to ~0.5-1 GB; a hot
        key that outgrows its bucket needs a bucket-count bump, the
        same lever Iceberg's bucket transform uses)."""
        return df.withColumn("_b", self._bucket_col()).repartition(
            self.n_buckets, "_b"
        )

    def _write_generation(self, df: DataFrame) -> tuple[str, list[int]]:
        """One Spark job writes df into gen/_b=<bucket>/ subdirs;
        returns (gen name, buckets written). When ``stats_cols`` is
        set, a second (bounded: buckets x cols rows) aggregate writes
        the per-bucket min/max sidecar next to the data."""
        gen = f"g{self._next_gen()}-{self._writer_id}"
        out = f"{self.path}/data/{gen}"
        self._cluster_for_write(df).write.mode(
            "error"
        ).partitionBy("_b").parquet(out)
        written = [
            int(name.split("=", 1)[1])
            for name in os.listdir(out)
            if name.startswith("_b=")
        ]
        if self.stats_cols:
            import json

            aggs = []
            for c in self.stats_cols:
                aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
            rows = (
                df.withColumn("_b", self._bucket_col())
                .groupBy("_b")
                .agg(*aggs)
                .collect()
            )
            stats = {
                str(r["_b"]): {
                    c: [r[f"min_{c}"], r[f"max_{c}"]] for c in self.stats_cols
                }
                for r in rows
            }
            tmp = f"{out}/.stats.json.tmp"
            with open(tmp, "w") as f:
                json.dump(stats, f, default=str)
            os.replace(tmp, f"{out}/_stats.json")
        return gen, written

    def write_full(self, df: DataFrame) -> None:
        """Initial (or replace-all) load."""
        gen, buckets = self._write_generation(df)
        self._commit({b: f"{gen}/_b={b}" for b in buckets})

    def merge(self, updates: DataFrame, meta: dict[str, str] | None = None) -> dict:
        """Copy-on-write upsert by key: rows whose key exists are
        replaced, new keys are inserted. Rewrites ONLY the buckets the
        update keys hash into; other buckets' directories are carried
        over untouched. Returns {"rewritten_buckets": n, "epoch": e}."""
        affected = sorted(
            r["_b"]
            for r in updates.select(
                self._bucket_col().alias("_b")
            ).distinct().collect()
        )
        base_view = {b: self._mapping.get(b) for b in affected}
        current = {b: d for b, d in self._mapping.items() if b in affected}
        if current:
            cur_rows = self.read(buckets=affected)
            keep = cur_rows.join(
                updates.select(self.key_col), self.key_col, "left_anti"
            )
            # schema evolution: updates may ADD columns (old rows read
            # them as null) or omit columns (filled with null)
            new_rows = keep.unionByName(updates, allowMissingColumns=True)
        else:
            new_rows = updates
        gen, written = self._write_generation(new_rows)
        self._commit_buckets(
            base_view, {b: f"{gen}/_b={b}" for b in written}, meta=meta
        )
        return {"rewritten_buckets": len(affected), "epoch": self._epoch}

    def merge_aggregate(
        self,
        updates: DataFrame,
        sum_cols: list[str],
        meta: dict[str, str] | None = None,
    ) -> dict:
        """ADDITIVE merge — incremental maintenance of a materialized
        aggregate table: ``updates`` carries per-key partial sums
        (key + sum_cols only), which COMBINE with the stored row's
        values instead of replacing them. Implemented as one groupBy
        over (affected stored rows UNION updates): stored keys not in
        the update batch pass through with their own values, matched
        keys sum, new keys insert. Same partition-pruned rewrite and
        commit path as merge()."""
        cols = [self.key_col, *sum_cols]
        updates = updates.select(*cols)
        affected = sorted(
            r["_b"]
            for r in updates.select(self._bucket_col().alias("_b"))
            .distinct()
            .collect()
        )
        base_view = {b: self._mapping.get(b) for b in affected}
        current = {b: d for b, d in self._mapping.items() if b in affected}
        if current:
            combined = (
                self.read(buckets=affected)
                .select(*cols)
                .unionByName(updates)
            )
        else:
            combined = updates
        new_rows = combined.groupBy(self.key_col).agg(
            *[F.sum(c).alias(c) for c in sum_cols]
        )
        gen, written = self._write_generation(new_rows)
        self._commit_buckets(
            base_view, {b: f"{gen}/_b={b}" for b in written}, meta=meta
        )
        return {"rewritten_buckets": len(affected), "epoch": self._epoch}

    def delete(self, predicate) -> dict:
        """Copy-on-write delete: rewrites only buckets that still have
        surviving rows; buckets whose rows ALL match the predicate are
        dropped from the manifest.

        The READ SET is the whole table — a predicate delete evaluated
        the predicate against every bucket, so a concurrent commit to
        ANY bucket (even one with no doomed rows in our snapshot — its
        new rows might match the predicate) is a genuine conflict, the
        same rule Delta's Serializable level applies to DELETE vs a
        concurrent ADD. base_view therefore spans all n_buckets,
        absent ones pinned at None so a concurrently-created bucket
        fails the check instead of being silently missed."""
        doomed = self.read().where(predicate)
        affected = sorted(
            r["_b"]
            for r in doomed.select(self._bucket_col().alias("_b"))
            .distinct()
            .collect()
        )
        if not affected:
            return {"rewritten_buckets": 0, "epoch": self._epoch}
        base_view = {
            b: self._mapping.get(b) for b in range(self.n_buckets)
        }
        survivors = self.read(buckets=affected).where(~predicate)
        updates: dict[int, str | None] = {b: None for b in affected}
        # no emptiness pre-probe: the write itself reveals which
        # buckets survive (a fully-emptied generation lists no _b=
        # dirs), so the old limit(1).count() job was pure overhead
        gen, written = self._write_generation(survivors)
        for b in written:
            updates[b] = f"{gen}/_b={b}"
        self._commit_buckets(base_view, updates)
        return {"rewritten_buckets": len(affected), "epoch": self._epoch}

    def delete_keys(self, keys: DataFrame) -> dict:
        """Copy-on-write delete BY KEY SET (no driver-side collect of
        the keys — the CDC-sized sibling of ``delete``): rewrites only
        the buckets the keys hash into, dropping buckets that end up
        empty.

        EVERY key bucket is in the read set — including ones absent
        from this writer's snapshot (based_on=None). A concurrent
        writer may have just CREATED such a bucket with one of our
        keys in it; filtering those buckets out (the previous
        behavior) silently skipped the delete with no conflict raised
        — a write-skew anomaly a two-writer fuzz caught. With the
        None pin, the commit check sees None != <new dir> and raises,
        and the retrying caller re-reads and deletes the key."""
        affected = sorted(
            r["_b"]
            for r in keys.select(self._bucket_col().alias("_b"))
            .distinct()
            .collect()
        )
        if not affected:
            return {"rewritten_buckets": 0, "epoch": self._epoch}
        base_view = {b: self._mapping.get(b) for b in affected}
        present = [b for b in affected if b in self._mapping]
        updates: dict[int, str | None] = {b: None for b in present}
        if present:
            survivors = self.read(buckets=present).join(
                keys.select(self.key_col).distinct(), self.key_col, "left_anti"
            )
            # the write itself reveals emptiness (no _b= dirs listed),
            # so no limit(1).count() pre-probe job
            gen, written = self._write_generation(survivors)
            for b in written:
                updates[b] = f"{gen}/_b={b}"
        self._commit_buckets(base_view, updates)
        return {"rewritten_buckets": len(present), "epoch": self._epoch}

    def fsck(self) -> dict:
        """Consistency report (the vsrepair counterpart for this
        store): verifies every manifest-referenced directory exists
        and is readable, lists orphan generations (crash leftovers —
        harmless, vacuum reclaims them), and flags missing stats
        sidecars for tables declaring stats_cols. Read-only."""
        report: dict = {
            "ok": True,
            "missing_dirs": [],
            "orphan_generations": [],
            "missing_stats": [],
            "epoch": self._epoch,
            "buckets": len(self._mapping),
        }
        live_gens = set()
        for b, d in sorted(self._mapping.items()):
            full = f"{self.path}/data/{d}"
            live_gens.add(d.split("/", 1)[0])
            if not os.path.isdir(full):
                report["missing_dirs"].append(d)
                report["ok"] = False
            if self.stats_cols:
                gen_root = f"{self.path}/data/{d.split('/', 1)[0]}"
                if not os.path.exists(f"{gen_root}/_stats.json"):
                    report["missing_stats"].append(d)
        data = f"{self.path}/data"
        if os.path.isdir(data):
            for name in sorted(os.listdir(data)):
                if name not in live_gens:
                    report["orphan_generations"].append(name)
        return report

    def vacuum(self, retain_epochs: int = 1) -> int:
        """Delete generation directories that neither the live manifest
        nor the last ``retain_epochs`` manifests reference, and prune
        the older manifest history (``commitlog.vacuum``: a concurrent
        writer's uncommitted generation is never a candidate). Returns
        the number of directories removed."""
        return commitlog.vacuum(self.path, [f"{self.path}/data"], retain_epochs)

    def compact_files(
        self, max_files: int = 1, buckets: list[int] | None = None
    ) -> dict:
        """OPTIMIZE-style small-file compaction: rewrite every live
        bucket whose directory holds more than ``max_files`` parquet
        files into a coalesced copy (data unchanged, layout packed).
        A bucket directory accumulates one file per upstream Spark
        partition at write time, so a wide-partitioned ingest leaves
        small files that tax every subsequent scan's task scheduling —
        the classic lakehouse OPTIMIZE motivation.

        Commits through the same bucket-level conflict resolution as
        MERGE: the read set is exactly the compacted buckets, so a
        concurrent writer touching OTHER buckets rebases cleanly,
        while one that rewrote a bucket mid-compaction raises
        (the compacted copy would silently resurrect overwritten
        rows otherwise). Old directories stay until ``vacuum``.
        ``buckets`` restricts the pass to a subset (incremental
        background compaction). Returns {"compacted_buckets": n,
        "files_before": x, "files_after": y}."""
        self.refresh()
        todo: dict[int, str] = {}
        files_before = 0
        for b, rel in self._mapping.items():
            if buckets is not None and b not in buckets:
                continue
            d = f"{self.path}/data/{rel}"
            n = sum(
                1
                for f in os.listdir(d)
                if f.endswith(".parquet") and not f.startswith(".")
            )
            if n > max_files:
                todo[b] = rel
                files_before += n
        if not todo:
            return {
                "compacted_buckets": 0,
                "files_before": 0,
                "files_after": 0,
            }
        base_view: dict[int, str | None] = {b: rel for b, rel in todo.items()}
        gen = f"g{self._next_gen()}-{self._writer_id}"
        out = f"{self.path}/data/{gen}"
        files_after = 0
        updates: dict[int, str | None] = {}
        for b, rel in todo.items():
            src = f"{self.path}/data/{rel}"
            (
                self.spark.read.parquet(src)
                .coalesce(max_files)
                .write.mode("error")
                .parquet(f"{out}/_b={b}")
            )
            files_after += sum(
                1
                for f in os.listdir(f"{out}/_b={b}")
                if f.endswith(".parquet")
            )
            updates[b] = f"{gen}/_b={b}"
        self._commit_buckets(base_view, updates)
        return {
            "compacted_buckets": len(todo),
            "files_before": files_before,
            "files_after": files_after,
        }
