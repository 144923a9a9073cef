"""Deduplication operators for document corpora.

Five families, all shuffle-aware for 100 TB:

- exact: hash-groupBy on a content digest. One shuffle on the digest;
  map-side combine collapses duplicates early, so shuffle volume is
  ~#distinct rather than #rows.
- MinHash + LSH: shingle -> k minhashes -> b bands -> bucket join.
  Candidate generation is a self-join on (band, band_hash) — the
  classic way to avoid the O(n²) pair explosion; only same-bucket
  pairs shuffle.
- SimHash: 64-bit sign-sum fingerprint; near-dups share fingerprints
  (or differ in few bits). Grouping on the fingerprint is one shuffle.
- n-gram Jaccard: exact verification on candidate pairs (from LSH or
  any blocking key) via explode + semi-join token intersection.
- embedding cosine: near-dup if cosine >= threshold, candidates from
  the similarity module's LSH buckets.

Hashing: every engine-portable hash is built from md5 (stable across
Spark and DuckDB, which is what the correctness oracle needs — unlike
xxhash64/crc32, which differ per engine). At real scale xxhash64
halves the hash cost; the structure is identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, functions as F

from vanus_spark.operators.parallelism import repartition_for_compute
from vanus_spark.session import rdd_id

# Default degenerate-bucket bound for LSH pair generation. Scale-safe
# is the DEFAULT: a 100 TB corpus with heavy boilerplate puts millions
# of docs in one band bucket, and the all-pairs self-join would emit
# m²/2 rows from it. Buckets above the cap switch to O(m) star pairing
# (see minhash_lsh_pairs); pass bucket_cap=None to explicitly opt into
# exact all-pairs (bounded fixtures / oracle exactness only).
DEFAULT_BUCKET_CAP = 200

# ---------------------------------------------------------------------------
# shared hashing helpers (md5-derived 63-bit ints, engine-portable)
# ---------------------------------------------------------------------------

def md5_long(c: Column, seed: int = 0) -> Column:
    """Stable 60-bit integer hash: first 15 hex digits of
    md5(seed || value). Positive, fits a signed long; reproducible in
    DuckDB as ('0x' || substr(md5(...), 1, 15))::BIGINT."""
    payload = F.concat(F.lit(str(seed) + "|"), c.cast("string"))
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long")


def normalize_text(c: Column) -> Column:
    """Canonical form for content hashing: lowercase, collapse
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(c), "\\s+", " "))


def bound(c: Column, f) -> Column:
    """Evaluate ``c`` ONCE and pass it to ``f`` as a bound lambda
    variable.

    Higher-order-function lambdas get no common-subexpression
    elimination: an expression referenced N times inside (or iterated
    by) a lambda body is re-evaluated N times per row. Routing the
    value through a one-element array transform binds it as a lambda
    variable — computed once, then referenced cheaply. Measured on the
    shingle chain at sf0.1: 3.2 s -> 0.4 s (the tokenizer regex was
    re-running once per shingle index)."""
    return F.get(F.transform(F.array(c), f), F.lit(0))


def _shingles_sql(c: str, n: int = 3) -> str:
    """SQL fragment parsing to the exact tree ``shingles`` builds —
    one py4j trip instead of ~4 lambda creations (see
    similarity._dot_sql for why that matters on this box)."""
    toks = f"split(trim(regexp_replace(lower({c}), '\\\\s+', ' ')), ' ')"
    return (
        "get(transform(array(" + toks + "), tk -> array_distinct("
        f"transform(sequence(0, greatest(size(tk) - {n}, 0)),"
        f" i -> array_join(slice(tk, i + 1, {n}), ' ')))), 0)"
    )


def shingles(c: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array of strings (distinct).

    slice+array_join measured faster than the try_element_at+concat_ws
    formulation (try_element_at's ANSI guard costs ~3× here). The
    token array is lambda-bound (see ``bound``) so the normalize+split
    chain runs once per row, not once per shingle. String input takes
    the one-py4j-trip SQL path (identical tree)."""
    if isinstance(c, str):
        return F.expr(_shingles_sql(c, n))
    toks = F.split(normalize_text(c), " ")
    return bound(
        toks,
        lambda tk: F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(0), F.greatest(F.size(tk) - F.lit(n), F.lit(0))
                ),
                lambda i: F.array_join(F.slice(tk, i + 1, n), " "),
            )
        ),
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative per exact (normalized)
    content digest. groupBy(digest) -> min(id): partial aggregation
    makes the shuffle ~#distinct digests."""
    digest = F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    return (
        docs.select(digest, F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


def exact_dedup_rows(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The deduplicated corpus itself (row per surviving doc)."""
    keep = exact_dedup(docs, text_col, id_col).select(F.col("keep_id").alias(id_col))
    return docs.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# Universal-hash permutation family: h_i(x) = (a_i*x + b_i) mod p over
# a 31-bit base hash. ONE md5 per shingle; permutations are arithmetic.
# p Mersenne prime keeps products inside signed-64 (no ANSI overflow:
# a < 2^31 and x < 2^31 so a*x < 2^62).
MINHASH_P = 2_147_483_647  # 2^31 - 1


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs with LARGE multipliers,
    engine-portable (pure integer arithmetic, mirrored verbatim by the
    DuckDB oracle CTE).

    The coefficients must be NONLINEAR in i, not merely large: the
    round-6 family used a_i = 2i+1, whose maps never wrap mod p for
    typical shingle sets — every "permutation" preserved the base
    ordering, all 16 minhashes picked the SAME argmin shingle, and the
    signature carried ~1 permutation of information (the round-7
    calibration query measured est 0.94 on a true-Jaccard-0.014 pair,
    and each LSH band matched with probability ~J instead of J^rows).
    A first fix with a_i = (i+1)*K mod p failed the same way: the
    family is rank-1 in i, so h_i(x) = (i+1)*y(x) + c and one small
    y(x) wins every map. splitmix64-finalized constants are
    pseudo-random and independent across i; any a != 0 mod prime p is
    a bijection, no parity constraint needed."""

    def mix64(z: int) -> int:  # splitmix64 finalizer (public domain)
        z = (z + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        return z ^ (z >> 31)

    return [
        (
            mix64(2 * i) % (MINHASH_P - 1) + 1,
            mix64(2 * i + 1) % MINHASH_P,
        )
        for i in range(num_hashes)
    ]


def shingles_df(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, sh array<string>) — the shingle set per document. Compute
    ONCE and persist/write when several downstream stages (signature
    generation, Jaccard verification) need it; at 100 TB this is a
    stored table, not a recomputed expression. The parallelism guard
    widens narrow (single-file) scans so the shingle chain doesn't
    serialize into one task; no-op on wide scans."""
    docs = repartition_for_compute(docs, id_col)
    return docs.select(
        F.col(id_col), shingles(f"`{text_col}`", n).alias("sh")
    )


def minhash_signatures_from_shingles(
    sh_df: DataFrame, id_col: str = "doc_id", num_hashes: int = 16
) -> DataFrame:
    """(id, sig array<long>) from a precomputed (id, sh) frame,
    SHUFFLE-FREE: one projection hashes each shingle once into an
    array of longs, a second projection takes `num_hashes` array_mins
    of arithmetic permutations. Signatures are per-row narrow
    transforms — zero exchanges at any scale. (The earlier
    explode -> groupBy(id) formulation shuffled #docs × num_hashes
    longs and paid a Generate over a lazily-computed array — measured
    5× slower at sf0.1.) The two-step select keeps CollapseProject
    from inlining the md5 chain 16×: `hs` is non-cheap and
    multiply-referenced, so Catalyst materializes it once per row."""
    # Built as SQL strings (identical parsed trees) — the Column form
    # spent ~0.5 s of py4j round trips per call creating the 17
    # transform lambdas, and dedup-on-ingest builds this chain four
    # times per batch pair.
    hashed = sh_df.selectExpr(
        f"`{id_col}`",
        "transform(sh, s -> CAST(conv(substring(md5(concat('0|',"
        " CAST(s AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        f" % {MINHASH_P}) AS hs",
    )
    mins = [
        f"array_min(transform(hs, h -> ({a} * h + {b}) % {MINHASH_P}))"
        f" AS h{i}"
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    sig = hashed.selectExpr(f"`{id_col}`", *mins)
    return sig.selectExpr(
        f"`{id_col}`",
        "array(" + ",".join(f"h{i}" for i in range(num_hashes)) + ") AS sig",
    )


def minhash_signatures_df(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig array<long>) straight from documents (see
    minhash_signatures_from_shingles for the aggregation shape)."""
    return minhash_signatures_from_shingles(
        shingles_df(docs, text_col, id_col, shingle_n), id_col, num_hashes
    )


def minhash_lsh_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    sig_df: DataFrame | None = None,
) -> DataFrame:
    """(id, band, band_key) — docs sharing a band_key are candidates.
    rows = #docs × bands (narrow); the join key is the band digest.
    Pass ``sig_df`` (a persisted/stored (id, sig) table) to band a
    signature set computed once elsewhere instead of recomputing the
    shingle->hash chain."""
    rows_per_band = num_hashes // bands
    with_sig = (
        sig_df
        if sig_df is not None
        else minhash_signatures_df(docs, text_col, id_col, num_hashes, shingle_n)
    )
    bands_col = F.expr(
        "array("
        + ",".join(
            f"named_struct('band', {b}, 'band_key',"
            f" md5(array_join(transform(slice(sig, {b * rows_per_band + 1},"
            f" {rows_per_band}), x -> CAST(x AS STRING)), '_')))"
            for b in range(bands)
        )
        + ")"
    )
    return with_sig.select(id_col, F.explode(bands_col).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    sig_df: DataFrame | None = None,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing any LSH band. The
    self-join is per (band, band_key) bucket — skew-safe under AQE.

    ``bucket_cap`` bounds the degenerate-bucket blowup: a corpus where
    half the docs are identical boilerplate puts them ALL in one
    bucket, and the self-join emits m²/2 pairs from it — quadratic
    OUTPUT volume, which no skew-split can fix. With a cap, buckets
    with ≤ cap members keep the exact all-pairs behavior, while larger
    buckets switch to STAR pairing — every member pairs with the
    bucket's min-id representative, O(m) pairs. A bucket that large is
    (by LSH construction) a near-identical content cluster, so
    verifying each member against one representative loses no real
    dedup decisions; recall is only reduced for same-bucket pairs
    where neither side matches the representative, which at cap sizes
    in the hundreds is noise. The bucket-size window shuffles on the
    same (band, band_key) key the join needs — no extra exchange."""
    # The bucket table fans out below (self-join left+right, bucket-size
    # aggregate, star join) and Catalyst does NOT share repeated plan
    # subtrees — without materialization every reference recomputes the
    # full shingle->signature chain: shuffle-free apart from the
    # widening exchange of repartition_for_compute, but it re-shingles
    # and re-hashes every doc each time (and repeats that exchange when
    # the scan is narrow). One lazy localCheckpoint makes the (id, band,
    # band_key) rows computed exactly once — measured ~5x on the pair
    # query at sf0.1. (Contrast: narrow shuffle-free chains like
    # simhash fingerprints are CHEAPER to recompute than to checkpoint,
    # because the checkpointed RDD loses stats and costs the self-join
    # its broadcast — so only shuffle-bearing fan-outs get this
    # treatment.) At corpus scale this is the stored-signatures design:
    # hash once, join many.
    b = minhash_lsh_buckets(
        docs, text_col, id_col, num_hashes, bands, shingle_n, sig_df=sig_df
    ).localCheckpoint(eager=False)
    return bucket_pairs(b, id_col, bucket_cap)


def bucket_pairs(
    b: DataFrame,
    id_col: str = "doc_id",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Distinct candidate pairs (a < b) from an ALREADY-MATERIALIZED
    (id, band, band_key) bucket table — the pair-generation half of
    ``minhash_lsh_pairs``, split out so callers that need the bucket
    table for OTHER joins too (dedup-on-ingest probes it against the
    stored corpus buckets in the same batch) build and checkpoint it
    exactly once. Same star-pairing cap semantics as
    ``minhash_lsh_pairs``."""

    def all_pairs(buckets: DataFrame) -> DataFrame:
        left = buckets.alias("l")
        right = buckets.alias("r")
        return left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        ).select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )

    if bucket_cap is None:
        return all_pairs(b).distinct()

    # Hot buckets only: the partial-combined groupBy shuffles one row
    # per bucket, and the WHERE leaves just the degenerate ones — in a
    # healthy corpus an (almost) empty table, so AQE broadcasts it.
    # ONE left join tags every bucket row with its (rare) hot-bucket
    # representative; the tagged table is checkpointed so the small/
    # star split and the self-join all scan it instead of re-running
    # the join. (The earlier window-function form shuffled + sorted
    # every bucket row to learn sizes the aggregate gets map-side.)
    hot = (
        b.groupBy("band", "band_key")
        .agg(F.count("*").alias("_n"), F.min(id_col).alias("_rep"))
        .where(F.col("_n") > bucket_cap)
    )
    tagged = b.join(
        hot.select("band", "band_key", "_rep"), ["band", "band_key"], "left"
    ).localCheckpoint(eager=False)
    small = tagged.where(F.col("_rep").isNull()).select(id_col, "band", "band_key")
    star = (
        tagged.where(F.col("_rep").isNotNull() & (F.col(id_col) != F.col("_rep")))
        .select(F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    return all_pairs(small).unionByName(star).distinct()


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(c: Column, bits: int = 16) -> Column:
    """Sign-sum fingerprint over word features. For each bit i, count
    tokens whose md5-derived bit i is set vs unset; bit i of the
    fingerprint = majority sign. Pure column ops (aggregate over the
    token array), no UDF."""
    toks = F.array_distinct(F.split(normalize_text(c), " "))
    h = F.transform(toks, lambda t: md5_long(t))

    def bit_filter(hs, ii):
        # NB: plain single-arg lambda — a second (defaulted) param would
        # make PySpark treat it as an (element, index) lambda
        return F.filter(hs, lambda x: F.shiftright(x, ii).bitwiseAND(F.lit(1)) == 1)

    def fp(hs):
        fingerprint = F.lit(0).cast("long")
        for i in range(bits):  # static unroll — bits is compile-time
            set_count = F.size(bit_filter(hs, i))
            fingerprint = fingerprint + F.when(
                set_count * 2 > F.size(hs), F.lit(1 << i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return fingerprint

    # hs is lambda-bound (see ``bound``): the md5 token array is
    # computed once per row, not once per bit test.
    return bound(h, fp)


def simhash_df(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """(id, fingerprint), SHUFFLE-FREE: one projection hashes each
    distinct token once into an array of longs, a second projection
    derives every bit from size(filter(hs, bit test)) — per-row
    narrow transforms, zero exchanges at any scale. (The earlier
    explode + conditional-count groupBy shuffled #docs × (bits+1)
    counters and paid a Generate over a lazily-computed array —
    measured 3.5× slower at sf0.1.) The two-step select keeps
    CollapseProject from inlining the md5 chain per bit."""
    docs = repartition_for_compute(docs, id_col)
    toks = F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
    hashed = docs.select(
        F.col(id_col), F.transform(toks, lambda t: md5_long(t)).alias("hs")
    )
    fingerprint = None
    for i in range(bits):  # static unroll — bits is a compile-time constant
        set_count = F.size(
            F.filter("hs", lambda x: F.shiftright(x, i).bitwiseAND(F.lit(1)) == 1)
        )
        term = F.when(
            set_count * 2 > F.size("hs"), F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return hashed.select(F.col(id_col), fingerprint.alias("fingerprint"))


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs with hamming(fingerprint_a, fingerprint_b) <=
    max_hamming. Pigeonhole blocking: split the fingerprint into
    ``chunks`` equal bit-chunks; any pair within radius chunks-1
    shares at least one identical chunk, so candidates come from
    ``chunks`` equi-joins (union) and the exact hamming check
    (bit_count of xor) runs only on candidates. Never O(n²) in the
    join structure — but watch CHUNK-KEY ENTROPY: each equi-join
    buckets the corpus into 2^(bits/chunks) keys, and candidate volume
    grows ~ n²/2^(bits/chunks) per chunk. The 16/4 default (4-bit
    keys, 16 buckets) is fine at fixture scale and WRONG at millions
    of docs: on the 64-bit aHash family, 8-bit chunk keys at a 250k
    corpus put ~1e9 low-entropy candidate pairs through the hamming
    check (n²/256/2 per chunk × 8 chunks — measured in the r5c
    scaling probe) where max_hamming+1 chunks of ~21 bits keep
    candidates ≈ true pairs. At corpus scale pass bits=64 (or 128 via
    two columns) and chunks=max_hamming+1 so n/2^(bits/chunks) << 1.

    Requires max_hamming <= chunks - 1 for full recall.
    """
    if max_hamming > chunks - 1:
        raise ValueError("pigeonhole blocking needs max_hamming <= chunks - 1")
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    chunk_keys = [
        F.shiftright("fingerprint", i * chunk_bits).bitwiseAND(F.lit(mask))
        for i in range(chunks)
    ]
    return pigeonhole_hamming_pairs(
        simhash_df(docs, text_col, id_col, bits),
        id_col,
        "fingerprint",
        chunk_keys,
        max_hamming,
    )


def pigeonhole_hamming_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    chunk_keys: list[Column],
    max_hamming: int,
) -> DataFrame:
    """(id_a, id_b, hamming) for every pair id_a < id_b of ``df`` rows
    whose ``hash_col`` values differ in at most ``max_hamming`` bits.

    ``chunk_keys`` split the hash into disjoint bit-chunks that cover
    it; any pair within radius len(chunk_keys) - 1 shares at least one
    identical chunk, so candidates come from one equi-join per chunk
    (union) and the exact check (bit_count of xor) runs only on
    candidates. The caller builds the chunk keys for its hash width and
    checks max_hamming <= len(chunk_keys) - 1."""
    keyed = df.select(
        F.col(id_col),
        F.col(hash_col),
        *[k.alias(f"c{i}") for i, k in enumerate(chunk_keys)],
    )
    # Materialize the (id, hash, chunk keys) table once: the union
    # references it 2 x chunks times and each leg joins on a DIFFERENT
    # chunk key, so neither exchange reuse nor AQE can collapse the
    # branches, and without this every leg re-runs the upstream
    # fingerprint or media-hash pipeline (measured: 6 recomputations =
    # ~85% of video_phash_neardup's wall). Eager,
    # because all legs land in ONE job and a lazy checkpoint would be
    # raced/recomputed by sibling branches.
    keyed = keyed.localCheckpoint(eager=True)
    pairs = None
    for i in range(len(chunk_keys)):
        a, b = keyed.alias("a"), keyed.alias("b")
        p = a.join(
            b,
            (F.col(f"a.c{i}") == F.col(f"b.c{i}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{hash_col}").alias("h_a"),
            F.col(f"b.{hash_col}").alias("h_b"),
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        pairs.distinct()
        .select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard verification
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over word n-grams for given candidate (id_a,
    id_b) pairs. Shingle arrays are joined in, intersection/union via
    array ops — the heavy explode only happens for candidates, never
    the full corpus. Pass ``shingle_df`` (persisted (id, sh)) to reuse
    shingles computed once elsewhere."""
    sh = (
        shingle_df
        if shingle_df is not None
        else shingles_df(docs, text_col, id_col, n)
    )
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        pairs.join(a, pairs.id_a == F.col(f"a.{id_col}"))
        .join(b, pairs.id_b == F.col(f"b.{id_col}"))
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
                / F.size(F.array_union("a.sh", "b.sh"))
            ).alias("jaccard"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """DIRECTED shingle containment |A∩B|/|A| and |A∩B|/|B| for the
    given candidate pairs — the asymmetric near-dup signal Jaccard
    misses: a short document fully quoted inside a much longer one has
    containment ~1.0 from the short side while Jaccard (normalized by
    the union) stays low. Same candidates-only join shape as
    ngram_jaccard_pairs: the shingle arrays join in by id, nothing
    corpus-wide explodes."""
    sh = (
        shingle_df
        if shingle_df is not None
        else shingles_df(docs, text_col, id_col, n)
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
    return (
        pairs.join(a, pairs.id_a == F.col(f"a.{id_col}"))
        .join(b, pairs.id_b == F.col(f"b.{id_col}"))
        .select(
            "id_a",
            "id_b",
            (inter / F.size("a.sh")).alias("containment_a"),
            (inter / F.size("b.sh")).alias("containment_b"),
        )
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    corpus_sh_df: DataFrame | None = None,
    corpus_sig_df: DataFrame | None = None,
    new_sh_df: DataFrame | None = None,
) -> DataFrame:
    """Surviving rows of ``new_docs``: drop anything that is an exact
    or near (Jaccard >= t) duplicate of the EXISTING corpus.

    This is the incremental-ingest path of the stored-signature
    design: the corpus side's digests / shingles / signatures are
    read from persisted tables (pass ``corpus_sh_df`` /
    ``corpus_sig_df``; recomputed here only as a stand-in), so a new
    batch costs hash(new) + two key joins against stored state — the
    100 TB corpus is never re-hashed per batch.

    Plan shape: anti-join on content digest (exact), then new-batch
    LSH bands equi-joined against stored corpus bands (never a corpus
    self-join), Jaccard verify on candidates only, anti-join the
    flagged ids. New-vs-new duplicates are the batch's own
    ``near_dup_pairs`` problem, handled before or after this call.
    """
    digest = F.md5(normalize_text(F.col(text_col)))
    corpus_digests = corpus_docs.select(digest.alias("content_hash")).distinct()
    fresh = new_docs.select(F.col(id_col), digest.alias("content_hash")).join(
        corpus_digests, "content_hash", "left_anti"
    ).select(id_col)
    survivors = new_docs.join(fresh, id_col, "left_semi")

    # new_sh_df: a precomputed (id, sh) table covering new_docs (the
    # caller already shingled the batch — e.g. for its within-batch
    # near_dup_pairs) — semi-joined down instead of re-shingling
    new_sh = (
        new_sh_df.join(fresh, id_col, "left_semi")
        if new_sh_df is not None
        else shingles_df(survivors, text_col, id_col, shingle_n)
    )
    corpus_sh = (
        corpus_sh_df
        if corpus_sh_df is not None
        else shingles_df(corpus_docs, text_col, id_col, shingle_n)
    )
    corpus_sig = (
        corpus_sig_df
        if corpus_sig_df is not None
        else minhash_signatures_from_shingles(corpus_sh, id_col, num_hashes)
    )
    new_sig = minhash_signatures_from_shingles(new_sh, id_col, num_hashes)
    new_b = minhash_lsh_buckets(
        survivors, text_col, id_col, num_hashes, bands, shingle_n, sig_df=new_sig
    ).alias("l")
    corpus_b = minhash_lsh_buckets(
        corpus_docs, text_col, id_col, num_hashes, bands, shingle_n, sig_df=corpus_sig
    ).alias("r")
    cands = (
        new_b.join(
            corpus_b,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_key") == F.col("r.band_key")),
        )
        .select(
            F.col(f"l.{id_col}").alias("new_id"), F.col(f"r.{id_col}").alias("corpus_id")
        )
        .distinct()
    )
    # Jaccard verify needs corpus shingles only for CANDIDATE corpus
    # docs — semi-join before shingling so a 100 TB corpus is never
    # re-shingled per batch (unless a persisted shingle table was
    # handed in, which is already cheap to probe).
    if corpus_sh_df is None:
        cand_corpus = corpus_docs.join(
            cands.select(F.col("corpus_id").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        )
        corpus_sh = shingles_df(cand_corpus, text_col, id_col, shingle_n)
    a, b = new_sh.alias("a"), corpus_sh.alias("b")
    dup_ids = (
        cands.join(a, cands.new_id == F.col(f"a.{id_col}"))
        .join(b, cands.corpus_id == F.col(f"b.{id_col}"))
        .where(
            F.size(F.array_intersect("a.sh", "b.sh"))
            >= F.lit(threshold) * F.size(F.array_union("a.sh", "b.sh"))
        )
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return survivors.join(dup_ids, id_col, "left_anti")


def near_dup_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    shingle_df: DataFrame | None = None,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """End-to-end near-dup: LSH candidates -> exact Jaccard >= t.

    With ``shingle_df`` (a persisted (id, sh) table) the shingle set is
    computed ONCE and reused by both the signature chain and the
    Jaccard verification — at 100 TB this is the stored-signatures
    design: hash the corpus once, join candidates against the stored
    table (cf. reference-scale dedup pipelines)."""
    sh = (
        shingle_df
        if shingle_df is not None
        else shingles_df(docs, text_col, id_col, shingle_n)
    )
    sig = minhash_signatures_from_shingles(sh, id_col, num_hashes)
    cands = minhash_lsh_pairs(
        docs, text_col, id_col, num_hashes, bands, shingle_n, sig_df=sig,
        bucket_cap=bucket_cap,
    )
    return ngram_jaccard_pairs(
        docs, cands, text_col, id_col, shingle_n, shingle_df=sh
    ).where(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# connected-component duplicate clustering
# ---------------------------------------------------------------------------

# A duplicate graph with at most this many edges is solved on the
# driver in one step (collect + union-find): the edge list is a few MB
# there, and each distributed round below costs ~2 Spark jobs, which
# dominates a graph of a few hundred edges. Corpus-sized graphs stay on
# the rounds.
LOCAL_SOLVE_EDGES = 100_000


def duplicate_components(
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over a duplicate-pair graph: every doc in
    a component keeps the component's min id as its cluster
    representative — the exact clustering the greedy drop-the-higher-
    id rule approximates (greedy can over-drop when a<b, b<c pairs
    exist but a,c were never compared; components never do).

    The edge list is materialized once, and the edge count observed on
    that pass picks the solver:

    - at most ``LOCAL_SOLVE_EDGES`` edges: one collect and one
      union-find on the driver; the result is an Arrow-built local
      relation (2 Spark jobs in all, no Python worker).
    - more: iterative min-label propagation over the undirected edge
      set, with a POINTER-JUMP (path-halving) step each round — after
      adopting the neighborhood min, every node re-adopts the label of
      its current label. The jump halves the remaining label chain, so
      convergence is O(log diameter) rounds, not O(diameter): even a
      pathological 1e6-long duplicate chain converges in ~20 rounds,
      and dedup graphs (near-clique boilerplate clusters) in 2-3.

    Round shape (3 exchanges/round, 1 substantial job per round): the
    edge set carries SELF-LOOPS, so one join+aggregate yields both the
    new label (min over self + neighbors — the self-loop row
    contributes the node's own label) and the node's previous label
    (the self-loop row again, via max(when(dst==src))), with no
    separate left-join against the label table. The convergence check
    reads a _changed flag off the eagerly checkpointed round output —
    a cheap block scan, not an old/new label join.

    If ``max_iters`` rounds pass without convergence this RAISES
    rather than silently returning split components (the DuckDB
    oracle computes the exact transitive closure, and a caller acting
    on wrong cluster representatives must get a signal, not quietly
    wrong data). With the jump step, the default of 20 rounds covers
    component diameters up to ~2^20 — exhaustion means something is
    genuinely wrong.

    Input: (id_a, id_b) pairs; a pair with a null end is no edge.
    Output: (doc_id, component) for every node that appears in a pair
    (isolated docs are their own trivial component and are not
    emitted).
    """
    # Materialize the edge list ONCE before anything fans out over it:
    # `sym` references it 3x (fwd ∪ rev ∪ self-loops) and `labels`
    # derives from `nodes` again — with a lazy/no checkpoint all four
    # references re-run the upstream PAIR PIPELINE (for the dedup
    # family that is the full minhash/LSH band join; measured: ~4
    # evaluations ≈ 100 executor-seconds on dedup_bcubed at sf0.1,
    # guide §2.4 "materialise an intermediate"). Eager, because the
    # union branches execute inside one job, where a lazy checkpoint
    # is raced and recomputed per branch (r10 ann_recall lesson).
    # Rows are (src, dst) longs — bytes per edge. The edge count is
    # observed on the same pass, so choosing the solver adds no job.
    seen = Observation()
    edges = (
        pairs.select(
            F.col("id_a").cast("long").alias("src"),
            F.col("id_b").cast("long").alias("dst"),
        )
        .dropna()
        .observe(seen, F.count(F.lit(1)).alias("edges"))
        .localCheckpoint(eager=True)
    )
    if seen.get["edges"] <= LOCAL_SOLVE_EDGES:
        return _components_on_driver(edges, id_col)
    # undirected (both directions) + a SELF-LOOP per node: the self
    # edge folds the node's own label into the neighborhood-min
    # aggregate, so no separate "keep my own label" join is needed
    nodes = edges.select(F.col("src").alias("node")).unionByName(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    sym = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .unionByName(
            nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
        )
        .localCheckpoint(eager=False)
    )
    labels = nodes.withColumn("label", F.col("node")).localCheckpoint(
        eager=False
    )
    converged = False
    for _ in range(max_iters):
        # one join + one aggregate: new label = min over self+neighbor
        # labels; previous label = the self-loop row's contribution
        propagated = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(
                F.min("label").alias("label"),
                F.max(
                    F.when(F.col("dst") == F.col("src"), F.col("label"))
                ).alias("_prev"),
            )
            .select(F.col("src").alias("node"), "label", "_prev")
        )
        # pointer jump (path halving): adopt the label OF my label.
        # Every label is itself a node id, so the self-join always
        # resolves; this is what turns O(diameter) into O(log d).
        # Deliberately ONE jump per round: a second jump would nest
        # the un-materialized `propagated` subtree 4x in the plan and
        # (measured, r10) roughly doubles per-round cost for a far
        # smaller round-count saving.
        parent = propagated.select(
            F.col("node").alias("_pn0"), F.col("label").alias("_pl0")
        )
        jumped = propagated.join(
            parent, propagated.label == parent["_pn0"], "left"
        ).select(
            "node",
            "_prev",
            F.coalesce(F.col("_pl0"), F.col("label")).alias("label"),
        )
        new_labels = jumped.select(
            "node",
            "label",
            (F.col("label") != F.col("_prev")).alias("_changed"),
        ).localCheckpoint(eager=True)
        changed = new_labels.where("_changed").limit(1).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"duplicate_components did not converge within {max_iters} "
            "rounds; with pointer jumping that needs a component diameter "
            f"> 2^{max_iters} — inspect the pair graph or raise max_iters"
        )
    return labels.select(
        F.col("node").alias(id_col), F.col("label").alias("component")
    )


def _components_on_driver(edges: DataFrame, id_col: str) -> DataFrame:
    """The small-graph solve: union-find over the collected (src, dst)
    edges. Roots are always their component's min id (the larger root
    joins the smaller), so a node's root is its component. The result
    is built from an Arrow table — a local relation — because a frame
    from a Python list is a parallelized RDD whose rows a Python worker
    must unpickle. The edge checkpoint is released once the result is
    built."""
    import pyarrow as pa

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edges.collect():
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = sorted(parent)
    table = pa.table(
        {
            id_col: pa.array(nodes, pa.int64()),
            "component": pa.array([find(n) for n in nodes], pa.int64()),
        }
    )
    spark = edges.sparkSession
    out = spark.createDataFrame(table)
    # the result is a local relation: nothing reads the edge checkpoint
    # again, so its blocks go now rather than stay for the session
    spark.sparkContext._jsc.sc().unpersistRDD(rdd_id(edges), False)
    return out


# ---------------------------------------------------------------------------
# exact substring dedup (content-defined anchor fingerprinting)
# ---------------------------------------------------------------------------

def substring_windows(
    c: Column, min_len: int = 40, seed_len: int = 8, anchor_mod: int = 8
) -> Column:
    """Array of ``min_len``-char windows of the normalized text taken
    at CONTENT-DEFINED anchor positions: position i anchors iff the
    md5 of its ``seed_len``-char prefix is 0 mod ``anchor_mod`` (the
    winnowing/rsync trick). Because anchoring depends only on local
    content, two documents sharing a long substring produce IDENTICAL
    windows inside the shared region regardless of offset — fixed-
    stride sampling would miss unaligned copies. Expected density is
    one window per ``anchor_mod`` positions; a shared span of length
    L >= min_len is detected with probability
    1 - (1 - 1/anchor_mod)^(L - min_len + 1)."""
    nt = normalize_text(c)
    return bound(
        nt,
        lambda t: F.filter(
            F.transform(
                F.sequence(
                    F.lit(0), F.greatest(F.length(t) - F.lit(min_len), F.lit(0))
                ),
                lambda i: F.when(
                    (i + F.lit(min_len) <= F.length(t))
                    & (
                        md5_long(F.substr(t, i + 1, F.lit(seed_len)))
                        % F.lit(anchor_mod)
                        == 0
                    ),
                    F.substr(t, i + 1, F.lit(min_len)),
                ),
            ),
            lambda w: w.isNotNull(),
        ),
    )


def substring_dup_pairs(
    docs: DataFrame,
    min_len: int = 40,
    seed_len: int = 8,
    anchor_mod: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_a, id_b, n_shared_windows): document pairs sharing at least
    one exact ``min_len``-char substring window at content-defined
    anchors — the scalable approximation of suffix-array exact-
    substring dedup (which needs a global sort at 100 TB; this needs
    one groupBy-free explode and one equi-join on the window string,
    with join keys exact by construction — no hash-collision verify
    step). AQE's skew handling covers hot windows (boilerplate); the
    anchor density knob bounds explode volume."""
    docs = repartition_for_compute(docs, id_col)
    wins = (
        docs.select(
            F.col(id_col),
            F.explode(
                substring_windows(F.col(text_col), min_len, seed_len, anchor_mod)
            ).alias("win"),
        )
        .distinct()
        # NO materialization here, deliberately (measured r5): the two
        # self-join sides are IDENTICAL plans, so Spark reuses the
        # distinct's shuffle exchange (ReusedExchange) — the expensive
        # per-position md5 anchor scan runs ONCE already. A
        # localCheckpoint would break that reuse and add a full
        # materialization of the window strings: 1.04 s -> 2.74 s
        # median at sf0.1 under the bench's write-forced protocol.
    )
    a, b = wins.alias("a"), wins.alias("b")
    return (
        a.join(
            b,
            (F.col("a.win") == F.col("b.win"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").cast("long").alias("n_shared_windows"))
    )
