"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with decode / feature-extract / resize as Arrow-batched
pandas operations (video frame sampling lives in ``video``).

Design (the part that matters at 100 TB):
- media is an opaque ``binary`` column next to a typed metadata
  struct — the scan prunes metadata-only queries to the metadata
  columns and never touches the bytes (Parquet column pruning).
- decode/resize run as ``mapInPandas`` over partitions:
  Arrow moves the bytes once per batch, work is embarrassingly
  parallel, output schema is fixed up front.
- decode is REAL for the uncompressed formats a dependency-free
  decoder can handle: PPM (P6/P5) and BMP (24/32bpp uncompressed),
  parsed with struct/numpy — actual bytes -> (w, h, pixels) ->
  channel statistics. Compressed formats (jpeg/png/video) need
  PIL/ffmpeg, absent from this container: ``decode_stub=True`` swaps
  in a deterministic fake for those so the plumbing — schema, batch
  shape, partitioning — still runs; a PIL call drops into
  ``_decode_image_bytes`` unchanged.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from vanus_spark.llm.dedup import pigeonhole_hamming_pairs
from vanus_spark.operators.parallelism import repartition_for_compute

IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)


# ---------------------------------------------------------------------------
# dependency-free codecs: PPM (P6/P5) and BMP (24/32bpp uncompressed)
# ---------------------------------------------------------------------------

def encode_ppm(pixels: np.ndarray) -> bytes:
    """(H, W, 3) uint8 -> binary PPM (P6)."""
    h, w = pixels.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        pixels, dtype=np.uint8
    ).tobytes()


def decode_ppm(raw: bytes) -> np.ndarray:
    """Binary PPM/PGM (P6/P5, maxval <= 255) -> (H, W, 3) uint8.
    Real header parse: whitespace-separated tokens, '#' comments."""
    magic = raw[:2]
    if magic not in (b"P6", b"P5"):
        raise ValueError("not a binary PPM/PGM")
    tokens: list[int] = []
    i = 2
    while len(tokens) < 3:
        while i < len(raw) and raw[i : i + 1].isspace():
            i += 1
        if raw[i : i + 1] == b"#":
            while i < len(raw) and raw[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(raw) and not raw[j : j + 1].isspace():
            j += 1
        tokens.append(int(raw[i:j]))
        i = j
    i += 1  # single whitespace after maxval, then the raster
    w, h, maxval = tokens
    if maxval > 255:
        raise ValueError("16-bit PPM unsupported")
    ch = 3 if magic == b"P6" else 1
    arr = np.frombuffer(raw, dtype=np.uint8, count=w * h * ch, offset=i).reshape(
        h, w, ch
    )
    return np.repeat(arr, 3, axis=2) if ch == 1 else arr


def decode_bmp(raw: bytes) -> np.ndarray:
    """Uncompressed 24/32bpp BMP -> (H, W, 3) uint8 (BGR -> RGB,
    bottom-up rows flipped, 4-byte row padding honored)."""
    if raw[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = struct.unpack_from("<I", raw, 10)[0]
    w, h = struct.unpack_from("<ii", raw, 18)
    bpp = struct.unpack_from("<H", raw, 28)[0]
    compression = struct.unpack_from("<I", raw, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    flip = h > 0
    h = abs(h)
    nch = bpp // 8
    stride = (w * nch + 3) & ~3
    rows = np.frombuffer(
        raw, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)
    img = rows[:, : w * nch].reshape(h, w, nch)[:, :, 2::-1]  # BGR(A) -> RGB
    return img[::-1] if flip else img


# order of the 8-entry feature vector decode_images emits
IMAGE_FEATURES = (
    "mean_r", "mean_g", "mean_b", "std_r", "std_g", "std_b",
    "min_gray", "max_gray",
)


def _pixel_features(px: np.ndarray) -> list[float]:
    """Channel statistics over (H, W, 3) uint8 — the IMAGE_FEATURES
    vector. gray is the integer (r+g+b)//3 so min/max stay exact."""
    flat = px.reshape(-1, 3).astype(np.float64)
    gray = px.reshape(-1, 3).astype(np.uint32).sum(axis=1) // 3
    return [
        *flat.mean(axis=0).tolist(),
        *flat.std(axis=0).tolist(),
        float(gray.min()),
        float(gray.max()),
    ]


def _decode_image_bytes(raw: bytes, stub: bool) -> tuple[int, int, list[float]]:
    """Returns (width, height, feature_vec[8]). PPM/BMP decode for
    real — bytes to pixels to channel stats; compressed formats fall
    back to the deterministic fake (stub=True) or raise (stub=False,
    where a PIL.Image.open drops in)."""
    magic = raw[:2]
    if magic in (b"P6", b"P5", b"BM"):
        px = decode_bmp(raw) if magic == b"BM" else decode_ppm(raw)
        h, w = px.shape[:2]
        return w, h, _pixel_features(px)
    if not stub:
        raise NotImplementedError(
            "jpeg/png/gif decode requires PIL — not in this image; "
            "pass decode_stub=True, or use PPM/BMP which decode natively"
        )
    # deterministic fake: dimensions + features derived from content digest
    d = hashlib.md5(raw or b"").digest()
    w = 64 + d[0] % 192
    h = 64 + d[1] % 192
    feats = [b / 255.0 for b in d[2:10]]
    return w, h, feats


def attach_image_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Metadata that needs no decode: byte length, magic sniffing.
    Pure column ops — stays JVM-side."""
    c = F.col(content_col)
    magic = F.hex(F.substring(c, 1, 4))
    fmt = (
        F.when(magic.startswith("FFD8"), "jpeg")
        .when(magic == "89504E47", "png")
        .when(magic.startswith("47494638"), "gif")
        .when(magic.startswith("5036"), "ppm")
        .when(magic.startswith("5035"), "pgm")
        .when(magic.startswith("424D"), "bmp")
        .otherwise("unknown")
    )
    return df.withColumn(
        "meta",
        F.struct(
            fmt.alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.length(c).cast("long").alias("n_bytes"),
        ),
    )


def decode_images(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    decode_stub: bool = True,
) -> DataFrame:
    """Decode -> (width, height, features array<double>). mapInPandas:
    one Arrow transfer per batch, fixed output schema."""
    out_schema = (
        f"{id_col} long, width int, height int, features array<double>"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, raw in zip(pdf[id_col], pdf[content_col]):
                w, h, feats = _decode_image_bytes(
                    bytes(raw) if raw is not None else b"", decode_stub
                )
                rows.append({id_col: mid, "width": w, "height": h, "features": feats})
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=out_schema)


def resize_images(
    df: DataFrame,
    target_w: int,
    target_h: int,
    content_col: str = "content",
    id_col: str = "media_id",
    decode_stub: bool = True,
) -> DataFrame:
    """Resize: REAL nearest-neighbor resample for PPM/BMP content
    (decode -> index-map -> re-encode P6); compressed formats fall
    back to a deterministic fake (or raise with decode_stub=False)."""
    out_schema = f"{id_col} long, content binary, width int, height int"

    def _resize_one(raw_b: bytes) -> bytes:
        magic = raw_b[:2]
        if magic in (b"P6", b"P5", b"BM"):
            px = decode_bmp(raw_b) if magic == b"BM" else decode_ppm(raw_b)
            h, w = px.shape[:2]
            ys = (np.arange(target_h) * h) // target_h
            xs = (np.arange(target_w) * w) // target_w
            return encode_ppm(px[ys][:, xs])
        if not decode_stub:
            raise NotImplementedError("jpeg/png resize requires PIL")
        # fake resize: content digest re-keyed by target size
        return hashlib.md5(raw_b + f"{target_w}x{target_h}".encode()).digest()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, raw in zip(pdf[id_col], pdf[content_col]):
                raw_b = bytes(raw) if raw is not None else b""
                rows.append(
                    {
                        id_col: mid,
                        "content": _resize_one(raw_b),
                        "width": target_w,
                        "height": target_h,
                    }
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=out_schema)


def synthesize_ppm_images(
    docs: DataFrame, id_col: str = "doc_id", max_rows: int | None = None
) -> DataFrame:
    """(media_id, content): genuine binary PPM (P6) images built as
    pure Columns — header + a position-varying raster where pixel j
    is ((id + j) % 256, (id*7 + j) % 256, (id*13 + j) % 256) — then
    encoded ISO-8859-1 (1:1 char -> byte). Everything stays JVM-side;
    the bytes are real images the native decoder must actually parse."""
    if max_rows:
        docs = docs.limit(max_rows)
    # widen BEFORE synthesis (guide §8): ids shuffle, media bytes don't
    docs = repartition_for_compute(docs)
    mid = F.col(id_col)
    w = (F.lit(4) + mid % 8).cast("int")
    h = (F.lit(3) + mid % 5).cast("int")
    raster = F.aggregate(
        F.sequence(F.lit(0), (w * h - 1).cast("long")),
        F.lit(""),
        lambda acc, j: F.concat(
            acc,
            F.char((mid + j) % 256),
            F.char((mid * 7 + j) % 256),
            F.char((mid * 13 + j) % 256),
        ),
    )
    header = F.concat(
        F.lit("P6\n"), w.cast("string"), F.lit(" "), h.cast("string"), F.lit("\n255\n")
    )
    return docs.select(
        mid.alias("media_id"),
        F.encode(F.concat(header, raster), "ISO-8859-1").alias("content"),
    )


def synthesize_media_from_documents(docs: DataFrame) -> DataFrame:
    """Test fixture: treat document text bytes as opaque media content
    (keeps the pipeline runnable without real image data)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
    )


# ---------------------------------------------------------------------------
# perceptual hashing (average hash) + hamming near-dup over images
# ---------------------------------------------------------------------------

def synthesize_ppm_block_images(
    docs: DataFrame, id_col: str = "doc_id", variants: int = 5
) -> DataFrame:
    """(media_id, content): 16x16 binary PPM (P6) images built as pure
    Columns whose 2x2-pixel blocks encode a 64-bit md5-derived pattern
    per BASE id (base = id // variants); every non-base variant flips
    exactly one block. Under the 8x8 average hash a base's variants
    therefore sit within hamming 2 of each other while distinct bases
    stay >= 16 apart (measured over 200 bases: popcount 22-42, min
    cross-base hamming 16) -- a controlled near-dup fixture whose hash
    the oracle can re-derive arithmetically from this same formula."""
    # id-only exchange before per-pixel synthesis + codec seam
    docs = repartition_for_compute(docs)
    mid = F.col(id_col)
    base = (mid / variants).cast("long")
    v = mid % variants
    flip_k = (base + v - 1) % 64

    def block_gray(k):  # k: block index Column (0..63)
        raw = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            base.cast("string"),
                            F.lit(":"),
                            k.cast("long").cast("string"),
                        )
                    ),
                    1,
                    1,
                ),
                16,
                10,
            ).cast("int")
            % 2
        )
        bit = F.when((v > 0) & (k.cast("long") == flip_k), 1 - raw).otherwise(raw)
        return (F.lit(50) + F.lit(150) * bit).cast("int")

    grays = F.transform(F.sequence(F.lit(0), F.lit(63)), block_gray)

    # LET-BINDING via a 1-element transform: the 64-entry gray table
    # becomes a lambda VARIABLE, so the md5 transform evaluates once
    # per row and every element_at reads the bound array. Binding it
    # as a withColumn instead gets CollapseProject-inlined into every
    # one of the 128 references (measured 16x slower); a per-pixel
    # aggregate-concat additionally recopies the accumulator per step.
    def raster_from(g):
        # pixel row p covers block row p//2; each of its 8 blocks
        # contributes 2 pixels x 3 channels = 6 identical chars
        def pixel_row(p):
            return F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(7)),
                    lambda c: F.repeat(
                        F.char(
                            F.element_at(
                                g,
                                (F.shiftright(p.cast("int"), 1) * 8 + c.cast("int"))
                                + 1,
                            )
                        ),
                        6,
                    ),
                ),
                "",
            )

        return F.array_join(
            F.transform(F.sequence(F.lit(0), F.lit(15)), pixel_row), ""
        )

    raster = F.element_at(F.transform(F.array(grays), raster_from), 1)
    header = F.lit("P6\n16 16\n255\n")
    return docs.select(
        mid.alias("media_id"),
        F.encode(F.concat(header, raster), "ISO-8859-1").alias("content"),
    )


def image_ahash(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    grid: int = 8,
) -> DataFrame:
    """Average hash: decode, pool to a grid x grid block matrix, set
    bit k (row-major) iff that block's brightness exceeds the image
    mean. ALL-INTEGER comparison (block_sum * n_blocks > total_sum) so
    the bit is exact -- no float mean to disagree with an oracle. The
    packed hash is the two's-complement int64 of the 64-bit pattern.
    Requires width and height divisible by ``grid`` (the resize step
    for arbitrary sizes is the PIL seam, absent from this container)."""
    if grid * grid != 64:
        raise ValueError("image_ahash packs exactly 64 bits: grid must be 8")
    out_schema = f"{id_col} long, ahash long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = (np.uint64(1) << np.arange(64, dtype=np.uint64)).reshape(grid, grid)
        for pdf in batches:
            ids, hashes = [], []
            for mid_, raw in zip(pdf[id_col], pdf[content_col]):
                b = bytes(raw)
                px = decode_bmp(b) if b[:2] == b"BM" else decode_ppm(b)
                h, w = px.shape[:2]
                if h % grid or w % grid:
                    raise ValueError(
                        f"image {mid_}: {w}x{h} not divisible by grid {grid}"
                    )
                bright = px.astype(np.int64).sum(axis=2)  # per-pixel r+g+b
                blocks = bright.reshape(grid, h // grid, grid, w // grid).sum(
                    axis=(1, 3)
                )
                bits = (blocks * (grid * grid) > bright.sum()).astype(np.uint64)
                packed = np.int64((bits * weights).sum(dtype=np.uint64).astype(np.int64))
                ids.append(mid_)
                hashes.append(packed)
            yield pd.DataFrame({id_col: ids, "ahash": hashes})

    return df.mapInPandas(run, schema=out_schema)


def ahash_near_pairs(
    hashes: DataFrame,
    max_hamming: int = 2,
    id_col: str = "media_id",
    hash_col: str = "ahash",
    chunks: int | None = None,
) -> DataFrame:
    """Near-dup image pairs with hamming(ahash_a, ahash_b) <=
    max_hamming, via dedup.pigeonhole_hamming_pairs, the blocking
    dedup.simhash_near_pairs uses too: any pair within radius
    chunks-1 shares an identical chunk, so candidates come from
    ``chunks`` equi-joins and the exact bit_count(xor) check runs only
    on candidates. shiftrightunsigned keeps the top chunk of a
    negative (bit-63-set) hash from smearing sign bits.

    ``chunks`` defaults to max_hamming + 1 -- the FEWEST chunks that
    preserve full recall, hence the WIDEST chunk keys. This is the
    scale lever: 8 chunks of 8 bits have only 256 key values, so at
    250k docs every bucket holds ~1k docs and the candidate join goes
    quadratic (measured: 33x time at 50x data); 3 chunks of 21 bits
    keep buckets ~collision-free and candidates ~= true pairs. The
    last chunk absorbs the 64 % chunks remainder bits (diffs in
    wider coverage only improve the pigeonhole bound)."""
    if chunks is None:
        chunks = max_hamming + 1
    if max_hamming > chunks - 1:
        raise ValueError("pigeonhole blocking needs max_hamming <= chunks - 1")
    chunk_bits = 64 // chunks

    def chunk_key(i: int) -> Column:
        shifted = F.shiftrightunsigned(hash_col, i * chunk_bits)
        width = 64 - i * chunk_bits if i == chunks - 1 else chunk_bits
        if width >= 64:  # chunks == 1: the whole hash is the key
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    return pigeonhole_hamming_pairs(
        hashes,
        id_col,
        hash_col,
        [chunk_key(i) for i in range(chunks)],
        max_hamming,
    )
