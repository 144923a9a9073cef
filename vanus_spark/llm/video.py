"""Video columns: YUV4MPEG2 (y4m) as opaque binary + typed metadata,
with a REAL dependency-free frame parser — the video sibling of the
PPM/BMP image and WAV audio paths.

y4m is the uncompressed interchange format ffmpeg/mjpegtools speak:
an ASCII header line (``YUV4MPEG2 W.. H.. F..:.. [C..]``) followed by
``FRAME\\n`` + raw planar YUV per frame. That makes it the one video
format a dependency-free decoder can handle honestly:

- header metadata (dims, fps, colorspace, frame count) is parsed with
  PURE COLUMNS — a regexp over the first line plus arithmetic on the
  byte length; metadata queries never leave the JVM and never touch
  the frame bytes.
- frame extraction/stats run as ``mapInPandas`` (Arrow batches,
  numpy plane views). Compressed codecs (h264/vp9 in mp4/webm) need
  ffmpeg, absent from this container: ``decode_stub=True`` substitutes
  a deterministic fake; a real ffmpeg pipe drops into
  ``_iter_y4m_frames`` unchanged.

Reference repo has no video counterpart — this is part of the
LLM-training-data surface this engine adds (multimodal ingest).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from vanus_spark.operators.parallelism import repartition_for_compute

MAGIC = b"YUV4MPEG2"

# colorspace -> bytes per frame as a multiple of (w*h) in sixths
_PLANE_SIXTHS = {"C420": 9, "C420jpeg": 9, "C420mpeg2": 9, "C422": 12, "C444": 18, "Cmono": 6}


def parse_y4m_header(raw: bytes) -> dict:
    """Parse the stream header line. Returns width/height/fps_num/
    fps_den/colorspace/header_len."""
    if not raw.startswith(MAGIC):
        raise ValueError("not a YUV4MPEG2 stream")
    nl = raw.index(b"\n")
    fields = raw[len(MAGIC) : nl].decode("ascii").split()
    out = {"colorspace": "C420", "fps_num": 25, "fps_den": 1}
    for f in fields:
        tag, val = f[0], f[1:]
        if tag == "W":
            out["width"] = int(val)
        elif tag == "H":
            out["height"] = int(val)
        elif tag == "F":
            num, den = val.split(":")
            out["fps_num"], out["fps_den"] = int(num), int(den)
        elif tag == "C":
            out["colorspace"] = "C" + val
    out["header_len"] = nl + 1
    return out


def _iter_y4m_frames(raw: bytes):
    """Yield (frame_index, y_plane, u_plane, v_plane) as uint8 arrays
    (u/v are None for Cmono). Real parse: walks FRAME markers,
    tolerates per-frame params after FRAME."""
    hdr = parse_y4m_header(raw)
    w, h = hdr["width"], hdr["height"]
    cs = hdr["colorspace"]
    if cs not in _PLANE_SIXTHS:
        raise ValueError(f"unsupported y4m colorspace {cs}")
    frame_bytes = w * h * _PLANE_SIXTHS[cs] // 6
    y_len = w * h
    uv_len = (frame_bytes - y_len) // 2
    pos, idx = hdr["header_len"], 0
    while pos < len(raw):
        if raw[pos : pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        nl = raw.index(b"\n", pos)
        pos = nl + 1
        body = np.frombuffer(raw, dtype=np.uint8, count=frame_bytes, offset=pos)
        y = body[:y_len].reshape(h, w)
        u = v = None
        if uv_len:
            u = body[y_len : y_len + uv_len]
            v = body[y_len + uv_len :]
        yield idx, y, u, v
        pos += frame_bytes
        idx += 1


def attach_video_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Stream metadata WITHOUT decoding — pure Columns: regexp over
    the header line, frame count from byte-length arithmetic (assumes
    parameterless FRAME markers, the common case). Stays JVM-side;
    Parquet column pruning keeps the bytes unread for queries that
    only touch ``meta``."""
    c = F.col(content_col)
    text = F.decode(c, "ISO-8859-1")
    line = F.substring_index(text, "\n", 1)
    w = F.regexp_extract(line, r" W(\d+)", 1).cast("int")
    h = F.regexp_extract(line, r" H(\d+)", 1).cast("int")
    fps_num = F.coalesce(
        F.nullif(F.regexp_extract(line, r" F(\d+):\d+", 1), F.lit("")), F.lit("25")
    ).cast("int")
    fps_den = F.coalesce(
        F.nullif(F.regexp_extract(line, r" F\d+:(\d+)", 1), F.lit("")), F.lit("1")
    ).cast("int")
    cs = F.coalesce(
        F.nullif(F.regexp_extract(line, r" (C\S+)", 1), F.lit("")), F.lit("C420")
    )
    sixths = (
        F.when(cs == "C444", 18)
        .when(cs == "C422", 12)
        .when(cs == "Cmono", 6)
        .otherwise(9)
    )
    frame_size = (w * h * sixths / 6).cast("long")
    header_len = F.length(line) + 1
    n_frames = F.floor(
        (F.length(c) - header_len) / (F.lit(6) + frame_size)
    ).cast("int")
    is_y4m = F.substring(c, 1, 9).cast("string") == "YUV4MPEG2"
    return df.withColumn(
        "meta",
        F.when(
            is_y4m,
            F.struct(
                w.alias("width"),
                h.alias("height"),
                fps_num.alias("fps_num"),
                fps_den.alias("fps_den"),
                cs.alias("colorspace"),
                n_frames.alias("n_frames"),
                F.length(c).cast("long").alias("n_bytes"),
            ),
        ),
    )


def sample_video_frames(
    df: DataFrame,
    every_n: int = 2,
    content_col: str = "content",
    id_col: str = "media_id",
    decode_stub: bool = True,
) -> DataFrame:
    """Every Nth frame -> one row of plane statistics + the luma plane
    re-encoded as a binary PGM (P5), so sampled frames flow straight
    into the image operators (multimodal.decode_ppm reads P5). The
    expand shape (1 video row -> k frame rows) is the real ffmpeg
    sampler's; h264/vp9 fall back to a deterministic fake
    (decode_stub=True) or raise."""
    out_schema = (
        f"{id_col} long, frame_index int, width int, height int, "
        "y_mean double, y_min int, y_max int, u_mean double, v_mean double, "
        "frame_pgm binary"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, raw in zip(pdf[id_col], pdf[content_col]):
                raw_b = bytes(raw) if raw is not None else b""
                if not raw_b.startswith(MAGIC):
                    if not decode_stub:
                        raise NotImplementedError(
                            "mp4/webm frame sampling requires ffmpeg — not in "
                            "this image; use y4m, which decodes natively"
                        )
                    d = hashlib.md5(raw_b).digest()
                    rows.append(
                        {
                            id_col: mid, "frame_index": 0,
                            "width": 16 + d[0] % 16, "height": 16 + d[1] % 16,
                            "y_mean": d[2] / 2.0, "y_min": 0, "y_max": 255,
                            "u_mean": 128.0, "v_mean": 128.0,
                            "frame_pgm": d,
                        }
                    )
                    continue
                for idx, y, u, v in _iter_y4m_frames(raw_b):
                    if idx % every_n:
                        continue
                    h, w = y.shape
                    pgm = b"P5\n%d %d\n255\n" % (w, h) + y.tobytes()
                    rows.append(
                        {
                            id_col: mid,
                            "frame_index": idx,
                            "width": w,
                            "height": h,
                            "y_mean": float(y.mean()),
                            "y_min": int(y.min()),
                            "y_max": int(y.max()),
                            "u_mean": float(u.mean()) if u is not None else None,
                            "v_mean": float(v.mean()) if v is not None else None,
                            "frame_pgm": pgm,
                        }
                    )
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=out_schema)


# ---------------------------------------------------------------------------
# pure-Column y4m synthesis (real bytes for the parser to walk)
# ---------------------------------------------------------------------------


def synthesize_y4m_video(
    docs: DataFrame, id_col: str = "doc_id", max_rows: int | None = None
) -> DataFrame:
    """(media_id, content): genuine YUV4MPEG2 C444 streams built as
    pure Columns — W=8+(id%3)*4, H=6+(id%3)*2, 2+(id%4) frames; plane
    values are id/frame/position-keyed integers — encoded ISO-8859-1.
    The parser must actually walk FRAME markers to read these."""
    if max_rows:
        docs = docs.limit(max_rows)
    # widen BEFORE synthesis: the exchange carries only ids (guide §8 —
    # shuffle the proxy, not the payload), and both the per-pixel
    # synthesis expressions and the downstream codec mapInPandas seam
    # inherit #cores-way parallelism instead of the narrow scan's
    docs = repartition_for_compute(docs)
    mid = F.col(id_col)
    w = (F.lit(8) + (mid % 3) * 4).cast("long")
    h = (F.lit(6) + (mid % 3) * 2).cast("long")
    nf = (F.lit(2) + mid % 4).cast("long")
    npix = w * h

    def plane(f, a, b):
        # pixel p -> (a + f*b_coeff + p) % 256 rendered as one char each
        return F.aggregate(
            F.sequence(F.lit(0).cast("long"), npix - 1),
            F.lit(""),
            lambda acc, p: F.concat(acc, F.char((a + f * b + p) % 256)),
        )

    frames = F.aggregate(
        F.sequence(F.lit(0).cast("long"), nf - 1),
        F.lit(""),
        lambda acc, f: F.concat(
            acc,
            F.lit("FRAME\n"),
            plane(f, mid, F.lit(7)),          # Y
            plane(f, mid * 5, F.lit(1)),      # U
            plane(f, mid * 11, F.lit(3)),     # V
        ),
    )
    header = F.concat(
        F.lit("YUV4MPEG2 W"), w.cast("string"),
        F.lit(" H"), h.cast("string"),
        F.lit(" F25:1 Ip A1:1 C444\n"),
    )
    return docs.select(
        mid.alias("media_id"),
        F.encode(F.concat(header, frames), "ISO-8859-1").alias("content"),
    )


# ---------------------------------------------------------------------------
# temporal perceptual hash (majority-pooled frame aHash) + near-dup
# ---------------------------------------------------------------------------

def synthesize_y4m_block_videos(
    docs: DataFrame, id_col: str = "doc_id", variants: int = 5
) -> DataFrame:
    """(media_id, content): 3-frame 16x16 C444 y4m clips. Frames 0-1
    carry an md5-derived 64-bit block pattern per BASE id (2x2 luma
    blocks at 50/200, one block flipped per variant — the video
    counterpart of multimodal.synthesize_ppm_block_images); frame 2
    carries per-base NOISE (an independent md5 pattern, no variant
    flip), so the clip signature is correct ONLY if the temporal
    pooling takes a true majority across frames rather than trusting
    any single frame. U/V planes are constant 128."""
    # id-only exchange before per-pixel synthesis + codec seam
    docs = repartition_for_compute(docs)
    mid = F.col(id_col)
    base = (mid / variants).cast("long")
    v = mid % variants
    flip_k = (base + v - 1) % 64

    def block_gray(k, noise: bool):
        tag = F.lit(":n:") if noise else F.lit(":")
        raw = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            base.cast("string"),
                            tag,
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
        if noise:
            bit = raw
        else:
            bit = F.when(
                (v > 0) & (k.cast("long") == flip_k), 1 - raw
            ).otherwise(raw)
        return (F.lit(50) + F.lit(150) * bit).cast("int")

    gmain = F.transform(
        F.sequence(F.lit(0), F.lit(63)), lambda k: block_gray(k, False)
    )
    gnoise = F.transform(
        F.sequence(F.lit(0), F.lit(63)), lambda k: block_gray(k, True)
    )

    # LET-BINDING via a 1-element transform (see
    # multimodal.synthesize_ppm_block_images): both 64-entry gray
    # tables ride one struct lambda variable, evaluating their md5
    # chains once per row — a withColumn binding gets
    # CollapseProject-inlined into every pixel reference.
    def frames_from(tabs):
        def yplane(f):
            table = tabs.getField("main") if f < 2 else tabs.getField("noise")

            def pixel_row(p):
                return F.array_join(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(7)),
                        lambda c: F.repeat(
                            F.char(
                                F.element_at(
                                    table,
                                    (
                                        F.shiftright(p.cast("int"), 1) * 8
                                        + c.cast("int")
                                    )
                                    + 1,
                                )
                            ),
                            2,
                        ),
                    ),
                    "",
                )

            return F.array_join(
                F.transform(F.sequence(F.lit(0), F.lit(15)), pixel_row), ""
            )

        uv = F.repeat(F.char(F.lit(128)), 256)
        return F.concat(
            *[F.concat(F.lit("FRAME\n"), yplane(f), uv, uv) for f in range(3)]
        )

    frames = F.element_at(
        F.transform(
            F.array(F.struct(gmain.alias("main"), gnoise.alias("noise"))),
            frames_from,
        ),
        1,
    )
    header = F.lit("YUV4MPEG2 W16 H16 F25:1 Ip A1:1 C444\n")
    return docs.select(
        mid.alias("media_id"),
        F.encode(F.concat(header, frames), "ISO-8859-1").alias("content"),
    )


def video_phash(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    grid: int = 8,
    every_n: int = 1,
) -> DataFrame:
    """Clip-level perceptual hash: aHash every sampled frame's LUMA
    plane (grid x grid integer block pooling, block_sum * n_blocks >
    frame_total threshold — the same integer-exact rule as
    multimodal.image_ahash) and pool bits across frames by STRICT
    MAJORITY (bit set iff set in more than half the sampled frames).
    Majority pooling makes the signature robust to an outlier frame
    (scene card, corruption) that would poison a single-frame hash.
    Emits (id, vhash long); pair with multimodal.ahash_near_pairs
    (hash_col='vhash'). Frame sizes must divide by ``grid``."""
    if grid * grid != 64:
        raise ValueError("video_phash packs exactly 64 bits: grid must be 8")
    out_schema = f"{id_col} long, vhash long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
        for pdf in batches:
            ids, hashes = [], []
            for mid_, raw in zip(pdf[id_col], pdf[content_col]):
                raw_b = bytes(raw)
                counts = np.zeros(64, dtype=np.int64)
                n_frames = 0
                for idx, y, _u, _v in _iter_y4m_frames(raw_b):
                    if idx % every_n:
                        continue
                    h, w = y.shape
                    if h % grid or w % grid:
                        raise ValueError(
                            f"clip {mid_}: {w}x{h} not divisible by {grid}"
                        )
                    ys = y.astype(np.int64)
                    blocks = ys.reshape(grid, h // grid, grid, w // grid).sum(
                        axis=(1, 3)
                    )
                    counts += (
                        (blocks * (grid * grid) > ys.sum()).astype(np.int64)
                    ).ravel()
                    n_frames += 1
                if n_frames == 0:
                    raise ValueError(f"clip {mid_}: no frames sampled")
                bits = (2 * counts > n_frames).astype(np.uint64)
                hashes.append(
                    np.int64(
                        (bits * weights).sum(dtype=np.uint64).astype(np.int64)
                    )
                )
                ids.append(mid_)
            yield pd.DataFrame({id_col: ids, "vhash": hashes})

    return df.mapInPandas(run, schema=out_schema)
