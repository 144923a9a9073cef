"""Audio columns: WAV as opaque binary + typed metadata, with a REAL
dependency-free PCM codec (struct/numpy) behind Arrow-batched pandas
operations — the audio sibling of multimodal.py's PPM/BMP image path.

Design (the part that matters at 100 TB):
- audio is an opaque ``binary`` column; header sniffing and byte
  length are pure Columns, so metadata-only queries never move the
  bytes (Parquet column pruning).
- decode/resample/window run as ``mapInPandas``: one Arrow transfer
  per batch, fixed output schema, embarrassingly parallel.
- the codec handles what a dependency-free decoder honestly can:
  RIFF/WAVE chunk walk, PCM (format 1) at 8-bit unsigned / 16-bit
  signed LE, any channel count. Compressed codecs (mp3/ogg/aac) need
  an external library absent from this container: ``decode_stub=True``
  substitutes a deterministic fake so the plumbing still runs, and a
  real soundfile/ffmpeg call drops into ``_decode_audio_bytes``
  unchanged.

Reference repo has no audio counterpart — this is part of the
LLM-training-data surface this engine adds (multimodal ingest).
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from vanus_spark.operators.parallelism import repartition_for_compute

# ---------------------------------------------------------------------------
# dependency-free WAV codec (RIFF, PCM 8-bit unsigned / 16-bit signed LE)
# ---------------------------------------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int, bits: int = 16) -> bytes:
    """(n,) or (n, channels) int array -> RIFF/WAVE PCM bytes.
    bits=16: int16 signed LE; bits=8: uint8 unsigned."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    if bits == 16:
        raw = samples.astype("<i2").tobytes()
    elif bits == 8:
        raw = samples.astype(np.uint8).tobytes()
    else:
        raise ValueError("bits must be 8 or 16")
    block_align = ch * bits // 8
    fmt = struct.pack(
        "<HHIIHH", 1, ch, sample_rate, sample_rate * block_align, block_align, bits
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(raw)) + raw
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(raw: bytes) -> tuple[int, np.ndarray]:
    """RIFF/WAVE PCM bytes -> (sample_rate, (n, channels) float64 in
    [-1, 1)). Real chunk walk: skips unknown chunks (LIST/INFO...),
    honors odd-size padding; PCM format 1 only, 8/16-bit."""
    if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, end = 12, min(len(raw), 8 + struct.unpack_from("<I", raw, 4)[0])
    rate = channels = bits = None
    data = None
    while pos + 8 <= end:
        cid = raw[pos : pos + 4]
        size = struct.unpack_from("<I", raw, pos + 4)[0]
        body = raw[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if audio_fmt != 1:
                raise ValueError(f"non-PCM WAV (format {audio_fmt}) unsupported")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if bits == 16:
        arr = np.frombuffer(data, dtype="<i2", count=len(data) // 2).astype(np.float64)
        arr /= 32768.0
    elif bits == 8:
        arr = np.frombuffer(data, dtype=np.uint8).astype(np.float64)
        arr = (arr - 128.0) / 128.0
    else:
        raise ValueError(f"{bits}-bit PCM unsupported")
    n = len(arr) // channels
    return rate, arr[: n * channels].reshape(n, channels)


# order of the feature vector decode_audio emits
AUDIO_FEATURES = ("mean", "rms", "peak", "zero_cross_rate", "clip_fraction")


def _audio_features(x: np.ndarray) -> list[float]:
    """AUDIO_FEATURES over (n, ch) float64 in [-1, 1) (channel-mixed
    to mono by mean for the scalar stats)."""
    mono = x.mean(axis=1)
    n = max(len(mono), 1)
    signs = np.sign(mono)
    nz = signs != 0
    s = signs[nz]
    crossings = int(np.count_nonzero(s[1:] != s[:-1])) if len(s) > 1 else 0
    clip = float(np.count_nonzero((x >= 32767 / 32768) | (x <= -1.0)) / max(x.size, 1))
    return [
        float(mono.mean()),
        float(np.sqrt((mono**2).mean())) if len(mono) else 0.0,
        float(np.abs(x).max()) if x.size else 0.0,
        crossings / n,
        clip,
    ]


def _decode_audio_bytes(raw: bytes, stub: bool) -> tuple[int, int, int, list[float]]:
    """(sample_rate, n_channels, n_samples, feature_vec). WAV decodes
    for real; other formats use the deterministic fake (stub=True) or
    raise (stub=False, where a soundfile/ffmpeg call drops in)."""
    if raw[:4] == b"RIFF":
        rate, x = decode_wav(raw)
        return rate, x.shape[1], x.shape[0], _audio_features(x)
    if not stub:
        raise NotImplementedError(
            "mp3/ogg/aac decode requires an audio library — not in this "
            "image; pass decode_stub=True, or use WAV which decodes natively"
        )
    d = hashlib.md5(raw or b"").digest()
    rate = 8000 * (1 + d[0] % 6)
    n = 1000 + d[1] * 37
    return rate, 1 + d[2] % 2, n, [b / 255.0 for b in d[3:8]]


def decode_audio(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    decode_stub: bool = True,
) -> DataFrame:
    """Decode -> (sample_rate, n_channels, n_samples, duration_s,
    features array<double>). mapInPandas: one Arrow transfer per
    batch, fixed output schema."""
    out_schema = (
        f"{id_col} long, sample_rate int, n_channels int, n_samples long, "
        "duration_s double, features array<double>"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, raw in zip(pdf[id_col], pdf[content_col]):
                rate, ch, n, feats = _decode_audio_bytes(
                    bytes(raw) if raw is not None else b"", decode_stub
                )
                rows.append(
                    {
                        id_col: mid,
                        "sample_rate": rate,
                        "n_channels": ch,
                        "n_samples": n,
                        "duration_s": n / rate,
                        "features": feats,
                    }
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=out_schema)


def resample_audio(
    df: DataFrame,
    target_rate: int,
    content_col: str = "content",
    id_col: str = "media_id",
    decode_stub: bool = True,
) -> DataFrame:
    """Nearest-neighbor resample to ``target_rate``, re-encoded as
    16-bit PCM WAV (the same index-map strategy as the image resize —
    a windowed-sinc filter drops in per batch when scipy is around)."""
    out_schema = f"{id_col} long, content binary, sample_rate int, n_samples long"

    def _resample_one(raw_b: bytes) -> tuple[bytes, int]:
        if raw_b[:4] == b"RIFF":
            rate, x = decode_wav(raw_b)
            n_out = max(1, (x.shape[0] * target_rate) // rate)
            idx = (np.arange(n_out) * rate) // target_rate
            out = np.clip(x[np.minimum(idx, x.shape[0] - 1)] * 32768.0, -32768, 32767)
            return encode_wav(out.astype(np.int16), target_rate), n_out
        if not decode_stub:
            raise NotImplementedError("compressed-audio resample needs a codec lib")
        fake = hashlib.md5(raw_b + str(target_rate).encode()).digest()
        return fake, len(fake)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, raw in zip(pdf[id_col], pdf[content_col]):
                content, n = _resample_one(bytes(raw) if raw is not None else b"")
                rows.append(
                    {
                        id_col: mid,
                        "content": content,
                        "sample_rate": target_rate,
                        "n_samples": n,
                    }
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=out_schema)


def window_audio(
    df: DataFrame,
    window_s: float = 0.025,
    hop_s: float = 0.010,
    content_col: str = "content",
    id_col: str = "media_id",
    decode_stub: bool = True,
) -> DataFrame:
    """Framing: one audio row -> k analysis-window rows with per-window
    RMS (the expand shape of any feature-extraction front end). Windows
    start at hop multiples; the tail window is truncated, not padded."""
    out_schema = (
        f"{id_col} long, window_index int, start_s double, n_samples int, rms double"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, raw in zip(pdf[id_col], pdf[content_col]):
                raw_b = bytes(raw) if raw is not None else b""
                if raw_b[:4] != b"RIFF":
                    if not decode_stub:
                        raise NotImplementedError("compressed audio needs a codec lib")
                    continue  # stub: non-WAV contributes no windows
                rate, x = decode_wav(raw_b)
                mono = x.mean(axis=1)
                win = max(1, int(round(window_s * rate)))
                hop = max(1, int(round(hop_s * rate)))
                for wi, start in enumerate(range(0, max(len(mono), 1), hop)):
                    chunk = mono[start : start + win]
                    if not len(chunk):
                        break
                    rows.append(
                        {
                            id_col: mid,
                            "window_index": wi,
                            "start_s": start / rate,
                            "n_samples": len(chunk),
                            "rms": float(np.sqrt((chunk**2).mean())),
                        }
                    )
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=out_schema)


# ---------------------------------------------------------------------------
# pure-Column WAV synthesis (real bytes for the codec to parse)
# ---------------------------------------------------------------------------

SYNTH_RATE = 8000


def _u32le(c: Column) -> Column:
    return F.concat(
        F.char(c % 256),
        F.char(F.floor(c / 256) % 256),
        F.char(F.floor(c / 65536) % 256),
        F.char(F.floor(c / 16777216) % 256),
    )


def _u16le(c: Column) -> Column:
    return F.concat(F.char(c % 256), F.char(F.floor(c / 256) % 256))


def synth_sample(mid: Column, j: Column) -> Column:
    """Sample j of media ``mid``: an id-keyed integer sawtooth in
    [0, 255] (8-bit unsigned PCM). Pure integer arithmetic so the
    DuckDB oracle reproduces it bit-exactly."""
    return (mid * 3 + j * (1 + mid % 7)) % 256


def synthesize_wav_audio(
    docs: DataFrame, id_col: str = "doc_id", max_rows: int | None = None
) -> DataFrame:
    """(media_id, content): genuine RIFF/WAVE PCM bytes built as pure
    Columns — 8-bit unsigned mono at SYNTH_RATE Hz, 300 + (id % 8) * 50
    samples of an id-keyed sawtooth — encoded ISO-8859-1 (1:1
    char -> byte). The decoder must actually walk RIFF chunks to read
    these."""
    if max_rows:
        docs = docs.limit(max_rows)
    # widen BEFORE synthesis (guide §8): ids shuffle, media bytes don't
    docs = repartition_for_compute(docs)
    mid = F.col(id_col)
    n = (F.lit(300) + (mid % 8) * 50).cast("long")
    data = F.aggregate(
        F.sequence(F.lit(0).cast("long"), n - 1),
        F.lit(""),
        lambda acc, j: F.concat(acc, F.char(synth_sample(mid, j))),
    )
    fmt = F.concat(
        _u16le(F.lit(1)),  # PCM
        _u16le(F.lit(1)),  # mono
        _u32le(F.lit(SYNTH_RATE)),
        _u32le(F.lit(SYNTH_RATE)),  # byte rate = rate * block_align(1)
        _u16le(F.lit(1)),  # block align
        _u16le(F.lit(8)),  # bits
    )
    wav = F.concat(
        F.lit("RIFF"),
        _u32le(n + 36),  # 4 (WAVE) + 24 (fmt chunk) + 8 (data hdr)
        F.lit("WAVEfmt "),
        _u32le(F.lit(16)),
        fmt,
        F.lit("data"),
        _u32le(n),
        data,
    )
    return docs.select(
        mid.alias("media_id"), F.encode(wav, "ISO-8859-1").alias("content")
    )


# ---------------------------------------------------------------------------
# audio fingerprinting (band-energy signature) + hamming near-dup
# ---------------------------------------------------------------------------

def synthesize_wav_tone_blocks(
    docs: DataFrame, id_col: str = "doc_id", variants: int = 5
) -> DataFrame:
    """(media_id, content): 2048-sample 8-bit WAVs (64 windows of 32
    samples) where each window is either SILENCE (constant 128) or an
    alternating-sign square TONE (128 +/- 40), chosen by an
    md5-derived 64-bit pattern per BASE id (base = id // variants);
    every non-base variant flips one window. The audio counterpart of
    multimodal.synthesize_ppm_block_images: the energy fingerprint of
    a base's variants sits within hamming 2 while distinct bases stay
    far apart, and the whole chain is integer-exact for the oracle."""
    # id-only exchange before per-sample synthesis + codec seam
    docs = repartition_for_compute(docs)
    mid = F.col(id_col)
    base = (mid / variants).cast("long")
    v = mid % variants
    flip_w = (base + v - 1) % 64

    def window_bit(w):  # w: window index Column (0..63)
        raw = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            base.cast("string"),
                            F.lit(":"),
                            w.cast("long").cast("string"),
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
        return F.when((v > 0) & (w.cast("long") == flip_w), 1 - raw).otherwise(raw)

    wbits = F.transform(F.sequence(F.lit(0), F.lit(63)), window_bit)

    # LET-BINDING via a 1-element transform (see
    # multimodal.synthesize_ppm_block_images): the 64 window bits
    # evaluate once per row and each window reads the bound array —
    # a withColumn binding gets CollapseProject-inlined per reference.
    # 32 samples = 16 repeats of the (even, odd) char pair; the
    # per-sample aggregate-concat this replaces recopied the whole
    # accumulator per step (O(n^2) in clip length — minutes per 5k docs).
    def data_from(bits):
        def window_str(w):
            bit = F.element_at(bits, w.cast("int") + 1)
            return F.repeat(
                F.concat(
                    F.char(F.lit(128) + bit * 40), F.char(F.lit(128) - bit * 40)
                ),
                16,
            )

        return F.array_join(
            F.transform(F.sequence(F.lit(0), F.lit(63)), window_str), ""
        )

    n = 2048
    data = F.element_at(F.transform(F.array(wbits), data_from), 1)
    fmt = F.concat(
        _u16le(F.lit(1)),
        _u16le(F.lit(1)),
        _u32le(F.lit(SYNTH_RATE)),
        _u32le(F.lit(SYNTH_RATE)),
        _u16le(F.lit(1)),
        _u16le(F.lit(8)),
    )
    wav = F.concat(
        F.lit("RIFF"),
        _u32le(F.lit(n + 36)),
        F.lit("WAVEfmt "),
        _u32le(F.lit(16)),
        fmt,
        F.lit("data"),
        _u32le(F.lit(n)),
        data,
    )
    return docs.select(
        mid.alias("media_id"),
        F.encode(wav, "ISO-8859-1").alias("content"),
    )


def audio_fingerprint(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    windows: int = 64,
) -> DataFrame:
    """Band-energy fingerprint: decode, split into ``windows`` equal
    sample windows, set bit w iff that window's energy exceeds the
    clip's mean window energy. Energies are integer-exact (squared
    RAW-sample deviations — the normalized floats recover the integer
    exactly for 8-bit PCM), so the threshold bit cannot drift from an
    arithmetic oracle. Packs to the two's-complement int64 of the
    64-bit pattern; pair with multimodal.ahash_near_pairs(hash_col=
    'afp'). Mono or first channel; length must divide evenly."""
    if windows != 64:
        raise ValueError("fingerprint packs exactly 64 bits: windows must be 64")
    out_schema = f"{id_col} long, afp long"

    def run(batches):
        import pandas as pd

        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
        for pdf in batches:
            ids, fps = [], []
            for mid_, raw in zip(pdf[id_col], pdf[content_col]):
                _, x = decode_wav(bytes(raw))
                mono = x[:, 0]
                if len(mono) % windows:
                    raise ValueError(
                        f"clip {mid_}: {len(mono)} samples not divisible "
                        f"by {windows} windows"
                    )
                ints = np.rint(mono * 128.0).astype(np.int64)  # 8-bit exact
                e = (ints * ints).reshape(windows, -1).sum(axis=1)
                bits = (e * windows > e.sum()).astype(np.uint64)
                fps.append(
                    np.int64((bits * weights).sum(dtype=np.uint64).astype(np.int64))
                )
                ids.append(mid_)
            yield pd.DataFrame({id_col: ids, "afp": fps})

    return df.mapInPandas(run, schema=out_schema)
