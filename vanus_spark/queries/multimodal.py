"""Multimodal columns: image, audio and video decode, metadata and
perceptual-hash near-duplicates."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from vanus_spark.queries.common import _t


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing over synthesized binary media. The stub
    decoder is deterministic (md5-derived), so even this has an
    oracle: width/height from the content digest."""
    from vanus_spark.llm.multimodal import (
        attach_image_metadata,
        decode_images,
        synthesize_media_from_documents,
    )

    media = synthesize_media_from_documents(_t(spark, sf_dir, "documents"))
    meta = attach_image_metadata(media).select(
        "media_id", F.col("meta.n_bytes").alias("n_bytes"), F.col("meta.format").alias("format")
    )
    decoded = decode_images(media).select("media_id", "width", "height")
    return meta.join(decoded, "media_id")


def q_multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, no stub: binary PPM rasters are synthesized
    as pure Columns (position-varying pixel colors), then parsed
    byte-for-byte by the dependency-free P6 decoder (struct/numpy)
    inside mapInPandas; the oracle recomputes width/height and the
    channel statistics arithmetically from the pixel formula."""
    from vanus_spark.llm.multimodal import decode_images, synthesize_ppm_images

    media = synthesize_ppm_images(_t(spark, sf_dir, "documents"))
    dec = decode_images(media, decode_stub=False)
    return dec.select(
        "media_id",
        "width",
        "height",
        F.round(F.element_at("features", 1), 6).alias("mean_r"),
        F.round(F.element_at("features", 2), 6).alias("mean_g"),
        F.round(F.element_at("features", 3), 6).alias("mean_b"),
        F.element_at("features", 7).alias("min_gray"),
        F.element_at("features", 8).alias("max_gray"),
    )


def q_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV round-trip: pure-Column RIFF/PCM synthesis (id-keyed
    integer sawtooth, 8-bit mono) -> binary -> the dependency-free
    chunk-walking decoder (decode_stub=False: no fake path) -> sample
    statistics. The oracle recomputes every stat from the generating
    formula; 8-bit samples are exact dyadic rationals, so float sums
    are order-independent and the comparison is exact."""
    from vanus_spark.llm.audio import decode_audio, synthesize_wav_audio

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    dec = decode_audio(synthesize_wav_audio(docs), decode_stub=False)
    f = F.col("features")
    return dec.select(
        "media_id",
        "sample_rate",
        "n_channels",
        "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
        F.round(f[0], 6).alias("mean"),
        F.round(f[1], 6).alias("rms"),
        F.round(f[2], 6).alias("peak"),
        F.round(f[3], 6).alias("zero_cross_rate"),
        F.round(f[4], 6).alias("clip_fraction"),
    )


def q_video_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """y4m stream metadata WITHOUT decoding: pure-Column regexp over
    the header line + byte-length arithmetic for the frame count —
    the plan never leaves the JVM and never reads frame bytes."""
    from vanus_spark.llm.video import attach_video_metadata, synthesize_y4m_video

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    out = attach_video_metadata(synthesize_y4m_video(docs))
    return out.select(
        "media_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.fps_num").alias("fps_num"),
        F.col("meta.fps_den").alias("fps_den"),
        F.col("meta.colorspace").alias("colorspace"),
        F.col("meta.n_frames").alias("n_frames"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL y4m round-trip: pure-Column YUV4MPEG2 synthesis -> binary
    -> the dependency-free FRAME-walking parser (decode_stub=False)
    -> every-2nd-frame plane statistics. The oracle recomputes each
    sampled frame's stats from the generating formula (integer sums,
    exact)."""
    from vanus_spark.llm.video import sample_video_frames, synthesize_y4m_video

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 120)
    out = sample_video_frames(
        synthesize_y4m_video(docs), every_n=2, decode_stub=False
    )
    return out.select(
        "media_id",
        "frame_index",
        "width",
        "height",
        F.round("y_mean", 6).alias("y_mean"),
        "y_min",
        "y_max",
        F.round("u_mean", 6).alias("u_mean"),
        F.round("v_mean", 6).alias("v_mean"),
    )


def q_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal composition, all REAL codecs end-to-end: pure-Column
    y4m synthesis -> FRAME-walking parser samples every 2nd frame and
    re-encodes the luma plane as PGM -> the image codec decodes those
    PGM bytes -> channel statistics. The oracle recomputes the stats
    from the generating formula (integer sums + sqrt: engine-exact)."""
    from vanus_spark.llm.multimodal import decode_images
    from vanus_spark.llm.video import sample_video_frames, synthesize_y4m_video

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    frames = sample_video_frames(
        synthesize_y4m_video(docs), every_n=2, decode_stub=False
    )
    # frame rows become image rows: (media_id*100+frame_index, pgm bytes)
    imgs = frames.select(
        (F.col("media_id") * 100 + F.col("frame_index")).alias("media_id"),
        F.col("frame_pgm").alias("content"),
    )
    dec = decode_images(imgs, decode_stub=False)
    f = F.col("features")
    return dec.select(
        "media_id",
        "width",
        "height",
        F.round(f[0], 6).alias("mean_r"),
        f[6].cast("long").alias("min_gray"),
        f[7].cast("long").alias("max_gray"),
    )


def q_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup over REAL image bytes: binary PPMs
    whose 2x2 blocks encode an md5-derived pattern (one flipped block
    per variant) are decoded byte-for-byte, average-hashed (8x8 block
    pooling, integer-exact threshold), and paired by pigeonhole
    hamming blocking (`multimodal.ahash_near_pairs`). The oracle
    re-derives pixels -> block sums -> threshold -> packed hash ->
    brute-force hamming pairs arithmetically from the same synthesis
    formula."""
    from vanus_spark.llm.multimodal import (
        ahash_near_pairs,
        image_ahash,
        synthesize_ppm_block_images,
    )

    media = synthesize_ppm_block_images(_t(spark, sf_dir, "documents"))
    return ahash_near_pairs(image_ahash(media), max_hamming=2)


def q_video_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup over REAL y4m bytes: 3-frame clips whose luma
    blocks encode the md5 base pattern (frames 0-1) plus a per-base
    NOISE frame (frame 2), frame-aHashed and pooled by strict
    majority (`video.video_phash`) — the noise frame must cancel, so
    the oracle is the SAME pattern derivation as the image/audio
    twins: pixels -> block sums -> threshold -> pack -> brute pairs,
    with no noise term (a pooling bug would hash-mismatch)."""
    from vanus_spark.llm.multimodal import ahash_near_pairs
    from vanus_spark.llm.video import synthesize_y4m_block_videos, video_phash

    media = synthesize_y4m_block_videos(_t(spark, sf_dir, "documents"))
    return ahash_near_pairs(video_phash(media), max_hamming=2, hash_col="vhash")


def q_audio_fp_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup over REAL WAV bytes: tone/silence window
    patterns (md5-keyed per base id, one window flipped per variant)
    are RIFF-decoded, energy-fingerprinted (integer-exact per-window
    energy vs clip mean), and paired with the same pigeonhole hamming
    blocking as the image aHash. Oracle re-derives window energies ->
    threshold -> packed hash -> brute-force pairs from the synthesis
    formula."""
    from vanus_spark.llm.audio import audio_fingerprint, synthesize_wav_tone_blocks
    from vanus_spark.llm.multimodal import ahash_near_pairs

    media = synthesize_wav_tone_blocks(_t(spark, sf_dir, "documents"))
    return ahash_near_pairs(
        audio_fingerprint(media), max_hamming=2, hash_col="afp"
    )


def oracle_sql() -> dict[str, str]:
    """DuckDB twins of this family's queries, keyed by query name."""
    return {
        "audio_decode": """
            WITH m AS (SELECT doc_id AS media_id,
                              (300 + (doc_id % 8) * 50)::BIGINT AS n
                       FROM documents WHERE doc_id < 200),
            x AS (SELECT media_id, n, j,
                         (((media_id * 3 + j * (1 + media_id % 7)) % 256) - 128)
                           / 128.0 AS xv
                  FROM m, unnest(range(0, n)) AS t(j)),
            agg AS (SELECT media_id, any_value(n) AS n,
                           sum(xv) AS sx, sum(xv * xv) AS sxx,
                           max(abs(xv)) AS peak,
                           count(*) FILTER (WHERE xv <= -1.0) AS clip
                    FROM x GROUP BY media_id),
            z AS (SELECT media_id, xv,
                         lag(sign(xv)) OVER (PARTITION BY media_id ORDER BY j) AS prev
                  FROM x WHERE xv != 0),
            zc AS (SELECT media_id,
                          count(*) FILTER (WHERE prev IS NOT NULL
                                           AND sign(xv) != prev) AS crossings
                   FROM z GROUP BY media_id)
            SELECT a.media_id,
                   8000::INT AS sample_rate,
                   1::INT AS n_channels,
                   a.n AS n_samples,
                   round(a.n / 8000.0, 6) AS duration_s,
                   round(a.sx / a.n, 6) AS mean,
                   round(sqrt(a.sxx / a.n), 6) AS rms,
                   round(a.peak, 6) AS peak,
                   round(coalesce(zc.crossings, 0) / a.n::DOUBLE, 6)
                     AS zero_cross_rate,
                   round(a.clip / a.n::DOUBLE, 6) AS clip_fraction
            FROM agg a LEFT JOIN zc USING (media_id)
        """,
        "video_metadata": """
            WITH m AS (SELECT doc_id AS media_id,
                              (8 + (doc_id % 3) * 4)::INT AS width,
                              (6 + (doc_id % 3) * 2)::INT AS height,
                              (2 + doc_id % 4)::BIGINT AS nf
                       FROM documents WHERE doc_id < 200)
            SELECT media_id, width, height,
                   25::INT AS fps_num, 1::INT AS fps_den,
                   'C444' AS colorspace, nf::INT AS n_frames,
                   (length('YUV4MPEG2 W' || width || ' H' || height
                           || ' F25:1 Ip A1:1 C444') + 1
                    + nf * (6 + 3 * width * height))::BIGINT AS n_bytes
            FROM m
        """,
        "video_frame_sample": """
            WITH m AS (SELECT doc_id AS media_id,
                              (8 + (doc_id % 3) * 4)::BIGINT AS w,
                              (6 + (doc_id % 3) * 2)::BIGINT AS h,
                              (2 + doc_id % 4)::BIGINT AS nf
                       FROM documents WHERE doc_id < 120),
            fr AS (SELECT media_id, w, h, f
                   FROM m, unnest(range(0, nf)) AS t(f) WHERE f % 2 = 0),
            px AS (SELECT media_id, w, h, f, p,
                          (media_id + f * 7 + p) % 256 AS y,
                          (media_id * 5 + f + p) % 256 AS u,
                          (media_id * 11 + f * 3 + p) % 256 AS v
                   FROM fr, unnest(range(0, w * h)) AS t(p))
            SELECT media_id, f::INT AS frame_index,
                   any_value(w)::INT AS width, any_value(h)::INT AS height,
                   round(sum(y)::DOUBLE / count(*), 6) AS y_mean,
                   min(y)::INT AS y_min, max(y)::INT AS y_max,
                   round(sum(u)::DOUBLE / count(*), 6) AS u_mean,
                   round(sum(v)::DOUBLE / count(*), 6) AS v_mean
            FROM px GROUP BY media_id, f
        """,
        "multimodal_pipeline": """
            WITH m AS (SELECT doc_id AS vid,
                              (8 + (doc_id % 3) * 4)::BIGINT AS w,
                              (6 + (doc_id % 3) * 2)::BIGINT AS h,
                              (2 + doc_id % 4)::BIGINT AS nf
                       FROM documents WHERE doc_id < 60),
            fr AS (SELECT vid, w, h, f
                   FROM m, unnest(range(0, nf)) AS t(f) WHERE f % 2 = 0),
            px AS (SELECT vid, w, h, f, (vid + f * 7 + p) % 256 AS y
                   FROM fr, unnest(range(0, w * h)) AS t(p))
            SELECT (vid * 100 + f)::BIGINT AS media_id,
                   any_value(w)::INT AS width, any_value(h)::INT AS height,
                   round(sum(y)::DOUBLE / count(*), 6) AS mean_r,
                   min(y)::BIGINT AS min_gray,
                   max(y)::BIGINT AS max_gray
            FROM px GROUP BY vid, f
        """,
        "multimodal_decode": """
            SELECT doc_id AS media_id,
                   octet_length(encode(text)) AS n_bytes,
                   'unknown' AS format,
                   64 + ('0x' || substr(md5(text), 1, 2))::INTEGER % 192 AS width,
                   64 + ('0x' || substr(md5(text), 3, 2))::INTEGER % 192 AS height
            FROM documents
        """,
        "multimodal_decode_real": """
            WITH px AS (
              SELECT doc_id,
                     unnest(generate_series(
                       0::BIGINT,
                       CAST((4 + doc_id % 8) * (3 + doc_id % 5) - 1 AS BIGINT)
                     )) AS j
              FROM documents
            )
            SELECT doc_id AS media_id,
                   CAST(4 + doc_id % 8 AS INT) AS width,
                   CAST(3 + doc_id % 5 AS INT) AS height,
                   round(avg((doc_id + j) % 256), 6)      AS mean_r,
                   round(avg((doc_id * 7 + j) % 256), 6)  AS mean_g,
                   round(avg((doc_id * 13 + j) % 256), 6) AS mean_b,
                   CAST(min(((doc_id + j) % 256 + (doc_id * 7 + j) % 256
                             + (doc_id * 13 + j) % 256) // 3) AS DOUBLE) AS min_gray,
                   CAST(max(((doc_id + j) % 256 + (doc_id * 7 + j) % 256
                             + (doc_id * 13 + j) % 256) // 3) AS DOUBLE) AS max_gray
            FROM px GROUP BY doc_id
        """,
        # re-derive the aHash chain arithmetically: md5 block pattern ->
        # per-block gray -> integer block sums -> threshold -> signed
        # 64-bit pack -> brute-force hamming pairs (O(n^2) fine at 500)
        "image_phash_neardup": """
            WITH d AS (
              SELECT doc_id, doc_id // 5 AS base, doc_id % 5 AS v
              FROM documents),
            blocks AS (
              SELECT doc_id, k,
                     50 + 150 * (CASE WHEN v > 0 AND k = (base + v - 1) % 64
                                      THEN 1 - raw ELSE raw END) AS gray
              FROM (
                SELECT d.doc_id, d.base, d.v, t.k,
                       ('0x' || substr(md5(d.base::VARCHAR || ':' ||
                                           t.k::VARCHAR), 1, 1))::INTEGER % 2
                         AS raw
                FROM d, generate_series(0, 63) AS t(k))),
            sums AS (
              SELECT doc_id, k, 12 * gray AS block_sum,
                     sum(12 * gray) OVER (PARTITION BY doc_id) AS total
              FROM blocks),
            bits AS (
              SELECT doc_id, k,
                     CASE WHEN block_sum * 64 > total THEN 1 ELSE 0 END AS bit
              FROM sums),
            hashes AS (
              SELECT doc_id,
                     (sum(CASE WHEN k < 63
                               THEN bit::BIGINT * (1::BIGINT << k::INTEGER)
                               ELSE 0 END)::BIGINT
                      + CASE WHEN max(CASE WHEN k = 63 THEN bit END) = 1
                             THEN -9223372036854775808 ELSE 0 END) AS ahash
              FROM bits GROUP BY doc_id)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.ahash, b.ahash))::INTEGER AS hamming
            FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.ahash, b.ahash)) <= 2
        """,
        # video twin: 2x2 LUMA blocks (4 px per block), majority
        # pooling cancels the noise frame so only the frames-0/1
        # pattern appears — a pooling bug would hash-mismatch here
        "video_phash_neardup": """
            WITH d AS (
              SELECT doc_id, doc_id // 5 AS base, doc_id % 5 AS v
              FROM documents),
            blocks AS (
              SELECT doc_id, k,
                     50 + 150 * (CASE WHEN v > 0 AND k = (base + v - 1) % 64
                                      THEN 1 - raw ELSE raw END) AS gray
              FROM (
                SELECT d.doc_id, d.base, d.v, t.k,
                       ('0x' || substr(md5(d.base::VARCHAR || ':' ||
                                           t.k::VARCHAR), 1, 1))::INTEGER % 2
                         AS raw
                FROM d, generate_series(0, 63) AS t(k))),
            sums AS (
              SELECT doc_id, k, 4 * gray AS block_sum,
                     sum(4 * gray) OVER (PARTITION BY doc_id) AS total
              FROM blocks),
            bits AS (
              SELECT doc_id, k,
                     CASE WHEN block_sum * 64 > total THEN 1 ELSE 0 END AS bit
              FROM sums),
            hashes AS (
              SELECT doc_id,
                     (sum(CASE WHEN k < 63
                               THEN bit::BIGINT * (1::BIGINT << k::INTEGER)
                               ELSE 0 END)::BIGINT
                      + CASE WHEN max(CASE WHEN k = 63 THEN bit END) = 1
                             THEN -9223372036854775808 ELSE 0 END) AS vhash
              FROM bits GROUP BY doc_id)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.vhash, b.vhash))::INTEGER AS hamming
            FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.vhash, b.vhash)) <= 2
        """,
        # audio twin of image_phash_neardup: window energies replace
        # block grays (tone window = 32 samples of (+/-40)^2 = 51200)
        "audio_fp_neardup": """
            WITH d AS (
              SELECT doc_id, doc_id // 5 AS base, doc_id % 5 AS v
              FROM documents),
            wins AS (
              SELECT doc_id, w,
                     51200 * (CASE WHEN v > 0 AND w = (base + v - 1) % 64
                                   THEN 1 - raw ELSE raw END) AS energy
              FROM (
                SELECT d.doc_id, d.base, d.v, t.w,
                       ('0x' || substr(md5(d.base::VARCHAR || ':' ||
                                           t.w::VARCHAR), 1, 1))::INTEGER % 2
                         AS raw
                FROM d, generate_series(0, 63) AS t(w))),
            sums AS (
              SELECT doc_id, w, energy,
                     sum(energy) OVER (PARTITION BY doc_id) AS total
              FROM wins),
            bits AS (
              SELECT doc_id, w,
                     CASE WHEN energy * 64 > total THEN 1 ELSE 0 END AS bit
              FROM sums),
            hashes AS (
              SELECT doc_id,
                     (sum(CASE WHEN w < 63
                               THEN bit::BIGINT * (1::BIGINT << w::INTEGER)
                               ELSE 0 END)::BIGINT
                      + CASE WHEN max(CASE WHEN w = 63 THEN bit END) = 1
                             THEN -9223372036854775808 ELSE 0 END) AS afp
              FROM bits GROUP BY doc_id)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.afp, b.afp))::INTEGER AS hamming
            FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.afp, b.afp)) <= 2
        """,
    }
