"""``multimodal_*`` queries: image, audio and video decoding, resampling
and feature extraction in Arrow batches, each registered with its DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from json_ld_spark.operators import multimodal as mm
from json_ld_spark.queries import query
from json_ld_spark.queries._common import _utc


# synthesize_media payloads are deterministic ASCII (hexdigest x4), so
# DuckDB replays the fake-feature extraction exactly: sha256 of the
# payload string, 8 x 32-bit windows / 2^32, each truncated to FLOAT to
# mirror the Arrow float32 feature column, summed in double
_MM_FEATURES_SQL = (
    """
WITH m AS (
  SELECT i AS media_id,
         (['image','audio','video'])[CAST(i % 3 AS INT) + 1] AS kind,
         sha256(repeat(sha256('media' || CAST(i AS VARCHAR)), 4)) AS h
  FROM generate_series(0, 95) t(i)
)
SELECT CAST(media_id AS BIGINT) AS media_id, kind, true AS decode_ok,
       round("""
    + " + ".join(
        f"CAST(CAST(('0x' || substr(h, {8 * i + 1}, 8))::BIGINT / 4294967296.0 AS FLOAT) AS DOUBLE)"
        for i in range(8)
    )
    + """, 6) AS feat_sum_r
FROM m
"""
)


@query(oracle=_MM_FEATURES_SQL)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns → Arrow-batched feature extraction (decode
    stubbed deterministically; schema/batch plumbing real). Oracle:
    DuckDB replays the hash-derived features with float32 truncation."""
    _utc(spark)
    media = mm.synthesize_media(spark, n=96)
    feats = mm.extract_features(media, dim=8)
    return feats.select(
        "media_id", "kind", "decode_ok",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, v: a + v), 6).alias("feat_sum_r"),
    )


# synthesize_media(n=96): video rows are media_id % 3 = 2 with
# duration_ms = 1000 + 33*media_id; frame plan = 0..duration step 500
_FRAME_PLAN_SQL = """
SELECT media_id, CAST(s AS BIGINT) AS sample_ms FROM (
  SELECT CAST(i AS BIGINT) AS media_id,
         unnest(generate_series(0, 1000 + CAST(i * 33 AS INT), 500)) AS s
  FROM generate_series(0, 95) t(i)
  WHERE i % 3 = 2
)
"""


@query(oracle=_FRAME_PLAN_SQL)
def q_multimodal_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling fan-out (explode over duration). The oracle
    regenerates each video's duration (1000 + 33 * media_id ms) and
    hashes every (media_id, sample_ms) pair."""
    _utc(spark)
    media = mm.synthesize_media(spark, n=96)
    plan = mm.frame_sample_plan(media, every_ms=500)
    return plan.select("media_id", F.col("sample_ms").cast("long").alias("sample_ms"))


_AUDIO_FEATURES_SQL = """
WITH s AS (
  SELECT m.i AS media_id, t.k AS k,
         CAST(trunc(6000 * sin(2 * pi() * (220.0 + 55.0 * (m.i % 16)) * t.k / 8000.0)) AS BIGINT) AS v
  FROM generate_series(0, 31) m(i) CROSS JOIN generate_series(0, 1599) t(k)
), z AS (
  SELECT media_id, v,
         CASE WHEN (v >= 0) <> (LAG(v) OVER (PARTITION BY media_id ORDER BY k) >= 0)
              THEN 1 ELSE 0 END AS zc
  FROM s
)
SELECT CAST(media_id AS BIGINT) AS media_id,
       COUNT(*) AS n_samples,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(MAX(abs(v)) AS BIGINT) AS max_abs,
       CAST(SUM(abs(v)) AS BIGINT) AS sum_abs,
       CAST(SUM(zc) AS BIGINT) AS zero_crossings
FROM z GROUP BY media_id
"""


@query(oracle=_AUDIO_FEATURES_SQL)
def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec path: stdlib-`wave` PCM16 decode inside mapInPandas
    over real WAV payloads; integer-exact features. Oracle: DuckDB
    regenerates the deterministic waveform analytically (trunc+sin are
    bit-identical across both engines on this platform)."""
    _utc(spark)
    media = mm.synthesize_wav_media(spark, n=32)
    return mm.audio_features(media)


_AUDIO_DECIMATE_SQL = """
WITH s AS (
  SELECT m.i AS media_id,
         CAST(trunc(6000 * sin(2 * pi() * (220.0 + 55.0 * (m.i % 16))
                    * (4 * t.k) / 8000.0)) AS BIGINT) AS v
  FROM generate_series(0, 31) m(i) CROSS JOIN generate_series(0, 399) t(k)
)
SELECT CAST(media_id AS BIGINT) AS media_id,
       CAST(1600 AS BIGINT) AS n_in, CAST(400 AS BIGINT) AS n_out,
       CAST(2000 AS BIGINT) AS out_rate,
       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs_out,
       CAST(MAX(ABS(v)) AS BIGINT) AS max_abs_out
FROM s GROUP BY media_id
"""


@query(oracle=_AUDIO_DECIMATE_SQL)
def q_multimodal_audio_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio downsampling (multimodal.decimate_audio): stdlib WAV
    decode → keep every 4th sample → stdlib WAV re-encode at 2 kHz in
    one Arrow pass; integer stats of the kept samples are oracled
    analytically (trunc+sin parity with DuckDB), bytes verified by
    decode roundtrip in tests."""
    from json_ld_spark.operators.multimodal import (
        decimate_audio, synthesize_wav_media,
    )

    _utc(spark)
    media = synthesize_wav_media(spark, n=32)
    return decimate_audio(media, factor=4).select(
        "media_id", "n_in", "n_out", "out_rate", "sum_abs_out", "max_abs_out"
    )


_IMAGE_RESIZE_SQL = """
WITH src AS (
  SELECT i, 8 + i % 9 AS w, 8 + (3 * i) % 9 AS h
  FROM generate_series(0, 47) m(i)
), px AS (
  SELECT s.i AS media_id, s.w, s.h,
         (xo.x * s.w) // 6 AS sx, (yo.y * s.h) // 5 AS sy
  FROM src s
  CROSS JOIN generate_series(0, 5) xo(x)
  CROSS JOIN generate_series(0, 4) yo(y)
)
SELECT CAST(media_id AS BIGINT) AS media_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(6 AS BIGINT) AS out_w, CAST(5 AS BIGINT) AS out_h,
       CAST(SUM((7 * sx + 13 * sy + media_id) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((3 * sx + 5 * sy + 2 * media_id) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((11 * sx + sy + 3 * media_id) % 256) AS BIGINT) AS sum_b
FROM px GROUP BY media_id, w, h
"""


@query(oracle=_IMAGE_RESIZE_SQL)
def q_multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL nearest-neighbor image resize
    (multimodal.resize_images): stdlib PNG decode → index-sampled
    6×5 thumbnail → stdlib PNG re-encode in one Arrow mapInPandas
    pass; the resized image's integer channel sums are oracled
    analytically from the synthesis formula at the sampled
    coordinates (the re-encoded bytes are decode-roundtrip-verified
    in tests — zlib output is not SQL-expressible)."""
    from json_ld_spark.operators.multimodal import (
        resize_images, synthesize_png_media,
    )

    _utc(spark)
    media = synthesize_png_media(spark, n=48)
    return resize_images(media, 6, 5).select(
        "media_id", "width", "height", "out_w", "out_h",
        "sum_r", "sum_g", "sum_b",
    )


_IMAGE_FEATURES_SQL = """
WITH px AS (
  SELECT m.i AS media_id,
         8 + m.i % 9 AS w, 8 + (3 * m.i) % 9 AS h,
         x.x AS x, y.y AS y,
         (7 * x.x + 13 * y.y + m.i) % 256 AS r,
         (3 * x.x + 5 * y.y + 2 * m.i) % 256 AS g,
         (11 * x.x + y.y + 3 * m.i) % 256 AS b
  FROM generate_series(0, 47) m(i)
  CROSS JOIN generate_series(0, 15) x(x)
  CROSS JOIN generate_series(0, 15) y(y)
  WHERE x.x < 8 + m.i % 9 AND y.y < 8 + (3 * m.i) % 9
)
SELECT CAST(media_id AS BIGINT) AS media_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(MAX(r + 2 * g + b) AS BIGINT) AS max_luma
FROM px GROUP BY media_id, w, h
"""


@query(oracle=_IMAGE_FEATURES_SQL)
def q_multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec path (round-3): pure-stdlib PNG decode (zlib
    inflate + scanline unfilter) inside mapInPandas over real PNG
    payloads; integer-exact channel statistics. Oracle: DuckDB
    regenerates every pixel from the closed-form channel formulas via
    generate_series."""
    _utc(spark)
    media = mm.synthesize_png_media(spark, n=48)
    return mm.image_features(media)


_DHASH_NEARDUP_SQL = """
WITH img AS (
  SELECT i AS media_id, 16 + i % 9 AS w, 16 + (3 * i) % 9 AS h, 0 AS bump
  FROM generate_series(0, 47) m(i)
  UNION ALL
  SELECT 100 + i, 16 + i % 9, 16 + (3 * i) % 9, 16
  FROM generate_series(0, 15) m(i)
), coef AS (
  SELECT media_id, w, h, bump,
         3 + ((media_id % 100) * 7) % 11 AS a,
         1 + ((media_id % 100) * 5) % 13 AS b,
         1 + (media_id % 100) % 7 AS c,
         (media_id % 100) * 17 AS d
  FROM img
), grid AS (
  SELECT media_id, gx.x AS gx, gy.y AS gy,
         (gx.x * w) // 9 AS sx, (gy.y * h) // 8 AS sy, bump, a, b, c, d
  FROM coef
  CROSS JOIN generate_series(0, 8) gx(x)
  CROSS JOIN generate_series(0, 7) gy(y)
), gray AS (
  SELECT media_id, gx, gy,
         ((a * sx * sx + b * sy + d
           + CASE WHEN sx = 0 THEN bump ELSE 0 END) % 256
          + 2 * ((b * sx + c * sy * sy + 2 * d) % 256)
          + (c * sx + a * sy + 3 * d) % 256) // 4 AS g
  FROM grid
), bits AS (
  SELECT a.media_id, a.gy, a.gx AS x,
         CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
  FROM gray a JOIN gray b
    ON a.media_id = b.media_id AND a.gy = b.gy AND b.gx = a.gx + 1
  WHERE a.gx < 8
), ham AS (
  SELECT p.media_id AS id_a, q.media_id AS id_b,
         SUM(CASE WHEN p.bit <> q.bit THEN 1 ELSE 0 END) AS hamming
  FROM bits p JOIN bits q
    ON p.gy = q.gy AND p.x = q.x AND p.media_id < q.media_id
  GROUP BY p.media_id, q.media_id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(hamming AS BIGINT) AS hamming
FROM ham WHERE hamming <= 6
"""


@query(oracle=_DHASH_NEARDUP_SQL)
def q_multimodal_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate image detection end to end
    (multimodal.dhash_images + dhash_near_duplicates): REAL PNG decode
    -> NN-sampled 9x8 integer grayscale grid -> dHash row-bytes ->
    block-LSH candidate join (pigeonhole recall exactly 1.0 for
    hamming <= 6 < 8 blocks) -> exact popcount filter. Corpus = 48
    closed-form TEXTURED PNGs + 16 first-column brightness-edit
    variants (15 land within the threshold, every cross-image pair is
    >= 9 bits away — real separation, unlike the dHash-degenerate
    linear ramps). Oracle: DuckDB regenerates every sampled gray value
    from the pixel formulas, builds the 64 bits per image, and
    computes ALL-pairs hamming (64 images — all-pairs is the oracle's
    privilege, the Spark side never does it)."""
    _utc(spark)
    media = mm.synthesize_png_media_textured(spark, n=48).unionByName(
        mm.synthesize_png_media_textured(spark, n=16, variant=True)
    )
    hashes = mm.dhash_images(media, grid_w=8, grid_h=8)
    return mm.dhash_near_duplicates(hashes, max_hamming=6, n_blocks=8)


# synthesize_wav_media: real PCM16 WAVs of trunc(6000*sin(2π f k/8000))
# with f = 220 + 55*(i%16); the decoded features are integer-exact, so
# this regenerates the waveform analytically (sin/trunc verified
# bit-identical between Python and DuckDB on this platform)
# synthesize_png_media(n=48): w=8+i%9, h=8+(3i)%9, per-pixel channels
# r=(7x+13y+i)%256 g=(3x+5y+2i)%256 b=(11x+y+3i)%256 — the engine
# decodes the actual PNG bytes; the oracle regenerates the pixels.
# video oracle: regenerate the closed-form AVI frames analytically
# (dims w=8+i%5, h=6+i%4, nf=2+i%3; generate_series bounds are the
# maxima, masked by the per-video dims)
_VIDEO_FEATURES_SQL = """
WITH dims AS (
  SELECT s.i AS i, 8 + s.i % 5 AS w, 6 + s.i % 4 AS h, 2 + s.i % 3 AS nf
  FROM generate_series(0, 23) s(i)
), px AS (
  SELECT d.i, tt.t, yy.y, xx.x,
         (7*xx.x + 13*yy.y + 17*tt.t + d.i) % 256 AS r,
         (3*xx.x + 5*yy.y + 23*tt.t + 2*d.i) % 256 AS g,
         (11*xx.x + yy.y + 29*tt.t + 3*d.i) % 256 AS b
  FROM dims d
  CROSS JOIN generate_series(0, 3) tt(t)
  CROSS JOIN generate_series(0, 8) yy(y)
  CROSS JOIN generate_series(0, 11) xx(x)
  WHERE tt.t < d.nf AND yy.y < d.h AND xx.x < d.w
), sums AS (
  SELECT i, SUM(r)::BIGINT AS sum_r, SUM(g)::BIGINT AS sum_g,
         SUM(b)::BIGINT AS sum_b
  FROM px GROUP BY i
), mo AS (
  SELECT d.i,
         SUM(ABS(((7*xx.x + 13*yy.y + 17*tt.t + d.i) % 256)
               - ((7*xx.x + 13*yy.y + 17*(tt.t-1) + d.i) % 256)))::BIGINT AS motion
  FROM dims d
  CROSS JOIN generate_series(1, 3) tt(t)
  CROSS JOIN generate_series(0, 8) yy(y)
  CROSS JOIN generate_series(0, 11) xx(x)
  WHERE tt.t < d.nf AND yy.y < d.h AND xx.x < d.w
  GROUP BY d.i
)
SELECT d.i AS media_id, d.w::BIGINT AS width, d.h::BIGINT AS height,
       d.nf::BIGINT AS n_frames, s.sum_r, s.sum_g, s.sum_b,
       COALESCE(m.motion, 0)::BIGINT AS motion
FROM dims d JOIN sums s ON s.i = d.i LEFT JOIN mo m ON m.i = d.i
"""


@query(oracle=_VIDEO_FEATURES_SQL)
def q_multimodal_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode (operators/multimodal.py avi_decode —
    pure-stdlib uncompressed-AVI RIFF parser, no ffmpeg): per-video
    dimensions, frame count, integer channel sums over all frames, and
    a motion proxy (Σ|r_t − r_{t−1}|). The synthesized AVIs use an
    integer-closed-form pixel formula, so the DuckDB oracle regenerates
    every statistic from generate_series — same pattern as the WAV and
    PNG codecs."""
    _utc(spark)
    media = mm.synthesize_avi_media(spark, n=24)
    return mm.video_features(media).select(
        "media_id", "width", "height", "n_frames",
        "sum_r", "sum_g", "sum_b", "motion",
    )


# frame-extract oracle: sampled frames are t = 0, 2, ... < nf; stats
# are the same closed-form sums per (i, t)
_FRAME_EXTRACT_SQL = """
WITH dims AS (
  SELECT s.i AS i, 8 + s.i % 5 AS w, 6 + s.i % 4 AS h, 2 + s.i % 3 AS nf
  FROM generate_series(0, 23) s(i)
)
SELECT d.i AS media_id, tt.t AS frame_idx,
       SUM((7*xx.x + 13*yy.y + 17*tt.t + d.i) % 256)::BIGINT AS sum_r,
       SUM((3*xx.x + 5*yy.y + 23*tt.t + 2*d.i) % 256)::BIGINT AS sum_g,
       SUM((11*xx.x + yy.y + 29*tt.t + 3*d.i) % 256)::BIGINT AS sum_b
FROM dims d
CROSS JOIN generate_series(0, 3) tt(t)
CROSS JOIN generate_series(0, 8) yy(y)
CROSS JOIN generate_series(0, 11) xx(x)
WHERE tt.t < d.nf AND tt.t % 2 = 0 AND yy.y < d.h AND xx.x < d.w
GROUP BY d.i, tt.t
"""


@query(oracle=_FRAME_EXTRACT_SQL)
def q_multimodal_frame_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame extraction end to end: AVI decode → keep every 2nd
    frame → re-encode each as a PNG thumbnail → decode the PNG back and
    emit per-frame channel sums. Exercises the video→image handoff with
    both stdlib codecs in one Arrow pass; the oracle regenerates every
    sampled frame's statistics from the closed-form pixel formula."""
    _utc(spark)
    media = mm.synthesize_avi_media(spark, n=24)
    frames = mm.sample_video_frames(media, every_n=2)

    import pandas as pd_

    def stats(batches):
        import numpy as np

        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "sum_r": [], "sum_g": [],
                   "sum_b": []}
            for mid, idx, png in zip(pdf["media_id"], pdf["frame_idx"],
                                     pdf["png"]):
                w, h, ch, px = mm.png_decode(bytes(png))
                a = np.frombuffer(bytes(px), dtype=np.uint8).reshape(-1, ch)
                a = a.astype(np.int64)
                out["media_id"].append(int(mid))
                out["frame_idx"].append(int(idx))
                out["sum_r"].append(int(a[:, 0].sum()))
                out["sum_g"].append(int(a[:, 1].sum()))
                out["sum_b"].append(int(a[:, 2].sum()))
            yield pd_.DataFrame(out)

    return frames.mapInPandas(
        stats,
        schema="media_id long, frame_idx long, sum_r long, sum_g long, sum_b long",
    )
