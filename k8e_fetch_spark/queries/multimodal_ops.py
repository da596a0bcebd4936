"""Multimodal-column queries: binary payload metadata (oracle-checked)
and the Arrow-batched decode pipeline (rows-only; deterministic stub)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from k8e_fetch_spark.io import load
from k8e_fetch_spark.operators.multimodal import decode_media, frame_sample
from k8e_fetch_spark.queries.registry import register


def _synth_payloads(docs: DataFrame, make_payload: Callable[[int], bytes]) -> DataFrame:
    """``(doc_id, payload)`` with ``payload = make_payload(doc_id)``,
    built on the executors in one ``mapInPandas`` hop. Every real-codec
    query plants its media as a pure function of ``doc_id``, so its
    oracle states the decoded values relationally on the same id."""
    import pandas as pd

    def synth(batches):
        for pdf in batches:
            payloads = [make_payload(int(i)) for i in pdf["doc_id"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.select("doc_id").mapInPandas(synth, "doc_id long, payload binary")


def _pixel_feature_ints(decoded: DataFrame) -> DataFrame:
    """Integer-exact serialization of the image-stage features (same
    rationale as mm_decode_features): f0..f5 and f7 recover the 0..255
    channel statistics, f6 counts the zero channels of 3."""
    return decoded.select(
        "doc_id",
        "width",
        "height",
        "n_frames",
        *[
            F.floor(F.col("features")[i] * (3 if i == 6 else 255) + F.lit(0.5))
            .cast("int")
            .alias(f"f{i}")
            for i in range(8)
        ],
    )


def _gray_jpeg(i: int) -> bytes:
    """Doc ``i``'s constant-gray baseline JPEG (see
    ``_DECODE_JPEG_ORACLE``): (8 + i%25) x (8 + i%19) RGB of value
    v = 1 + (i*7)%255, 4:2:0, all-ones quantization, restart interval
    i%3 MCUs."""
    import numpy as np

    from k8e_fetch_spark.operators.jpeg import encode_jpeg

    w, h = 8 + i % 25, 8 + i % 19
    v = 1 + (i * 7) % 255
    ones = np.ones((8, 8))
    return encode_jpeg(
        np.full((h, w, 3), v, dtype=np.uint8),
        quant_luma=ones,
        quant_chroma=ones,
        subsampling="4:2:0",
        restart_interval=i % 3,
    )


@register(
    "mm_binary_meta",
    oracle="""
        SELECT doc_id,
               octet_length(encode(text)) AS byte_len,
               sha256(text) AS digest,
               CAST(doc_id % 3 = 0 AS BOOLEAN) AS is_video
        FROM documents
    """,
    tags=("ext-multimodal", "binary-meta"),
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary payloads with typed metadata: byte length + content
    digest + a modality flag. The payload here is the UTF-8 encoding of
    ``text`` (deterministic on both engines); real media bytes flow
    through the identical plan."""
    docs = load(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.length(payload).alias("byte_len"),
        F.sha2(payload, 256).alias("digest"),
        (F.col("doc_id") % 3 == 0).alias("is_video"),
    )


# The stub resize_media has no declared query: mm_resize_real covers
# the resize hop with the real codec chain, oracle-checked. The stub
# stays as the plumbing-shape fixture of tests/test_multimodal.py.


# Full oracle for the decode pipeline INCLUDING the byte-histogram
# features: the stub codec's feature i is (sum of payload bytes at
# positions i, i+8, i+16, ... mod 997) / 997.0 (float32), so feature*997
# is an exact integer recoverable from the float — the query emits those
# integers (f0..f7) as the engine-portable serialization, and DuckDB
# recomputes them relationally via hex-pair byte extraction. This
# hash-checks the REAL Arrow decode path end to end, features included.
_DECODE_FEATURES_ORACLE = """
    WITH base AS (
        SELECT doc_id,
               octet_length(encode(text)) AS n,
               hex(encode(text)) AS h
        FROM documents
    ),
    feats AS (
        SELECT doc_id, n,
               list_transform(range(0, 8),
                 i -> CAST(COALESCE(list_sum(list_transform(range(i, n, 8),
                        j -> CAST('0x' || substr(h, 2*j+1, 2) AS INT))), 0) % 997 AS INT)
               ) AS fi
        FROM base
    )
    SELECT doc_id,
           n AS byte_len,
           CAST(64 + (n % 512) AS INTEGER) AS width,
           CAST(64 + ((n // 2) % 512) AS INTEGER) AS height,
           CAST(1 + (n % 4) AS INTEGER) AS n_frames,
           CASE WHEN 1 + (n % 4) >= 3 THEN '[0,2]' ELSE '[0]' END AS sampled_frames,
           fi[1] AS f0, fi[2] AS f1, fi[3] AS f2, fi[4] AS f3,
           fi[5] AS f4, fi[6] AS f5, fi[7] AS f6, fi[8] AS f7
    FROM feats
"""


@register(
    "mm_decode_features",
    oracle=_DECODE_FEATURES_ORACLE,
    tags=("ext-multimodal", "decode-stub"),
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode pipeline end-to-end: binary column -> Arrow-batched
    mapInPandas decode (stubbed codec) -> typed feature frame -> frame
    sampling. Deterministic, so repeat runs hash identically; the
    features serialize as exact integers (feature*997 — integral by
    the stub's construction) so the full decode output is oracle-
    checkable cross-engine without float-rendering hazards."""
    docs = load(spark, sf_dir, "documents")
    with_payload = docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    decoded = decode_media(with_payload)
    # Serialize array columns at the query boundary: downstream
    # consumers (and the grading driver's pandas canonicalizer) need
    # hashable scalar cells; the arrays stay typed inside the plan.
    # float32 relative error is ~6e-8, so feature*997 (< 997) is within
    # 6e-5 of the true integer and floor(x + 0.5) recovers it exactly.
    feature_ints = [
        F.floor(F.col("features")[i] * 997 + F.lit(0.5)).cast("int").alias(f"f{i}")
        for i in range(8)
    ]
    return frame_sample(decoded).select(
        "doc_id",
        "byte_len",
        "width",
        "height",
        "n_frames",
        F.to_json("sampled_frames").alias("sampled_frames"),
        *feature_ints,
    )


# Real-codec decode with a FULL oracle. Payloads are genuine PNGs
# (DEFLATE, CRCs, rotating predictor filters) built on executors as a
# pure function of doc_id: a (4 + id%13) x (3 + id%11) image of the
# constant color (id*7%256, id*13%256, id*29%256). Constant color makes
# every decoded-pixel statistic SQL-expressible — while the decode path
# still must inflate real zlib streams and reverse Sub/Up/Average/Paeth
# filtering (a constant-color row filtered with Sub/Paeth is NOT
# constant bytes) to get these numbers right. Gradient-image pixel
# exactness is pinned separately in tests/test_multimodal.py.
_DECODE_REAL_ORACLE = """
    WITH base AS (
        SELECT doc_id,
               4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h,
               (doc_id * 7) % 256 AS r,
               (doc_id * 13) % 256 AS g,
               (doc_id * 29) % 256 AS b
        FROM documents
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(1 AS INTEGER) AS n_frames,
           CAST(r AS INTEGER) AS f0,
           CAST(g AS INTEGER) AS f1,
           CAST(b AS INTEGER) AS f2,
           CAST(floor((r + g + b) / 3.0 + 0.5) AS INTEGER) AS f3,
           CAST(least(r, g, b) AS INTEGER) AS f4,
           CAST(greatest(r, g, b) AS INTEGER) AS f5,
           CAST(r = 0 AS INTEGER) + CAST(g = 0 AS INTEGER)
             + CAST(b = 0 AS INTEGER) AS f6,
           CAST(255 AS INTEGER) AS f7
    FROM base
"""


@register(
    "mm_decode_real",
    oracle=_DECODE_REAL_ORACLE,
    tags=("ext-multimodal", "decode-real-png"),
)
def mm_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL image bytes through the decode stage: executors encode a
    real PNG per document (stdlib codec, all five scanline filters in
    play), then ``decode_media_png`` parses the chunk stream, inflates,
    unfilters, and computes pixel statistics — hash-checked against
    ground truth stated relationally on the image parameters. This is
    the evidence the stub codec cannot give: the plan demonstrably
    handles real compressed image payloads end to end."""
    from k8e_fetch_spark.operators.multimodal import decode_media_png
    from k8e_fetch_spark.operators.png import encode_png

    def make_payload(i: int) -> bytes:
        w, h = 4 + i % 13, 3 + i % 11
        px = bytes((i * 7 % 256, i * 13 % 256, i * 29 % 256)) * (w * h)
        return encode_png(w, h, px, color_type=2)

    docs = load(spark, sf_dir, "documents")
    return _pixel_feature_ints(decode_media_png(_synth_payloads(docs, make_payload)))


# Real-JPEG decode with a FULL oracle. Payloads are genuine baseline
# JFIF JPEGs built on executors by _gray_jpeg: an (8 + id%25) x
# (8 + id%19) RGB image of the constant GRAY color v = 1 + (id*7)%255
# on all three channels, encoded 4:2:0 with all-ones quantization and
# a restart interval of id%3 MCUs (0 = no DRI). Gray constants make the
# decode EXACT end to end: Y == v up to float epsilon (the RGB->YCbCr
# luma weights sum to 1), both chroma planes sit at 128 ± 1e-7 so their
# quantized DC is exactly 0, and a constant block has only a DC
# coefficient, which all-ones quantization preserves — so the entropy
# decode, dequant, IDCT, chroma upsample and YCbCr->RGB conversion must
# all be right to reproduce v on every pixel. Lossy-table and
# gradient-image accuracy is pinned separately in
# tests/test_multimodal.py.
_DECODE_JPEG_ORACLE = """
    WITH base AS (
        SELECT doc_id,
               8 + doc_id % 25 AS w, 8 + doc_id % 19 AS h,
               1 + (doc_id * 7) % 255 AS v
        FROM documents
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(1 AS INTEGER) AS n_frames,
           CAST(v AS INTEGER) AS f0,
           CAST(v AS INTEGER) AS f1,
           CAST(v AS INTEGER) AS f2,
           CAST(v AS INTEGER) AS f3,
           CAST(v AS INTEGER) AS f4,
           CAST(v AS INTEGER) AS f5,
           CAST(0 AS INTEGER) AS f6,
           CAST(255 AS INTEGER) AS f7
    FROM base
"""


@register(
    "mm_decode_jpeg_real",
    oracle=_DECODE_JPEG_ORACLE,
    tags=("ext-multimodal", "decode-real-jpeg"),
)
def mm_decode_jpeg_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL baseline-JPEG bytes through the decode stage: executors
    encode a real JFIF JPEG per document (stdlib+numpy codec — DCT,
    Huffman entropy coding, 4:2:0 chroma subsampling, a restart
    interval of doc_id % 3 MCUs), then ``decode_media_jpeg`` parses the
    marker stream, entropy-decodes, dequantizes, inverse-DCTs and
    color-converts back — hash-checked against ground truth stated
    relationally on the image parameters. The quarantine path for
    non-baseline processes is pinned in tests/test_multimodal.py."""
    from k8e_fetch_spark.operators.multimodal import decode_media_jpeg

    docs = load(spark, sf_dir, "documents")
    return _pixel_feature_ints(decode_media_jpeg(_synth_payloads(docs, _gray_jpeg)))


# Real-PNG VARIANT decode with a FULL oracle: the three web-PNG
# layouts beyond plain truecolor, rotating by doc_id — palette
# (PLTE-expanded), Adam7 interlace (7-pass scatter), and 16-bit depth
# (high-byte fold, samples v<<8 so the fold is exactly v). Constant
# color keeps every decoded statistic SQL-expressible while each
# layout exercises its real decode machinery.
_DECODE_PNG_VARIANTS_ORACLE = """
    WITH base AS (
        SELECT doc_id,
               4 + doc_id % 19 AS w, 4 + doc_id % 13 AS h,
               1 + (doc_id * 7) % 255 AS v
        FROM documents
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(1 AS INTEGER) AS n_frames,
           CAST(v AS INTEGER) AS f0,
           CAST(v AS INTEGER) AS f1,
           CAST(v AS INTEGER) AS f2,
           CAST(v AS INTEGER) AS f3,
           CAST(v AS INTEGER) AS f4,
           CAST(v AS INTEGER) AS f5,
           CAST(0 AS INTEGER) AS f6,
           CAST(255 AS INTEGER) AS f7
    FROM base
"""


@register(
    "mm_decode_png_variants",
    oracle=_DECODE_PNG_VARIANTS_ORACLE,
    tags=("ext-multimodal", "decode-real-png", "png-variants"),
)
def mm_decode_png_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The web-PNG layouts beyond plain truecolor through the REAL
    decode stage: per document (rotating by doc_id % 3) a palette PNG
    (PLTE expansion), an Adam7-interlaced PNG (7 independently
    unfiltered passes scattered on the 8x8 grid), or a 16-bit-depth
    PNG (bpp-distance unfiltering + high-byte fold) — all built on
    executors and hash-checked against ground truth stated
    relationally on the image parameters."""
    from k8e_fetch_spark.operators.multimodal import decode_media_png
    from k8e_fetch_spark.operators.png import (
        encode_png_16bit,
        encode_png_interlaced,
        encode_png_palette,
    )

    def make_payload(i: int) -> bytes:
        w, h = 4 + i % 19, 4 + i % 13
        v = 1 + (i * 7) % 255
        kind = i % 3
        if kind == 0:
            return encode_png_palette(w, h, [(v, v, v)], b"\x00" * (w * h))
        if kind == 1:
            return encode_png_interlaced(w, h, bytes((v, v, v)) * (w * h))
        return encode_png_16bit(w, h, [v << 8] * (w * h * 3))

    docs = load(spark, sf_dir, "documents")
    return _pixel_feature_ints(decode_media_png(_synth_payloads(docs, make_payload)))


# Real-GIF decode with a FULL oracle. Payloads are genuine GIF89a
# streams built on executors as a pure function of doc_id: 1 + id%4
# FRAMES (n_frames is real for GIF — the multi-frame image container)
# of a (4 + id%21) x (4 + id%17) screen filled with the constant
# palette color (v, v, v), v = 1 + (id*7)%255, every second document
# interlaced, multi-frame docs carrying graphics-control delays. GIF
# is lossless over indexed data, so the decode (LZW, palette,
# de-interlace) must reproduce v on every first-frame pixel exactly.
_DECODE_GIF_ORACLE = """
    WITH base AS (
        SELECT doc_id,
               4 + doc_id % 21 AS w, 4 + doc_id % 17 AS h,
               CAST(1 + doc_id % 4 AS INTEGER) AS nf,
               1 + (doc_id * 7) % 255 AS v
        FROM documents
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           nf AS n_frames,
           CAST(v AS INTEGER) AS f0,
           CAST(v AS INTEGER) AS f1,
           CAST(v AS INTEGER) AS f2,
           CAST(v AS INTEGER) AS f3,
           CAST(v AS INTEGER) AS f4,
           CAST(v AS INTEGER) AS f5,
           CAST(0 AS INTEGER) AS f6,
           CAST(255 AS INTEGER) AS f7
    FROM base
"""


@register(
    "mm_decode_gif_real",
    oracle=_DECODE_GIF_ORACLE,
    tags=("ext-multimodal", "decode-real-gif"),
)
def mm_decode_gif_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL GIF bytes through the decode stage: executors build a
    real multi-frame GIF89a per document (variable-width LZW,
    interlacing on every second doc, graphics-control delays), then
    ``decode_media_gif`` walks the block stream, LZW-decompresses,
    de-interlaces and palettes back to RGB — hash-checked against
    ground truth stated relationally on the stream parameters,
    including the REAL frame count."""
    from k8e_fetch_spark.operators.gif import encode_gif
    from k8e_fetch_spark.operators.multimodal import decode_media_gif

    def make_payload(i: int) -> bytes:
        w, h = 4 + i % 21, 4 + i % 17
        v = 1 + (i * 7) % 255
        nf = 1 + i % 4
        return encode_gif(
            w,
            h,
            [(v, v, v)],
            [b"\x00" * (w * h)] * nf,
            delays_cs=[5] * nf if nf > 1 else None,
            interlace=(i % 2 == 1),
        )

    docs = load(spark, sf_dir, "documents")
    return _pixel_feature_ints(decode_media_gif(_synth_payloads(docs, make_payload)))


# Per-frame GIF stats with a FULL oracle: each frame of the planted
# animation carries its OWN constant color v_f = 1 + (id*7 + 31*f) % 255,
# so the decode must keep frames distinct and ordered — a wrong frame
# order, a dropped frame, or cross-frame state leakage all break the
# hash. One input row fans out to n_frames output rows.
_GIF_FRAME_STATS_ORACLE = """
    WITH base AS (
        SELECT doc_id,
               4 + doc_id % 21 AS w, 4 + doc_id % 17 AS h,
               CAST(1 + doc_id % 4 AS INTEGER) AS nf
        FROM documents
    )
    SELECT doc_id,
           CAST(f AS INTEGER) AS frame_idx,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(1 + (doc_id * 7 + 31 * f) % 255 AS INTEGER) AS mean_px
    FROM base, UNNEST(generate_series(0, nf - 1)) AS g(f)
"""


@register(
    "mm_gif_frame_stats",
    oracle=_GIF_FRAME_STATS_ORACLE,
    tags=("ext-multimodal", "decode-real-gif", "per-frame"),
)
def mm_gif_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame statistics from real multi-frame GIF decodes: every
    frame has a distinct planted constant color, so the hash check
    verifies frame ORDER and isolation, not just presence — the
    animation-analytics twin of mm_decode_gif_real's first-frame
    stats."""
    from k8e_fetch_spark.operators.gif import encode_gif
    from k8e_fetch_spark.operators.multimodal import decode_media_gif_frames

    def make_payload(i: int) -> bytes:
        w, h = 4 + i % 21, 4 + i % 17
        nf = 1 + i % 4
        palette = [((v := 1 + (i * 7 + 31 * f) % 255), v, v) for f in range(nf)]
        frames = [bytes([f]) * (w * h) for f in range(nf)]
        return encode_gif(w, h, palette, frames, delays_cs=[4] * nf)

    docs = load(spark, sf_dir, "documents")
    return decode_media_gif_frames(_synth_payloads(docs, make_payload))


# Real resize with a FULL oracle: the constant-gray JPEGs of
# mm_decode_jpeg_real (_gray_jpeg) feed the REAL resize stage (JPEG
# decode -> box-average -> PNG re-encode -> re-decode of our own
# thumbnail). Box-averaging a constant image yields the same constant,
# so the re-decoded thumbnail's mean pixel is exactly v — and getting
# it requires every hop (entropy decode, resample, DEFLATE re-encode,
# PNG re-decode) to be right.
_RESIZE_REAL_ORACLE = """
    SELECT doc_id,
           CAST(16 AS INTEGER) AS out_width,
           CAST(12 AS INTEGER) AS out_height,
           CAST(1 + (doc_id * 7) % 255 AS INTEGER) AS mean_px
    FROM documents
"""


@register(
    "mm_resize_real",
    oracle=_RESIZE_REAL_ORACLE,
    tags=("ext-multimodal", "resize-real"),
)
def mm_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL thumbnailing end to end: genuine baseline JPEGs (the
    mm_decode_jpeg_real construction) decoded, box-averaged to 16x12,
    re-encoded as PNG and re-decoded to prove the emitted thumbnail
    bytes are themselves a valid image. Gradient-image resampling
    accuracy is pinned against a numpy reference in
    tests/test_multimodal.py."""
    from k8e_fetch_spark.operators.multimodal import resize_media_real

    docs = load(spark, sf_dir, "documents")
    return resize_media_real(_synth_payloads(docs, _gray_jpeg), target=(16, 12)).select(
        "doc_id", "out_width", "out_height", "mean_px"
    )


# Real-audio decode with a FULL oracle: per-doc square-wave PCM
# (+amp/-amp alternating, even frame count) makes peak == rms == amp
# and mean == 0 exactly, while the decode still walks a genuine RIFF
# container. Parameters are pure functions of doc_id.
_DECODE_AUDIO_ORACLE = """
    WITH base AS (
        SELECT doc_id,
               8000 + (doc_id % 5) * 1000 AS rate,
               2 * (50 + doc_id % 25) AS frames,
               100 + (doc_id * 37) % 30000 AS amp
        FROM documents
    )
    SELECT doc_id,
           CAST(rate AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS n_channels,
           CAST(frames AS INTEGER) AS n_frames,
           CAST(floor(1000000.0 * frames / rate + 0.5) AS BIGINT) AS duration_us,
           CAST(amp AS INTEGER) AS peak_i16,
           CAST(amp AS INTEGER) AS rms_i16,
           CAST(0 AS INTEGER) AS mean_i16,
           CAST(frames - 1 AS INTEGER) AS zero_crossings
    FROM base
"""


@register(
    "mm_decode_audio_real",
    oracle=_DECODE_AUDIO_ORACLE,
    tags=("ext-multimodal", "decode-real-wav"),
)
def mm_decode_audio_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL audio bytes through the decode stage: executors write a
    real 16-bit PCM WAV per document (square wave, parameters derived
    from doc_id), then ``decode_media_wav`` parses the RIFF container
    and computes sample statistics — hash-checked against ground truth
    stated relationally. Square-wave construction makes every statistic
    integral: peak == rms == amplitude, mean == 0 (even frame count),
    zero crossings == frames - 1."""
    from k8e_fetch_spark.operators.multimodal import decode_media_wav
    from k8e_fetch_spark.operators.wav import encode_wav

    def make_payload(i: int) -> bytes:
        rate = 8000 + (i % 5) * 1000
        frames = 2 * (50 + i % 25)
        amp = 100 + (i * 37) % 30000
        return encode_wav(rate, 1, [amp if j % 2 == 0 else -amp for j in range(frames)])

    docs = load(spark, sf_dir, "documents")
    decoded = decode_media_wav(_synth_payloads(docs, make_payload))
    # integer-exact serialization: features are
    # [duration_sec, peak/32768, rms/32768, mean/32768, zc_frac]
    return decoded.select(
        "doc_id",
        "sample_rate",
        "n_channels",
        "n_frames",
        F.floor(F.col("features")[0] * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("duration_us"),
        F.floor(F.col("features")[1] * 32768 + F.lit(0.5)).cast("int").alias("peak_i16"),
        F.floor(F.col("features")[2] * 32768 + F.lit(0.5)).cast("int").alias("rms_i16"),
        F.floor(F.col("features")[3] * 32768 + F.lit(0.5)).cast("int").alias("mean_i16"),
        F.floor(F.col("features")[4] * (F.col("n_frames") - 1) + F.lit(0.5))
        .cast("int")
        .alias("zero_crossings"),
    )


@register(
    "mm_decode_meta",
    # The stub codec's geometry is a pure function of payload byte
    # length (operators/multimodal.py:_fake_decode), so everything
    # except the byte-histogram features is SQL-expressible — this
    # hash-checks the REAL mapInPandas decode path (Arrow batches,
    # schema, frame sampling) against ground truth computed relationally.
    oracle="""
        WITH base AS (
            SELECT doc_id, octet_length(encode(text)) AS n FROM documents
        )
        SELECT doc_id,
               n AS byte_len,
               CAST(64 + (n % 512) AS INTEGER) AS width,
               CAST(64 + ((n // 2) % 512) AS INTEGER) AS height,
               CAST(1 + (n % 4) AS INTEGER) AS n_frames,
               CASE WHEN 1 + (n % 4) >= 3 THEN '[0,2]' ELSE '[0]' END AS sampled_frames
        FROM base
    """,
    tags=("ext-multimodal", "decode-oracle"),
)
def mm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode pipeline's metadata, oracle-checked: the same
    mapInPandas decode + frame-sample hops as mm_decode_features, with
    the declared output restricted to the columns the stub computes as
    a pure function of payload length (dims, frame count, sampled frame
    indexes). A real codec swap keeps the plan and drops the oracle —
    exactly the boundary documented in operators/multimodal.py."""
    docs = load(spark, sf_dir, "documents")
    with_payload = docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    decoded = decode_media(with_payload)
    return frame_sample(decoded).select(
        "doc_id",
        "byte_len",
        "width",
        "height",
        "n_frames",
        F.to_json("sampled_frames").alias("sampled_frames"),
    )


# Real-video-container decode with a FULL oracle: per-doc AVI parameters
# and frame sizes are pure integer functions of doc_id, so the container
# walk's outputs are stated exactly in SQL (frame index arithmetic
# included); only the per-frame pixel payload stays opaque.
_DECODE_VIDEO_ORACLE = """
    WITH base AS (
        SELECT doc_id,
               CAST(16 * (2 + doc_id % 5) AS INTEGER) AS width,
               CAST(16 * (1 + doc_id % 4) AS INTEGER) AS height,
               20000 + (doc_id % 5) * 5000 AS uspf,
               CAST(4 + doc_id % 6 AS INTEGER) AS n_frames
        FROM documents
    )
    SELECT doc_id, width, height, n_frames,
           CAST(uspf * n_frames AS BIGINT) AS duration_us,
           '[' || array_to_string(range(0, n_frames, 2), ',') || ']'
               AS sampled_frames,
           CAST(
             (SELECT sum(50 + (doc_id * 13 + k * 7) % 100)
              FROM unnest(range(0, n_frames)) AS t(k)) / CAST(n_frames AS DOUBLE)
             AS FLOAT) AS mean_frame_bytes
    FROM base
"""


@register(
    "mm_decode_video_real",
    oracle=_DECODE_VIDEO_ORACLE,
    tags=("ext-multimodal", "decode-real-avi", "frame-sample"),
)
def mm_decode_video_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL video-container bytes through the decode stage: executors
    write a real RIFF/AVI per document (avih header + '00dc' frame
    chunks, parameters derived from doc_id), then ``decode_media_avi``
    walks the genuine container — chunk framing, header/frame-count
    consistency — and samples every 2nd frame from the REAL index.
    The per-frame pixel payloads stay opaque (no video codec ships
    here), and frame sampling never decodes skipped frames in
    production either."""
    from k8e_fetch_spark.operators.avi import encode_avi
    from k8e_fetch_spark.operators.multimodal import decode_media_avi

    def make_payload(i: int) -> bytes:
        w, h = 16 * (2 + i % 5), 16 * (1 + i % 4)
        uspf = 20000 + (i % 5) * 5000
        n = 4 + i % 6
        frames = [bytes((k % 251,)) * (50 + (i * 13 + k * 7) % 100) for k in range(n)]
        return encode_avi(w, h, uspf, frames)

    docs = load(spark, sf_dir, "documents")
    return decode_media_avi(_synth_payloads(docs, make_payload)).select(
        "doc_id",
        "width",
        "height",
        "n_frames",
        "duration_us",
        # JSON-serialized, not raw array<int>: the driver's canonicalizer
        # hashes values via pandas factorize, which cannot hash lists.
        # Same convention as mm_decode_meta above.
        F.to_json("sampled_frames").alias("sampled_frames"),
        "mean_frame_bytes",
    )


@register(
    "mm_jvm_image_decode",
    oracle="""
        SELECT doc_id,
               CAST(8 + doc_id % 16 AS INTEGER) AS width,
               CAST(6 + doc_id % 12 AS INTEGER) AS height,
               CAST(3 AS INTEGER) AS n_channels,
               CAST(list_sum(list_transform(
                        range(0, (8 + doc_id % 16) * (6 + doc_id % 12) * 3),
                        i -> (doc_id * 31 + i * 7) % 256)) AS BIGINT) AS byte_sum
        FROM documents
    """,
    tags=("ext-multimodal", "jvm-native-decode", "image-source"),
)
def mm_jvm_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JVM-NATIVE decode path, end-to-end under the hash gate: a
    file-resident PNG corpus scanned with ``spark.read.format("image")``
    (javax.imageio inside the executor JVM — no Python worker anywhere
    in the decode; see ``sources/images.py``). This is the scale answer
    to the engine's one documented perf limit: in-column media pays the
    Python/numpy per-byte cost, file-resident media decodes at native
    speed and parallelizes like any file scan.

    Fixture: one PNG per documents row (dims and pixels closed-form in
    doc_id: w = 8 + id%16, h = 6 + id%12, pixel byte i =
    (id*31 + i*7) % 256), written distributed (foreachPartition,
    executor-side encode) once per source fingerprint — the same
    per-uid reuse contract as catalog_flatten_tree / the bucketed-join
    demo. The fixture writer targets a LOCAL temp path (correct for
    local mode and any shared filesystem); this is test scaffolding
    only — in the real deployment the media corpus is ALREADY
    file-resident in the bucket, and the scan path below is what runs
    at scale. A cluster materializing synthetic media would point the
    tree at shared/object storage instead. PNG is lossless and the JVM source emits OpenCV-style BGR,
    so the TOTAL byte sum — channel-order invariant — survives the
    encode -> ImageIO decode round trip bit-exactly, and DuckDB
    recomputes it from the closed form without decoding anything: the
    hash check covers dims, channel count, and every pixel byte.

    Scale: zero shuffles — one distributed listing, decode + dimension
    projection + codegen byte-sum all scan-local. At 100 TB the listing
    is the bucket manifest and decode throughput scales with executor
    count; nothing here is driver-resident.
    """
    import os
    import tempfile
    from pathlib import Path

    from k8e_fetch_spark.io import derived_fixture, source_fingerprint
    from k8e_fetch_spark.sources.images import binary_byte_sum, read_images

    wh = Path(
        os.environ.get(
            "K8E_JVM_IMAGES_DIR",
            os.path.join(tempfile.gettempdir(), f"k8e_jvm_images_{os.getuid()}"),
        )
    )
    wh.mkdir(parents=True, exist_ok=True)
    fp = {"sf": str(sf_dir), "doc": source_fingerprint(sf_dir, "documents"), "v": 1}
    # per-SF subtree: the test/driver/bench trio runs three different SFs
    # in one session lifetime — one shared tree would thrash-rewrite on
    # every switch (and concurrent same-uid sessions at different SFs
    # would race each other's rebuilds)
    import hashlib

    sub = hashlib.md5(str(sf_dir).encode()).hexdigest()[:8]
    tree = wh / f"tree_{sub}"

    def build() -> None:
        import shutil

        shutil.rmtree(tree, ignore_errors=True)
        tree.mkdir(parents=True)
        tree_str = str(tree)

        def write_part(rows) -> None:
            import numpy as np

            from k8e_fetch_spark.operators.png import encode_png

            for r in rows:
                i = int(r.doc_id)
                w, h = 8 + i % 16, 6 + i % 12
                idx = np.arange(w * h * 3, dtype=np.int64)
                px = ((i * 31 + idx * 7) % 256).astype(np.uint8).tobytes()
                tmp = os.path.join(tree_str, f".doc_{i}.png.tmp")
                with open(tmp, "wb") as f:
                    f.write(encode_png(w, h, px))
                os.replace(tmp, os.path.join(tree_str, f"doc_{i}.png"))

        load(spark, sf_dir, "documents").select("doc_id").foreachPartition(write_part)

    derived_fixture(wh / f"source_fingerprint_{sub}.json", fp, tree.exists, build)

    img = read_images(spark, str(tree), glob="*.png")
    return img.select(
        F.regexp_extract(F.col("image.origin"), r"doc_(\d+)\.png$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("image.width").alias("width"),
        F.col("image.height").alias("height"),
        F.col("image.nChannels").alias("n_channels"),
        F.col("image.data").alias("data"),
    ).select(
        "doc_id",
        "width",
        "height",
        "n_channels",
        binary_byte_sum("data", F.length("data")).alias("byte_sum"),
    )
