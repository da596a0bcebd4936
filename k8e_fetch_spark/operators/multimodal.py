"""Multimodal column operators (SURVEY.md §2.6).

Images/audio/video are opaque ``binary`` columns with typed metadata
alongside. Every decode stage is one Arrow-batched ``mapInPandas`` hop
built by :func:`_media_stage`, which owns the batch loop and the
quarantine row; a stage supplies only its output schema, a per-payload
decode and the exceptions that mark a payload as undecodable. The
codecs behind the stages are stdlib + numpy:

- :func:`decode_media` and :func:`resize_media` — deterministic stubs
  whose outputs are pure functions of the payload bytes (the oracle
  twins: SQL-recomputable);
- :func:`decode_media_png`, :func:`decode_media_jpeg` and
  :func:`decode_media_gif` — real image decodes
  (:mod:`~k8e_fetch_spark.operators.png`,
  :mod:`~k8e_fetch_spark.operators.jpeg`,
  :mod:`~k8e_fetch_spark.operators.gif`) emitting statistics of the
  decoded pixels; :func:`decode_media_gif_frames` emits one row per
  GIF frame;
- :func:`decode_media_wav` — a real RIFF/PCM decode
  (:mod:`~k8e_fetch_spark.operators.wav`) emitting sample statistics;
- :func:`decode_media_avi` — a real RIFF/AVI container walk
  (:mod:`~k8e_fetch_spark.operators.avi`); the per-frame pixel
  payloads stay opaque;
- :func:`resize_media_real` — PNG/JPEG decode, box resample, PNG
  re-encode.

Scale notes (100 TB of media): decode runs inside ``mapInPandas`` with
an iterator signature, so one task streams many Arrow batches without
materializing the partition; binary payloads never pass through Python
row-at-a-time pickling. Partition sizing is controlled upstream by
``spark.sql.files.maxPartitionBytes`` on the binary source.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

# Decoded-media feature schema: what a real image decode would emit.
MEDIA_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("byte_len", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("features", ArrayType(FloatType())),
    ]
)

N_FEATURES = 8


def sniff_media_format(payload_col):
    """Magic-byte format sniff as a pure column expression (JVM-side,
    codegen — no Python in the hot path). Returns one of ``png jpeg
    gif wav avi riff unknown``. At 100 TB this is the router in front
    of the decode stages AND the quarantine reason: a payload that
    sniffs ``jpeg`` but lands in the PNG decoder's null-metadata rows
    is 'unsupported format', not 'corrupt data' — distinguishable
    without decoding a single byte in Python. A payload that sniffs as
    its stage's own format and still quarantines (truncation, or a
    non-baseline JPEG process) is corrupt or unsupported inside that
    format.
    """
    c = F.col(payload_col) if isinstance(payload_col, str) else payload_col
    head = F.substring(c, 1, 4)
    riff_kind = F.substring(c, 9, 4)
    return (
        F.when(head == F.lit(b"\x89PNG"), F.lit("png"))
        .when(F.substring(c, 1, 3) == F.lit(b"\xff\xd8\xff"), F.lit("jpeg"))
        .when(F.substring(c, 1, 3) == F.lit(b"GIF"), F.lit("gif"))
        .when(
            head == F.lit(b"RIFF"),
            F.when(riff_kind == F.lit(b"WAVE"), F.lit("wav"))
            .when(riff_kind == F.lit(b"AVI "), F.lit("avi"))
            .otherwise(F.lit("riff")),
        )
        .otherwise(F.lit("unknown"))
    )


def _media_stage(
    df: DataFrame,
    schema: StructType,
    decode_one: Callable[[bytes], Sequence[tuple]],
    errors: tuple[type[BaseException], ...] = (),
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """One ``mapInPandas`` hop: ``decode_one(payload)`` returns the
    output rows for one payload, each without its leading ``doc_id``
    (which this runner prepends), in ``schema`` field order; a stage
    that fans out returns several, the others exactly one. One pandas
    frame is yielded per Arrow batch.

    Quarantine contract: a payload whose decode raises one of
    ``errors`` yields exactly one row, built from ``schema`` —
    ``byte_len`` (where the schema has it) is ``len(payload)``, array
    fields are ``[]`` and every other field is NULL — so at 100 TB a
    corrupt payload is accounted for instead of killing the job. Any
    other exception fails the task: ``errors`` is each stage's exact
    statement of what a bad payload raises, never a broad catch.
    """
    names = schema.fieldNames()
    tail_fields = schema.fields[1:]

    def quarantine(payload: bytes) -> tuple:
        return tuple(
            len(payload) if f.name == "byte_len"
            else [] if isinstance(f.dataType, ArrayType)
            else None
            for f in tail_fields
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                payload = bytes(payload)
                try:
                    tails = decode_one(payload)
                except errors:
                    tails = [quarantine(payload)]
                rows.extend((int(doc_id), *tail) for tail in tails)
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(run, schema)


def _pixel_stats(a: np.ndarray) -> list[float]:
    """The 8 image features of an ``(n_px, ch)`` uint8 pixel array, ch
    1..4 (gray, gray+alpha, RGB, RGBA): ``[mean_r, mean_g, mean_b,
    mean_rgb, min_rgb, max_rgb, frac_zero_bytes, mean_alpha]``, all /255
    except ``frac_zero``. Gray maps its one channel to r=g=b; without
    alpha ``mean_alpha = 1.0``. Every sum and count is an exact int64,
    so each feature is one correctly rounded int / int quotient — bit
    for bit what a float64 mean over the same pixels gives. ``n_px``
    must be positive: the codecs reject zero-area images."""
    n_px, ch = a.shape
    color = a[:, :3] if ch >= 3 else a[:, :1]
    sums = [int(s) for s in color.sum(axis=0, dtype=np.int64)]
    means = [s / n_px / 255.0 for s in sums]
    if ch < 3:
        means *= 3
    alpha = int(a[:, -1].sum(dtype=np.int64)) / n_px / 255.0 if ch in (2, 4) else 1.0
    n = color.size
    return [
        *means,
        sum(sums) / n / 255.0,
        int(color.min()) / 255.0,
        int(color.max()) / 255.0,
        int((color == 0).sum()) / n,
        alpha,
    ]


def _mean_byte(buf: bytes) -> int:
    """Mean of a non-empty byte buffer, rounded half-to-even: an exact
    int sum over the length, so it equals ``round(sum(buf) / len(buf))``."""
    a = np.frombuffer(buf, dtype=np.uint8)
    return round(int(a.sum(dtype=np.int64)) / a.size)


def _fake_decode(payload: bytes) -> tuple[int, int, int, list[float]]:
    """Deterministic stand-in for a real codec.

    Raises nothing and depends only on the payload bytes, so results
    are reproducible. Replace with e.g. ``PIL.Image.open`` in a real
    deployment; the surrounding Arrow plumbing is unchanged.
    """
    n = len(payload)
    width = 64 + (n % 512)
    height = 64 + ((n // 2) % 512)
    n_frames = 1 + (n % 4)
    # "features": byte-histogram-ish moments, cheap and deterministic
    features = []
    for i in range(N_FEATURES):
        chunk = payload[i::N_FEATURES]
        features.append(float(sum(chunk) % 997) / 997.0 if chunk else 0.0)
    return width, height, n_frames, features


def decode_media(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Arrow-batched decode stage: binary payload -> typed features.

    ``mapInPandas`` with an iterator: streams batches, never holds a
    whole partition; the returned frame conforms to
    ``MEDIA_FEATURES_SCHEMA`` so downstream plans are fully typed.
    """
    return _media_stage(
        df,
        MEDIA_FEATURES_SCHEMA,
        lambda payload: [(len(payload), *_fake_decode(payload))],
        id_col=id_col,
        payload_col=payload_col,
    )


def decode_media_png(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL image decode in the same Arrow-batched shape as
    :func:`decode_media`: each binary payload is parsed as an actual
    PNG (chunk stream, CRC check, DEFLATE inflate, predictor
    unfiltering — :func:`k8e_fetch_spark.operators.png.decode_png`) and
    the features are :func:`_pixel_stats` of the DECODED PIXELS.
    Payloads that are not decodable PNGs quarantine."""
    from k8e_fetch_spark.operators.png import decode_png

    def decode_one(payload: bytes) -> list[tuple]:
        w, h, ch, pixels = decode_png(payload)
        a = np.frombuffer(pixels, dtype=np.uint8).reshape(-1, ch)
        return [(len(payload), w, h, 1, _pixel_stats(a))]

    return _media_stage(
        df,
        MEDIA_FEATURES_SCHEMA,
        decode_one,
        (ValueError, zlib.error, struct.error),
        id_col,
        payload_col,
    )


def decode_media_jpeg(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL baseline-JPEG decode in the same Arrow-batched shape as
    :func:`decode_media_png`: each payload is entropy-decoded,
    dequantized, inverse-DCT'd and color-converted by the stdlib+numpy
    codec (:func:`k8e_fetch_spark.operators.jpeg.decode_jpeg`), and
    the features are :func:`_pixel_stats` of the DECODED PIXELS (JPEG
    has no alpha, so ``mean_alpha = 1.0``). Non-baseline processes
    (progressive, arithmetic, 12-bit), truncation and garbage raise
    inside the codec and quarantine."""
    from k8e_fetch_spark.operators.jpeg import decode_jpeg

    def decode_one(payload: bytes) -> list[tuple]:
        w, h, _nc, px = decode_jpeg(payload)
        a = px.reshape(w * h, -1)
        return [(len(payload), w, h, 1, _pixel_stats(a))]

    return _media_stage(
        df,
        MEDIA_FEATURES_SCHEMA,
        decode_one,
        (ValueError, struct.error, IndexError),
        id_col,
        payload_col,
    )


# Decoded-audio feature schema: container metadata + sample statistics.
AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("byte_len", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_frames", IntegerType()),
        # [duration_sec, peak/32768, rms/32768, mean/32768, zero_cross_frac]
        StructField("features", ArrayType(FloatType())),
    ]
)


def decode_media_wav(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL audio decode in the same Arrow-batched shape as the image
    path: each binary payload is parsed as an actual RIFF/PCM WAV
    (:func:`k8e_fetch_spark.operators.wav.decode_wav`) and the features
    are statistics of the DECODED SAMPLES: ``[duration_sec,
    peak/32768, rms/32768, mean/32768, zero_crossing_fraction]``.
    Undecodable payloads quarantine."""
    import math

    from k8e_fetch_spark.operators.wav import decode_wav

    def stats(rate: int, channels: int, n_frames: int, samples: list[int]) -> list[float]:
        n = len(samples)
        if n == 0:
            return [0.0, 0.0, 0.0, 0.0, 0.0]
        # samples are INTERLEAVED (L,R,L,R,...): zero crossings must be
        # counted per channel — adjacent interleaved values belong to
        # different channels, and a constant L=+x / R=-x stereo stream
        # would otherwise read as zc_frac ~= 1.0 when the truth is 0.
        # int64 accumulations keep every derived float a correctly
        # rounded quotient of exact integers (s*s sums fit int64 at any
        # plausible clip length).
        ch = max(1, channels)
        a = np.asarray(samples, dtype=np.int64)
        zc = 0
        n_steps = 0
        for c in range(ch):
            lane_neg = a[c::ch] < 0
            zc += int((lane_neg[1:] != lane_neg[:-1]).sum())
            n_steps += max(0, lane_neg.size - 1)
        return [
            n_frames / rate if rate else 0.0,
            int(np.abs(a).max()) / 32768.0,
            math.sqrt(int((a * a).sum()) / n) / 32768.0,
            (int(a.sum()) / n) / 32768.0,
            zc / n_steps if n_steps else 0.0,
        ]

    def decode_one(payload: bytes) -> list[tuple]:
        rate, channels, n_frames, samples = decode_wav(payload)
        return [
            (len(payload), rate, channels, n_frames, stats(rate, channels, n_frames, samples))
        ]

    return _media_stage(
        df,
        AUDIO_FEATURES_SCHEMA,
        decode_one,
        (ValueError, struct.error, EOFError),
        id_col,
        payload_col,
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("out_width", IntegerType()),
        StructField("out_height", IntegerType()),
        StructField("thumbnail", BinaryType()),
    ]
)


def decode_media_gif(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL GIF decode in the same Arrow-batched shape as
    :func:`decode_media_png`: each payload is parsed as an actual GIF
    (logical screen, palettes, variable-width LZW, interlacing —
    :func:`k8e_fetch_spark.operators.gif.decode_gif`). ``n_frames`` is
    the REAL frame count (GIF is the multi-frame image container), and
    the 8 features are :func:`_pixel_stats` of the FIRST frame (GIF has
    no alpha channel -> ``mean_alpha = 1.0``). Malformed payloads
    quarantine."""
    from k8e_fetch_spark.operators.gif import decode_gif

    def decode_one(payload: bytes) -> list[tuple]:
        w, h, n_frames, frames = decode_gif(payload)
        a = np.frombuffer(frames[0], dtype=np.uint8).reshape(-1, 3)
        return [(len(payload), w, h, n_frames, _pixel_stats(a))]

    return _media_stage(
        df,
        MEDIA_FEATURES_SCHEMA,
        decode_one,
        (ValueError, struct.error, IndexError),
        id_col,
        payload_col,
    )


FRAME_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_px", IntegerType()),
    ]
)


def decode_media_gif_frames(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Per-FRAME statistics from real GIF decodes — the one-to-many
    decode shape (one input row fans out to n_frames output rows).
    A malformed payload quarantines as a single null-frame row, so the
    document is still accounted for."""
    from k8e_fetch_spark.operators.gif import decode_gif

    def decode_one(payload: bytes) -> list[tuple]:
        w, h, _n, frames = decode_gif(payload)
        return [(fi, w, h, _mean_byte(rgb)) for fi, rgb in enumerate(frames)]

    return _media_stage(
        df,
        FRAME_STATS_SCHEMA,
        decode_one,
        (ValueError, struct.error, IndexError),
        id_col,
        payload_col,
    )


def box_resize(px, out_h: int, out_w: int):
    """Box-average resample of an (h, w[, ch]) uint8 array to
    (out_h, out_w[, ch]) — the classic area-averaging thumbnail kernel.
    Integer box edges (i*h)//H partition the source exactly, so a
    constant image resizes to the identical constant (what makes the
    driver oracle exact); upscales degenerate to >=1-pixel boxes
    (nearest). Pure numpy, importable on executors."""
    px = np.asarray(px)
    h, w = px.shape[:2]
    if out_h < 1 or out_w < 1 or h < 1 or w < 1:
        raise ValueError("box_resize: empty input or target")
    ys = (np.arange(out_h + 1) * h) // out_h
    xs = (np.arange(out_w + 1) * w) // out_w
    # integral image: every box sum is four corner lookups, fully
    # vectorized. Box sums are EXACT int64 (pixels <=255, so no float
    # accumulation), hence sum/area equals the per-block float64 mean
    # bit-for-bit — both are correctly-rounded quotients of the same
    # exact integers.
    squeeze = px.ndim == 2
    p3 = px[..., None] if squeeze else px
    integral = np.zeros((h + 1, w + 1, p3.shape[2]), dtype=np.int64)
    integral[1:, 1:] = p3.astype(np.int64).cumsum(axis=0).cumsum(axis=1)
    y0, y1 = ys[:-1], np.maximum(ys[1:], ys[:-1] + 1)
    x0, x1 = xs[:-1], np.maximum(xs[1:], xs[:-1] + 1)
    sums = (
        integral[y1][:, x1]
        - integral[y0][:, x1]
        - integral[y1][:, x0]
        + integral[y0][:, x0]
    )
    area = ((y1 - y0)[:, None] * (x1 - x0)[None, :])[..., None]
    out = np.round(sums / area).astype(np.uint8)
    return out[..., 0] if squeeze else out


RESIZE_REAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("out_width", IntegerType()),
        StructField("out_height", IntegerType()),
        StructField("thumbnail", BinaryType()),
        # mean pixel of the re-decoded thumbnail (0..255) — proves the
        # re-encoded PNG is itself decodable, not just well-formed
        StructField("mean_px", IntegerType()),
    ]
)


def resize_media_real(
    df: DataFrame,
    target: tuple[int, int] = (32, 32),
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL resize/thumbnail stage: sniff each payload's container by
    magic bytes, decode with the real codec (baseline JPEG or PNG),
    box-average to ``target``, and re-encode the thumbnail as PNG
    (lossless, so the thumbnail is exactly the resampled pixels). The
    Arrow shape of :func:`resize_media` with the stub swapped for the
    actual decode->resample->encode chain; undecodable payloads
    quarantine."""
    from k8e_fetch_spark.operators.jpeg import decode_jpeg
    from k8e_fetch_spark.operators.png import decode_png, encode_png

    out_w, out_h = target
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}

    def decode_one(payload: bytes) -> list[tuple]:
        if payload[:4] == b"\x89PNG":
            w, h, ch, raw = decode_png(payload)
            px = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, ch)
        elif payload[:3] == b"\xff\xd8\xff":
            _w, _h, ch, px = decode_jpeg(payload)
            if px.ndim == 2:
                px = px[:, :, None]
        else:
            raise ValueError("unsupported container")
        small = box_resize(px, out_h, out_w)
        thumb = encode_png(
            out_w, out_h, small.tobytes(), color_type=color_type[small.shape[2]]
        )
        # re-decode our own thumbnail: the emitted bytes are proven
        # decodable and exactly the resampled pixels
        _, _, _, back = decode_png(thumb)
        return [(out_w, out_h, thumb, _mean_byte(back))]

    return _media_stage(
        df,
        RESIZE_REAL_SCHEMA,
        decode_one,
        (ValueError, zlib.error, struct.error, IndexError),
        id_col,
        payload_col,
    )


def resize_media(
    df: DataFrame,
    target: tuple[int, int] = (32, 32),
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Resize/thumbnail stage: second Arrow-batched ``mapInPandas`` hop
    after decode. The resample call is stubbed (deterministic byte
    slice standing in for PIL ``Image.resize``); the real plumbing —
    binary in, fixed-dims + binary out, iterator batching — is what a
    production codec drops into."""
    w, h = target
    # stub "resample": deterministic strided byte sample of the
    # payload, sized like a w*h/8 thumbnail
    step = max(1, (w * h) // 8)
    return _media_stage(
        df,
        RESIZED_SCHEMA,
        lambda p: [(w, h, p[:: max(1, len(p) // step)])],
        id_col=id_col,
        payload_col=payload_col,
    )


def frame_sample(df: DataFrame, every_nth: int = 2) -> DataFrame:
    """Frame sampling over decoded media: explode frame indexes and
    keep every nth — pure column ops (the per-frame decode would live
    in a second mapInPandas stage in a real pipeline)."""
    frames = F.sequence(F.lit(0), F.col("n_frames") - 1)
    kept = F.filter(frames, lambda i: i % every_nth == 0)
    return df.withColumn("sampled_frames", kept)


# Decoded-video feature schema: container metadata + frame index stats.
VIDEO_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("byte_len", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("duration_us", LongType()),
        # every-nth frame sampling over the REAL frame index
        StructField("sampled_frames", ArrayType(IntegerType())),
        StructField("mean_frame_bytes", FloatType()),
    ]
)


def decode_media_avi(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    sample_every: int = 2,
) -> DataFrame:
    """REAL video-container decode in the same Arrow-batched shape as
    the image/audio paths: each binary payload is parsed as an actual
    RIFF/AVI container (:func:`k8e_fetch_spark.operators.avi.decode_avi`
    — chunk walk, header/frame-count consistency) and frame sampling
    runs over the REAL frame index (every ``sample_every``-th frame).
    Only the per-frame pixel codec stays out (the '00dc' payloads are
    opaque) — production frame sampling skips decoding unsampled
    frames exactly the same way. Undecodable payloads quarantine."""
    # Validate config at plan time: a sample_every of 0 would raise
    # inside the per-row try and silently quarantine EVERY row — a
    # config error must fail loudly, not read as 100% data corruption.
    if sample_every < 1:
        raise ValueError(f"sample_every must be >= 1, got {sample_every}")
    from k8e_fetch_spark.operators.avi import decode_avi

    def decode_one(payload: bytes) -> list[tuple]:
        w, h, uspf, n, sizes = decode_avi(payload)
        return [
            (
                len(payload),
                w,
                h,
                n,
                uspf * n,
                list(range(0, n, sample_every)),
                (sum(sizes) / n) if n else 0.0,
            )
        ]

    return _media_stage(
        df,
        VIDEO_FEATURES_SCHEMA,
        decode_one,
        (ValueError, struct.error),
        id_col,
        payload_col,
    )
