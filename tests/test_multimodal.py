"""Multimodal decode plumbing: the Arrow mapInPandas stages produce
exactly what the stub codec computes (the features column is NOT
SQL-expressible, so its evidence lives here rather than in an oracle;
the geometry columns are additionally oracle-checked by mm_decode_meta).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from k8e_fetch_spark.operators.multimodal import (
    N_FEATURES,
    _fake_decode,
    decode_media,
    frame_sample,
    resize_media,
)
from k8e_fetch_spark.io import load
from tests.conftest import SF_DIR


def test_decode_matches_local_codec(spark):
    """The distributed decode (Arrow batches through mapInPandas) equals
    a driver-side call of the same codec on the same bytes — batching,
    schema coercion, and iterator plumbing add or drop nothing."""
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").limit(20)
    with_payload = docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    got = {r["doc_id"]: r for r in decode_media(with_payload).collect()}
    for row in docs.collect():
        payload = row["text"].encode("utf-8")
        width, height, n_frames, features = _fake_decode(payload)
        g = got[row["doc_id"]]
        assert g["byte_len"] == len(payload)
        assert (g["width"], g["height"], g["n_frames"]) == (width, height, n_frames)
        assert len(g["features"]) == N_FEATURES
        for a, b in zip(g["features"], features):
            assert abs(a - b) < 1e-6  # float32 column vs python float


def test_frame_sample_keeps_every_nth(spark):
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").limit(8)
    with_payload = docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    sampled = frame_sample(decode_media(with_payload), every_nth=2)
    for r in sampled.collect():
        assert list(r["sampled_frames"]) == [i for i in range(r["n_frames"]) if i % 2 == 0]


def test_resize_deterministic_dims(spark):
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").limit(8)
    with_payload = docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    out = resize_media(with_payload, target=(32, 32)).collect()
    assert all((r["out_width"], r["out_height"]) == (32, 32) for r in out)
    assert all(len(r["thumbnail"]) > 0 for r in out)


# ---------------------------------------------------------------- real PNG


def test_png_roundtrip_exact_pixels():
    """Gradient images (every filter type in play, non-constant rows)
    survive encode -> decode byte-exactly across color types."""
    import random

    from k8e_fetch_spark.operators.png import decode_png, encode_png

    rng = random.Random(1234)
    for w, h, ct, ch in [(16, 11, 2, 3), (7, 9, 0, 1), (5, 6, 6, 4), (3, 13, 4, 2)]:
        # gradient + noise: adjacent-pixel deltas exercise Sub/Avg/Paeth
        px = bytes(
            (x * 5 + y * 11 + c * 3 + rng.randrange(8)) % 256
            for y in range(h)
            for x in range(w)
            for c in range(ch)
        )
        got_w, got_h, got_ch, got_px = decode_png(encode_png(w, h, px, ct))
        assert (got_w, got_h, got_ch) == (w, h, ch)
        assert got_px == px


def test_png_decodes_third_party_bytes():
    """A libpng-produced PNG (the widely published 1x1 RGBA) decodes to
    its known pixel — our decoder handles bytes we did not write."""
    import base64

    from k8e_fetch_spark.operators.png import decode_png

    b64 = (
        "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNkYPhf"
        "DwAChwGA60e6kgAAAABJRU5ErkJggg=="
    )
    w, h, ch, px = decode_png(base64.b64decode(b64))
    assert (w, h, ch) == (1, 1, 4)
    assert px == bytes((0x00, 0x00, 0xFF, 0x7F))


def test_png_decode_stage_binary_file_source(spark, tmp_path):
    """End-to-end with a REAL binary source: PNG files written to disk,
    read via Spark's binaryFile source, decoded by the Arrow stage;
    stats must match an independent driver-side computation, and a
    corrupt file must quarantine as a null-dims row, not fail the job."""
    from k8e_fetch_spark.operators.multimodal import decode_media_png
    from k8e_fetch_spark.operators.png import encode_png

    expected = {}
    for i in range(12):
        w, h = 5 + i % 7, 4 + i % 5
        px = bytes((x * 7 + y * 13 + c * 29 + i) % 256
                   for y in range(h) for x in range(w) for c in range(3))
        (tmp_path / f"img_{i:03d}.png").write_bytes(encode_png(w, h, px, 2))
        rgb = [(px[c::3]) for c in range(3)]
        expected[i] = (
            w, h,
            [sum(ch) / len(ch) / 255.0 for ch in rgb]
            + [sum(px) / len(px) / 255.0, min(px) / 255.0, max(px) / 255.0,
               px.count(0) / len(px), 1.0],
        )
    (tmp_path / "img_999.png").write_bytes(b"\x89PNG\r\n\x1a\nnot really")
    zero_wide = encode_png(0, 5, b"", 2)  # PNG forbids zero dimensions
    (tmp_path / "img_998.png").write_bytes(zero_wide)

    files = (
        spark.read.format("binaryFile")
        .load(str(tmp_path))
        .select(
            F.regexp_extract(F.col("path"), r"img_(\d+)\.png", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("content").alias("payload"),
        )
    )
    got = {r["doc_id"]: r for r in decode_media_png(files).collect()}
    assert len(got) == 14
    assert got[999]["width"] is None and got[999]["features"] == []
    assert got[998]["width"] is None and got[998]["features"] == []
    assert got[998]["byte_len"] == len(zero_wide)
    for i, (w, h, feats) in expected.items():
        g = got[i]
        assert (g["width"], g["height"], g["n_frames"]) == (w, h, 1)
        for a, b in zip(g["features"], feats):
            assert abs(a - b) < 1e-6, (i, g["features"], feats)


# ---------------------------------------------------------------- real WAV


def test_wav_roundtrip_exact_samples():
    """Noise PCM survives encode -> decode sample-exactly (mono and
    stereo, different rates)."""
    import random

    from k8e_fetch_spark.operators.wav import decode_wav, encode_wav

    rng = random.Random(99)
    for rate, ch, n in [(8000, 1, 256), (44100, 2, 300), (16000, 1, 1)]:
        samples = [rng.randrange(-32768, 32768) for _ in range(n * ch)]
        got_rate, got_ch, got_frames, got = decode_wav(encode_wav(rate, ch, samples))
        assert (got_rate, got_ch, got_frames) == (rate, ch, n)
        assert got == samples


def test_wav_decode_stage_stats(spark):
    """The Arrow decode stage's sample statistics match an independent
    driver-side computation; corrupt bytes quarantine."""
    import math

    from k8e_fetch_spark.operators.multimodal import decode_media_wav
    from k8e_fetch_spark.operators.wav import encode_wav

    rows, expected = [], {}
    for i in range(6):
        rate = 8000 + i * 500
        samples = [((j * 997 + i * 31) % 2001) - 1000 for j in range(64 + i)]
        rows.append((i, bytearray(encode_wav(rate, 1, samples))))
        n = len(samples)
        zc = sum(1 for j in range(1, n) if (samples[j] < 0) != (samples[j - 1] < 0))
        expected[i] = (
            rate, n,
            [n / rate, max(abs(s) for s in samples) / 32768.0,
             math.sqrt(sum(s * s for s in samples) / n) / 32768.0,
             sum(samples) / n / 32768.0, zc / (n - 1)],
        )
    rows.append((999, bytearray(b"RIFFnope")))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in decode_media_wav(df).collect()}
    assert got[999]["sample_rate"] is None and got[999]["features"] == []
    for i, (rate, n, feats) in expected.items():
        g = got[i]
        assert (g["sample_rate"], g["n_channels"], g["n_frames"]) == (rate, 1, n)
        for a, b in zip(g["features"], feats):
            assert abs(a - b) < 1e-6, (i, g["features"], feats)


def test_png_decompression_bomb_rejected():
    """A tiny-IHDR PNG whose IDAT inflates to 100 MB must raise
    ValueError from the bounded inflate (quarantine path), never
    materialize the expansion (MemoryError would kill the task)."""
    import struct
    import zlib

    from k8e_fetch_spark.operators.png import decode_png

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)  # 1x1 grayscale
    idat = zlib.compress(b"\x00" * (100 * 1024 * 1024), 9)
    bomb = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
    with pytest.raises(ValueError):
        decode_png(bomb)


def test_wav_zero_crossings_are_per_channel(spark):
    """Stereo with constant L=+1000 / R=-1000 has ZERO per-channel
    crossings; the interleaved stream alternates sign every sample, so
    a naive implementation would report ~1.0."""
    import pandas as pd

    from k8e_fetch_spark.operators.multimodal import decode_media_wav
    from k8e_fetch_spark.operators.wav import encode_wav

    payload = encode_wav(8000, 2, [1000, -1000] * 50)  # 50 stereo frames
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "payload": [payload]}))
    row = decode_media_wav(df).collect()[0]
    assert row["n_channels"] == 2
    assert row["features"][4] == 0.0


def test_avi_round_trip_and_consistency_guard():
    """Real RIFF/AVI bytes round-trip through the container codec; a
    frame-count mismatch between the avih header and the movi list is
    rejected (quarantine path, not garbage)."""
    import struct

    from k8e_fetch_spark.operators.avi import decode_avi, encode_avi

    frames = [bytes([k]) * (5 + k) for k in range(6)]
    data = encode_avi(128, 96, 40000, frames)
    w, h, uspf, n, sizes = decode_avi(data)
    assert (w, h, uspf, n) == (128, 96, 40000, 6)
    assert sizes == [5 + k for k in range(6)]

    # tamper: declare one extra frame in avih (offset: RIFF(12) +
    # LIST hdr(8) + 'hdrl'(4) + avih hdr(8) + 4 dwords -> dwTotalFrames)
    bad = bytearray(data)
    off = 12 + 8 + 4 + 8 + 16
    struct.pack_into("<I", bad, off, 7)
    try:
        decode_avi(bytes(bad))
        raise AssertionError("mismatch accepted")
    except ValueError:
        pass


def test_avi_stage_quarantines_and_handles_zero_frames(spark):
    """Non-AVI payloads quarantine as null rows; a legal zero-frame
    container yields 0 frames / empty sample list, not a crash."""
    import pandas as pd

    from k8e_fetch_spark.operators.avi import encode_avi
    from k8e_fetch_spark.operators.multimodal import decode_media_avi

    rows = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "payload": [b"definitely not RIFF", encode_avi(64, 48, 40000, [])],
        }
    )
    got = {r["doc_id"]: r for r in decode_media_avi(spark.createDataFrame(rows)).collect()}
    assert got[1]["width"] is None and got[1]["sampled_frames"] == []
    assert (got[2]["n_frames"], got[2]["duration_us"], got[2]["sampled_frames"]) == (0, 0, [])
    assert got[2]["mean_frame_bytes"] == 0.0


def _minimal_baseline_jpeg() -> bytes:
    """Construct a structurally real baseline JFIF JPEG (SOI, APP0,
    DQT, SOF0, DHT, SOS, entropy data, EOI — every segment with a
    correct big-endian length). This is the single most common
    web-corpus image format and the engine's documented codec boundary:
    no stdlib decoder exists, so it must route to quarantine."""
    import struct

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    app0 = seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    dqt = seg(0xFFDB, b"\x00" + bytes([16] * 64))
    # SOF0: 8-bit, 1x1, 1 component (id 1, sampling 0x11, qtable 0)
    sof0 = seg(0xFFC0, b"\x08\x00\x01\x00\x01\x01\x01\x11\x00")
    # DHT: DC table 0 with one 2-bit code
    dht = seg(0xFFC4, b"\x00" + bytes([0, 1] + [0] * 14) + b"\x00")
    sos = seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
    return b"\xff\xd8" + app0 + dqt + sof0 + dht + sos + b"\xb5" + b"\xff\xd9"


def test_jpeg_routes_to_quarantine_with_reason(spark):
    """A REAL (structurally valid baseline JFIF) JPEG payload must (a)
    sniff as 'jpeg' via the JVM-side magic-byte router, and (b)
    quarantine as a null-metadata row in the PNG decode stage — the
    documented codec boundary — without erroring the batch or
    corrupting neighbouring rows."""
    import pandas as pd

    from k8e_fetch_spark.operators.multimodal import (
        decode_media_png,
        sniff_media_format,
    )
    from k8e_fetch_spark.operators.png import encode_png

    jpeg = _minimal_baseline_jpeg()
    assert jpeg[:3] == b"\xff\xd8\xff" and jpeg[-2:] == b"\xff\xd9"
    png = encode_png(2, 2, bytes(range(12)), color_type=2)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "payload": [jpeg, png]})
    )
    sniffed = dict(
        df.select("doc_id", sniff_media_format("payload").alias("fmt")).collect()
    )
    assert sniffed == {1: "jpeg", 2: "png"}

    got = {r["doc_id"]: r for r in decode_media_png(df).collect()}
    # JPEG: quarantined (null dims, empty features), byte_len preserved
    assert got[1]["width"] is None and got[1]["features"] == []
    assert got[1]["byte_len"] == len(jpeg)
    # the PNG row in the same batch decodes normally
    assert (got[2]["width"], got[2]["height"]) == (2, 2)


def test_sniff_media_format_covers_all_magics(spark):
    """The sniffer distinguishes every container the engine can meet:
    png/jpeg/gif/wav/avi/other-riff/unknown — as a pure column
    expression (no Python UDF in the plan)."""
    import pandas as pd

    from k8e_fetch_spark.operators.avi import encode_avi
    from k8e_fetch_spark.operators.multimodal import sniff_media_format
    from k8e_fetch_spark.operators.png import encode_png
    from k8e_fetch_spark.operators.wav import encode_wav

    payloads = {
        1: (encode_png(1, 1, b"\x00\x00\x00"), "png"),
        2: (_minimal_baseline_jpeg(), "jpeg"),
        3: (b"GIF89a" + b"\x00" * 10, "gif"),
        4: (encode_wav(8000, 1, [0, 1]), "wav"),
        5: (encode_avi(8, 8, 40000, [b"x"]), "avi"),
        6: (b"RIFF\x04\x00\x00\x00WEBP", "riff"),
        7: (b"plain text bytes", "unknown"),
    }
    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": list(payloads), "payload": [v[0] for v in payloads.values()]}
        )
    )
    got = dict(
        df.select("doc_id", sniff_media_format("payload").alias("fmt")).collect()
    )
    assert got == {k: v[1] for k, v in payloads.items()}


def test_png_large_ihdr_bomb_rejected():
    """The large-IHDR variant of the decompression bomb: a crafted PNG
    declaring huge (consistent!) dimensions must be rejected by the
    declared-size cap BEFORE any allocation — the 4-byte dimension
    fields can claim ~2^35 pixel bytes from a kilobyte payload."""
    import struct
    import zlib

    from k8e_fetch_spark.operators.png import decode_png

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    # 65536 x 65536 grayscale -> ~4.3 GB declared pixel buffer
    ihdr = struct.pack(">IIBBBBB", 65536, 65536, 8, 0, 0, 0, 0)
    idat = zlib.compress(b"\x00" * 1024, 9)
    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="exceeds cap"):
        decode_png(bomb)


def test_avi_sample_every_validated_at_plan_time(spark):
    """sample_every=0 must raise loudly when the stage is BUILT — not
    quarantine every row at run time (a config error must never be
    indistinguishable from 100% data corruption)."""
    import pandas as pd

    from k8e_fetch_spark.operators.avi import encode_avi
    from k8e_fetch_spark.operators.multimodal import decode_media_avi

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "payload": [encode_avi(8, 8, 40000, [b"x"])]})
    )
    with pytest.raises(ValueError, match="sample_every"):
        decode_media_avi(df, sample_every=0)


def test_canon_value_bool_types_identical():
    """python bool and np.bool_ must canonicalize identically (which
    one arrives depends on the engine/Arrow path), and neither may
    collide with int 1/0."""
    import numpy as np

    from k8e_fetch_spark.testing import _canon_value

    assert _canon_value(True) == _canon_value(np.bool_(True)) == "bool:True"
    assert _canon_value(False) == _canon_value(np.bool_(False)) == "bool:False"
    assert _canon_value(True) != _canon_value(1)
    assert _canon_value(np.bool_(False)) != _canon_value(0)


def test_jpeg_roundtrip_accuracy():
    """The baseline JPEG codec's accuracy contract: EXACT on constant
    blocks with all-ones quantization (what makes the driver oracle
    possible), and lossy-but-bounded elsewhere. The PROVABLE bound is
    gray ±4 / RGB ±10 (derived in operators/jpeg.py; enforced over
    random parameters by tests/test_properties.py) — the tighter ±1/±2
    asserted below are observed values at these FIXED seeds, kept as
    regression pins, not a general contract."""
    import numpy as np

    from k8e_fetch_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(11)
    ones = np.ones((8, 8))

    img = np.full((16, 24), 137, dtype=np.uint8)
    w, h, nc, out = decode_jpeg(encode_jpeg(img, quant_luma=ones))
    assert (w, h, nc) == (24, 16, 1)
    assert np.array_equal(out, img)

    img = rng.randint(0, 256, (24, 17), dtype=np.uint8)
    _, _, _, out = decode_jpeg(encode_jpeg(img, quant_luma=ones))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 1

    img = rng.randint(0, 256, (19, 21, 3), dtype=np.uint8)
    _, _, nc, out = decode_jpeg(encode_jpeg(img, quant_luma=ones, quant_chroma=ones))
    assert nc == 3
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2

    # default Annex K tables: lossy, but a smooth gradient stays close
    xx, yy = np.meshgrid(np.arange(32), np.arange(24))
    img = (xx * 3 + yy * 2).astype(np.uint8)
    _, _, _, out = decode_jpeg(encode_jpeg(img))
    assert np.abs(out.astype(int) - img.astype(int)).mean() < 4.0


def test_jpeg_subsampling_and_restart_markers():
    """4:2:0 chroma subsampling (the common web layout) and restart
    markers both round-trip: gray-valued RGB is exact through the full
    YCbCr + subsample + MCU-interleave path, and a restart interval
    that actually emits RSTn markers decodes identically."""
    import numpy as np

    from k8e_fetch_spark.operators.jpeg import decode_jpeg, encode_jpeg

    ones = np.ones((8, 8))
    img = np.full((35, 49, 3), 0, dtype=np.uint8)
    img[...] = 163
    data = encode_jpeg(
        img, quant_luma=ones, quant_chroma=ones, subsampling="4:2:0", restart_interval=2
    )
    assert any(bytes([0xFF, 0xD0 + i]) in data for i in range(8))
    w, h, nc, out = decode_jpeg(data)
    assert (w, h, nc) == (49, 35, 3)
    assert np.array_equal(out, img)

    # restart markers on grayscale with random content: still ±1
    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (40, 56), dtype=np.uint8)
    _, _, _, out = decode_jpeg(encode_jpeg(img, quant_luma=ones, restart_interval=3))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 1


def test_jpeg_quarantine_contract(spark):
    """Non-baseline and corrupt JPEG payloads quarantine instead of
    failing the batch: progressive (SOF2) raises in the codec, a
    truncated stream raises, and the Arrow decode stage turns both
    into null-dims rows while a valid JPEG in the same batch decodes."""
    import numpy as np
    import pandas as pd
    import pytest as _pytest

    from k8e_fetch_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from k8e_fetch_spark.operators.multimodal import decode_media_jpeg

    ones = np.ones((8, 8))
    good = encode_jpeg(np.full((10, 12), 99, dtype=np.uint8), quant_luma=ones)
    progressive = bytearray(good)
    i = progressive.find(b"\xff\xc0")
    progressive[i + 1] = 0xC2
    with _pytest.raises(ValueError):
        decode_jpeg(bytes(progressive))
    zero_area = bytearray(good)
    zero_area[i + 5 : i + 9] = b"\x00\x00\x00\x0c"  # SOF0 height 0
    with _pytest.raises(ValueError):
        decode_jpeg(bytes(zero_area))
    with _pytest.raises(ValueError):
        decode_jpeg(good[: len(good) // 2])

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "payload": [
                    good, bytes(progressive), good[: len(good) // 2], bytes(zero_area),
                ],
            }
        )
    )
    got = {r["doc_id"]: r for r in decode_media_jpeg(df).collect()}
    assert (got[1]["width"], got[1]["height"]) == (12, 10)
    assert abs(got[1]["features"][0] - 99 / 255.0) < 1e-3
    for bad_id in (2, 3, 4):
        assert got[bad_id]["width"] is None and got[bad_id]["features"] == []


def test_box_resize_matches_reference_and_constants():
    """The box-average resampler against a straightforward reference:
    per output pixel, the rounded mean of its integer-edged source
    box; constants are preserved exactly (the oracle's premise), and
    upscaling degenerates to >=1-pixel boxes."""
    import numpy as np

    from k8e_fetch_spark.operators.multimodal import box_resize

    rng = np.random.RandomState(9)
    img = rng.randint(0, 256, (23, 31, 3), dtype=np.uint8)
    H, W = 12, 16
    out = box_resize(img, H, W)
    ys = (np.arange(H + 1) * 23) // H
    xs = (np.arange(W + 1) * 31) // W
    for i in (0, 5, 11):
        for j in (0, 7, 15):
            block = img[ys[i]:max(ys[i+1], ys[i]+1), xs[j]:max(xs[j+1], xs[j]+1)]
            want = np.round(block.reshape(-1, 3).astype(np.float64).mean(axis=0))
            assert np.array_equal(out[i, j], want.astype(np.uint8)), (i, j)

    const = np.full((9, 14), 201, dtype=np.uint8)
    assert np.array_equal(box_resize(const, 30, 40), np.full((30, 40), 201, np.uint8))


def test_resize_media_real_decodes_both_containers(spark):
    """The real resize stage handles PNG and JPEG payloads in one
    batch, emits thumbnails that are themselves decodable PNGs of the
    resampled pixels, and quarantines undecodable payloads."""
    import numpy as np
    import pandas as pd

    from k8e_fetch_spark.operators.jpeg import encode_jpeg
    from k8e_fetch_spark.operators.multimodal import resize_media_real
    from k8e_fetch_spark.operators.png import decode_png, encode_png

    ones = np.ones((8, 8))
    jpeg = encode_jpeg(np.full((20, 24, 3), 77, dtype=np.uint8), quant_luma=ones, quant_chroma=ones)
    png = encode_png(10, 8, bytes([130]) * (10 * 8 * 3), color_type=2)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "payload": [jpeg, png, b"not media"]})
    )
    got = {r["doc_id"]: r for r in resize_media_real(df, target=(6, 4)).collect()}
    assert (got[1]["out_width"], got[1]["out_height"], got[1]["mean_px"]) == (6, 4, 77)
    assert (got[2]["out_width"], got[2]["mean_px"]) == (6, 130)
    w, h, ch, raw = decode_png(bytes(got[2]["thumbnail"]))
    assert (w, h, ch) == (6, 4, 3) and set(raw) == {130}
    assert got[3]["out_width"] is None and got[3]["thumbnail"] is None


def test_gif_roundtrip_exact():
    """GIF is lossless over indexed data: random frames through the
    variable-width LZW (including 256-color tables that grow the code
    width to 12 bits and force dictionary resets), interlacing, and
    multi-frame streams all round-trip byte-exact. Includes the
    width-boundary regression: a run whose FINAL code lands exactly on
    a width step must not desync the END code (the decoder appends a
    phantom table entry for the last data code; the encoder's width
    bookkeeping mirrors it)."""
    import numpy as np

    from k8e_fetch_spark.operators.gif import (
        _MAX_PIXELS,
        _lzw_decode,
        _lzw_encode,
        decode_gif,
        encode_gif,
    )

    # the n=56 zeros case desynced before the phantom-entry fix
    for n in (1, 7, 55, 56, 57, 300, 2900):
        assert _lzw_decode(2, _lzw_encode(2, b"\x00" * n), _MAX_PIXELS) == b"\x00" * n

    rng = np.random.RandomState(4)
    pal256 = [(i, 255 - i, i // 2) for i in range(256)]
    idx = bytes(rng.randint(0, 256, 90 * 70).tolist())
    w, h, n, frames = decode_gif(encode_gif(90, 70, pal256, [idx]))
    assert (w, h, n) == (90, 70, 1)
    assert frames[0] == b"".join(bytes(pal256[i]) for i in idx)

    pal = [(9, 8, 7), (200, 100, 50), (0, 255, 0), (1, 2, 3)]
    idx = bytes(rng.randint(0, 4, 33 * 27).tolist())
    _, _, _, plain = decode_gif(encode_gif(33, 27, pal, [idx]))
    _, _, _, inter = decode_gif(encode_gif(33, 27, pal, [idx], interlace=True))
    assert plain[0] == inter[0]  # de-interlacing restores row order

    fs = [bytes([i % 4]) * (8 * 6) for i in range(5)]
    w, h, n, frames = decode_gif(encode_gif(8, 6, pal, fs, delays_cs=[10] * 5))
    assert n == 5
    for i, f in enumerate(frames):
        assert set(f) == set(bytes(pal[i % 4]))


def test_gif_disposal_methods_and_quarantine_contract():
    """The GIF89a disposal model over a persistent canvas (the
    delta-encoded-animation common case the fresh-canvas round-6
    decoder got wrong): do-not-dispose keeps prior frames visible
    under partial frames, disposal 2 restores the frame rectangle to
    the background color, disposal 3 restores the pre-frame canvas,
    and transparency exposes the UNDERLYING canvas pixel. Also pins
    the quarantine contract: truncated streams raise ValueError, not
    the IndexError/struct.error the block walk would naturally leak."""
    import struct

    import pytest

    from k8e_fetch_spark.operators.gif import _lzw_encode, _subblocks, decode_gif

    # hand-built 3x2 GIF89a: palette 0=red 1=green 2=blue 3=white(bg)
    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)]
    red, green, blue, white = (bytes(c) for c in pal)
    head = b"GIF89a" + struct.pack("<HHBBB", 3, 2, 0x81, 3, 0)
    head += b"".join(bytes(c) for c in pal)

    def gce(disposal, transparent=None):
        packed = (disposal << 2) | (1 if transparent is not None else 0)
        return b"\x21\xf9\x04" + bytes([packed, 0, 0, transparent or 0]) + b"\x00"

    def img(left, top, fw, fh, idx):
        out = b"\x2c" + struct.pack("<HHHHB", left, top, fw, fh, 0)
        return out + bytes([2]) + _subblocks(_lzw_encode(2, bytes(idx)))

    data = (
        head
        + gce(1) + img(0, 0, 3, 2, [0] * 6)            # f1: full red, keep
        + gce(2) + img(1, 0, 1, 1, [1])                # f2: green dot, then restore bg
        + gce(1, transparent=3) + img(0, 0, 3, 2, [3] * 6)  # f3: all transparent
        + gce(3) + img(0, 0, 1, 1, [2])                # f4: blue dot, then restore prev
        + gce(1, transparent=3) + img(0, 0, 3, 2, [3] * 6)  # f5: all transparent
        + b"\x3b"
    )
    w, h, n, frames = decode_gif(data)
    assert (w, h, n) == (3, 2, 5)
    assert frames[0] == red * 6
    # f2: persistent canvas (red) with the green dot at (row 0, col 1)
    assert frames[1] == red + green + red * 4
    # f3: after f2's disposal-2 the dot cell is BACKGROUND white; the
    # all-transparent frame exposes exactly that canvas
    assert frames[2] == red + white + red * 4
    # f4: blue dot drawn at (0,0) on the same canvas
    assert frames[3] == blue + white + red * 4
    # f5: f4 was disposal-3 -> canvas restored to the pre-f4 state
    assert frames[4] == red + white + red * 4

    # quarantine contract: every truncation point raises ValueError
    for cut in (4, 10, 14, len(head) + 3, len(head) + 10, len(data) - 6):
        with pytest.raises(ValueError):
            decode_gif(data[:cut] if cut < len(data) else data)
    with pytest.raises(ValueError):
        decode_gif(head + b"\x21\xf9\x04\x05")  # GCE cut mid-fields
    with pytest.raises(ValueError):
        decode_gif(head + b"\x2c" + struct.pack("<HHH", 0, 0, 3))  # descriptor cut


def test_jpeg_multiscan_baseline_quarantines():
    """A spec-legal NON-interleaved baseline JPEG (components coded in
    separate scans) must quarantine, not silently decode only the Y
    scan as grayscale: the decoder raises ValueError when the SOS
    names fewer components than the SOF declared."""
    import numpy as np
    import pytest

    from k8e_fetch_spark.operators.jpeg import decode_jpeg, encode_jpeg

    ones = np.ones((8, 8))
    img = np.full((8, 8, 3), 120, dtype=np.uint8)
    data = bytearray(encode_jpeg(img, quant_luma=ones, quant_chroma=ones))
    # rewrite the SOS header to name only the first (Y) component:
    # FFDA len(2) ns [cs tda]*ns ss se ah/al
    i = data.find(b"\xff\xda")
    assert i >= 0
    ns = data[i + 4]
    assert ns == 3
    new_body = bytes([1]) + data[i + 5 : i + 7] + data[i + 5 + 2 * ns : i + 8 + 2 * ns]
    data[i + 2 : i + 8 + 2 * ns] = struct_pack_len(new_body)
    with pytest.raises(ValueError, match="multi-scan"):
        decode_jpeg(bytes(data))


def struct_pack_len(body: bytes) -> bytes:
    import struct

    return struct.pack(">H", len(body) + 2) + body


def test_gif_stage_quarantines_and_counts_frames(spark):
    """decode_media_gif: n_frames is the real frame count, first-frame
    stats come from decoded pixels, and malformed GIFs (truncated LZW,
    garbage, a zero-area logical screen) quarantine without failing the
    batch — in the first-frame stage and in the per-frame stage."""
    import pandas as pd

    from k8e_fetch_spark.operators.gif import encode_gif
    from k8e_fetch_spark.operators.multimodal import decode_media_gif, decode_media_gif_frames

    good = encode_gif(10, 8, [(120, 120, 120)], [b"\x00" * 80] * 3, delays_cs=[5] * 3)
    zero_area = [encode_gif(w, h, [(9, 9, 9)], [b""]) for w, h in ((0, 0), (0, 5), (5, 0))]
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5, 6],
                "payload": [good, good[: len(good) - 10], b"GIF89a junk", *zero_area],
            }
        )
    )
    bad_ids = (2, 3, 4, 5, 6)
    got = {r["doc_id"]: r for r in decode_media_gif(df).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["n_frames"]) == (10, 8, 3)
    assert abs(got[1]["features"][0] - 120 / 255.0) < 1e-3
    for bad in bad_ids:
        assert got[bad]["width"] is None and got[bad]["features"] == []

    frames = decode_media_gif_frames(df).collect()
    assert sorted(r["frame_idx"] for r in frames if r["doc_id"] == 1) == [0, 1, 2]
    assert {r["mean_px"] for r in frames if r["doc_id"] == 1} == {120}
    for bad in bad_ids:
        (row,) = [r for r in frames if r["doc_id"] == bad]
        assert row["frame_idx"] is None and row["mean_px"] is None


def test_wav_bit_depths_and_float():
    """The WAV decoder handles the encodings a web corpus carries —
    8-bit unsigned, 16/24/32-bit PCM, IEEE float32, and the
    WAVE_FORMAT_EXTENSIBLE wrapper — folding every depth to the 16-bit
    scale so downstream stats normalize by one constant. Unsupported
    encodings (mu-law etc.) quarantine via ValueError."""
    import struct

    import pytest as _pytest

    from k8e_fetch_spark.operators.wav import (
        _FMT_PCM,
        _riff,
        decode_wav,
        encode_wav,
        encode_wav_float32,
    )

    sam = [0, 1000, -1000, 32767, -32768, 256, -256, 0]
    for width, want in [
        (2, sam),
        (3, sam),
        (4, sam),
        (1, [(s >> 8) << 8 for s in sam]),
    ]:
        r, c, n, out = decode_wav(encode_wav(8000, 2, sam, sample_width=width))
        assert (r, c, n) == (8000, 2, 4) and out == want, width

    fs = [0.0, 0.5, -0.5, 1.0, -1.0, 0.25]
    _, _, _, out = decode_wav(encode_wav_float32(22050, 2, fs))
    assert out == [round(v * 32767) for v in fs]

    # extensible wrapper around plain PCM
    raw = struct.pack("<6h", *sam[:6])
    fmt_body = (
        struct.pack("<HHIIHHH", 0xFFFE, 1, 8000, 16000, 2, 16, 22)
        + struct.pack("<HI", 16, 0)
        + struct.pack("<H", _FMT_PCM)
        + b"\x00" * 14
    )
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
        + b"data" + struct.pack("<I", len(raw)) + raw
    )
    ext = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    assert decode_wav(ext)[3] == sam[:6]

    with _pytest.raises(ValueError):
        decode_wav(_riff(8000, 1, 8, 7, b"\x00" * 10))  # mu-law


def test_png_palette_and_adam7():
    """Web-corpus PNG coverage beyond the truecolor basics: color type
    3 (palette, expanded via PLTE to RGB — or RGBA when tRNS carries
    per-entry alpha) and Adam7 interlacing (7 independently filtered
    passes scattered on the 8x8 grid, each pass exercising real
    unfiltering via an Up-filtered row)."""
    import struct
    import zlib

    import numpy as np

    from k8e_fetch_spark.operators.png import _ADAM7, decode_png

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"

    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30])
    idx = bytes([(i * 3) % 4 for i in range(20)])
    raw = b"".join(b"\x00" + idx[r * 5 : (r + 1) * 5] for r in range(4))
    base = chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 4, 8, 3, 0, 0, 0))
    png = sig + base + chunk(b"PLTE", pal) + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    w, h, ch, px = decode_png(png)
    assert (w, h, ch) == (5, 4, 3)
    assert px == b"".join(pal[3 * i : 3 * i + 3] for i in idx)

    png_a = (
        sig + base + chunk(b"PLTE", pal) + chunk(b"tRNS", bytes([200, 100]))
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    w, h, ch, px = decode_png(png_a)
    assert ch == 4
    alphas = {0: 200, 1: 100, 2: 255, 3: 255}
    assert px == b"".join(pal[3 * i : 3 * i + 3] + bytes([alphas[i]]) for i in idx)

    rng = np.random.RandomState(13)
    img = rng.randint(0, 256, (9, 13, 3), dtype=np.uint8)
    parts = []
    for x0, y0, xs, ys in _ADAM7:
        sub = img[y0::ys, x0::xs]
        if sub.size == 0:
            continue
        prev = np.zeros(sub.shape[1] * 3, dtype=np.uint8)
        for ri, row in enumerate(sub):
            flat = row.reshape(-1)
            if ri % 2 == 1:  # Up filter: real cross-row unfiltering per pass
                parts.append(b"\x02" + ((flat - prev) & 0xFF).astype(np.uint8).tobytes())
            else:
                parts.append(b"\x00" + flat.tobytes())
            prev = flat
    png_i = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 13, 9, 8, 2, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(b"".join(parts)))
        + chunk(b"IEND", b"")
    )
    w, h, ch, px = decode_png(png_i)
    assert (w, h, ch) == (13, 9, 3)
    assert px == img.tobytes()


def test_png_16bit_depth():
    """16-bit PNGs (photography pipelines) decode with the correct
    filter distance (bpp = 6 bytes for 16-bit RGB — a Sub filter at
    the 8-bit distance would garble every row) and fold to 8-bit via
    the big-endian high byte, the standard display reduction."""
    import struct
    import zlib

    import numpy as np

    from k8e_fetch_spark.operators.png import decode_png

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    rng = np.random.RandomState(15)
    w, h = 7, 5
    px16 = rng.randint(0, 65536, (h, w, 3), dtype=np.uint16)
    want = (px16 >> 8).astype(np.uint8).tobytes()
    raw = b""
    for r in range(h):
        row = px16[r].astype(">u2").tobytes()
        filt = bytearray(row)
        for i in range(len(row) - 1, 5, -1):
            filt[i] = (row[i] - row[i - 6]) & 0xFF  # Sub at bpp distance
        raw += b"\x01" + bytes(filt)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    W, H, ch, out = decode_png(png)
    assert (W, H, ch) == (w, h, 3)
    assert out == want


def test_png_variant_encoders_roundtrip():
    """The variant encoders (palette, Adam7, 16-bit) produce streams
    the decoder reverses exactly — the constructions the
    mm_decode_png_variants driver query builds on executors."""
    import numpy as np

    from k8e_fetch_spark.operators.png import (
        decode_png,
        encode_png_16bit,
        encode_png_interlaced,
        encode_png_palette,
    )

    rng = np.random.RandomState(21)
    pal = [(9, 8, 7), (200, 100, 50), (1, 2, 3), (250, 250, 250)]
    idx = bytes(rng.randint(0, 4, 6 * 7).tolist())
    w, h, ch, px = decode_png(encode_png_palette(6, 7, pal, idx))
    assert (w, h, ch) == (6, 7, 3)
    assert px == b"".join(bytes(pal[i]) for i in idx)

    raw = bytes(rng.randint(0, 256, 11 * 9 * 3).tolist())
    assert decode_png(encode_png_interlaced(11, 9, raw))[3] == raw

    s16 = rng.randint(0, 65536, 5 * 4 * 3).tolist()
    assert decode_png(encode_png_16bit(5, 4, s16))[3] == bytes(v >> 8 for v in s16)


# ------------------------------------------------------ quarantine contract


@pytest.mark.parametrize(
    "stage, truncated_magic",
    [
        ("decode_media_png", b"\x89PNG\r\n"),
        ("decode_media_jpeg", b"\xff\xd8\xff"),
        ("decode_media_gif", b"GIF89"),
        ("decode_media_gif_frames", b"GIF89"),
        ("decode_media_wav", b"RIFF\x24\x00\x00\x00WAV"),
        ("decode_media_avi", b"RIFF\x24\x00\x00\x00AVI"),
        ("resize_media_real", b"\x89PNG\r\n"),
    ],
)
def test_media_stage_quarantine_row_shape(spark, stage, truncated_magic):
    """Every real decode stage turns an undecodable payload into exactly
    one row shaped by its schema: byte_len (where present) is the
    payload length, array columns are [] and every other column is
    NULL."""
    from pyspark.sql.types import ArrayType

    from k8e_fetch_spark.operators import multimodal

    payloads = {1: b"", 2: truncated_magic}
    df = spark.createDataFrame(list(payloads.items()), "doc_id long, payload binary")
    out = getattr(multimodal, stage)(df)
    rows = out.collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2]
    for r in rows:
        for f in out.schema.fields[1:]:
            if f.name == "byte_len":
                assert r[f.name] == len(payloads[r["doc_id"]])
            elif isinstance(f.dataType, ArrayType):
                assert r[f.name] == [], (stage, f.name)
            else:
                assert r[f.name] is None, (stage, f.name)
