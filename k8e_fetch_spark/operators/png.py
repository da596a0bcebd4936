"""Minimal real PNG codec — stdlib (zlib + struct) + numpy.

The multimodal decode stage (SURVEY.md §2.6) needs to demonstrably
handle ACTUAL image bytes, not only the deterministic stub codec, and
this container ships no imaging library. PNG is simple enough to do
for real from the public spec (RFC 2083 / W3C PNG): chunked container
with CRC32, DEFLATE-compressed scanlines, five per-row predictor
filters. This module implements:

- :func:`encode_png` — writes a valid 8-bit PNG (gray / RGB / RGBA),
  cycling through ALL five filter types row by row so decoders (ours
  included) must implement real unfiltering, not just filter 0;
- :func:`decode_png` — parses the chunk stream (signature, IHDR, IDAT
  concatenation, CRC verification), inflates, and reverses the Sub /
  Up / Average / Paeth predictors to recover exact pixel bytes.

Pure functions of bytes, importable on executors: the Arrow-batched
``decode_media_png`` stage (operators/multimodal.py) calls
:func:`decode_png` per payload inside ``mapInPandas``. Outputs are
byte-exact (pinned by round-trip tests over gradient images in
tests/test_multimodal.py, including a ``binaryFile``-source read of
files on disk).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# channels per color type (8-bit depth only — the common web case);
# type 3 (palette) is 1 byte/px pre-expansion, expanded via PLTE/tRNS
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Hard cap on the IHDR-declared filtered pixel buffer (~64 Mpx RGBA +
# filter bytes). Corpus images beyond this are not plausible training
# inputs; decode_png raises (→ quarantine) rather than allocating.
_MAX_PIXEL_BYTES = 256 * 1024 * 1024


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(width: int, height: int, pixels: bytes, color_type: int = 2) -> bytes:
    """Write a real PNG. ``pixels`` is row-major packed bytes,
    ``width * height * channels`` long. Each row is filtered with
    ``row_index % 5`` (None/Sub/Up/Average/Paeth), so the output
    exercises the full filter suite on decode."""
    ch = _CHANNELS[color_type]
    if len(pixels) != width * height * ch:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes, want {width * height * ch}"
        )
    stride = width * ch
    # Filtering is fully vectorizable at ENCODE time (unlike decode's
    # Average/Paeth, which chain through reconstructed neighbors):
    # every predictor reads only the raw current/previous row.
    px = np.frombuffer(pixels, dtype=np.uint8).reshape(height, stride).astype(np.int16)
    left = np.zeros_like(px)
    left[:, ch:] = px[:, :-ch]
    up = np.zeros_like(px)
    up[1:] = px[:-1]
    up_left = np.zeros_like(px)
    up_left[1:, ch:] = px[:-1, :-ch]
    p = left + up - up_left
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - up_left)
    paeth = np.where(
        (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, up_left)
    )
    preds = (np.zeros_like(px), left, up, (left + up) >> 1, paeth)
    raw = bytearray()
    for y in range(height):
        ftype = y % 5
        raw.append(ftype)
        raw += ((px[y] - preds[ftype][y]) & 0xFF).astype(np.uint8).tobytes()
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


_ADAM7 = (  # (x0, y0, xstep, ystep) per pass
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _unfilter(raw: bytes, width: int, height: int, bpp: int) -> np.ndarray:
    """Reverse the five per-row predictor filters over a filtered
    sub-image of ``height`` rows, each 1 filter byte + width*bpp data
    bytes; ``bpp`` is the BYTES per pixel (channels x depth/8 — the
    filter distance the spec defines). Shared by the sequential path
    (one call) and the Adam7 path (one call per pass). Returns a
    (height, width*bpp) uint8 array.

    Vectorization split: None is a copy, Up is one wrapping uint8 add
    against the reconstructed previous row, Sub is a per-lane
    ``np.add.accumulate`` (uint8 wraps give the mod-256 the spec
    wants). Average and Paeth chain through the reconstructed LEFT
    neighbor — a genuine sequential dependency with a nonlinear step
    (floor-div / predictor select), so those rows keep the per-byte
    loop, run over bytearrays (C-speed indexing; numpy scalar boxing
    measures ~4x slower for this access pattern)."""
    stride = width * bpp
    ch = bpp
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ftype = int(rows[y, 0])
        line = rows[y, 1:].copy()
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub: per-lane wrapping prefix sum
            for r in range(ch):
                lane = line[r::ch]
                np.add.accumulate(lane, out=lane)
        elif ftype == 2:  # Up
            line += prev  # uint8 wraps mod 256
        elif ftype in (3, 4):  # Average / Paeth: sequential in x
            lb = bytearray(line.tobytes())
            pb_ = prev.tobytes()
            if ftype == 3:
                for i in range(stride):
                    a = lb[i - ch] if i >= ch else 0
                    lb[i] = (lb[i] + ((a + pb_[i]) >> 1)) & 0xFF
            else:
                for i in range(stride):
                    a = lb[i - ch] if i >= ch else 0
                    c = pb_[i - ch] if i >= ch else 0
                    lb[i] = (lb[i] + _paeth(a, pb_[i], c)) & 0xFF
            line = np.frombuffer(bytes(lb), dtype=np.uint8)
        else:
            raise ValueError(f"unknown filter type {ftype}")
        out[y] = line
        prev = out[y]
    return out


def encode_png_palette(
    width: int,
    height: int,
    palette: list[tuple[int, int, int]],
    indices: bytes,
    trns: bytes | None = None,
) -> bytes:
    """Write a color-type-3 (palette) PNG: PLTE triples, optional tRNS
    per-entry alpha, filter-0 index rows. The layout web icons and
    screenshots commonly ship; decode expands it back to RGB(A)."""
    if len(indices) != width * height:
        raise ValueError("index buffer length != width*height")
    if not 1 <= len(palette) <= 256:
        raise ValueError("palette must have 1..256 entries")
    raw = b"".join(
        b"\x00" + indices[y * width : (y + 1) * width] for y in range(height)
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 3, 0, 0, 0)
    out = _SIGNATURE + _chunk(b"IHDR", ihdr)
    out += _chunk(b"PLTE", b"".join(bytes(c) for c in palette))
    if trns is not None:
        out += _chunk(b"tRNS", trns)
    return out + _chunk(b"IDAT", zlib.compress(raw, 6)) + _chunk(b"IEND", b"")


def encode_png_interlaced(
    width: int, height: int, pixels: bytes, color_type: int = 2
) -> bytes:
    """Write an Adam7-interlaced PNG (filter-0 rows per pass): the
    progressive-rendering layout older web encoders emit."""
    ch = _CHANNELS[color_type]
    if len(pixels) != width * height * ch:
        raise ValueError("pixel buffer length mismatch")
    parts = []
    px3 = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, ch)
    for x0, y0, xs, ys in _ADAM7:
        pw = (width - x0 + xs - 1) // xs
        ph = (height - y0 + ys - 1) // ys
        if pw <= 0 or ph <= 0:
            continue
        sub = px3[y0::ys, x0::xs].reshape(ph, pw * ch)  # strided gather
        for py in range(ph):
            parts.append(b"\x00" + sub[py].tobytes())
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 1)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"".join(parts), 6))
        + _chunk(b"IEND", b"")
    )


def encode_png_16bit(
    width: int, height: int, samples16: list[int], color_type: int = 2
) -> bytes:
    """Write a 16-bit-depth PNG (big-endian samples, filter-0 rows):
    the photography-pipeline layout; decode folds to the high byte."""
    ch = _CHANNELS[color_type]
    if len(samples16) != width * height * ch:
        raise ValueError("sample buffer length mismatch")
    stride = width * ch * 2
    raw_all = struct.pack(f">{len(samples16)}H", *samples16)
    raw = b"".join(
        b"\x00" + raw_all[y * stride : (y + 1) * stride] for y in range(height)
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 16, color_type, 0, 0, 0)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Parse a PNG and return ``(width, height, channels, pixel_bytes)``
    with pixels row-major, filters reversed. Supports 8-bit depth,
    color types 0/2/4/6 and 3 (palette — expanded to RGB via PLTE, or
    RGBA when a tRNS chunk carries per-entry alpha), no interlace —
    raises ValueError otherwise
    (the decode stage surfaces that as a per-row error, it does not
    crash the task). Truncations that would surface as
    struct.error/IndexError from the chunk walk are re-raised as
    ValueError, so the quarantine contract holds for direct callers
    too (the same hardening decode_gif has)."""
    try:
        return _decode_png_chunks(data)
    except (IndexError, struct.error, zlib.error) as exc:
        raise ValueError(f"PNG: truncated or malformed stream ({exc})") from exc


def _decode_png_chunks(data: bytes) -> tuple[int, int, int, bytes]:
    if data[:8] != _SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    width = height = color_type = -1
    idat = bytearray()
    plte: bytes | None = None
    trns: bytes | None = None
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {tag!r} chunk")
        if tag == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if width == 0 or height == 0:
                raise ValueError("PNG: zero image dimension")
            if depth not in (8, 16) or (depth == 16 and color_type == 3):
                raise ValueError(f"unsupported bit depth {depth}")
            if color_type not in _CHANNELS:
                raise ValueError(f"unsupported color type {color_type}")
            if interlace not in (0, 1):
                raise ValueError(f"unknown interlace method {interlace}")
        elif tag == b"PLTE":
            if len(body) % 3 or not body:
                raise ValueError("bad PLTE chunk length")
            plte = bytes(body)
        elif tag == b"tRNS":
            trns = bytes(body)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width < 0:
        raise ValueError("missing IHDR")
    ch = _CHANNELS[color_type]
    bpp = ch * (depth // 8)
    stride = width * bpp
    # Bounded inflate: the IHDR already fixes the exact decompressed
    # size, so cap decompression there instead of trusting the stream —
    # an unbounded zlib.decompress lets a kilobyte DEFLATE bomb claim
    # gigabytes and OOM the executor (MemoryError would bypass the
    # quarantine catch in decode_media_png and kill the task).
    # The IHDR itself is attacker-controlled too: the 4-byte dimension
    # fields can declare up to ~2^35 pixel bytes, so a consistent
    # large-IHDR bomb would still materialize gigabytes before the
    # length check. Cap the declared pixel buffer outright — rows above
    # it quarantine via the same ValueError path.
    if interlace == 0:
        passes = [(0, 0, 1, 1, width, height)]
    else:  # Adam7: per-pass sub-image dims, empty passes skipped
        passes = []
        for x0, y0, xs, ys in _ADAM7:
            pw = (width - x0 + xs - 1) // xs
            ph = (height - y0 + ys - 1) // ys
            if pw > 0 and ph > 0:
                passes.append((x0, y0, xs, ys, pw, ph))
    expected = sum((pw * bpp + 1) * ph for *_ , pw, ph in passes)
    if expected > _MAX_PIXEL_BYTES:
        raise ValueError(
            f"declared pixel buffer {expected} B exceeds cap {_MAX_PIXEL_BYTES} B"
        )
    d = zlib.decompressobj()
    raw = d.decompress(bytes(idat), expected + 1)
    if d.unconsumed_tail:
        raw += d.decompress(d.unconsumed_tail, 1)
    if len(raw) != expected:
        raise ValueError("IDAT length does not match dimensions")
    out = np.empty((height, width, bpp), dtype=np.uint8)
    off = 0
    for x0, y0, xs, ys, pw, ph in passes:
        sub = _unfilter(raw[off : off + (pw * bpp + 1) * ph], pw, ph, bpp)
        off += (pw * bpp + 1) * ph
        if (x0, y0, xs, ys) == (0, 0, 1, 1):
            out[...] = sub.reshape(height, width, bpp)
        else:  # Adam7 scatter: one strided assignment per pass
            out[y0::ys, x0::xs] = sub.reshape(ph, pw, bpp)
    flat = out.reshape(-1)
    if depth == 16:
        # fold to 8-bit: PNG stores 16-bit samples big-endian, so the
        # high byte is sample >> 8 — the standard display reduction
        flat = flat[0::2]
    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE chunk")
        n_entries = len(plte) // 3
        if flat.size and int(flat.max()) >= n_entries:
            raise ValueError("palette index out of range")
        plte_arr = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        if trns is not None:  # per-entry alpha, 255 past the tRNS length
            alpha_arr = np.full(n_entries, 255, dtype=np.uint8)
            a = np.frombuffer(trns, dtype=np.uint8)[:n_entries]
            alpha_arr[: a.size] = a
            px = np.concatenate(
                [plte_arr[flat], alpha_arr[flat][:, None]], axis=1
            )
            return width, height, 4, px.tobytes()
        return width, height, 3, plte_arr[flat].tobytes()
    return width, height, ch, flat.tobytes()
