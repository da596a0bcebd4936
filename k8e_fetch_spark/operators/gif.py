"""Minimal real GIF codec — stdlib + numpy.

Completes the image-codec set (PNG, baseline JPEG, GIF — the three
formats the magic-byte router distinguishes): GIF87a/89a is fully
specified publicly (the GIF89a specification and the underlying
LZW-variable-width scheme), needs no external libraries, and is the
one image container here with first-class MULTI-FRAME semantics — so
``n_frames`` in the decode schema means something real for images,
not just for AVI.

- :func:`encode_gif` — writes a valid GIF89a from indexed frames
  (global palette, real variable-width LZW compression with clear-code
  dictionary resets, optional per-frame interlacing, loop/delay
  metadata via the standard graphics-control extension);
- :func:`decode_gif` — parses the logical screen descriptor and block
  stream, LZW-decompresses each image descriptor's sub-blocks,
  de-interlaces, applies local-over-global palettes, and returns every
  frame as RGB.

GIF pixel data is lossless over indexed input, so round-trips are
byte-exact (pinned in tests/test_multimodal.py, including interlaced
and multi-frame paths). Malformed streams raise ValueError — the same
quarantine contract as the PNG/JPEG decoders — including truncations
that would otherwise surface as IndexError/struct.error from the
block walk (decode_gif wraps those, so the contract holds for direct
callers, not just the Arrow stages).

Animation compositing follows the GIF89a disposal model: frames are
drawn onto a PERSISTENT logical-screen canvas (disposal 0/1 = do not
dispose — the delta-encoded-GIF common case), disposal 2 restores the
frame's rectangle to the background color, disposal 3 restores the
canvas state from before the frame was drawn.
"""

from __future__ import annotations

import struct

import numpy as np

_MAX_PIXELS = 64 * 1024 * 1024  # same bomb-cap contract as png/jpeg


# ---------------------------------------------------------------------------
# LZW (GIF variant: variable width, LSB-first, clear/end codes)


def _lzw_encode(min_code_size: int, data: bytes) -> bytes:
    # Dictionary keys are (prefix_code << 8 | next_byte) ints, not the
    # string prefixes themselves: every LZW dictionary string is a
    # known code plus one byte, so the int pair identifies it uniquely
    # (codes < 4096, bytes < 256) and each step is an O(1) int-dict
    # probe instead of an O(len) bytes build+hash. Emitted codes are
    # identical to the string-keyed form (same insertion order).
    clear = 1 << min_code_size
    end = clear + 1
    table: dict[int, int] = {}
    next_code = end + 1
    width = min_code_size + 1

    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    prev = -1  # current string's code; base codes are the bytes themselves
    for b in data:
        if prev < 0:
            prev = b
            continue
        key = (prev << 8) | b
        code = table.get(key)
        if code is not None:
            prev = code
            continue
        emit(prev)
        table[key] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code >= 4096:
            emit(clear)
            table = {}
            next_code = end + 1
            width = min_code_size + 1
        prev = b
    if prev >= 0:
        emit(prev)
        # the decoder appends one table entry for EVERY data code after
        # the first — including this final one, for which the encoder
        # adds nothing. Mirror that phantom entry in the width
        # bookkeeping, or the decoder's width grows one step early and
        # the END code desyncs (surfaced as 'truncated LZW stream' on
        # runs whose last code lands exactly on a width boundary).
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


_POW2 = 1 << np.arange(12, dtype=np.int64)


def _lzw_decode(min_code_size: int, data: bytes, max_pixels: int) -> bytes:
    """GIF variable-width LZW decode — table-driven, vectorized bit reads.

    Two structural facts make this O(output) with C-speed inner ops
    (the round-6 version paid a Python bytes-concat per code):

    1. Between dictionary events the code width is FIXED and the number
       of codes until the next width bump is known in advance (each
       data code adds at most one table entry), so whole runs of codes
       are extracted in one numpy reshape+matmul over the LSB-first bit
       array instead of a per-code bit-accumulator loop.
    2. Every dictionary entry's string is ALWAYS a substring of the
       already-produced output: the entry created on emitting code c is
       string(prev) + first_byte(string(c)), and both of those were
       just written contiguously at prev's emission position. So the
       table stores only (source offset, length) integer pairs and each
       emission is a single slice copy out of the output buffer — no
       per-byte chain walk, no per-code allocation. The only overlap
       case is the self-referential KwKwK code (source extends exactly
       one byte past the current end), handled by copying the tail byte
       from the source start.
    """
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    total_bits = len(data) * 8

    def extract(p: int, n: int, w: int) -> np.ndarray:
        # unpack ONLY this chunk's bytes (≤ ~6 KB at the 4096-code
        # cap): a whole-stream unpackbits would allocate 8 bytes per
        # compressed byte up front — memory amplification the
        # incremental decoder this replaces never had
        start = p // 8
        seg = np.unpackbits(
            np.frombuffer(data[start : (p + n * w + 7) // 8], dtype=np.uint8),
            bitorder="little",
        )
        off = p - start * 8
        return seg[off : off + n * w].reshape(n, w).astype(np.int64) @ _POW2[:w]

    out = bytearray()
    src = [0] * 4096
    length = [0] * 4096
    next_idx = clear + 2
    prev_pos = 0
    prev_len = 0
    have_prev = False
    p = 0
    while True:
        if width == 12 or next_idx >= 4096:
            # width is pinned at 12 until a clear; cap the chunk so a
            # clear found mid-chunk only wastes a bounded extraction
            # (unbounded chunks here are quadratic on clear-heavy
            # streams — random content clears every ~4k codes)
            n = min((total_bits - p) // 12, 4096)
        else:
            n = (1 << width) - next_idx  # safe run before a possible bump
        n = min(n, (total_bits - p) // width)
        if n <= 0:
            raise ValueError("GIF: truncated LZW stream")
        codes_arr = extract(p, n, width)
        ctrl = np.nonzero((codes_arr == clear) | (codes_arr == end))[0]
        stop = int(ctrl[0]) if ctrl.size else n
        codes = codes_arr.tolist()  # plain ints: the loop below is per-code Python
        for i in range(stop):
            c = codes[i]
            cur = len(out)
            if not have_prev:  # first data code after (re)start
                if c >= clear:
                    raise ValueError("GIF: bad first LZW code")
                out.append(c)
                prev_pos, prev_len, have_prev = cur, 1, True
                continue
            if c < clear:
                lc = 1
            elif c < next_idx:
                sc, lc = src[c], length[c]
            elif c == next_idx and next_idx < 4096:
                sc, lc = prev_pos, prev_len + 1  # KwKwK self-reference
            else:
                raise ValueError("GIF: LZW code out of range")
            if next_idx < 4096:
                src[next_idx] = prev_pos
                length[next_idx] = prev_len + 1
                next_idx += 1
            if c < clear:
                out.append(c)
            else:
                e = sc + lc
                if e <= cur:
                    out += out[sc:e]
                else:
                    out += out[sc:cur]
                    out.append(out[sc])
            if len(out) > max_pixels:
                raise ValueError("GIF: decoded size exceeds cap")
            prev_pos, prev_len = cur, lc
        if ctrl.size:
            p += (stop + 1) * width
            if codes[stop] == end:
                return bytes(out)
            next_idx = clear + 2  # clear code: reset dictionary
            width = min_code_size + 1
            have_prev = False
        else:
            p += n * width
            if next_idx == (1 << width) and width < 12:
                width += 1


# interlace pass row schedule (GIF89a appendix E)
_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> list[int]:
    order: list[int] = []
    for start, step in _INTERLACE:
        order.extend(range(start, h, step))
    return order


def _subblocks(body: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(body):
        out.append(len(body[i : i + 255]))
        out += body[i : i + 255]
        i += 255
    out.append(0)
    return bytes(out)


def encode_gif(
    width: int,
    height: int,
    palette: list[tuple[int, int, int]],
    frames: list[bytes],
    delays_cs: list[int] | None = None,
    interlace: bool = False,
) -> bytes:
    """Write a GIF89a. ``palette``: up to 256 RGB triples (padded to a
    power of two >= 2); ``frames``: per-frame palette-index bytes,
    each exactly width*height long; ``delays_cs``: per-frame delay in
    centiseconds (emits a graphics-control extension when given);
    ``interlace`` writes every frame with the 4-pass row schedule."""
    if not frames:
        raise ValueError("encode_gif needs at least one frame")
    if not 1 <= len(palette) <= 256:
        raise ValueError("palette must have 1..256 entries")
    size = 1
    while (1 << size) < max(len(palette), 2):
        size += 1
    n_colors = 1 << size
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | (size - 1), 0, 0)
    for i in range(n_colors):
        r, g, b = palette[i] if i < len(palette) else (0, 0, 0)
        out += bytes((r, g, b))
    min_code = max(2, size)
    for fi, frame in enumerate(frames):
        if len(frame) != width * height:
            raise ValueError("frame length != width*height")
        if delays_cs is not None:
            out += b"\x21\xf9\x04\x00" + struct.pack("<H", delays_cs[fi]) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0x40 if interlace else 0)
        if interlace:
            rows = [frame[r * width : (r + 1) * width] for r in _interlace_order(height)]
            frame = b"".join(rows)
        out.append(min_code)
        out += _subblocks(_lzw_encode(min_code, frame))
    out += b"\x3b"
    return bytes(out)


def decode_gif(data: bytes) -> tuple[int, int, int, list[bytes]]:
    """Decode a GIF. Returns (width, height, n_frames, frames) where
    each frame is width*height*3 RGB bytes on the logical screen,
    composited per the GIF89a disposal model: the canvas PERSISTS
    across frames (disposal 0/1 — delta-encoded partial frames render
    correctly), disposal 2 restores the frame rectangle to the
    background color, disposal 3 restores the pre-frame canvas;
    transparency via the graphics-control extension leaves the
    underlying canvas pixel visible. Raises ValueError on malformed
    streams — the quarantine contract (truncations surfacing as
    IndexError/struct.error inside the block walk are re-raised as
    ValueError)."""
    try:
        return _decode_gif_blocks(data)
    except (IndexError, struct.error) as exc:
        raise ValueError(f"GIF: truncated or malformed stream ({exc})") from exc


def _decode_gif_blocks(data: bytes) -> tuple[int, int, int, list[bytes]]:
    if len(data) < 13 or data[:4] != b"GIF8" or data[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF")
    w, h, packed, bg, _ = struct.unpack("<HHBBB", data[6:13])
    if w == 0 or h == 0:
        raise ValueError("GIF: zero-area logical screen")
    if w * h > _MAX_PIXELS:
        raise ValueError("GIF: declared size exceeds cap")
    pos = 13
    global_pal: list[bytes] = []
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        global_pal = [data[pos + 3 * i : pos + 3 * i + 3] for i in range(n)]
        pos += 3 * n
    bg_rgb = global_pal[bg] if bg < len(global_pal) else b"\x00\x00\x00"
    bg_px = np.frombuffer(bg_rgb.ljust(3, b"\x00"), dtype=np.uint8)
    canvas = np.broadcast_to(bg_px, (h, w, 3)).copy()
    frames: list[bytes] = []
    transparent: int | None = None
    disposal = 0
    while pos < len(data):
        block = data[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = data[pos + 1]
            pos += 2
            if label == 0xF9 and data[pos] >= 4:
                gce_packed = data[pos + 1]
                transparent = data[pos + 4] if gce_packed & 0x01 else None
                disposal = (gce_packed >> 2) & 0x07
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            left, top, fw, fh, ipacked = struct.unpack("<HHHHB", data[pos + 1 : pos + 10])
            pos += 10
            pal = global_pal
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                pal = [data[pos + 3 * i : pos + 3 * i + 3] for i in range(n)]
                pos += 3 * n
            if not pal:
                raise ValueError("GIF: no color table")
            if pos >= len(data):
                raise ValueError("GIF: truncated image block")
            min_code = data[pos]
            pos += 1
            if not 2 <= min_code <= 11:
                raise ValueError("GIF: bad LZW minimum code size")
            lzw = bytearray()
            while pos < len(data) and data[pos] != 0:
                n = data[pos]
                lzw += data[pos + 1 : pos + 1 + n]
                pos += 1 + n
            if pos >= len(data):
                raise ValueError("GIF: unterminated sub-blocks")
            pos += 1
            idx = _lzw_decode(min_code, bytes(lzw), _MAX_PIXELS)
            if len(idx) < fw * fh:
                raise ValueError("GIF: short frame data")
            idx_arr = np.frombuffer(idx, dtype=np.uint8)[: fw * fh].reshape(fh, fw)
            if ipacked & 0x40:  # interlaced: invert the pass order
                deinter = np.empty_like(idx_arr)
                deinter[_interlace_order(fh), :] = idx_arr
                idx_arr = deinter
            # clip the frame rectangle to the logical screen
            y1, x1 = min(fh, h - top), min(fw, w - left)
            prev_canvas = canvas.copy() if disposal == 3 else None
            if y1 > 0 and x1 > 0:
                sub = idx_arr[:y1, :x1]
                visible = sub if transparent is None else sub[sub != transparent]
                if visible.size and int(visible.max()) >= len(pal):
                    raise ValueError("GIF: palette index out of range")
                pal_arr = np.frombuffer(
                    b"".join(p.ljust(3, b"\x00") for p in pal), dtype=np.uint8
                ).reshape(-1, 3)
                region = canvas[top : top + y1, left : left + x1]
                if transparent is None:
                    region[...] = pal_arr[sub]
                else:
                    mask = sub != transparent
                    region[mask] = pal_arr[sub[mask]]
            frames.append(canvas.tobytes())
            if disposal == 2 and y1 > 0 and x1 > 0:
                canvas[top : top + y1, left : left + x1] = bg_px
            elif disposal == 3 and prev_canvas is not None:
                canvas = prev_canvas
            transparent = None
            disposal = 0
        else:
            raise ValueError(f"GIF: unknown block 0x{block:02x}")
    if not frames:
        raise ValueError("GIF: no image data")
    return w, h, len(frames), frames
