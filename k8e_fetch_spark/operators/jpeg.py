"""Minimal real baseline JPEG codec — stdlib + numpy.

Closes the engine's last documented codec boundary: JPEG is the single
most common web-corpus image format, this container ships no imaging
library, and until round 6 real JPEG bytes could only be sniffed and
quarantined. Baseline sequential JPEG is fully specified in public
documents (ITU-T T.81 / ISO 10918-1, with the JFIF color space in
ITU-T T.871), and numpy makes the 8x8 DCT practical, so — like the
PNG/WAV/AVI trilogy — it is implemented for real:

- :func:`encode_jpeg` — writes a valid baseline JFIF JPEG (8-bit
  grayscale or YCbCr 4:4:4 / 4:2:0, interleaved single scan, spec
  Annex K Huffman tables, caller-controlled quantization tables so
  tests can pin near-lossless all-ones tables);
- :func:`decode_jpeg` — parses the marker stream (DQT / SOF0 / DHT /
  DRI / SOS), entropy-decodes the scan (canonical Huffman, byte
  stuffing, restart markers), dequantizes, inverse-DCTs, upsamples
  chroma and converts JFIF YCbCr back to RGB.

Scope is the baseline process only: progressive (SOF2), arithmetic
coding, hierarchical and 12-bit modes raise ValueError, which the
Arrow decode stage turns into a quarantine row — the same contract as
a corrupt payload.

Round-trip accuracy (all-ones quantization, 4:4:4 or grayscale) —
derived worst-case bound, not an aspiration:

- The ONLY lossy step is coefficient quantization: ``round(c / 1)``
  perturbs each of the 64 DCT coefficients by at most 0.5. The 2-D
  DCT-II basis is orthonormal with per-pixel amplitude sum
  ``max_{x,y} sum_{u,v} |b_uv(x,y)| = 6.9794`` (numerically, from
  the Annex A cosine matrix), so the reconstructed PLANE value is
  within ``0.5 * 6.9794 = 3.49`` of the true value in the adversarial
  worst case — and within ~0.29 std for random images (sum of 64
  ~uniform(±0.5) terms over a unit-norm basis).
- The JFIF YCbCr→RGB transform amplifies plane error by at most
  ``1 + 1.772`` (blue channel), and the final ``np.round`` adds 0.5.

Composed worst case per pixel: grayscale ``3.49 + 0.5 → ±4``; RGB
``3.49 * 2.772 + 0.5 → ±10``. Random images sit far inside this
(observed max 3 across the hypothesis corpus — the ±2 previously
claimed here was a sampling artifact, falsified by
``w=35, h=16, seed=45112``, pinned as an ``@example`` in
tests/test_properties.py). Constant 8x8-aligned blocks round-trip
EXACTLY (a constant block is a pure DC coefficient, which all-ones
quantization preserves) — that exactness, not the ±bound, is what the
driver's relational oracle queries rely on.

Pure functions of bytes, importable on executors: the Arrow-batched
``decode_media_jpeg`` stage (operators/multimodal.py) calls
:func:`decode_jpeg` per payload inside ``mapInPandas``.
"""

from __future__ import annotations

import math
import struct

import numpy as np

# ---------------------------------------------------------------------------
# tables (ITU-T T.81 Annex K — public spec constants)

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
])

# Annex K.1/K.2 example quantization tables (the de-facto defaults)
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32).reshape(8, 8)

QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32).reshape(8, 8)

# Annex K.3 typical Huffman tables: (bits[1..16], values)
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
              list(range(12)))
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)

# orthonormal 8-point DCT-II basis: F = M @ B @ M.T, B = M.T @ F @ M
_C = np.array([1.0 / math.sqrt(2)] + [1.0] * 7)
_DCT_M = np.array(
    [[0.5 * _C[u] * math.cos((2 * x + 1) * u * math.pi / 16) for x in range(8)]
     for u in range(8)]
)

# Hard cap on the SOF-declared pixel buffer — same quarantine contract
# as the PNG decoder's large-IHDR bomb cap.
_MAX_PIXELS = 64 * 1024 * 1024


def _huff_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """value -> (code, length) canonical Huffman assignment (T.81 C.2)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_table(bits: list[int], values: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> value lookup for decoding."""
    table: dict[tuple[int, int], int] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_fast_table(table: dict[tuple[int, int], int]) -> list[tuple[int, int] | None]:
    """256-entry lookahead (the libjpeg trick): index by the next 8
    bits; codes of length <= 8 resolve in ONE probe to (value, length).
    Longer codes (rare by Huffman construction) fall back to the
    bit-by-bit walk. Built once per DHT table at scan setup."""
    fast: list[tuple[int, int] | None] = [None] * 256
    for (length, code), val in table.items():
        if length <= 8:
            lo = code << (8 - length)
            for i in range(lo, lo + (1 << (8 - length))):
                fast[i] = (val, length)
    return fast


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.buf)


class _BitReader:
    """Reads the entropy-coded segment: un-stuffs 0xFF00, stops at any
    real marker (leaving the cursor on it), and byte-aligns on demand
    for restart markers."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("JPEG: truncated entropy stream")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:  # stuffed literal 0xFF
                self.pos += 2
            else:  # a real marker inside the scan
                raise ValueError("JPEG: marker inside entropy stream")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bits(self, length: int) -> int:
        while self.n < length:
            self._fill()
        self.n -= length
        v = (self.acc >> self.n) & ((1 << length) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bits(1)
            v = table.get((length, code))
            if v is not None:
                return v
        raise ValueError("JPEG: invalid Huffman code")

    def huff_fast(
        self,
        fast: list[tuple[int, int] | None],
        table: dict[tuple[int, int], int],
    ) -> int:
        """One-probe decode via the 8-bit lookahead; consumes nothing
        and falls back to the exact bit-by-bit walk when fewer than 8
        bits remain before a marker/stream end (a short tail code must
        still decode) or the lookahead slot is empty (code > 8 bits)."""
        if self.n < 8:
            # top up WITHOUT raising: the tail of a scan may hold a
            # final short code with < 8 bits before the marker
            d = self.data
            while self.n < 8 and self.pos < len(d):
                b = d[self.pos]
                if b == 0xFF:
                    if self.pos + 1 < len(d) and d[self.pos + 1] == 0x00:
                        self.pos += 2
                    else:
                        break  # real marker: stop filling
                else:
                    self.pos += 1
                self.acc = (self.acc << 8) | b
                self.n += 8
        if self.n >= 8:
            ent = fast[(self.acc >> (self.n - 8)) & 0xFF]
            if ent is not None:
                val, length = ent
                self.n -= length
                self.acc &= (1 << self.n) - 1
                return val
        return self.huff(table)

    def restart(self, expected: int) -> None:
        """Byte-align and consume the RSTn marker."""
        self.n = 0
        self.acc = 0
        d = self.data
        if self.pos + 1 >= len(d) or d[self.pos] != 0xFF:
            raise ValueError("JPEG: expected restart marker")
        if d[self.pos + 1] != 0xD0 + expected:
            raise ValueError("JPEG: restart marker out of sequence")
        self.pos += 2


def _extend(v: int, t: int) -> int:
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _rgb_to_ycbcr(px: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    r, g, b = (px[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return y, cb, cr


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def _pad_to(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    """Edge-replicate to (bh, bw)."""
    h, w = plane.shape
    return np.pad(plane, ((0, bh - h), (0, bw - w)), mode="edge")


def _blocks_dct_quant(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(H, W) float plane (H, W multiples of 8) -> (H//8, W//8, 64)
    zigzagged quantized coefficients."""
    h, w = plane.shape
    blocks = plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3) - 128.0
    coeffs = np.einsum("ux,nmxy,vy->nmuv", _DCT_M, blocks, _DCT_M)
    quant = np.round(coeffs / q).astype(np.int32)
    return quant.reshape(h // 8, w // 8, 64)[..., ZIGZAG]


def _encode_block(
    zz: np.ndarray,
    pred: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
    bw: _BitWriter,
) -> int:
    diff = int(zz[0]) - pred
    t = _category(diff)
    code, length = dc_codes[t]
    bw.write(code, length)
    if t:
        bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nonzero = max((i for i in range(1, 64) if zz[i]), default=0)
    for i in range(1, last_nonzero + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        t = _category(v)
        code, length = ac_codes[(run << 4) | t]
        bw.write(code, length)
        bw.write(v if v >= 0 else v + (1 << t) - 1, t)
        run = 0
    if last_nonzero < 63:
        code, length = ac_codes[0x00]  # EOB
        bw.write(code, length)
    return int(zz[0])


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">HH", marker, len(body) + 2) + body


def encode_jpeg(
    pixels: np.ndarray,
    quant_luma: np.ndarray | None = None,
    quant_chroma: np.ndarray | None = None,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
) -> bytes:
    """Encode an 8-bit image as a baseline JFIF JPEG.

    ``pixels``: uint8 array, shape (h, w) for grayscale or (h, w, 3)
    RGB. ``subsampling``: '4:4:4' (no chroma subsampling) or '4:2:0'
    (2x2 chroma average — the common web layout). Quant tables default
    to the Annex K examples; pass ``np.ones((8, 8))`` for the
    near-lossless tables the round-trip tests pin. ``restart_interval``
    > 0 emits a DRI segment and RSTn markers every that many MCUs —
    real-decoder coverage for the resync path corrupted-stream
    recovery depends on."""
    pixels = np.asarray(pixels, dtype=np.uint8)
    gray = pixels.ndim == 2
    if not gray and (pixels.ndim != 3 or pixels.shape[2] != 3):
        raise ValueError("encode_jpeg expects (h,w) gray or (h,w,3) RGB")
    h, w = pixels.shape[:2]
    if h < 1 or w < 1:
        raise ValueError("empty image")
    ql = (QUANT_LUMA if quant_luma is None else np.asarray(quant_luma)).astype(np.float64)
    qc = (QUANT_CHROMA if quant_chroma is None else np.asarray(quant_chroma)).astype(np.float64)

    if gray:
        planes = [pixels.astype(np.float64)]
        samps = [(1, 1)]
        qtabs = [ql]
        qids = [0]
    else:
        y, cb, cr = _rgb_to_ycbcr(pixels)
        if subsampling == "4:2:0":
            cbp = _pad_to(cb, (h + 1) // 2 * 2, (w + 1) // 2 * 2)
            crp = _pad_to(cr, (h + 1) // 2 * 2, (w + 1) // 2 * 2)
            cb = cbp.reshape(cbp.shape[0] // 2, 2, cbp.shape[1] // 2, 2).mean(axis=(1, 3))
            cr = crp.reshape(crp.shape[0] // 2, 2, crp.shape[1] // 2, 2).mean(axis=(1, 3))
            samps = [(2, 2), (1, 1), (1, 1)]
        elif subsampling == "4:4:4":
            samps = [(1, 1), (1, 1), (1, 1)]
        else:
            raise ValueError(f"unsupported subsampling {subsampling!r}")
        planes = [y, cb, cr]
        qtabs = [ql, qc, qc]
        qids = [0, 1, 1]

    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    zz_planes = []
    for plane, (sh_, sv_) in zip(planes, samps):
        bw_, bh_ = mcus_x * sh_ * 8, mcus_y * sv_ * 8
        zz_planes.append(_blocks_dct_quant(_pad_to(plane, bh_, bw_), qtabs[len(zz_planes)]))

    dc_tabs = [_huff_codes(*_DC_LUMA)] + ([_huff_codes(*_DC_CHROMA)] if not gray else [])
    ac_tabs = [_huff_codes(*_AC_LUMA)] + ([_huff_codes(*_AC_CHROMA)] if not gray else [])
    tsel = [0] + ([1, 1] if not gray else [])

    parts: list[bytes] = []
    writer = _BitWriter()
    preds = [0] * len(planes)
    mcu_count = 0
    n_restarts = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                parts.append(writer.flush())
                parts.append(bytes([0xFF, 0xD0 + n_restarts % 8]))
                n_restarts += 1
                writer = _BitWriter()
                preds = [0] * len(planes)
            for ci, (sh_, sv_) in enumerate(samps):
                for by in range(sv_):
                    for bx in range(sh_):
                        zz = zz_planes[ci][my * sv_ + by, mx * sh_ + bx]
                        preds[ci] = _encode_block(
                            zz, preds[ci], dc_tabs[tsel[ci]], ac_tabs[tsel[ci]], writer
                        )
            mcu_count += 1
    parts.append(writer.flush())
    scan = b"".join(parts)

    out = bytearray(b"\xff\xd8")
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xFFDB, b"\x00" + bytes(ql.astype(np.uint8).reshape(64)[ZIGZAG]))
    if not gray:
        out += _seg(0xFFDB, b"\x01" + bytes(qc.astype(np.uint8).reshape(64)[ZIGZAG]))
    ncomp = 1 if gray else 3
    sof = bytearray(struct.pack(">BHHB", 8, h, w, ncomp))
    for ci in range(ncomp):
        sof += bytes([ci + 1, (samps[ci][0] << 4) | samps[ci][1], qids[ci]])
    out += _seg(0xFFC0, bytes(sof))

    def dht(tc: int, th: int, bits: list[int], values: list[int]) -> bytes:
        return _seg(0xFFC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(values))

    out += dht(0, 0, *_DC_LUMA)
    out += dht(1, 0, *_AC_LUMA)
    if not gray:
        out += dht(0, 1, *_DC_CHROMA)
        out += dht(1, 1, *_AC_CHROMA)
    if restart_interval:
        out += _seg(0xFFDD, struct.pack(">H", restart_interval))
    sos = bytearray([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, (tsel[ci] << 4) | tsel[ci]])
    sos += b"\x00\x3f\x00"
    out += _seg(0xFFDA, bytes(sos))
    out += scan
    out += b"\xff\xd9"
    return bytes(out)


def decode_jpeg(data: bytes) -> tuple[int, int, int, np.ndarray]:
    """Decode a baseline JPEG. Returns (width, height, n_components,
    pixels) with pixels uint8 of shape (h, w) for grayscale or
    (h, w, 3) RGB. Raises ValueError on anything that is not a
    well-formed baseline sequential JPEG (progressive, arithmetic,
    truncation, bad Huffman data) — the quarantine contract. Corrupted
    streams whose damage surfaces deeper in the pipeline (Huffman
    table misses -> IndexError/KeyError, absurd marker fields ->
    OverflowError, zero sampling factors -> ZeroDivisionError, short
    segments -> struct.error) are re-raised as ValueError so the
    contract holds at every byte of a hostile payload (random-
    corruption fuzz in tests/test_properties.py)."""
    try:
        return _decode_jpeg_markers(data)
    except (IndexError, KeyError, struct.error, OverflowError, ZeroDivisionError) as exc:
        raise ValueError(f"JPEG: corrupt or malformed stream ({exc})") from exc


def _decode_jpeg_markers(data: bytes) -> tuple[int, int, int, np.ndarray]:
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None
    restart_interval = 0
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG: expected marker")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI before SOS
            raise ValueError("JPEG: no scan data")
        (length,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + length]
        if len(body) != length - 2:
            raise ValueError("JPEG: truncated segment")
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise ValueError("JPEG: 16-bit quant tables unsupported")
                tab = np.zeros(64, dtype=np.int32)
                tab[ZIGZAG] = np.frombuffer(body[i + 1 : i + 65], dtype=np.uint8)
                qtables[tq] = tab.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                values = list(body[i + 17 : i + 17 + n])
                htables[(tc, th)] = _huff_decode_table(bits, values)
                i += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # baseline / ext. sequential
            prec, fh, fw, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("JPEG: only 8-bit precision supported")
            if fh == 0 or fw == 0:  # includes DNL-deferred height
                raise ValueError("JPEG: zero image dimension")
            if fh * fw > _MAX_PIXELS:
                raise ValueError("JPEG: declared size exceeds cap")
            comps = []
            for ci in range(nc):
                cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"h": fh, "w": fw, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("JPEG: non-baseline process unsupported")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG: SOS before SOF")
            ns = body[0]
            if ns < len(frame["comps"]):
                # spec-legal non-interleaved baseline (components in
                # separate scans): decoding only the first scan would
                # silently return wrong pixels — quarantine instead,
                # same contract as progressive.
                raise ValueError("JPEG: multi-scan baseline unsupported")
            scomps = []
            for si in range(ns):
                cs, tda = body[1 + 2 * si : 3 + 2 * si]
                matches = [c for c in frame["comps"] if c["id"] == cs]
                if not matches:
                    raise ValueError(f"JPEG: scan references unknown component {cs}")
                scomps.append((matches[0], tda >> 4, tda & 0x0F))
            return _decode_scan(
                data, pos + 2 + length, frame, scomps, qtables, htables, restart_interval
            )
        # APPn / COM / anything else: skip
        pos += 2 + length
    raise ValueError("JPEG: no SOS marker")


def _decode_scan(data, pos, frame, scomps, qtables, htables, restart_interval):
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c, _, _ in scomps)
    vmax = max(c["v"] for c, _, _ in scomps)
    if hmax < 1 or vmax < 1:
        raise ValueError("JPEG: bad sampling factors")
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    # Hoist everything loop-invariant out of the MCU walk (the round-6
    # form resolved DHT/DQT dicts and re-cast the quant table per MCU
    # per component), and decode entropy into flat per-component
    # coefficient lists — ONE batched dequant+IDCT einsum at the end
    # replaces two 8x8 matmuls plus two allocations PER BLOCK.
    comp_info = []
    for c, td, ta in scomps:
        try:
            dc_tab = htables[(0, td)]
            ac_tab = htables[(1, ta)]
            q = qtables[c["tq"]].astype(np.float64)
        except KeyError:
            raise ValueError("JPEG: missing Huffman/quant table") from None
        comp_info.append(
            {
                "c": c,
                "dc": dc_tab,
                "dc_fast": _huff_fast_table(dc_tab),
                "ac": ac_tab,
                "ac_fast": _huff_fast_table(ac_tab),
                "q": q,
                "coeffs": [],  # per-block 64-length zigzag lists
                "cells": [],  # per-block (block_row, block_col)
            }
        )

    reader = _BitReader(data, pos)
    preds = [0] * len(comp_info)
    n_restarts = 0
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.restart(n_restarts % 8)
                n_restarts += 1
                preds = [0] * len(comp_info)
            for ci, info in enumerate(comp_info):
                c = info["c"]
                dc_fast, dc_tab = info["dc_fast"], info["dc"]
                ac_fast, ac_tab = info["ac_fast"], info["ac"]
                coeffs, cells = info["coeffs"], info["cells"]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = [0] * 64
                        t = reader.huff_fast(dc_fast, dc_tab)
                        diff = _extend(reader.bits(t), t)
                        preds[ci] += diff
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = reader.huff_fast(ac_fast, ac_tab)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG: AC index overflow")
                            zz[k] = _extend(reader.bits(s), s)
                            k += 1
                        coeffs.append(zz)
                        cells.append((my * c["v"] + by, mx * c["h"] + bx))
            mcu_count += 1

    full = []
    for info in comp_info:
        c = info["c"]
        rows8, cols8 = mcus_y * c["v"], mcus_x * c["h"]
        zzs = np.asarray(info["coeffs"], dtype=np.float64).reshape(-1, 64)
        coef = np.empty_like(zzs)
        coef[:, ZIGZAG] = zzs  # un-zigzag all blocks at once
        # batched IDCT via broadcasted BLAS matmuls (an unoptimized
        # einsum here measured SLOWER than the per-block form)
        spatial = _DCT_M.T @ (coef.reshape(-1, 8, 8) * info["q"]) @ _DCT_M + 128.0
        plane = np.zeros((rows8 * 8, cols8 * 8), dtype=np.float64)
        cells = np.asarray(info["cells"], dtype=np.int64).reshape(-1, 2)
        grid = plane.reshape(rows8, 8, cols8, 8).transpose(0, 2, 1, 3)
        grid[cells[:, 0], cells[:, 1]] = spatial
        p = np.repeat(np.repeat(plane, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        return w, h, 1, np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
    if len(full) == 3:
        return w, h, 3, _ycbcr_to_rgb(full[0], full[1], full[2])
    raise ValueError(f"JPEG: unsupported component count {len(full)}")
