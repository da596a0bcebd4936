"""Property-based tests (hypothesis): the quote-repair operator matches
an independent Python implementation of the reference's sed semantics on
arbitrary input, and the insert-ignore merge is idempotent/monotone on
arbitrary frames with NULLs. Catches the class of two-sided-wrong bugs
oracle parity can't (both sides encoding the same mistranslation)."""

from __future__ import annotations

import math
import re
import string

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from k8e_fetch_spark.operators.dedup import insert_ignore
from k8e_fetch_spark.operators.repair import quote_repair


def sed_reference(line: str) -> str:
    """Independent re-implementation of bin/quotequote:3-4 (global
    substitutions, applied in script order). The committed sed script
    ``fixtures/quotequote_data_rows.sed`` is the ground truth for the
    repair; ``test_quote_repair_matches_actual_sed_binary`` runs it."""
    line = re.sub(r' ("[^",]*)"', r' "\1""', line)
    line = re.sub(r'([A-Z])"([A-Z])', r"\1'\2", line)
    return line


_ALPHABET = st.sampled_from(list('ABCO"\' ,xyz."'))


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(_ALPHABET, max_size=24), min_size=1, max_size=24))
def test_quote_repair_matches_sed_semantics(spark_session_holder, lines):
    spark = spark_session_holder
    df = spark.createDataFrame([(ln,) for ln in lines], ["line"])
    got = [r["out"] for r in df.select(quote_repair(F.col("line")).alias("out")).collect()]
    want = [sed_reference(ln) for ln in lines]
    assert got == want


_ROW = st.tuples(
    st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),
    st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(_ROW, max_size=12),
    st.lists(_ROW, max_size=12),
)
def test_insert_ignore_idempotent_with_nulls(spark_session_holder, existing_rows, new_rows):
    spark = spark_session_holder
    schema = "k string, v int"
    existing = spark.createDataFrame(existing_rows, schema).distinct()
    new = spark.createDataFrame(new_rows, schema)

    def norm(rows):
        # sortable in the presence of NULLs (None precedes values)
        return sorted(rows, key=lambda t: tuple((x is not None, x) for x in t))

    once = insert_ignore(existing, new)
    twice = insert_ignore(once, new)
    got_once = norm(map(tuple, once.collect()))
    got_twice = norm(map(tuple, twice.collect()))
    # idempotent: re-applying the same batch changes nothing
    assert got_once == got_twice
    # correct contents: distinct union of both sides (null-safe)
    want = norm(set(map(tuple, existing_rows)) | set(map(tuple, new_rows)))
    assert got_once == want


# hypothesis can't use function-scoped pytest fixtures; expose the
# session-scoped spark fixture under a stable name instead.
import pytest  # noqa: E402


@pytest.fixture(name="spark_session_holder", scope="module")
def _spark_session_holder(spark):
    return spark


import shutil
import subprocess
from pathlib import Path

# bin/quotequote:3-4, the data-row quote repair, as a committed sed script
QUOTEQUOTE_SED = Path(__file__).parent / "fixtures" / "quotequote_data_rows.sed"


@pytest.mark.skipif(shutil.which("sed") is None, reason="sed not installed")
def test_quote_repair_matches_actual_sed_binary(spark_session_holder):
    """Ground truth: run the quotequote data-row rules through sed itself
    (``sed -f fixtures/quotequote_data_rows.sed``) over canonical
    pathological lines and require byte-identical output from our
    regexp_replace chain — closes the two-sided-wrong loophole where the
    Spark op and the Python reimplementation share a mistranslation."""
    spark = spark_session_holder
    lines = [
        'JOHN "JACK" SMITH\tREP',
        'O"BRIEN\tDEM',
        'A"B"C "x" "y,z"',
        ' "leading quoted"',
        'nothing to repair here',
        'MIXED O"BRIEN AND "NICK" TOGETHER',
        '""',
        'trailing space "q" ',
    ]
    # the full quotequote also normalizes the header (row 1 only): a
    # sacrificial header line, dropped after, keeps every probe line a
    # data row as it is in the reference
    sed_data = subprocess.run(
        ["sed", "-f", str(QUOTEQUOTE_SED)],
        input="HDR\n" + "\n".join(lines) + "\n",
        capture_output=True,
        text=True,
        check=True,
    ).stdout.splitlines()[1:]

    df = spark.createDataFrame([(ln,) for ln in lines], ["line"])
    got = [r["out"] for r in df.select(quote_repair(F.col("line")).alias("out")).collect()]
    assert got == sed_data, f"spark={got}\nsed={sed_data}"


def _py_segment_dedup(rows):
    """Independent Python reference of keep-first segment dedup."""
    seen = {}
    for doc, idx, seg in sorted(rows, key=lambda r: (r[0], r[1])):
        if seg not in seen:
            seen[seg] = (doc, idx)
    out = {}
    for seg, (doc, idx) in seen.items():
        out.setdefault(doc, []).append((idx, seg))
    return {
        doc: (" ".join(s for _, s in sorted(pairs)), len(pairs))
        for doc, pairs in out.items()
    }


_SEG_WORDS = st.sampled_from(["alpha", "beta", "gamma", "delta", "boiler plate"])


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # doc id (collisions likely)
            st.integers(min_value=0, max_value=4),   # segment index
            _SEG_WORDS,                               # segment text (few distinct)
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda r: (r[0], r[1]),            # one seg per (doc, idx)
    )
)
def test_segment_dedup_matches_reference_and_is_idempotent(spark_session_holder, rows):
    """Against arbitrary (doc, idx, seg) corpora with heavy duplication:
    Spark keep-first == independent Python reference; every surviving
    segment is unique corpus-wide; re-deduping the survivors is a
    no-op (idempotence)."""
    from k8e_fetch_spark.operators.dedup import segment_dedup_keep_first

    spark = spark_session_holder
    segs = spark.createDataFrame(rows, ["doc_id", "seg_idx", "seg"])
    got = {
        r["doc_id"]: (r["cleaned_text"], r["n_kept"])
        for r in segment_dedup_keep_first(segs).collect()
    }
    assert got == _py_segment_dedup(rows)

    # idempotence at the operator level: re-deduping the surviving
    # (doc, idx, seg) rows changes nothing
    seen = {}
    for doc, idx, seg in sorted(rows, key=lambda r: (r[0], r[1])):
        seen.setdefault(seg, (doc, idx))
    kept_rows = [(d, i, s) for s, (d, i) in seen.items()]
    segs2 = spark.createDataFrame(kept_rows, ["doc_id", "seg_idx", "seg"])
    again = {
        r["doc_id"]: (r["cleaned_text"], r["n_kept"])
        for r in segment_dedup_keep_first(segs2).collect()
    }
    assert again == got


_DOC_TEXT = st.text(
    st.sampled_from(list('abcXYZ 09.,;\n\t"\\') + ["é", "ñ", "中", "文"]),
    max_size=60,
)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 1000), _DOC_TEXT), min_size=1, max_size=12,
                unique_by=lambda r: r[0]))
def test_jsonl_round_trips_arbitrary_text(spark_session_holder, tmp_path_factory, rows):
    """Any text content — embedded newlines, quotes, backslashes,
    non-ASCII — must survive the jsonl sink/source round trip intact
    (the JSON encoder escapes line breaks, so line-delimited framing is
    content-safe)."""
    from pyspark.sql import types as T

    from k8e_fetch_spark.sources.jsonl import read_jsonl, write_jsonl

    spark = spark_session_holder
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    path = str(tmp_path_factory.mktemp("jsonl_prop"))
    df = spark.createDataFrame(rows, schema)
    write_jsonl(df, path, compression=None)
    back = read_jsonl(spark, path, schema, keep_corrupt=False)
    assert sorted(map(tuple, back.collect())) == sorted(rows)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(st.sampled_from(["a", "b", "c", "d"]),
                          st.integers(1, 50)), min_size=1, max_size=4,
                unique_by=lambda r: r[0]))
def test_temperature_rates_match_python_reference(spark_session_holder, source_sizes):
    """Rates match an independent Python implementation of the
    alpha=0.5 rule (sqrt shares, capped, 6dp arithmetic rounding) on
    arbitrary source-size distributions."""
    import math

    from k8e_fetch_spark.operators.text import source_temperature_rates

    spark = spark_session_holder
    rows = [(f"{src}-{i}", src) for src, n in source_sizes for i in range(n)]
    docs = spark.createDataFrame(rows, ["doc_id", "source"])
    got = {r["source"]: r["rate"] for r in source_temperature_rates(docs).collect()}

    total = sum(n for _, n in source_sizes)
    z = sum(math.sqrt(n) for _, n in source_sizes)
    want = {}
    for src, n in source_sizes:
        raw = (0.5 * total) * (math.sqrt(n) / z) / n
        want[src] = min(1.0, math.floor(raw * 1e6 + 0.5) / 1e6)
    assert got == want


# ---- codec round-trip properties ------------------------------------------
# The media codecs are pure byte functions, so hypothesis can hammer
# them without Spark: arbitrary images/palettes/frame counts through
# encode->decode must reproduce the input within each codec's stated
# accuracy contract (PNG/GIF exact; JPEG within its DERIVED compose
# bound — see operators/jpeg.py's error-budget derivation). Catches
# the corner-parameter class the fixed-fixture tests can't enumerate
# (dimension mod 8/16 residues, palette sizes at LZW width
# boundaries, interlace on tiny heights).


# JPEG bound derivation (operators/jpeg.py docstring): with all-ones
# quantization the only loss is coefficient rounding (±0.5 each over
# an orthonormal basis with per-pixel amplitude sum 6.9794), so the
# worst-case plane error is 3.49; the YCbCr->RGB transform amplifies
# by <=2.772 and the final pixel round adds 0.5 -> gray ±4, RGB ±10
# PROVABLE. Random images sit far inside (std ~0.29/plane): the mean
# assertion keeps the test's power, the max assertion is the derived
# hard bound, and seed=45112 (max err 3, which falsified the old ±2
# claim) is pinned so the regression corner always runs.
@settings(max_examples=40, deadline=None)
@example(w=35, h=16, seed=45112, gray=False)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
    gray=st.booleans(),
)
def test_property_jpeg_roundtrip(w, h, seed, gray):
    import numpy as np

    from k8e_fetch_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(seed)
    ones = np.ones((8, 8))
    shape = (h, w) if gray else (h, w, 3)
    img = rng.randint(0, 256, shape, dtype=np.uint8)
    ww, hh, nc, out = decode_jpeg(encode_jpeg(img, quant_luma=ones, quant_chroma=ones))
    assert (ww, hh, nc) == (w, h, 1 if gray else 3)
    err = np.abs(out.astype(int) - img.astype(int))
    tol = 4 if gray else 10  # derived worst-case compose bound
    assert err.max() <= tol
    assert err.mean() <= 1.0  # statistical power: typical error is sub-pixel


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 48),
    h=st.integers(1, 48),
    n_colors=st.integers(1, 256),
    n_frames=st.integers(1, 4),
    interlace=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_property_gif_roundtrip_exact(w, h, n_colors, n_frames, interlace, seed):
    import numpy as np

    from k8e_fetch_spark.operators.gif import decode_gif, encode_gif

    rng = np.random.RandomState(seed)
    palette = [tuple(int(x) for x in rng.randint(0, 256, 3)) for _ in range(n_colors)]
    frames = [
        bytes(rng.randint(0, n_colors, w * h).astype(np.uint8).tolist())
        for _ in range(n_frames)
    ]
    data = encode_gif(w, h, palette, frames, interlace=interlace)
    ww, hh, nf, decoded = decode_gif(data)
    assert (ww, hh, nf) == (w, h, n_frames)
    for frame, idx in zip(decoded, frames):
        want = b"".join(bytes(palette[i]) for i in idx)
        assert frame == want


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 48),
    h=st.integers(1, 48),
    color_type=st.sampled_from([0, 2, 4, 6]),
    seed=st.integers(0, 2**31 - 1),
)
def test_property_png_roundtrip_exact(w, h, color_type, seed):
    import numpy as np

    from k8e_fetch_spark.operators.png import _CHANNELS, decode_png, encode_png

    rng = np.random.RandomState(seed)
    ch = _CHANNELS[color_type]
    raw = bytes(rng.randint(0, 256, w * h * ch).astype(np.uint8).tolist())
    ww, hh, cch, out = decode_png(encode_png(w, h, raw, color_type=color_type))
    assert (ww, hh, cch) == (w, h, ch)
    assert out == raw


def _py_pixel_stats(px: list[list[int]]) -> list[float]:
    """Pure-Python model of the image features: Python-int sums, each
    feature one correctly rounded int / int quotient (then /255.0)."""
    n_px, ch = len(px), len(px[0])
    color = [row[:3] if ch >= 3 else row[:1] for row in px]
    flat = [v for row in color for v in row]
    means = [sum(row[c] for row in color) / n_px / 255.0 for c in range(len(color[0]))]
    if len(means) == 1:  # gray: r = g = b
        means = means * 3
    alpha = sum(row[-1] for row in px) / n_px / 255.0 if ch in (2, 4) else 1.0
    return [
        *means,
        sum(flat) / len(flat) / 255.0,
        min(flat) / 255.0,
        max(flat) / 255.0,
        flat.count(0) / len(flat),
        alpha,
    ]


@settings(max_examples=60, deadline=None)
@example(n_px=1, ch=1, hi=0, seed=0)
@given(
    n_px=st.integers(1, 400),
    ch=st.sampled_from([1, 2, 3, 4]),  # gray, gray+alpha, RGB, RGBA
    hi=st.sampled_from([0, 1, 2, 255]),
    seed=st.integers(0, 2**31 - 1),
)
def test_pixel_stats_match_python_model(n_px, ch, hi, seed):
    """_pixel_stats (every image stage's features) equals the
    pure-Python model bit for bit; for 1- and 3-channel pixels it also
    equals the float64 numpy form (gray replicated to RGB) — the two
    are correctly rounded quotients of the same exact integers."""
    import numpy as np

    from k8e_fetch_spark.operators.multimodal import _pixel_stats

    a = np.random.RandomState(seed).randint(0, hi + 1, (n_px, ch)).astype(np.uint8)
    got = _pixel_stats(a)
    assert got == _py_pixel_stats(a.tolist())
    if ch in (1, 3):
        flat = (a if ch == 3 else np.repeat(a, 3, axis=1)).astype(np.float64)
        means = flat.mean(axis=0) / 255.0
        assert got == [
            float(means[0]),
            float(means[1]),
            float(means[2]),
            float(flat.mean() / 255.0),
            float(flat.min() / 255.0),
            float(flat.max() / 255.0),
            float((flat == 0).mean()),
            1.0,
        ]


def test_codec_truncation_fuzz_quarantines_as_valueerror():
    """EVERY prefix of a valid payload, through every codec, must
    either decode (container formats can be self-delimiting — a RIFF
    cut after its data chunk is still a complete WAV) or raise
    ValueError — never IndexError/struct.error/KeyError. This is the
    quarantine contract the Arrow stages rely on, enforced for direct
    callers at every byte boundary, not just the handful of cut points
    a hand-written test would pick (the round-6 GIF decoder leaked
    IndexError from a truncated graphics-control extension and
    struct.error from a truncated image descriptor)."""
    import numpy as np

    from k8e_fetch_spark.operators import avi, gif, jpeg, png, wav

    rng = np.random.RandomState(77)
    img = rng.randint(0, 256, (12, 9, 3), dtype=np.uint8)
    ones = np.ones((8, 8))
    cases = [
        (png.decode_png, png.encode_png(9, 12, img.tobytes(), 2)),
        (jpeg.decode_jpeg, jpeg.encode_jpeg(img, quant_luma=ones, quant_chroma=ones)),
        (wav.decode_wav, wav.encode_wav(8000, 1, rng.randint(-1000, 1000, 64).tolist())),
        (
            gif.decode_gif,
            gif.encode_gif(
                9, 12, [(i, i, i) for i in range(8)],
                [bytes(rng.randint(0, 8, 108).tolist())],
            ),
        ),
        (
            avi.decode_avi,
            avi.encode_avi(
                8, 6, 3,
                [bytes(rng.randint(0, 256, 8 * 6 * 3, dtype=np.uint8).tolist()) for _ in range(3)],
            ),
        ),
    ]
    for decode, data in cases:
        for k in range(len(data)):
            try:
                decode(data[:k])
            except ValueError:
                pass  # the contract
        # random byte corruption: same contract at full length (the
        # round-7 fuzz caught JPEG leaking IndexError from Huffman
        # misses, OverflowError from absurd marker fields and
        # ZeroDivisionError from zero sampling factors)
        for trial in range(400):
            b = bytearray(data)
            for _ in range(int(rng.randint(1, 4))):
                b[int(rng.randint(len(b)))] = int(rng.randint(256))
            try:
                decode(bytes(b))
            except ValueError:
                pass  # the contract


def test_gif_lzw_deferred_clear_stream_decodes():
    """A spec-legal DEFERRED-CLEAR stream (dictionary fills to 4096 and
    the encoder keeps emitting codes WITHOUT a reset — GIF89a permits
    this; our own encoder always clears, so round-trip tests never
    exercise it): the decoder must pin width at 12, stop adding
    entries, and keep decoding. Built with an in-test non-clearing
    encoder over enough random bytes to fill the table."""
    import numpy as np

    from k8e_fetch_spark.operators.gif import _MAX_PIXELS, _lzw_decode

    rng = np.random.RandomState(8)
    mcs = 8
    clear, end = 1 << mcs, (1 << mcs) + 1
    data = bytes(rng.randint(0, 256, 30000, dtype=np.uint8))

    table: dict[int, int] = {}
    next_code, width = end + 1, mcs + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, w: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear, width)
    prev = -1
    for b in data:
        if prev < 0:
            prev = b
            continue
        key = (prev << 8) | b
        c = table.get(key)
        if c is not None:
            prev = c
            continue
        emit(prev, width)
        if next_code < 4096:  # deferred: once full, add nothing, never clear
            table[key] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        prev = b
    emit(prev, width)
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)

    assert next_code >= 4096  # the table genuinely filled
    assert _lzw_decode(mcs, bytes(out), _MAX_PIXELS) == data


# --- quality heuristics against a pure-Python model -----------------
# The model follows Spark's semantics, not Python's: Java regex ``\s``
# is exactly [ \t\n\x0B\f\r] (Python's would also match Unicode
# spaces), ``trim`` strips only U+0020, ``length`` counts code points,
# and String.split(regex, -1) keeps leading and trailing empties as
# re.split does. Stopword membership needs only ASCII case folding: no
# non-ASCII code point lowercases to a string of the stopwords'
# letters. The arithmetic keeps the builders' IEEE operation order.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_ALNUM_SPACE = re.compile(r"[A-Za-z0-9 ]")


def _round6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def _spark_trim(t: str) -> str:
    return t.strip(" ")


def _py_punct_ratio(t: str) -> float:
    if len(t) == 0:
        return 0.0
    return len(_ALNUM_SPACE.sub("", t)) / len(t)


def _py_stopword_ratio(t: str) -> float:
    from k8e_fetch_spark.operators.text import STOPWORDS

    total = 0 if len(_spark_trim(t)) == 0 else len(_JAVA_WS.split(_spark_trim(t)))
    if total == 0:
        return 0.0
    lowered = t.translate(str.maketrans(string.ascii_uppercase, string.ascii_lowercase))
    stop = sum(tok in STOPWORDS for tok in _JAVA_WS.split(_spark_trim(lowered)))
    return stop / total


def _py_quality_score(t: str) -> float:
    length_term = min(len(t) / 500.0, 1.0)
    punct_term = 1.0 - min(_py_punct_ratio(t) * 4, 1.0)
    stop_term = min(_py_stopword_ratio(t) * 5, 1.0)
    return _round6(0.4 * length_term + 0.3 * punct_term + 0.3 * stop_term)


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)),
            max_size=120,
        ),
        min_size=1,
        max_size=12,
    )
)
@example(texts=["The cat\x0band\tthe DOG ", "  of\u00a0to  ", "", "!!?", " IN a "])
@settings(max_examples=20, deadline=None)
def test_quality_heuristics_match_python_model(spark_session_holder, texts):
    from k8e_fetch_spark.functions.rounding import round_fixed
    from k8e_fetch_spark.operators.text import (
        punct_ratio,
        quality_score,
        stopword_ratio,
    )

    spark = spark_session_holder
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, text string"
    )
    got = df.select(
        "i",
        quality_score("text").alias("q"),
        round_fixed(punct_ratio("text"), 6).alias("p"),
        round_fixed(stopword_ratio("text"), 6).alias("s"),
    ).collect()
    want = [
        (i, _py_quality_score(t), _round6(_py_punct_ratio(t)), _round6(_py_stopword_ratio(t)))
        for i, t in enumerate(texts)
    ]
    assert sorted(map(tuple, got)) == want
