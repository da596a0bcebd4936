"""Text-analysis operators for LLM-data pipelines (SURVEY.md §2.6).

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM,
whole-stage codegen) — no Python UDFs: at 100 TB these run inside the
scan stage with zero extra shuffles. Patterns are written in the common
subset of Java regex and RE2 so the DuckDB oracle can evaluate the
identical semantics.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny deterministic marker lexicon for language ID. Not a real model —
# a deterministic, oracle-checkable n-gram/stopword heuristic in the
# spirit of fastText-style langid, over the synthetic corpus.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "a"),
    "fr": ("le", "la", "et", "les"),
    "de": ("der", "die", "und", "das"),
    "es": ("el", "los", "y", "una"),
}

# BPE-ish tokenization: words, numbers, or single punctuation — the
# classic pre-tokenizer split. Valid in both Java regex and RE2.
BPE_TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

STOPWORDS = ("the", "a", "and", "of", "to", "in")


def tokens(col: Column) -> Column:
    """Whitespace tokens of a trimmed string (empty string -> empty array)."""
    return F.split(F.trim(col), r"\s+")


def n_tokens(col: Column) -> Column:
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(F.size(tokens(col)))


def n_bpe_tokens(col: Column) -> Column:
    """Token count under the BPE-ish pre-tokenizer regex."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_PATTERN), 0))


# --- Spark-SQL renderings of the quality heuristics ----------------
# Each heuristic is ONE parsed expression per call, so building it costs
# a single Py4J round trip. Every double literal carries the D suffix:
# Spark SQL parses a bare `0.0` as DECIMAL(1,1), which would change the
# CASE/arithmetic result type from DOUBLE. The builders take a top-level
# column name and assume the default string-literal parse
# (registry-routed queries pin it); tests/test_properties.py pins the
# values against a pure-Python model of Spark's semantics.


def _sql_n_tokens(c: str) -> str:
    return (
        f"CASE WHEN length(trim({c})) = 0 THEN 0 "
        f"ELSE size(split(trim({c}), '\\\\s+')) END"
    )


def _sql_punct_ratio(c: str) -> str:
    punct = f"length(regexp_replace({c}, '[A-Za-z0-9 ]', ''))"
    return (
        f"CASE WHEN length({c}) = 0 THEN 0.0D "
        f"ELSE {punct} / length({c}) END"
    )


def _sql_stopword_ratio(c: str) -> str:
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    stop = (
        f"size(filter(split(trim(lower({c})), '\\\\s+'), "
        f"t -> t IN ({stop_list})))"
    )
    total = _sql_n_tokens(c)
    return f"CASE WHEN {total} = 0 THEN 0.0D ELSE {stop} / {total} END"


def _sql_quality_score(c: str) -> str:
    length_term = f"least(length({c}) / 500.0D, 1.0D)"
    punct_term = f"(1.0D - least(({_sql_punct_ratio(c)}) * 4, 1.0D))"
    stop_term = f"least(({_sql_stopword_ratio(c)}) * 5, 1.0D)"
    raw = f"0.4D * {length_term} + 0.3D * {punct_term} + 0.3D * {stop_term}"
    return f"floor(({raw}) * 1000000.0D + 0.5D) / 1000000.0D"


def punct_ratio(col: str) -> Column:
    """Punctuation chars / total chars (0 for empty strings). ``col``
    is a top-level column name."""
    return F.expr(_sql_punct_ratio(f"`{col}`"))


def stopword_ratio(col: str) -> Column:
    """Stopword tokens / total tokens (0 for empty strings). ``col`` is
    a top-level column name."""
    return F.expr(_sql_stopword_ratio(f"`{col}`"))


def quality_score(col: str) -> Column:
    """Deterministic quality heuristic in [0,1]: rewards mid-length
    docs, penalizes punctuation soup and stopword-free keyword stuffing.
    Weights are arbitrary but fixed; the point is the shape (pure
    column expression, zero shuffles), rounded to 6 decimals. ``col``
    is a top-level column name."""
    return F.expr(_sql_quality_score(f"`{col}`"))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 over the whitespace-normalized,
    lowercased text — the exact-dedup key that survives formatting
    noise. (Rolling/shingled hashing lives in similarity.py.)"""
    normalized = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.md5(normalized)


def word_grams(text_col: Column, k: int = 3) -> Column:
    """Positional (non-distinct, sequence-ordered) lowercase word
    k-grams. A doc shorter than k tokens contributes one whole-doc gram:
    try_element_at returns null past the end and concat_ws skips nulls,
    instead of the ANSI out-of-bounds error element_at raises."""
    toks = F.split(F.trim(F.lower(text_col)), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0)))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.try_element_at(toks, i + j + 1) for j in range(k)])
    )


def repetition_stats(text_col: Column, n: int = 2) -> Column:
    """Gopher-style intra-document repetition statistics:
    struct(n_grams, top_gram_count, distinct_grams) over the doc's word
    n-grams, where top_gram_count is the multiplicity of the most
    frequent gram. The classic pre-training quality signal — documents
    dominated by one repeated phrase (boilerplate, SEO spam, decode
    loops) show a high top-gram fraction / duplicate-gram mass.

    Shape: ZERO shuffle. Sort the gram array, then ONE fold counts the
    longest equal-run (= max multiplicity in a sorted array), the
    distinct count, and the total — all scan-local per row, so the
    filter runs at scan speed on any corpus size."""
    sg = F.array_sort(word_grams(text_col, n))
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("max_run"),
        F.lit(0).cast("long").alias("distinct"),
        F.lit(0).cast("long").alias("total"),
    )

    def step(acc: Column, g: Column) -> Column:
        same = g == acc["prev"]  # null prev -> null -> otherwise branch
        run2 = F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            g.alias("prev"),
            run2.alias("run"),
            F.greatest(acc["max_run"], run2).alias("max_run"),
            F.when(same, acc["distinct"]).otherwise(acc["distinct"] + 1).alias("distinct"),
            (acc["total"] + 1).alias("total"),
        )

    def finish(acc: Column) -> Column:
        return F.struct(
            acc["total"].alias("n_grams"),
            acc["max_run"].alias("top_gram_count"),
            acc["distinct"].alias("distinct_grams"),
        )

    return F.aggregate(sg, init, step, finish)


def winnowing_fingerprints(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
    hash_mode: str = "xxhash64",
):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    hash every k-token gram, keep the minimum hash of each sliding
    window of ``window`` grams — the rolling-hash fingerprint set whose
    overlap survives local edits (unlike a whole-doc digest).

    Shape: ZERO-shuffle scan-local projection. The gram-hash array is
    bound ONCE as a lambda variable (the single-element ``transform``
    wrapper — same single-evaluation trick as the fold it replaces:
    naming it as a select column would let CollapseProject re-inline
    the token→gram→hash chain per reference), then every window's min
    is a ``slice`` + ``array_min`` over an index ``sequence``. That is
    O(grams × window) work per document; the earlier fold accumulated
    the fingerprint array element by element, and Catalyst's immutable
    array appends made that O(grams²) copying per document — measured
    3× slower at the 20× stress scale. The earlier relational form
    (posexplode + windowed min + distinct) shuffled every gram by doc
    id and then shuffled again for distinct; this form emits
    already-distinct (id, fp) rows straight out of the scan stage, so
    fingerprinting 100 TB is embarrassingly parallel.
    Windows: the min of every full ``window``-gram sliding window; a
    doc with fewer than ``window`` grams contributes the min over all
    its grams (same semantics as the forms it replaced).

    ``hash_mode``: "xxhash64" (default — the production 64-bit gram
    hash) or "md5_32" (first 8 hex chars of md5 as a bigint — the
    cross-engine form both Spark and DuckDB compute identically, the
    same convention as DSIR's feature hash; 32-bit fingerprints trade
    collision headroom for oracle checkability, and the winnow/window
    semantics are identical in both modes).
    """
    if hash_mode == "md5_32":
        gram_hash = lambda g: F.conv(  # noqa: E731
            F.substring(F.md5(g), 1, 8), 16, 10
        ).cast("bigint")
    else:
        gram_hash = lambda g: F.xxhash64(g)  # noqa: E731
    hashes = F.transform(word_grams(F.col(text_col), k), gram_hash)

    def winnow(arr: Column) -> Column:
        n_wins = F.size(arr) - window + 1
        return F.when(
            n_wins >= 1,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(n_wins, F.lit(1))),
                    lambda i: F.array_min(F.slice(arr, i, window)),
                )
            ),
        ).otherwise(F.array(F.array_min(arr)))

    fps = F.get(F.transform(F.array(hashes), winnow), 0)
    return df.select(F.col(id_col), F.explode(fps).alias("fp"))


def _contains_any(markers: tuple[str, ...]):
    # closure (not a default arg): F.filter treats 2-arg lambdas as
    # (element, index) and would bind the marker list to the index col
    def pred(t: Column) -> Column:
        return t.isin(*markers)

    return pred


def langid_scores(col: Column) -> list[Column]:
    """Per-language marker-hit counts (argmax -> predicted language)."""
    toks = tokens(F.lower(col))
    return [
        F.size(F.filter(toks, _contains_any(markers))).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    ]


def compression_ratio(
    df: "DataFrame", id_col: str = "doc_id", text_col: str = "text", level: int = 6
):
    """Per-document zlib compression ratio — the information-density
    quality signal production corpora filter on (near-random text
    compresses poorly ≈ ratio 1.0; boilerplate/repetitive text
    compresses extremely well ≈ ratio near 0; both tails are usually
    junk for training).

    The codec is real (stdlib zlib), not a stub, so this is the
    engine's genuine Python-stage pattern: an iterator ``mapInPandas``
    that streams Arrow batches — compression runs batch-at-a-time on
    executors, the text never passes through row pickling, and the
    output frame is exactly (id, byte lengths, ratio). Deterministic:
    zlib output length at a fixed level is stable across platforms for
    CPython's bundled zlib. Rows-only evidence (no SQL engine can state
    DEFLATE output size); tests pin the values against direct zlib.
    """
    import zlib
    from collections.abc import Iterator

    import pandas as pd

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("raw_bytes", T.IntegerType()),
            T.StructField("compressed_bytes", T.IntegerType()),
            T.StructField("compression_ratio", T.DoubleType()),
        ]
    )

    def compress_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = [t.encode("utf-8") if isinstance(t, str) else b"" for t in pdf[text_col]]
            comp = [len(zlib.compress(b, level)) for b in raw]
            n = [len(b) for b in raw]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "raw_bytes": n,
                    "compressed_bytes": comp,
                    "compression_ratio": [
                        round(c / r, 6) if r else 0.0 for c, r in zip(comp, n)
                    ],
                }
            )

    return df.select(id_col, text_col).mapInPandas(compress_batches, schema)


def source_temperature_rates(
    docs: "DataFrame",
    source_col: str = "source",
    target_frac: float = 0.5,
) -> "DataFrame":
    """Per-source keep rates for temperature-weighted mixing
    (alpha = 0.5): source i's share of the output is proportional to
    sqrt(n_i), so small high-value sources are up-weighted against
    bulk crawl; rate_i = target_docs * share_i / n_i, capped at 1.

    The alpha is expressed as ``sqrt`` (correctly rounded IEEE on
    every engine, unlike ``pow``) and the rate is arithmetic-rounded
    to 6dp so a DuckDB/Spark twin computes the identical keep set.
    Input: any frame with a source column; output: (source, rate) —
    dimension-sized, meant to broadcast back onto the corpus."""
    from k8e_fetch_spark.functions.rounding import round_fixed

    counts = docs.groupBy(source_col).agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.sum(F.sqrt(F.col("n").cast("double"))).alias("z"),
    )
    rate = F.least(
        F.lit(1.0),
        round_fixed(
            (F.lit(target_frac) * F.col("total").cast("double"))
            * (F.sqrt(F.col("n").cast("double")) / F.col("z"))
            / F.col("n").cast("double"),
            6,
        ),
    )
    return counts.crossJoin(F.broadcast(tot)).select(source_col, rate.alias("rate"))


# ---------------------------------------------------------------------------
# Bloom-prefiltered membership (decontamination at eval sets too big to
# broadcast as strings)


def bloom_build_bitmap(df, gram_col: str, m_bits: int, k: int = 3) -> list[int]:
    """Build a Bloom bitmap over a gram column DISTRIBUTIVELY: the k
    xxhash64-seeded bit positions explode inside the scan, and a
    map-side-combined ``bit_or`` aggregate produces at most
    ``m_bits / 64`` (word, bits) rows — the driver collect is bounded
    by the BITMAP size (m_bits/8 bytes), never by the gram count, the
    same O(k) contract as the k-means centroid pull. Returns the
    bitmap as ``m_bits // 64`` longs.

    At 100 TB this is what replaces the broadcast of the eval-gram
    STRING set once it outgrows broadcast limits (13-gram eval suites
    reach tens of GB of strings; the bitmap stays fixed-size)."""
    word_rows = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(F.xxhash64(F.col(gram_col), F.lit(i)), F.lit(m_bits))
                        for i in range(k)
                    ]
                )
            ).alias("pos")
        )
        .select(
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    words = [0] * ((m_bits + 63) // 64)
    for r in word_rows:
        words[r["w"]] = r["word"]
    return words


def bloom_member(col: Column, bitmap: Column, m_bits: int, k: int = 3) -> Column:
    """Membership test against a Bloom bitmap carried as an
    ``array<bigint>`` column (broadcast 1-row table): k seeded
    xxhash64 positions, each checked with ``bit_get`` — pure JVM
    column expressions inside whole-stage codegen, zero shuffles on
    the probe side. No false negatives; false-positive rate
    ``(1 - e^(-k*n/m))^k`` — callers needing EXACT semantics confirm
    positives with a join over the (tiny) surviving subset."""
    cond = F.lit(True)
    for i in range(k):
        pos = F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits))
        word = F.element_at(bitmap, (pos / 64).cast("int") + F.lit(1))
        cond = cond & (F.bit_get(word, (pos % 64).cast("int")) == 1)
    return cond


def dsir_importance_weights(
    df,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
):
    """DSIR importance log-weights (Xie et al. 2023): hashed word-bigram
    bucket unigram models of the TARGET subset (rows where ``target`` is
    true) vs the RAW corpus, +1 smoothing over ``n_buckets``, per-doc
    weight = sum over bigram occurrences of ln(p_target/p_raw). Returns
    (``id_col``, weight double, unrounded) — one row per doc that has at
    least one bigram. Callers select (resample / top-k) on the weights.

    Cross-engine determinism: the bucket is the first 8 hex chars of
    md5 parsed as an integer — DuckDB computes the identical value, so
    consumers stay oracle-checkable (xxhash64 is the cheaper
    production swap, absent from the oracle engine).

    Scale: two map-side-combined aggregate shuffles (bucket counts on
    <= n_buckets keys, per-doc sums on uniform doc ids). The lambda
    model is O(n_buckets) driver state either way: at the default 4096
    buckets it inlines as a literal array into the scoring projection
    (two jobs total); above the literal threshold it ships as a
    broadcast join with a 1-row totals crossJoin. State never exceeds
    O(n_buckets)."""
    toks = df.select(
        F.col(id_col),
        target.alias("_is_target"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("t"),
    )
    n = F.size("t")
    # guarded descending-sequence edge: docs with < 2 tokens emit no bigrams
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    big = toks.select(
        id_col,
        "_is_target",
        F.explode(
            F.transform(
                idx,
                lambda i: F.concat(
                    F.element_at("t", i), F.lit(" "), F.element_at("t", i + 1)
                ),
            )
        ).alias("g"),
    )
    feat = big.select(
        id_col,
        "_is_target",
        (F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("bigint") % n_buckets).alias(
            "f"
        ),
    )
    cnt = feat.groupBy("f").agg(
        F.count(F.lit(1)).alias("raw_c"),
        F.sum(F.when(F.col("_is_target"), 1).otherwise(0)).alias("tgt_c"),
    )
    b = float(n_buckets)
    # The bucket model IS driver-sized state (<= n_buckets rows): pull
    # the counts once, finish the lambda table in ln on the driver, and
    # inline it as ONE literal double array indexed by bucket id. The
    # scoring pass becomes groupBy(doc) over element_at(λ, f+1) — no
    # lambda broadcast join, no 1-row totals crossJoin, so the whole
    # pipeline is TWO jobs (model collect + scoring) instead of four
    # (each broadcast build re-ran the bigram explode). Unobserved
    # buckets hold 0.0 and are unreachable (feat only emits observed
    # f). math.log vs the JVM's ln differ at <= 0.5 ulp — absorbed by
    # the 6-dp rounding every consumer applies, the same class as the
    # engines' own fold-order drift. Above the literal threshold
    # (production-width models) the broadcast-join form remains.
    if n_buckets <= 8192:
        import math

        rows = cnt.collect()
        r_tot = float(sum(r["raw_c"] for r in rows))
        t_tot = float(sum(r["tgt_c"] for r in rows))
        lam_arr = [0.0] * n_buckets
        for r in rows:
            lam_arr[int(r["f"])] = math.log(
                (r["tgt_c"] + 1.0) / (t_tot + b)
            ) - math.log((r["raw_c"] + 1.0) / (r_tot + b))
        lam_lit = F.expr(
            "array(" + ",".join(f"{x!r}D" for x in lam_arr) + ")"
        )
        return feat.groupBy(id_col).agg(
            F.sum(F.element_at(lam_lit, F.col("f").cast("int") + 1)).alias("weight")
        )
    tot = cnt.agg(F.sum("raw_c").alias("r_tot"), F.sum("tgt_c").alias("t_tot"))
    lam = cnt.crossJoin(F.broadcast(tot)).select(
        "f",
        (
            F.log((F.col("tgt_c") + 1.0) / (F.col("t_tot") + b))
            - F.log((F.col("raw_c") + 1.0) / (F.col("r_tot") + b))
        ).alias("lam"),
    )
    return (
        feat.join(F.broadcast(lam), on="f")
        .groupBy(id_col)
        .agg(F.sum("lam").alias("weight"))
    )


def build_bigram_scorers(
    c1: dict, c2: dict, lam: float, n_tot: float, v: float
) -> tuple:
    """Build the two pandas-batch LM scorers from a trained bigram
    model — module-level so tests and scale probes can time/pin them
    directly, outside a Spark plan.

    Returns ``(score_vector, score_loop)``, each mapping a pd.Series of
    texts to a DataFrame (n_bigrams bigint, avg_logprob double or None
    for <2-token docs).

    score_vector (r11, VERDICT r10 #5): the model ships as numpy
    ARRAYS instead of Python dicts — vocab word->int id, c1 as a dense
    id-indexed count array (sentinel id V for unseen words, count 0),
    bigrams as a SORTED int64 key array (id1*(V+1)+id2) with aligned
    counts. Scoring a batch is then ONE dict probe per token (id
    lookup) plus pure numpy: a searchsorted for every bigram key,
    fancy-indexed gathers for the counts, and one vectorized log10.
    The r10 loop form probed three dicts per bigram (a (w1,w2) tuple
    alloc + hash among them) in a Python loop — the gather form
    removes all of it from the per-bigram path.

    score_loop: the per-token reference scorer (the r10 form), kept as
    the vectorized scorer's pinned twin. Bit-identity between the two
    is engineered, not hoped for:
    - per-bigram probabilities use the identical flop sequence;
    - per-doc sums are SEQUENTIAL left-to-right on both sides (builtin
      sum over a tolist slice in the vector form — np.add.reduceat was
      measured DRIFTING here: like np.add.reduce it sums pairwise
      above ~8 elements, putting 325/500 fixture docs off by ~1 ulp,
      the r8 np.sum class of divergence);
    - log10 PROVENANCE is shared: np.log10's SIMD kernel disagrees
      with libm math.log10 at 1 ulp on ~25% of inputs (measured
      50630/200000 on this host), so the loop twin scores with scalar
      np.log10 — bitwise-equal to the array form (0/1000 diffs
      probed). Both are correctly rounded to <=1 ulp; the declared
      6-dp contract never sees the difference.
    Pinned bit-identical on the fixture corpus in
    tests/test_clustering.py."""
    import re as _re

    import numpy as np
    import pandas as pd

    # Java regex \s is ASCII-only; Python's is Unicode-wide — pin the
    # exact Java class so closure tokenization == the JVM twin
    ws = _re.compile(r"[ \t\n\x0b\f\r]+")
    denom = n_tot + v

    def score_loop(texts):
        n_out, avg_out = [], []
        for t in texts:
            toks_l = ws.split((t or "").strip().lower())
            if len(toks_l) < 2:
                n_out.append(0)
                avg_out.append(None)
                continue
            s = 0.0
            nb = 0
            for w1, w2 in zip(toks_l, toks_l[1:]):
                c1w = c1.get(w1)
                seen = c2.get((w1, w2)) if c1w else None
                p = (lam * (seen / c1w) if seen else 0.0) + (1.0 - lam) * (
                    (c1.get(w2, 0) + 1.0) / denom
                )
                s += float(np.log10(p))
                nb += 1
            n_out.append(nb)
            avg_out.append(s / nb)
        return pd.DataFrame(
            {"n_bigrams": pd.Series(n_out, dtype="int64"), "avg_logprob": avg_out}
        )

    n_ids = len(c1) + 1  # +1: sentinel id for out-of-vocab words
    vocab = {w: i for i, w in enumerate(c1)}
    c1_arr = np.zeros(n_ids, dtype=np.float64)
    for w, c in c1.items():
        c1_arr[vocab[w]] = float(c)
    bg_keys = np.empty(len(c2), dtype=np.int64)
    bg_counts = np.empty(len(c2), dtype=np.float64)
    for i, ((w1, w2), c) in enumerate(c2.items()):
        # both words of a target bigram are in the target vocab by
        # construction, so vocab[] cannot miss here
        bg_keys[i] = vocab[w1] * n_ids + vocab[w2]
        bg_counts[i] = float(c)
    order = np.argsort(bg_keys)
    bg_keys, bg_counts = bg_keys[order], bg_counts[order]
    oov = n_ids - 1

    def score_vector(texts):
        tok_ids: list = []
        lens = np.empty(len(texts), dtype=np.int64)
        get = vocab.get
        for i, t in enumerate(texts):
            toks_l = ws.split((t or "").strip().lower())
            lens[i] = len(toks_l)
            tok_ids.append([get(w, oov) for w in toks_l])
        n_out = np.where(lens >= 2, lens - 1, 0)
        flat = np.fromiter(
            (i for ids, nl in zip(tok_ids, lens) if nl >= 2 for i in ids),
            dtype=np.int64,
        )
        avg = np.full(len(texts), np.nan)
        if flat.size:
            doc_lens = lens[lens >= 2]
            starts = np.zeros(len(doc_lens), dtype=np.int64)
            np.cumsum(doc_lens[:-1], out=starts[1:])
            # every flat position except each doc's LAST token starts
            # a bigram
            keep = np.ones(flat.size, dtype=bool)
            keep[starts + doc_lens - 1] = False
            w1_id = flat[:-1][keep[:-1]]
            w2_id = flat[1:][keep[:-1]]
            keys = w1_id * n_ids + w2_id
            pos = np.searchsorted(bg_keys, keys).clip(max=len(bg_keys) - 1)
            seen = (
                (bg_keys[pos] == keys) if len(bg_keys) else np.zeros(keys.shape, bool)
            )
            c1w1 = c1_arr[w1_id]
            first = np.zeros(keys.shape, dtype=np.float64)
            hit = seen & (c1w1 > 0)
            first[hit] = lam * (bg_counts[pos[hit]] / c1w1[hit])
            lp = np.log10(first + (1.0 - lam) * ((c1_arr[w2_id] + 1.0) / denom))
            # sequential per-doc sums — see the provenance notes above
            lp_list = lp.tolist()
            k = 0
            out = np.empty(len(doc_lens), dtype=np.float64)
            for d, nbg in enumerate((doc_lens - 1).tolist()):
                out[d] = sum(lp_list[k : k + nbg], 0.0) / nbg
                k += nbg
            avg[lens >= 2] = out
        return pd.DataFrame(
            {
                "n_bigrams": pd.Series(n_out, dtype="int64"),
                "avg_logprob": pd.Series(avg).where(lens >= 2, None),
            }
        )

    return score_vector, score_loop


def bigram_lm_scores(
    df,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.7,
    use_arrow: bool | None = None,
    model_threshold: int = 1 << 21,
    arrow_impl: str = "vector",
):
    """CCNet-style LM quality scoring, bigram flavor (Wenzek et al.
    2020 filter KenLM perplexity against a Wikipedia-trained model;
    this is the same shape with an interpolated bigram model trained on
    the TARGET subset): per document, the mean log10 of

        P(w2 | w1) = lam * c2(w1,w2)/c1(w1)  +  (1-lam) * (c1(w2)+1)/(N+V)

    where c1/c2 are target-subset unigram/bigram counts, N the target
    token total, V the target vocabulary size (+1 smoothing keeps the
    backoff term positive for unseen words, so P > 0 always; an unseen
    w1 zeroes the first term via the guarded division). Returns
    (id_col, n_bigrams, avg_logprob double UNROUNDED) — one row per doc
    with at least one bigram. Higher = more target-like; callers
    threshold on it.

    Scale (100 TB): both model tables are Heaps-law-bounded aggregates
    of the TARGET subset (map-side combined; (token,count) /
    (bigram,count) rows only) and BROADCAST onto the corpus bigram
    stream — the corpus-sized stream itself never shuffles for the
    joins; the only corpus-sized shuffle is the per-doc mean on doc
    ids. N and V collect as two scalars off the persisted unigram
    table (the k-bytes-to-driver contract). A web-scale bigram table
    outgrowing broadcast swaps to a shuffled join on the same column —
    documented trade, not a plan rewrite. Token/bigram enumeration is
    the DSIR convention (lower/trim, \\s+ split, guarded sequence), so
    the DuckDB oracle reproduces it verbatim."""
    from k8e_fetch_spark.functions.caching import persist_scoped

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    n = F.size(toks)
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )

    def bigram_rows(frame):
        t = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        nn = F.size(t)
        ii = F.when(nn >= 2, F.sequence(F.lit(1), nn - 1)).otherwise(
            F.array().cast("array<int>")
        )
        return frame.select(
            F.col(id_col),
            F.explode(
                F.transform(
                    ii,
                    lambda i: F.struct(
                        F.element_at(t, i).alias("w1"),
                        F.element_at(t, i + 1).alias("w2"),
                    ),
                )
            ).alias("bg"),
        ).select(id_col, "bg.w1", "bg.w2")

    tgt = df.filter(target)
    tgt_uni = persist_scoped(
        "bigram_lm.uni",
        tgt.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1")),
    )
    row = tgt_uni.agg(
        F.sum("c1").alias("n_tot"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    n_tot, v = float(row["n_tot"] or 1), float(row["v"] or 1)
    tgt_big = bigram_rows(tgt).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c2")
    )

    # Default path: CLOSURE-shipped model scored in ONE Arrow pass —
    # the production shape (CCNet ships a KenLM binary to every worker;
    # here the model is two dicts). The corpus is tokenized and scored
    # batch-local: no bigram explode, no joins, no extra shuffle before
    # the (absent) aggregation — per-doc output comes straight off the
    # scan. The relational join form below stays as the twin (pinned
    # output-identical in tests) and as the fallback when the bigram
    # table outgrows the closure threshold. 20x measured: the join form
    # ran 8.6 s -> 163 s (linear but ~5 expression-heavy stages); the
    # Arrow form is one scan-local projection.
    if use_arrow is None:
        big_probe = tgt_big.limit(model_threshold + 1).collect()
        use_arrow = len(big_probe) <= model_threshold
    else:
        big_probe = tgt_big.collect() if use_arrow else []
    if use_arrow:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        c2 = {(r["w1"], r["w2"]): int(r["c2"]) for r in big_probe}
        c1 = {r["w"]: int(r["c1"]) for r in tgt_uni.collect()}
        score_vector, score_loop = build_bigram_scorers(c1, c2, lam, n_tot, v)
        _score = score_vector if arrow_impl == "vector" else score_loop
        _score.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
        sc = pandas_udf(_score, "struct<n_bigrams:bigint,avg_logprob:double>")(
            F.col(text_col)
        )
        return (
            df.select(F.col(id_col), sc.alias("_s"))
            .select(
                id_col,
                F.col("_s.n_bigrams").alias("n_bigrams"),
                F.col("_s.avg_logprob").alias("avg_logprob"),
            )
            .filter(F.col("n_bigrams") > 0)
        )

    corpus_bg = bigram_rows(df)
    scored = (
        corpus_bg.join(F.broadcast(tgt_big), on=["w1", "w2"], how="left")
        .join(
            F.broadcast(tgt_uni.select(F.col("w").alias("w1"), F.col("c1").alias("c1_w1"))),
            on="w1",
            how="left",
        )
        .join(
            F.broadcast(tgt_uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1_w2"))),
            on="w2",
            how="left",
        )
        .select(
            F.col(id_col),
            F.log10(
                F.lit(lam)
                * F.when(
                    F.col("c1_w1").isNotNull() & F.col("c2").isNotNull(),
                    F.col("c2") / F.col("c1_w1"),
                ).otherwise(F.lit(0.0))
                + F.lit(1.0 - lam)
                * ((F.coalesce(F.col("c1_w2"), F.lit(0)) + F.lit(1.0)) / F.lit(n_tot + v))
            ).alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.avg("lp").alias("avg_logprob"),
    )


def bm25_scores(
    docs: DataFrame,
    terms: Sequence[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 query scoring (Robertson & Zaragoza 2009, the Lucene
    default ranking family): per-document relevance of a fixed query
    term set, with term-frequency saturation (k1) and document-length
    normalization (b). The lexical half of a retrieval stack — the
    complement of the embedding ANN tiers in queries/similarity.py, and
    the production shape of `sim_hybrid_search`'s keyword stage.

    Not in the reference (its pipeline has no search surface —
    /root/reference/bin/fetcher.bash is fetch/compress only); this is
    ext-text-stats extension surface.

    Plan shape (the inverted-index discipline, relationally): tokenize
    is scan-local; the posting filter (`token IN terms`) runs BEFORE
    the first exchange, so only rows for the query's own posting lists
    ever shuffle — corpus volume never crosses the wire. Three
    map-side-combined aggregates total: (doc, term) tf counts, the
    |terms|-row df table (broadcast back), and the per-doc score sum.
    Corpus stats (N, avgdl) ride one 1-row broadcast aggregate. At
    100 TB nothing here is driver-resident and no stage holds more
    than the query's matching postings.

    idf uses the BM25+-style lower-bounded form ln(1 + (N-df+0.5)/(df+0.5))
    (always positive, unlike the classic log-odds which can go negative
    for df > N/2 — this corpus's common words would). Scores are summed
    raw and rounded by the CALLER (round-then-rank convention,
    functions/rounding.py).
    """
    toks = docs.select(
        id_col,
        F.filter(
            F.split(F.trim(F.lower(text_col)), r"\s+"), lambda t: t != ""
        ).alias("toks"),
    ).select(id_col, "toks", F.size("toks").alias("dl"))
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    posting = toks.select(id_col, "dl", F.explode("toks").alias("token")).filter(
        F.col("token").isin(list(terms))
    )
    tf = posting.groupBy(id_col, "dl", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_t"))
    return (
        tf.join(F.broadcast(df_t), on="token")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                1.0 + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy(id_col)
        .agg(
            F.sum("w").alias("bm25"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        )
    )


def bm25_scores_multi(
    docs: DataFrame,
    queries: dict[int, Sequence[str]],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    persist_tokens: bool = False,
) -> DataFrame:
    """BM25 for a BATCH of queries in ONE corpus pass — the production
    shape of :func:`bm25_scores`: a retrieval workload is many queries,
    and scanning 100 TB once per query is the cost this form removes.
    The query set becomes a literal (q_id, token) table broadcast
    against the exploded token stream, so a single scan serves every
    query; per-(q_id, doc) scores come back in one aggregate.

    df(term) is query-independent (computed once over the distinct
    matched terms, not per query), so a term shared by many queries
    costs one posting list. Returns (q_id, doc_id, bm25, n_terms) for
    every document matching >= 1 of that query's terms; ranking/cutoff
    belongs to the caller (round-then-rank).

    Scale: identical discipline to the single-query form — tokenize +
    the posting join run inside the scan stage (the broadcast hash join
    against the tiny query-term table IS the posting filter), only
    matching (doc, q, term) rows shuffle, and the aggregates map-side
    combine. The corpus-stats pass (N, avgdl) is shared by all queries.

    ``persist_tokens=True`` (VERDICT r15 #4) pins the tokenize+project
    frame (id, toks, dl) with persist_scoped, collapsing this
    function's THREE corpus consumers — the (N, avgdl) stats
    aggregate, the df(term) aggregate, and the tf chain (the two
    aggregates sit behind broadcast boundaries exchange reuse cannot
    cross, so unpinned each re-runs the scan + tokenize) — onto ONE
    source scan + ONE tokenization. Values are identical either way;
    default False keeps every existing caller's plan bit-identical.
    The persisted frame is the pruned (id, token-array, dl) corpus —
    at 100 TB that trade (one MEMORY_AND_DISK materialization vs two
    extra full scans PLUS two re-tokenizations) favors persisting
    whenever the cluster has the storage headroom; measured at sf0.1
    in the composed retrieval pipeline before adopting it there.
    """
    # dedup (q_id, token) pairs: a term listed twice in one query must
    # weigh once, matching bm25_scores' isin() set semantics (a dup row
    # here would fan the posting join out and double that term's w and
    # n_terms) — ADVICE r13
    q_rows = sorted({(int(q), t) for q, terms in queries.items() for t in terms})
    spark = docs.sparkSession
    qterms = spark.createDataFrame(q_rows, "q_id int, token string")
    toks = docs.select(
        id_col,
        F.filter(
            F.split(F.trim(F.lower(text_col)), r"\s+"), lambda t: t != ""
        ).alias("toks"),
    ).select(id_col, "toks", F.size("toks").alias("dl"))
    if persist_tokens:
        from k8e_fetch_spark.functions.caching import persist_scoped

        toks = persist_scoped("bm25_multi.toks", toks)
    stats = toks.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    posting = toks.select(id_col, "dl", F.explode("toks").alias("token"))
    # per-(doc, term) tf over the DISTINCT matched terms: a term shared
    # by several queries is counted once here and fanned out after
    terms_only = qterms.select("token").distinct()
    tf = (
        posting.join(F.broadcast(terms_only), on="token")
        .groupBy(id_col, "dl", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_t"))
    scored = (
        tf.join(F.broadcast(df_t), on="token")
        .join(F.broadcast(qterms), on="token")  # fan out to queries
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                1.0 + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return scored.groupBy("q_id", id_col).agg(
        F.sum("w").alias("bm25"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
    )
