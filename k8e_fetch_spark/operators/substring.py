"""Exact duplicated-substring span removal (the Lee et al. 2022
"Deduplicating Training Data Makes Language Models Better" ExactSubstr
recipe, re-expressed for Spark).

The paper removes any substring of >= ``min_len`` tokens that occurs
more than once in the corpus (across documents OR repeated within
one), using a suffix array over the concatenated corpus — a shared-
memory construction that does not distribute. The Spark-first
equivalence: a maximal duplicated span of length >= L is exactly the
union of its duplicated L-token windows, so

  1. emit every L-token window (gram) per document with its position,
     as a 64-bit multi-arg ``xxhash64`` identity (no gram string is
     ever allocated; token boundaries are preserved by per-field
     seeding — same domain argument as
     ``operators.similarity.hashed_shingles``);
  2. tag each gram row with its corpus-wide occurrence count via ONE
     window over the hash — a single 8-byte-keyed shuffle, no join, no
     second scan (the same tag-with-window form as the MinHash bucket
     stage, A/B'd there against groupBy+join);
  3. per document, sort the duplicated positions and fold them into
     merged disjoint spans (classic interval merge as one
     ``aggregate`` expression — row-local, zero Python);
  4. removed-token counts and the cleaned text are pure column
     expressions over (tokens, merged spans).

A token is removed iff it lies inside some L-token window that occurs
at least ``min_count`` times in the corpus — precisely the paper's
criterion, and (unlike the suffix array) expressible as three shuffles
of 8-byte keys.

Scale (100 TB): the gram relation is ~one row per corpus token of
(hash, doc, pos) — the window shuffle carries it once; partitions
spill via WindowExec's external sorter, so a boilerplate gram
occurring 10M times costs one ~240 MB spillable partition, not an
aggregation buffer. The per-doc fold buffers only that document's
duplicated positions (bounded by the doc's own token count — the doc
row itself is bigger). Nothing is quadratic: each gram row joins
nothing, the span merge is linear in duplicated positions, and the
cleaned-text rebuild is O(tokens x merged-spans) with merged spans
<= tokens/L by disjointness.

Reference parity note: the k8e-fetch reference (bash/sed ingest
pipeline) has no near-dup or substring stage; this operator is part
of the mandated LLM-training-data extension surface (SURVEY.md §2.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SPAN_ARR = "array<struct<s:int,e:int>>"


def _merge_spans_sql(dp_expr: str, min_len: int) -> str:
    """Fold the SORTED ``array<int>`` of 0-based window-start positions
    that ``dp_expr`` renders into merged disjoint half-open token spans
    [s, e): each position p covers [p, p+min_len); overlapping or
    adjacent windows coalesce. One parsed ``aggregate`` expression,
    evaluated row-local inside the scan stage."""
    flush = (
        "CASE WHEN acc.cs >= 0 "
        "THEN concat(acc.sp, array(named_struct('s', acc.cs, 'e', acc.ce))) "
        "ELSE acc.sp END"
    )
    return (
        f"aggregate({dp_expr}, "
        "named_struct("
        f"'sp', CAST(array() AS {_SPAN_ARR}), 'cs', -1, 'ce', -1), "
        "(acc, p) -> named_struct("
        # start a new span when cs < 0 or p > ce, flushing the previous
        # one first; sorted input + constant min_len keeps p + min_len
        # >= the previous ce, so ce only grows
        f"'sp', CASE WHEN ((acc.cs < 0) OR (p > acc.ce)) THEN {flush} ELSE acc.sp END, "
        "'cs', CASE WHEN ((acc.cs < 0) OR (p > acc.ce)) THEN p ELSE acc.cs END, "
        f"'ce', p + {min_len}), "
        f"acc -> {flush})"
    )


def duplicated_span_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Remove every token run of >= ``min_len`` whitespace tokens that
    occurs >= ``min_count`` times in the corpus (within- and cross-
    document occurrences both count, per the paper).

    Returns one row per input document:
    (``id_col``, n_tokens, n_removed, cleaned_text) where
    ``cleaned_text`` is the surviving tokens joined by single spaces
    (whitespace-normalized — the tokenizer's view of the text).

    Direct callers must be on the default string-literal parse: the
    operator builds parsed-SQL regex literals, so a session with
    spark.sql.parser.escapedStringLiterals=true silently changes
    tokenization. Registry-routed queries pin the default.
    """
    toks = df.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("t")
    )
    # guarded descending-sequence edge, as in _hashed_gram_index: docs
    # shorter than min_len emit no windows (they can neither cover nor
    # be covered — span removal has no whole-text fallback, by design)
    gram = (
        "xxhash64("
        + ", ".join(f"element_at(t, i + {j + 1})" for j in range(min_len))
        + ")"
    )
    grams = toks.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(CASE WHEN size(t) >= {min_len} "
                f"THEN sequence(0, size(t) - {min_len}) "
                f"ELSE CAST(array() AS array<int>) END, i -> {gram})"
            )
        ).alias("pos", "h"),
    )
    # ONE shuffle on the 8-byte gram hash: tag occurrence counts with a
    # window (no join, no second text scan; see module docstring for
    # the spill/skew argument)
    dpos = (
        grams.selectExpr("*", "count(1) OVER (PARTITION BY h) AS m")
        .filter(F.col("m") >= min_count)
        .select(id_col, "pos")
    )
    # per-doc duplicated positions; buffer bounded by the doc's own
    # token count (the doc text row is strictly larger)
    dp = dpos.groupBy(id_col).agg(
        F.expr("sort_array(collect_list(pos)) AS dp")
    )
    joined = toks.join(dp, on=id_col, how="left")
    spans_s = _merge_spans_sql(
        "coalesce(dp, CAST(array() AS array<int>))", min_len
    )
    out = joined.select(id_col, "t", F.expr(spans_s).alias("spans"))
    return out.selectExpr(
        f"`{id_col}`",
        "CAST(size(t) AS BIGINT) AS n_tokens",
        "CAST(aggregate(spans, 0, (acc, sp) -> acc + (sp.e - sp.s)) "
        "AS BIGINT) AS n_removed",
        "concat_ws(' ', transform(filter(sequence(0, size(t) - 1), "
        "j -> NOT exists(spans, sp -> sp.s <= j AND j < sp.e)), "
        "j -> element_at(t, j + 1))) AS cleaned_text",
    )
