"""Exact duplicated-substring span removal (operators/substring.py) —
the Lee et al. 2022 ExactSubstr semantics, pinned on hand-computable
corpora: a token is removed iff it lies inside some min_len-token
window occurring >= 2 times in the corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from k8e_fetch_spark.operators.substring import _merge_spans_sql, duplicated_span_removal


def _run(spark, rows, min_len=4):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicated_span_removal(df, min_len=min_len)
    return {r["doc_id"]: r for r in out.collect()}


def _w(*tokens):
    return " ".join(tokens)


def test_cross_doc_planted_span(spark):
    """A 6-token run shared mid-document between two docs (min_len=4):
    covered positions are the union of the duplicated 4-windows, i.e.
    exactly the 6 shared tokens on each side."""
    shared = ["s1", "s2", "s3", "s4", "s5", "s6"]
    a = _w("a1", "a2", *shared, "a3", "a4")  # shared at 0-based 2..7
    b = _w("b1", *shared, "b2", "b3", "b4")  # shared at 0-based 1..6
    got = _run(spark, [(1, a), (2, b)])
    assert got[1]["n_removed"] == 6 and got[2]["n_removed"] == 6
    assert got[1]["cleaned_text"] == "a1 a2 a3 a4"
    assert got[2]["cleaned_text"] == "b1 b2 b3 b4"


def test_below_threshold_run_survives(spark):
    """A duplicated 3-token run under min_len=4 contains no duplicated
    4-window -> nothing is removed."""
    got = _run(
        spark,
        [(1, _w("x1", "c1", "c2", "c3", "x2")), (2, _w("y1", "c1", "c2", "c3", "y2"))],
    )
    assert got[1]["n_removed"] == 0 and got[2]["n_removed"] == 0
    assert got[1]["cleaned_text"] == "x1 c1 c2 c3 x2"


def test_within_doc_repeat_counts(spark):
    """Within-document repetition counts toward the occurrence
    threshold (the paper counts total corpus occurrences): one doc
    containing the same 4-gram twice has both occurrences removed."""
    rep = ["r1", "r2", "r3", "r4"]
    text = _w(*rep, "mid1", "mid2", *rep)
    got = _run(spark, [(1, text), (2, _w("u1", "u2", "u3", "u4", "u5"))])
    assert got[1]["n_removed"] == 8
    assert got[1]["cleaned_text"] == "mid1 mid2"
    assert got[2]["n_removed"] == 0


def test_overlapping_windows_merge_to_union(spark):
    """An 8-token duplicated run = five overlapping 4-windows; removed
    count must be the 8-token union, not 5*4."""
    run = [f"t{i}" for i in range(8)]
    got = _run(spark, [(1, _w("p", *run, "q")), (2, _w(*run))])
    assert got[1]["n_removed"] == 8
    assert got[1]["cleaned_text"] == "p q"
    # doc 2 is entirely the duplicated run
    assert got[2]["n_removed"] == got[2]["n_tokens"] == 8
    assert got[2]["cleaned_text"] == ""


def test_short_docs_emit_and_cover_nothing(spark):
    """Docs below min_len tokens produce no windows — identical short
    docs are NOT span-removed (doc-level dedup is a different op)."""
    got = _run(spark, [(1, "tiny doc"), (2, "tiny doc"), (3, _w("z1", "z2", "z3", "z4", "z5"))])
    assert all(got[i]["n_removed"] == 0 for i in (1, 2, 3))


def _merge_spans_df(spark, dp):
    arr = "CAST(array(" + ",".join(str(p) for p in dp) + ") AS array<int>)"
    return spark.range(1).select(F.expr(_merge_spans_sql(arr, 4)).alias("sp"))


def test_merge_spans_expression(spark):
    """The interval-merge fold: overlapping, adjacent, and disjoint
    window starts coalesce to the right half-open spans."""
    sp = [(s["s"], s["e"]) for s in _merge_spans_df(spark, [0, 2, 6, 20]).collect()[0]["sp"]]
    # 0->[0,4), 2 overlaps -> [0,6), 6 adjacent -> [0,10); 20 disjoint
    assert sp == [(0, 10), (20, 24)]
    assert _merge_spans_df(spark, []).collect()[0]["sp"] == []


def _py_merge_spans(dp, min_len):
    """Textbook interval merge of the windows [p, p + min_len)."""
    spans = []
    for p in dp:
        if spans and p <= spans[-1][1]:
            spans[-1][1] = max(spans[-1][1], p + min_len)
        else:
            spans.append([p, p + min_len])
    return [tuple(sp) for sp in spans]


def test_merge_spans_matches_python_interval_merge(spark):
    """The span fold equals a pure-Python interval merge on
    overlapping/adjacent/disjoint/empty position arrays."""
    cases = [
        [0, 2, 6, 20],
        [],
        [5],
        [0, 1, 2, 3],
        [0, 8, 16, 17, 40],
    ]
    for dp in cases:
        got = [(s["s"], s["e"]) for s in _merge_spans_df(spark, dp).collect()[0]["sp"]]
        assert got == _py_merge_spans(dp, 4), dp
