"""Dedup / merge operators — the reference's "Compress" stage (SURVEY.md §2.4).

The reference decomposes wide denormalized snapshots into deduplicated
dimension ("component") tables with
``CREATE UNIQUE INDEX`` + ``INSERT OR IGNORE INTO comp SELECT DISTINCT …``
(/root/reference/bin/fetcher.bash:156-160). Spark-first equivalents:

- ``distinct_component``   -> hash aggregate (partial + final, map-side
  combine), the scalable form of SELECT DISTINCT;
- ``insert_ignore``        -> left-anti join + append: idempotent merge,
  the portable batch form of Delta's MERGE WHEN NOT MATCHED;
- ``multi_source_union``   -> many heterogeneous sources funnel into one
  component (fetcher.bash:149-161 loop), via unionByName over
  substitution-projected inputs.

Scale notes (100 TB): distinct over N columns shuffles once on all
columns; partial aggregation collapses repeats map-side first, so the
shuffle carries only unique combos (dimension cardinality, not fact
cardinality). ``insert_ignore`` broadcasts the existing side when small;
otherwise it is a shuffled anti join on the full key — AQE picks the
strategy at runtime.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from k8e_fetch_spark.operators.projection import project


def distinct_component(
    df: DataFrame,
    columns: Sequence[str],
    subst: Mapping[str, Column | str] | None = None,
) -> DataFrame:
    """op-distinct: ``SELECT DISTINCT <subst-cols> FROM t``
    (/root/reference/bin/fetcher.bash:159)."""
    return project(df, columns, subst).distinct()


def multi_source_union(
    sources: Sequence[tuple[DataFrame, Mapping[str, Column | str] | None]],
    columns: Sequence[str],
) -> DataFrame:
    """op-multi-source-union: several source tables feed one component
    (e.g. ``vr_snapshot_*`` and ``ncvoter_statewide`` both feed
    ``c_voter``; /root/reference/bin/cfg.yaml:12-54). Result is distinct
    over the component columns (union of INSERT OR IGNORE runs)."""
    parts = [project(df, columns, subst) for df, subst in sources]
    return reduce(DataFrame.unionByName, parts).distinct()


def insert_ignore_delta(existing: DataFrame, new: DataFrame) -> DataFrame:
    """The rows an ``INSERT OR IGNORE`` of ``new`` adds to ``existing``:
    the distinct rows of ``new`` (projected onto ``existing``'s columns)
    that no row of ``existing`` matches. One keyed left-anti join;
    every insert-ignore merge (:func:`insert_ignore` and the table
    formats in plans/snapshots.py) computes its delta here.

    The match is null-safe (``<=>``): NULL attribute combos merge once.
    (Deliberate divergence from SQLite, whose unique indexes treat NULLs
    as pairwise distinct so reruns re-insert NULL-bearing rows — that
    quirk breaks idempotency, the property this operator exists for.)
    """
    cols = existing.columns
    e, n = existing.alias("e"), new.select(*cols).distinct().alias("n")
    cond = reduce(
        lambda a, b: a & b, [F.col(f"n.{c}").eqNullSafe(F.col(f"e.{c}")) for c in cols]
    )
    return n.join(e, on=cond, how="left_anti")


def insert_ignore(existing: DataFrame, new: DataFrame) -> DataFrame:
    """op-insert-ignore: idempotent insert-if-absent merge.

    ``INSERT OR IGNORE INTO comp SELECT DISTINCT … FROM t`` (reference
    ``bin/fetcher.bash:159``): rows already present (full-row match, per
    the unique index at :158) are silently skipped. Returns the
    post-merge component, ``existing`` ∪ :func:`insert_ignore_delta`.
    Rerun-safe: applying twice is a no-op.
    """
    return existing.unionByName(insert_ignore_delta(existing, new))


def keep_best_per_cluster(
    clusters: DataFrame,
    quality: DataFrame,
    cluster_col: str = "cluster_id",
    id_col: str = "doc_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Dedup retention policy: keep the highest-quality member of each
    near-duplicate cluster (production pipelines keep the BEST copy,
    not an arbitrary one — boilerplate mirrors often include one clean
    original among many degraded scrapes). Ties break on the smallest
    id, so the policy is deterministic.

    One shuffle on the cluster key with map-side partial aggregation:
    argmax is a struct ``min`` ordered by (null-flag, -quality, id) —
    non-null first, then highest quality, then smallest id — so no
    window sort and no join-back; buffer per cluster is one struct
    regardless of cluster size (mega-cluster safe). The id tie-break
    uses the column's OWN ordering, so string doc ids (URLs, UUIDs —
    the common web-corpus case) work as well as numeric ones and
    ``keep_doc_id`` keeps the input id type. ``quality`` must be
    numeric; NULL and NaN quality both sort as worst (the leading
    null-flag handles NULL — without it a NULL struct field sorts
    FIRST under ascending min and a missing score would beat every
    real one; -NaN is NaN, which Spark orders after every double).
    Returns (cluster, keep id, its quality, member count).
    """
    joined = clusters.join(quality, on=id_col)
    best = F.min(
        F.struct(
            F.col(quality_col).isNull().alias("q_missing"),
            (-F.col(quality_col)).alias("neg_q"),
            F.col(id_col).alias("id"),
            F.col(quality_col).alias("q"),
        )
    ).alias("best")
    return (
        joined.groupBy(cluster_col)
        .agg(best, F.count(F.lit(1)).alias("n_members"))
        .select(
            cluster_col,
            F.col("best.id").alias("keep_doc_id"),
            F.col("best.q").alias("best_quality"),
            "n_members",
        )
    )


def segment_dedup_keep_first(
    segments: DataFrame,
    id_col: str = "doc_id",
    idx_col: str = "seg_idx",
    text_col: str = "seg",
    joiner: str = " ",
) -> DataFrame:
    """Paragraph/segment-level exact dedup, keep-first (the C4/Dolma
    recipe): across the WHOLE corpus, every repeated paragraph keeps
    only its first occurrence — ordered by (id, position) — and each
    document is reassembled from its surviving segments, in order.
    Boilerplate (headers, navigation, license blocks) repeated across
    millions of pages disappears from all but one document while the
    unique prose stays.

    Input is one row per segment (id, idx, text); pair with a
    segmenter (split on blank lines for real corpora, fixed word
    windows for delimiter-free text) and pass the MATCHING ``joiner``
    ("\n\n" for blank-line paragraphs) so reassembly restores the
    original delimiter instead of flattening boundaries to spaces.

    Scale shape — two shuffles, both buffer-bounded:
    1. keep-first is a groupBy on the segment TEXT with a one-struct
       ``min`` buffer per distinct segment (no window sort, no
       join-back; a boilerplate paragraph repeated 1e6 times still
       folds map-side to one partial per partition);
    2. reassembly groups by document id; the collect_list buffer is
       bounded by a single document's own segment count — the same
       bound as holding one input document, never corpus-scale.
    Documents whose every segment was claimed earlier drop out (their
    text would be empty).
    Returns (id, cleaned_text, n_kept) with n_kept an int segment
    count.
    """
    first = F.min(F.struct(F.col(id_col).alias("id"), F.col(idx_col).alias("idx"))).alias("k")
    kept = (
        segments.groupBy(text_col)
        .agg(first)
        .select(F.col("k.id").alias(id_col), F.col("k.idx").alias(idx_col), text_col)
    )
    ordered = F.array_sort(F.collect_list(F.struct(F.col(idx_col).alias("i"), F.col(text_col).alias("t"))))
    return (
        kept.groupBy(id_col)
        .agg(
            F.concat_ws(joiner, F.transform(ordered, lambda s: s["t"])).alias("cleaned_text"),
            F.count(F.lit(1)).cast("int").alias("n_kept"),
        )
    )
