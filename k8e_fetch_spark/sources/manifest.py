"""Object-version catalog: the reference's fetch stage as DataFrames.

op-catalog-scan: ``aws s3api list-object-versions --bucket B > B.json``
(fetcher.bash:25-35) produces ``{"Versions": [{Key, VersionId, IsLatest,
LastModified, Size, ETag}, ...]}``. That shape is fixed by the API, so
the listing is read with a declared schema: building the manifest frame
starts no Spark job, and a listing that does not parse fails the first
action instead of reading as empty. The manifest for a 100 TB bucket is
itself big — it stays distributed; nothing collects.

Selection = op-regex-include + op-dir-exclude + op-uniq + implicit
op-version-latest (fetcher.bash:54-57), and op-temporal-prune's
date-generated regexes (current_cycle.bash:36-45). The output key list
is what the readers ever touch: predicate pushdown to the source by
construction (SURVEY.md §4).
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ListObjectVersions ``Versions[]`` field -> manifest column, in
# MANIFEST_SCHEMA order
_AWS_FIELDS = (
    ("Key", "key"),
    ("VersionId", "version_id"),
    ("IsLatest", "is_latest"),
    ("LastModified", "last_modified"),
    ("Size", "size"),
    ("ETag", "etag"),
)


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    """op-catalog-scan: version-manifest JSON → one row per object version,
    in the shared :data:`~k8e_fetch_spark.sources.objectstore.MANIFEST_SCHEMA`
    so the recorded-JSON path and the live listing adapter are
    interchangeable upstream of every catalog predicate.

    The file is read with the listing's declared schema and ``FAILFAST``:
    a listing with no ``Versions`` (an empty bucket, or one holding only
    ``DeleteMarkers``) or an empty one yields no rows, and a truncated or
    mistyped file raises on the first action. A zero-byte local file —
    a listing cut off before its first byte, which JSON would read as
    no records — raises ``ValueError`` here."""
    from k8e_fetch_spark.sources.objectstore import MANIFEST_SCHEMA

    if os.path.isfile(path) and os.path.getsize(path) == 0:
        raise ValueError(f"empty manifest file: {path}")

    version = T.StructType(
        [T.StructField(aws, MANIFEST_SCHEMA[col].dataType) for aws, col in _AWS_FIELDS]
    )
    listing = T.StructType([T.StructField("Versions", T.ArrayType(version))])
    raw = (
        spark.read.schema(listing)
        .option("multiLine", True)
        .option("mode", "FAILFAST")
        .json(path)
    )
    return raw.select(F.explode("Versions").alias("v")).select(
        *[F.col(f"v.{aws}").alias(col) for aws, col in _AWS_FIELDS]
    )


def any_rlike(col: Column, patterns: Sequence[str]) -> Column:
    """grep -E -f <patterns>: keep rows matching ANY regex."""
    return reduce(lambda a, b: a | b, (col.rlike(p) for p in patterns))


def select_keys(manifest: DataFrame, include: Sequence[str]) -> DataFrame:
    """Include() (fetcher.bash:54-57): regex any-of + drop pseudo-dir
    keys + distinct; latest-version semantics made explicit."""
    key = F.col("key")
    return (
        manifest.filter(F.col("is_latest"))
        .filter(any_rlike(key, include) & ~key.endswith("/"))
        .select("key")
        .distinct()
    )


def temporal_include(year: int, judge_term: int = 8) -> list[str]:
    """MkFilter (current_cycle.bash:36-45): include-regex set generated
    from the clock — snapshots for {Y-1, Y}, election dirs for the judge
    term window {Y-8..Y}, plus statewide zips."""
    pats = [f"VR_Snapshot_{year - 1}", f"VR_Snapshot_{year}"]
    pats += [f"Elections/{y}" for y in range(year - judge_term, year + 1)]
    pats.append(r"_Statewide\.zip$")
    return pats


def sync_delta(selected: DataFrame, local: DataFrame) -> DataFrame:
    """op-sync: objects selected but not yet present locally (``aws s3
    sync`` transfer set). ``local`` needs a ``key`` column; anti join =
    the only rows any network transfer would move."""
    return selected.join(local.select("key"), on="key", how="left_anti")
