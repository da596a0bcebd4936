"""Parquet table loading for the synthetic star schema.

All tables are columnar parquet; ``spark.read.parquet`` gives us the
vectorized reader, column pruning, and filter pushdown for free — the
Spark-native equivalent of the reference's fetch-then-import path
(/root/reference/bin/fetcher.bash:119-120, sqlite ``.import``).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from k8e_fetch_spark.session import facts

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def source_fingerprint(sf_dir: str, name: str) -> list:
    """Recursive per-part fingerprint of a source table.

    A parquet "table" may be a DIRECTORY of part files whose in-place
    edits can leave the top-level dir stat unchanged — fingerprint every
    file's (relpath, size, mtime) so any part rewrite invalidates a
    fixture-reuse marker keyed on this value. Single files fingerprint
    as (mtime, size)."""
    p = Path(table_path(sf_dir, name))
    if p.is_dir():
        return [
            [str(f.relative_to(p)), f.stat().st_size, f.stat().st_mtime]
            for f in sorted(p.rglob("*"))
            if f.is_file()
        ]
    st = p.stat()
    return [st.st_mtime, st.st_size]


def derived_fixture(
    marker: Path, fp: dict, built: Callable[[], bool], build: Callable[[], None]
) -> None:
    """Rebuild a fixture derived from source tables with ``build()``
    unless ``marker`` holds their fingerprint ``fp`` and ``built()``. The
    marker goes before a rebuild and is published after it by rename."""
    try:
        current = json.loads(marker.read_text()) == fp
    except (OSError, ValueError):  # no marker yet, or a torn one
        current = False
    if current and built():
        return
    marker.unlink(missing_ok=True)
    build()
    tmp = marker.with_name(f".{marker.name}.{os.getpid()}.tmp")
    tmp.write_text(json.dumps(fp))
    tmp.replace(marker)


# (SparkContext, sf_dir, table) -> DataFrame. A DataFrame is an
# immutable logical plan, so handing the same one to every caller is
# safe — and spark.read.parquet costs ~130 ms of driver time per call
# (footer schema inference + Py4J), which multiplies across a suite
# where most queries load 1-3 tables. Keyed by the SparkContext object
# (no Py4J call) so a stopped session's plans are never reused by its
# successor, which always gets a new SparkContext.
_LOAD_CACHE: dict[tuple[SparkContext, str, str], DataFrame] = {}


def _as_event_time(dtype) -> F.Column:
    """Column expression normalizing a loaded ``ts`` column (long nanos,
    TIMESTAMP_NTZ, or TIMESTAMP) to session-tz TIMESTAMP — see
    :func:`load` for the per-dtype rationale."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.LongType):
        return F.timestamp_micros(F.expr("ts div 1000"))
    if isinstance(dtype, T.TimestampNTZType):
        return F.col("ts").cast("timestamp")
    return F.col("ts")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table. Scans stay columnar + prunable.

    ``events.ts`` has shipped as both parquet TIMESTAMP(NANOS) and
    TIMESTAMP(MICROS) across fixture generations, so normalization
    branches on the dtype Spark actually loaded rather than assuming
    one physical type:

    * ``LongType`` — TIMESTAMP(NANOS) read via ``nanosAsLong``; convert
      raw nanos to a microsecond timestamp (the truncation DuckDB
      applies reading TIMESTAMP_NS as TIMESTAMP).
    * ``TimestampNTZType`` — TIMESTAMP(MICROS) without tz annotation;
      cast to TIMESTAMP (session tz is pinned UTC in session.py, so the
      instant is unchanged and streaming watermarks — which reject NTZ —
      work).
    * ``TimestampType`` — already what every consumer wants; no-op.
    """
    key = (spark.sparkContext, sf_dir, name)
    if key in _LOAD_CACHE:
        return _LOAD_CACHE[key]
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        df = df.withColumn("ts", _as_event_time(df.schema["ts"].dataType))
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
    _LOAD_CACHE[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every synthetic table as a temp view so users can drive
    the engine with plain ``spark.sql(...)`` — the SQL front door that
    makes switching from the reference a query-text change, not an API
    migration."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Widen a narrow scan before compute-heavy per-row work.

    A small parquet file arrives as ONE input split, serializing any
    expensive projection chain (shingling, hashing, scoring) on a single
    core — the local-mode miniature of the unsplittable-zip problem. One
    cheap row-exchange buys full-width parallelism for everything
    downstream. No-op when the scan is already wider than the target
    (the 100 TB case: scans arrive thousands of partitions wide and must
    NOT be shrunk here).
    """
    target = min_partitions or facts(df.sparkSession).cores
    # File-count width estimate: metadata-only (driver-side file index),
    # no job, no plan-to-RDD conversion. A scan over >= target files is
    # already wide enough; the 100 TB case (thousands of files)
    # short-circuits here and is never shrunk or re-exchanged.
    if len(df.inputFiles()) >= target:
        return df
    return df.repartition(target)
