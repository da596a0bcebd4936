"""Local mirror of the driver's correctness gate.

Runs a declared Spark query and its DuckDB oracle side by side and
compares row count + column names + order-insensitive values. We compare
values EXACTLY (bitwise for floats): if an engine pair can disagree in
low-order float bits, the fix belongs in the query (round on both
sides), not in a tolerant comparator — the driver hashes values.
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np


def _canon_value(v: Any) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00NAN"
        return repr(v)
    if isinstance(v, (np.floating,)):
        return _canon_value(float(v))
    # bool and np.bool_ MUST canonicalize identically for the same
    # reason as ints below: np.bool_ is NOT a bool subclass, and which
    # one arrives depends on the engine/Arrow path (python bool from a
    # non-Arrow Spark toPandas, np.bool_ from DuckDB .df()).
    if isinstance(v, (bool, np.bool_)):
        return f"bool:{bool(v)}"
    # plain python ints and numpy ints MUST canonicalize identically:
    # ints inside array cells arrive as python ints from a non-Arrow
    # Spark toPandas but as numpy ints from DuckDB .df() (and from an
    # Arrow-enabled Spark), so a type-prefixed form here would make the
    # same values hash-mismatch depending on the session's Arrow config.
    if isinstance(v, (int, np.integer)):
        return repr(int(v))
    if isinstance(v, bytes):
        return "bytes:" + v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    # pandas NaT / NaN scalars
    if v != v:  # noqa: PLR0124 - NaN check for pandas scalars
        return "\x00NAN"
    return f"{type(v).__name__}:{v}"


def canon_rows(pdf) -> list[tuple[str, ...]]:
    """Canonical order-insensitive representation: sort columns by name,
    stringify values, sort rows."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = [tuple(_canon_value(v) for v in row) for row in pdf.itertuples(index=False, name=None)]
    rows.sort()
    return rows


def compare_frames(spark_pdf, duck_pdf) -> list[str]:
    """Return a list of human-readable diffs; empty means match."""
    diffs: list[str] = []
    s_cols, d_cols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if s_cols != d_cols:
        diffs.append(f"columns differ: spark={s_cols} duck={d_cols}")
        return diffs
    if len(spark_pdf) != len(duck_pdf):
        diffs.append(f"row count differs: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    s_rows, d_rows = canon_rows(spark_pdf), canon_rows(duck_pdf)
    if s_rows != d_rows:
        only_s = [r for r in s_rows if r not in set(d_rows)][:5]
        only_d = [r for r in d_rows if r not in set(s_rows)][:5]
        diffs.append(f"values differ; sample only-in-spark={only_s} only-in-duck={only_d}")
    return diffs


def run_parity(spark, duck, query_fn, oracle: str, sf_dir: str) -> list[str]:
    spark_pdf = query_fn(spark, sf_dir).toPandas()
    duck_pdf = duck.execute(oracle).df()
    return compare_frames(spark_pdf, duck_pdf)


def scan_output_rows(df) -> int:
    """Rows the parquet SCAN nodes actually produced for this frame's
    last execution — i.e. rows surviving parquet row-group pruning and
    pushed-filter evaluation, BEFORE any Spark-side Filter. The honest
    engine-path data-skipping measure: a layout that lets footer
    min/max drop row groups shows up here as a smaller number for the
    same predicate, through the normal ``spark.read.parquet`` path.

    Executes the frame (collect — count() would build and execute a
    DIFFERENT QueryExecution, leaving this one's metrics at zero) and
    then walks the EXECUTED plan's leaf metrics, unwrapping AQE's
    final plan when present."""
    return scan_metric(df, "numOutputRows")


def scan_metric(df, name: str) -> int:
    """Sum of the named SQL metric over the executed plan's SCAN
    (leaf) nodes — e.g. ``numOutputRows`` (rows surviving row-group
    pruning) or ``numFiles`` (files the scan actually scheduled, the
    file-level skipping measure). Executes the frame first."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    total = 0
    for i in range(leaves.size()):
        node = leaves.apply(i)
        metrics = node.metrics()
        if metrics.contains(name):
            total += metrics.apply(name).value()
    return int(total)


def formatted_plan(df) -> str:
    """The frame's ``EXPLAIN FORMATTED`` text (physical plan overview
    plus per-node details: PushedFilters, ReadSchema, exchanges)."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)
