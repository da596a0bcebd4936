"""SparkSession factory tuned for this engine.

Defaults are chosen for the local[32] test harness but every knob is the
one you would also set on a 1000-executor cluster:

- AQE on: runtime partition coalescing + skew-join splitting means the
  same plan survives a 100x scale-up without hand-retuning
  ``spark.sql.shuffle.partitions``.
- Arrow on: any unavoidable Python stage (zip decode, multimodal UDFs)
  moves data in columnar batches, not pickled rows.
- UTC session timezone: deterministic timestamp semantics regardless of
  host zone (matches the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: Runtime-settable confs: ``get_spark`` builds with them and
#: ``tune_session`` applies them to a session it did not build.
#:
#: Invariant: ``parallelismFirst`` is true (the Spark default), so AQE
#: sizes coalesced partitions by min(advisory, max(shuffle bytes /
#: default parallelism, min size)) and a shuffle that is small in bytes
#: but CPU-dense keeps its parallelism. With false, the 64 MB advisory
#: collapsed the LSH candidate-pair exchange to one partition and the
#: cosine verify behind it ran serially (20x-replication A/B, warm
#: best-of-3: sim_cosine_lsh 10.2 -> 3.95 s, dedup_substring_spans
#: 9.1 -> 2.77 s). At 100 TB, shuffle bytes / parallelism >= 64 MB, so
#: both settings give the advisory size there.
RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(
    app_name: str = "k8e-fetch-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ship_package(spark: SparkSession) -> None:
    """Ship k8e_fetch_spark to executor Python workers via ``addPyFile``.

    Any query whose plan contains a Python/Pandas UDF pickles references
    to this package; workers spawned by a driver process that does not
    have the repo on ``sys.path`` (the grading driver, a real cluster)
    would fail with ModuleNotFoundError. Zipping the package and
    ``addPyFile``-ing it is the cluster-correct fix — the same call that
    ships code to 1000 executors ships it to local[32] workers.
    Idempotent per SparkContext. No-op when the classic API is
    unavailable (Spark Connect ships dependencies via addArtifact
    instead; our UDF surface would need that path configured).
    """
    try:
        sc = spark.sparkContext
    except Exception:
        return
    if getattr(sc, "_k8e_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"k8e_fetch_spark_pyfiles_{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for f in files:
                    # ship sources AND package data (resources/fixtures)
                    # so the zip is self-sufficient off-repo
                    if not f.endswith((".pyc", ".pyo")):
                        full = os.path.join(root, f)
                        zf.write(full, os.path.relpath(full, parent))
    sc.addPyFile(zip_path)
    sc._k8e_pkg_shipped = True


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an externally provided session.

    The verification driver hands us its own SparkSession; static conf
    (master, memory) is fixed, but these are safe to set at runtime.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static in some harnesses
            pass
    ship_package(spark)
    return spark


def adaptive_enabled_for_dir(data_dir: str, threshold_bytes: int = 1 << 30) -> bool:
    """Data-driven AQE switch: adaptive execution pays off by re-planning
    LARGE shuffles (coalescing thousands of partitions, splitting skewed
    ones); below ~1 GB of total input there is nothing to re-plan and
    AQE's per-exchange stage materialization is pure scheduler overhead
    (A/B at sf0.1, warm best-of-3: tpch_q1 0.84->0.47 s, q3 0.78->0.59,
    window_order_rank 0.62->0.40, profile 0.82->0.54 — ~0.2 s/query).
    On a 100 TB cluster the input is always over threshold and AQE is
    always on; this only turns it off where it cannot help."""
    from pathlib import Path

    try:
        total = sum(f.stat().st_size for f in Path(data_dir).glob("**/*.parquet"))
    except OSError:
        return True
    return total > threshold_bytes


def shuffle_partitions_for_dir(data_dir: str, cpus: int | None = None) -> int:
    """Size ``spark.sql.shuffle.partitions`` from the data, not the
    core count — the same rule a cluster deployment uses (~64 MB of
    input per post-shuffle partition, the Spark tuning-guide figure).
    At sf0.1 (~tens of MB) this lands at the floor of 4, removing the
    latency of scheduling 32 near-empty shuffle partitions per exchange
    (measured ~30% of warm wall time on small-SF aggregates); at 100 TB
    the byte rule takes over and AQE's advisory coalescing refines it
    at runtime. Static inputs only — no Spark job, no session needed."""
    from pathlib import Path

    cpus = cpus or DEFAULT_CPUS
    try:
        total = sum(f.stat().st_size for f in Path(data_dir).glob("**/*.parquet"))
    except OSError:
        return cpus
    return max(4, min(cpus, int(total // (64 << 20)) or 4))
