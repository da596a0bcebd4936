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

A fresh driver JVM launch maps a cached class archive (JDK dynamic
AppCDS, JEP 350) when one matches the JVM and the Spark jars, and
otherwise dumps one as the JVM exits; see :func:`get_spark`.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import logging
import os
import shutil
import subprocess
from pathlib import Path
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

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

_JAVA_OPTS = "spark.driver.extraJavaOptions"

#: How long the exit hook of a dumping launch waits for the JVM to write
#: its class archive (about 12 s on 4 cores) before giving up on it.
_DUMP_WAIT_S = 120.0


def get_spark(
    app_name: str = "k8e-fetch-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or return the running) local session.

    A call that launches the driver JVM uses the class archive cache
    (:func:`_plan_launch`): it maps a cached archive of the Spark,
    Catalyst and Hadoop classes, pre-parsed and pre-verified, instead of
    loading them from the jars, or dumps one when the JVM exits. A
    launch that fails with the archive deletes it and launches once
    more without it. The decision is logged at INFO.
    """
    cpus = cpus or DEFAULT_CPUS
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        **RUNTIME_CONF,
        **(extra_conf or {}),
    }

    def build(conf: dict[str, str]) -> SparkSession:
        return (
            SparkSession.builder.appName(app_name)
            .master(f"local[{cpus}]")
            .config(map=conf)
            .getOrCreate()
        )

    launch, decision = _plan_launch(conf)
    if launch is None:
        log.info("class archive skipped: %s", decision)
        return build(conf)
    opts = " ".join(filter(None, (conf.get(_JAVA_OPTS), launch.java_opts)))
    try:
        with _spark_conf_dir(launch.conf_dir):
            spark = build({**conf, _JAVA_OPTS: opts})
    except Exception as e:
        launch.log.unlink(missing_ok=True)
        if SparkContext._gateway is not None:  # the JVM is up: not the archive's fault
            raise
        launch.drop_archive()
        log.warning("class archive rejected (%s): %s; relaunched without it", decision, e)
        return build(conf)
    if launch.part is not None:
        atexit.register(_publish_dump, SparkContext._gateway.proc, launch.part, launch.archive)
    log.info("class archive %s", decision)
    if launch.refused():
        launch.drop_archive()
        log.warning("class archive %s refused by the JVM; deleted", launch.archive)
    return spark


@contextlib.contextmanager
def _spark_conf_dir(path: Path):
    """Set ``SPARK_CONF_DIR`` for the launch inside the block only."""
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = str(path)
    try:
        yield
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


class _Launch(NamedTuple):
    """How one fresh JVM launch uses the class archive cache: map
    ``archive``, whose (inode, mtime) was ``mapped``, or dump to ``part``
    (not None) at exit; either way with the empty ``conf_dir`` as
    ``SPARK_CONF_DIR``."""

    archive: Path
    part: Path | None
    conf_dir: Path
    mapped: tuple[int, int] | None = None

    def drop_archive(self) -> None:
        """Delete the archive this launch mapped, unless another process
        has since published a new one at its path."""
        with contextlib.suppress(OSError):
            st = self.archive.stat()
            if (st.st_ino, st.st_mtime_ns) == self.mapped:
                self.archive.unlink()

    @property
    def log(self) -> Path:
        """Where a mapping launch logs cds warnings."""
        return self.archive.with_name(f"{self.archive.stem}.{os.getpid()}.jsa.log")

    def refused(self) -> bool:
        """Whether ``log`` says the JVM refused the archive (the one place
        that shows: ``java.vm.info`` reads "sharing" as the base archive
        maps); removes ``log``."""
        try:
            return "Unable to use shared archive" in self.log.read_text(errors="replace")
        except OSError:
            return False
        finally:
            self.log.unlink(missing_ok=True)

    @property
    def java_opts(self) -> str:
        # The CRC check turns a damaged archive into a clean refusal (it
        # costs no measurable launch CPU). cds messages go to stderr,
        # never into a caller's stdout: warnings such as that refusal
        # when mapping (and to ``log``), errors only when dumping, which
        # warns once per class it cannot archive (hundreds of lines).
        if self.part is None:
            use = f"-XX:SharedArchiveFile={self.archive} -Xlog:cds*=warning:file={self.log}"
            level = "warning"
        else:
            use, level = f"-XX:ArchiveClassesAtExit={self.part}", "error"
        return f"{use} -XX:+VerifySharedSpaces -Xlog:cds*=off:stdout -Xlog:cds*={level}:stderr"


def _plan_launch(conf: dict[str, str]) -> tuple[_Launch | None, str]:
    """Decide how a JVM launch with ``conf`` uses the class archive
    cache: ``(launch, "used …" | "dumping to …")``, or ``(None, reason)``
    to launch plainly.

    The cache is ``$XDG_CACHE_HOME/k8e_fetch_spark/`` (default
    ``~/.cache``). It holds an empty conf dir and one archive, named by
    a key over what an archive is valid for: the JVM build, the Spark
    jars and the classpath's conf dir. The JVM refuses to dump when the
    classpath holds a non-empty directory, and Spark puts the conf dir
    on it, so a launch uses the cache only when the effective conf dir
    holds nothing but ``*.template`` files — it then launches with the
    empty cached one, and a user's config is never hidden — and nothing
    else adds a directory to the classpath.
    """
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None, "a JVM is already running"
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        if os.environ.get(var):
            return None, f"{var} is set"
    if conf.get("spark.driver.extraClassPath"):
        return None, "spark.driver.extraClassPath is set"
    from pyspark.find_spark_home import _find_spark_home

    spark_home = Path(_find_spark_home())
    user_conf = Path(os.environ.get("SPARK_CONF_DIR") or spark_home / "conf")
    if user_conf.is_dir() and any(not p.name.endswith(".template") for p in user_conf.iterdir()):
        return None, f"{user_conf} holds Spark config"
    cache = Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache") / "k8e_fetch_spark"
    conf_dir = cache / "conf"
    try:
        conf_dir.mkdir(parents=True, exist_ok=True)
    except OSError as e:
        return None, f"cannot create {conf_dir}: {e}"
    if not os.access(cache, os.W_OK):
        return None, f"{cache} is not writable"
    if any(c.isspace() or c in "'\":" for c in str(cache)):
        return None, f"{cache} would need quoting in {_JAVA_OPTS}"
    if any(conf_dir.iterdir()):
        return None, f"{conf_dir} is not empty"
    key = _cache_key(spark_home, conf_dir)
    if key is None:
        return None, "no libjvm.so found for the JVM spark-submit runs"
    for part in cache.glob("*.jsa.*"):  # <key>.<launcher pid>.jsa.{part,log}
        pid = part.name.split(".")[1]
        if not (pid.isdigit() and _alive(int(pid))):
            part.unlink(missing_ok=True)
    archive = cache / f"{key}.jsa"
    try:
        st = archive.stat()
    except OSError:
        part = cache / f"{key}.{os.getpid()}.jsa.part"
        return _Launch(archive, part, conf_dir), f"dumping to {part}"
    return _Launch(archive, None, conf_dir, (st.st_ino, st.st_mtime_ns)), f"used {archive}"


def _cache_key(spark_home: Path, conf_dir: Path) -> str | None:
    """Hash of the JVM spark-submit will run (its realpath, and the size
    and mtime of its ``libjvm.so``), the name, size and mtime of every
    Spark jar, and the conf dir; None when there is no ``libjvm.so``."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.exists(java):
        return None
    java = os.path.realpath(java)
    libjvm = sorted(Path(java).parent.parent.glob("lib/*/libjvm.so"))
    if not libjvm:
        return None
    h = hashlib.sha256()
    st = libjvm[0].stat()
    h.update(f"{java}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    for jar in sorted((spark_home / "jars").glob("*.jar")):
        st = jar.stat()
        h.update(f"{jar.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    h.update(str(conf_dir).encode())
    return h.hexdigest()[:16]


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, another user's
        pass
    return True


def _publish_dump(proc: subprocess.Popen, part: Path, archive: Path) -> None:
    """Exit hook of a dumping launch: end the JVM, which writes the
    archive to ``part`` as it exits, and publish it as ``archive`` only
    if the JVM exited 0 — by atomic rename, so a reader never maps a
    partial file. Archives of other keys are deleted."""
    proc.stdin.close()  # the gateway exits on EOF
    try:
        rc = proc.wait(timeout=_DUMP_WAIT_S)
    except subprocess.TimeoutExpired:
        log.warning("class archive: JVM still running after %.0f s; %s not published", _DUMP_WAIT_S, part)
        return
    if rc != 0 or not part.exists():
        part.unlink(missing_ok=True)
        log.warning("class archive: JVM exited %d without a dump; nothing published", rc)
        return
    os.replace(part, archive)
    for old in archive.parent.glob("*.jsa"):
        if old != archive:
            old.unlink(missing_ok=True)
    log.info("class archive published: %s", archive)


class SessionFacts(NamedTuple):
    """What the engine sizes its plans by, as :func:`facts` reads it."""

    cores: int
    shuffle_partitions: int
    max_split_bytes: int
    open_cost_bytes: int


def facts(spark: SparkSession) -> SessionFacts:
    """The package's one reader of the session facts, read afresh on
    every call: the confs can change at runtime. Classic sessions only:
    Spark Connect has no SparkContext or ``_jsparkSession`` to read them
    from, nor the ``addPyFile`` that :func:`ship_package` ships with."""
    conf = spark._jsparkSession.sessionState().conf()
    return SessionFacts(
        cores=spark.sparkContext.defaultParallelism,
        shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
        max_split_bytes=conf.filesMaxPartitionBytes(),
        open_cost_bytes=conf.filesOpenCostInBytes(),
    )


def ship_package(spark: SparkSession) -> None:
    """Ship k8e_fetch_spark to executor Python workers via ``addPyFile``.

    Any query whose plan contains a Python/Pandas UDF pickles references
    to this package; workers spawned by a driver process that does not
    have the repo on ``sys.path`` (the grading driver, a real cluster)
    would fail with ModuleNotFoundError. Zipping the package and
    ``addPyFile``-ing it is the cluster-correct fix — the same call that
    ships code to 1000 executors ships it to local[32] workers.
    Idempotent per SparkContext.
    """
    sc = spark.sparkContext
    if getattr(sc, "_k8e_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"k8e_fetch_spark_pyfiles_{os.getpid()}.zip"
    )
    # rebuilt per process (a same-pid zip left by a killed process
    # would ship stale code) and removed at exit
    atexit.register(Path(zip_path).unlink, missing_ok=True)
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
        except Exception as e:  # pragma: no cover - conf may be static in some harnesses
            log.warning("tune_session could not set %s: %s", k, e)
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
    cpus = cpus or DEFAULT_CPUS
    try:
        total = sum(f.stat().st_size for f in Path(data_dir).glob("**/*.parquet"))
    except OSError:
        return cpus
    return max(4, min(cpus, int(total // (64 << 20)) or 4))
