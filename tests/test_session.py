"""The launch cache of ``session.get_spark``: a driver JVM launch maps a
cached class archive, or dumps one at exit, and a damaged archive, a
user's Spark config or a caller's JVM options never cost a working
session.

Every launch runs in its own Python process with ``XDG_CACHE_HOME`` in a
temp dir, so no test touches the user's cache. The module's first two
launches dump a real archive concurrently; the damaged archives the
other tests plant are made from that dump, under the same cache key.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
from pathlib import Path
from types import SimpleNamespace

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent

PROG = textwrap.dedent(
    """
    import json, logging, os, sys
    sys.path.insert(0, sys.argv[1])
    logging.basicConfig(level=logging.INFO, stream=sys.stderr)
    from k8e_fetch_spark.session import get_spark
    spark = get_spark(
        app_name="launch-cache-test", cpus=1, shuffle_partitions=1,
        extra_conf=json.loads(sys.argv[2]),
    )
    conf = spark.sparkContext.getConf()
    out = {
        "count": spark.range(3).count(),
        "java_opts": conf.get("spark.driver.extraJavaOptions", ""),
        "probe": spark.sparkContext._jvm.java.lang.System.getProperty("k8e.probe"),
        "defaults": conf.get("spark.k8e.probe", None),
        "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    }
    spark.stop()
    print("RESULT " + json.dumps(out))
    """
)


def _start(xdg: Path, cwd: Path, extra_conf: dict | None = None, **env: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", PROG, str(REPO_ROOT), json.dumps(extra_conf or {})],
        env={**os.environ, "XDG_CACHE_HOME": str(xdg), **env},
        cwd=cwd,  # a JVM crash report lands here
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )


def _finish(proc: subprocess.Popen) -> SimpleNamespace:
    stdout, stderr = proc.communicate(timeout=300)
    assert proc.returncode == 0, stderr[-3000:]
    results = [ln for ln in stdout.splitlines() if ln.startswith("RESULT ")]
    assert len(results) == 1, stdout[-3000:]
    return SimpleNamespace(
        stdout=stdout, stderr=stderr, **json.loads(results[0].removeprefix("RESULT "))
    )


def _launch(xdg: Path, cwd: Path, extra_conf: dict | None = None, **env: str) -> SimpleNamespace:
    return _finish(_start(xdg, cwd, extra_conf, **env))


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """Two concurrent first launches into one empty cache, and what they
    left there; ``pristine`` is a copy of the archive they published."""
    xdg, cwd = tmp_path_factory.mktemp("xdg"), tmp_path_factory.mktemp("cwd")
    runs = [_finish(p) for p in [_start(xdg, cwd), _start(xdg, cwd)]]
    cache = xdg / "k8e_fetch_spark"
    listing = sorted(p.name for p in cache.iterdir())
    archives = sorted(cache.glob("*.jsa"))
    pristine = tmp_path_factory.mktemp("pristine") / "archive.jsa"
    if archives:
        shutil.copyfile(archives[0], pristine)
    return SimpleNamespace(
        xdg=xdg, cache=cache, runs=runs, listing=listing, archives=archives, pristine=pristine
    )


def _plant(dumped, data: bytes) -> Path:
    """Write ``data`` where the dump's archive lives and return that path."""
    archive = dumped.archives[0]
    archive.unlink(missing_ok=True)
    archive.write_bytes(data)
    return archive


def test_concurrent_first_launches_publish_one_archive(dumped):
    for run in dumped.runs:
        assert run.count == 3
        assert "class archive dumping to" in run.stderr
        assert "-XX:ArchiveClassesAtExit=" in run.java_opts
    # one <key>.jsa beside the empty conf dir: no .part file is left
    assert len(dumped.archives) == 1, dumped.listing
    assert dumped.listing == sorted(["conf", dumped.archives[0].name])
    assert dumped.archives[0].name.count(".") == 1
    assert dumped.pristine.stat().st_size > 1 << 20


def test_truncated_archive_is_deleted_and_session_works(dumped, tmp_path):
    data = dumped.pristine.read_bytes()
    archive = _plant(dumped, data[: len(data) // 2])
    run = _launch(dumped.xdg, tmp_path)
    assert run.count == 3
    assert "class archive rejected" in run.stderr
    assert not archive.exists()


def test_corrupt_archive_is_refused_without_stdout_noise(dumped, tmp_path):
    data = bytearray(dumped.pristine.read_bytes())
    mid = len(data) // 2
    data[mid : mid + 4096] = bytes(b ^ 0xFF for b in data[mid : mid + 4096])
    _plant(dumped, bytes(data))
    run = _launch(dumped.xdg, tmp_path)
    assert run.count == 3
    assert "class archive used" in run.stderr
    assert "Unable to use shared archive" in run.stderr  # refused, on stderr
    assert len(run.stdout.splitlines()) == 1  # the RESULT line, nothing from the JVM


def test_user_spark_config_is_never_hidden(tmp_path):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.k8e.probe true\n")
    run = _launch(tmp_path / "xdg", tmp_path, SPARK_CONF_DIR=str(conf_dir))
    assert run.count == 3
    assert run.defaults == "true"  # the user's config was read
    assert run.conf_dir == str(conf_dir)
    assert "Shared" not in run.java_opts and "ArchiveClasses" not in run.java_opts
    assert f"class archive skipped: {conf_dir} holds Spark config" in run.stderr
    assert not list((tmp_path / "xdg").rglob("*.jsa*"))


def test_caller_java_options_survive(dumped, tmp_path):
    archive = _plant(dumped, dumped.pristine.read_bytes())
    run = _launch(
        dumped.xdg, tmp_path, {"spark.driver.extraJavaOptions": "-Dk8e.probe=42"}
    )
    assert run.count == 3
    assert run.probe == "42"
    assert f"-XX:SharedArchiveFile={archive}" in run.java_opts
    assert "class archive used" in run.stderr and "rejected" not in run.stderr
    assert run.conf_dir == os.environ.get("SPARK_CONF_DIR")  # restored after the launch
