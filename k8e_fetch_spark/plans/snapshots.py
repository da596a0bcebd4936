"""Component-table formats: how a component table is laid out, merged,
rewritten and published. No other module knows the on-disk layout.

The reference's Compress stage merges with ``INSERT OR IGNORE`` into a
SQLite table with a unique index (fetcher.bash:157-159), and SQLite
makes each merge transactional. ``insert_ignore`` (operators/dedup.py)
gives the merge semantics; this module gives the atomic publish on
plain parquet, with no table-format library, in four layouts
(:data:`TABLE_FORMATS`):

- ``parquet``: a flat directory. Every rewrite lands in a temp sibling
  (``<table>.__tmp__``) that then replaces the table (:func:`write_flat`):
  the live table is renamed aside (``<table>.__old__``), the temp
  renamed in, and the aside copy deleted.
- ``snapshot``: every merge writes a complete ``snap-<n>/`` beside the
  live one and flips the ``_CURRENT`` pointer. O(table) per merge —
  the right trade for dimension tables, which are orders of magnitude
  smaller than facts.
- ``manifest``: ``_CURRENT_MANIFEST`` names a JSON manifest listing the
  live data directories. A merge writes only ``new ∖ current`` as
  ``delta-<n>/`` plus ``manifest-<n>.json``: O(delta) per merge.
  Reads open one directory per live delta; :func:`checkpoint` rewrites
  the live set into one ``base-<n>/`` to bound that.
- ``occ``: manifest tables for concurrent writers, marked by ``_OCC``.
  The version number is the compare-and-swap token: a commit claims
  ``manifest-<n>.json`` atomically through the CAS seam (plans/cas.py)
  and a lost race recomputes its delta against the winner's table.
  Current is the highest parseable manifest, so there is no pointer
  to race. Data directories carry a writer-unique suffix, so two
  writers never write the same path.

Invariants, for every format:

- a reader only ever sees a fully published table: pointers flip by
  atomic rename, OCC versions are claimed atomically, and a flat table
  is replaced only after its new contents are completely written;
- a crash leaves unreferenced directories or manifests — garbage for
  :func:`vacuum` / :func:`vacuum_manifest`, never a torn table — and a
  flat table's temp and aside siblings are never read as tables
  (:func:`is_flat_table`); a flat table a crashed swap left only aside
  is renamed back by the next swap or :func:`is_flat_table` call;
- merging a batch the table already holds adds no rows, and on
  manifest and OCC tables publishes nothing.

Delta Lake and Iceberg generalize these layouts and are drop-in
replacements at cluster scale.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from collections.abc import Callable, Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from k8e_fetch_spark.operators.dedup import insert_ignore, insert_ignore_delta
from k8e_fetch_spark.plans.cas import (  # noqa: F401  (re-export: public API)
    DEFAULT_CAS,
    CasBackend,
    ConditionalPutCas,
    LinkCas,
    ManifestConflictError,
)

TABLE_FORMATS = ("parquet", "snapshot", "manifest", "occ")

# suffixes of the temp sibling a flat table's rewrite lands in before it
# replaces the table, and of the sibling the live table is renamed to
# while it is replaced
_SWAP_SUFFIX = ".__tmp__"
_ASIDE_SUFFIX = ".__old__"

_POINTER = "_CURRENT"
_MANIFEST_POINTER = "_CURRENT_MANIFEST"
_OCC_MARKER = "_OCC"

# Default vacuum retention for OCC tables (see vacuum_manifest): an
# unreferenced dir younger than this is presumed to be a concurrent
# writer's in-flight delta, not garbage. Delta Lake defaults to 7 days;
# one day is generous for a merge attempt's write-to-CAS gap while
# keeping local test garbage collectable by backdating mtimes.
OCC_VACUUM_RETAIN_SECONDS = 24 * 3600.0


# ---------------------------------------------------------------------------
# Shared mechanics
# ---------------------------------------------------------------------------


def _version(name: str) -> int:
    """N of ``snap-N``, ``manifest-N.json``, ``delta-N[-writer]``."""
    return int(name.split("-")[1].split(".")[0])


def _flip(pointer: Path, name: str) -> None:
    """Atomically point ``pointer`` at ``name`` (write temp, rename)."""
    tmp = pointer.with_name(f".{pointer.name}.{os.getpid()}.tmp")
    tmp.write_text(name)
    tmp.replace(pointer)  # os.replace: atomic on POSIX


def _keep_window(names: list[str], live: str | None, keep: int) -> set[str]:
    """The live entry plus its ``keep - 1`` predecessors in ``names``
    (sorted). The window follows the live entry, never lexical order: a
    crash orphan can carry a higher number than live. Without a live
    entry on disk (no pointer, or a dangling one) the lexically latest
    ``keep`` survive, so a bad pointer degrades to readable garbage and
    never to deleting every data directory."""
    if live in names:
        upto = names.index(live)
        return set(names[max(0, upto - keep + 1) : upto + 1]) | {live}
    return set(names[-keep:])


def _rewrite(
    df: DataFrame, dest: str | Path, n_files: int, zorder_by: Sequence[str] | None
) -> None:
    """Write ``df`` to ``dest`` as ``n_files`` files: Z-ordered on
    ``zorder_by`` (one range exchange), else a shuffle-free coalesce."""
    if zorder_by:
        from k8e_fetch_spark.operators.scale import write_zordered_auto

        write_zordered_auto(df, str(dest), zorder_by, n_files=n_files)
    else:
        df.coalesce(n_files).write.mode("overwrite").parquet(str(dest))


# ---------------------------------------------------------------------------
# Flat parquet tables
# ---------------------------------------------------------------------------


def _swap(path: str | Path, write: Callable[[str], None]) -> None:
    """``write`` the table's new contents into its temp sibling, then
    replace the table with it. The new contents may be computed from
    the table itself: Spark reads lazily, so writing in place would
    race the read. The live table is renamed aside, not deleted, until
    the new one is in place, so a crash at any step leaves a complete
    table at ``path`` or aside (see :func:`_recover`)."""
    path = str(path)
    _recover(path)
    tmp, aside = path + _SWAP_SUFFIX, path + _ASIDE_SUFFIX
    write(tmp)
    if not os.path.exists(path):
        os.replace(tmp, path)
        return
    os.replace(path, aside)
    os.replace(tmp, path)
    shutil.rmtree(aside)


def _recover(path: str) -> None:
    """Finish a swap of the flat table ``path`` that crashed: a table
    found only aside is renamed back (the rewrite is lost, and rerunning
    it converges), and an aside copy beside a live table — the swap died
    in or before its delete — is deleted."""
    aside = path + _ASIDE_SUFFIX
    if not os.path.exists(aside):
        return
    if os.path.exists(path):
        shutil.rmtree(aside)
    else:
        os.replace(aside, path)


def write_flat(df: DataFrame, path: str | Path) -> DataFrame:
    """Land ``df`` as the flat parquet table ``path`` (temp write, then
    swap) and return the re-read table. The re-read declares the schema
    just written — a file source makes every field nullable, which is
    what footer inference would give — so it starts no job."""
    _swap(path, df.write.mode("overwrite").parquet)
    return df.sparkSession.read.schema(df.schema).parquet(str(path))


def is_flat_table(path: str | Path) -> bool:
    """True for an existing flat parquet table: neither a swap's temp or
    aside sibling nor a snapshot, manifest or OCC table, which carry a
    marker file. A table a crashed swap left only aside is recovered
    first."""
    path = Path(path)
    if path.name.endswith((_SWAP_SUFFIX, _ASIDE_SUFFIX)):
        return False
    _recover(str(path))
    return path.is_dir() and not any(
        (path / m).exists() for m in (_POINTER, _MANIFEST_POINTER, _OCC_MARKER)
    )


def flat_tables(warehouse: str | Path) -> list[str]:
    """Names of the flat parquet tables in ``warehouse``, a table a
    crashed swap left only aside included (and recovered)."""
    names = {n.removesuffix(_ASIDE_SUFFIX) for n in os.listdir(warehouse)}
    return sorted(n for n in names if is_flat_table(os.path.join(warehouse, n)))


# ---------------------------------------------------------------------------
# Snapshot-pointer tables
# ---------------------------------------------------------------------------


def _pointer_path(table_dir: str | Path) -> Path:
    return Path(table_dir) / _POINTER


def current_snapshot(table_dir: str | Path) -> str | None:
    """Name of the live snapshot directory, or None for an empty table."""
    try:
        name = _pointer_path(table_dir).read_text().strip()
    except FileNotFoundError:
        return None
    return name or None


def read_table(spark: SparkSession, table_dir: str | Path) -> DataFrame | None:
    """DataFrame over the live snapshot (None when the table is empty).
    Readers never see a snapshot that was not fully published."""
    snap = current_snapshot(table_dir)
    if snap is None:
        return None
    return spark.read.parquet(str(Path(table_dir) / snap))


def _publish_snapshot(
    table_dir: Path, after: str | None, write: Callable[[str], None]
) -> str:
    """``write`` the snapshot that follows ``after``, then flip the
    pointer to it. Returns its name."""
    snap_name = f"snap-{(0 if after is None else _version(after)) + 1:06d}"
    write(str(table_dir / snap_name))
    _flip(_pointer_path(table_dir), snap_name)
    return snap_name


def merge_insert_ignore(
    spark: SparkSession,
    table_dir: str | Path,
    new: DataFrame,
) -> str:
    """Atomic op-insert-ignore MERGE: write ``current ∪ (new ∖ current)``
    as a complete new snapshot, then flip the pointer. Returns the
    published snapshot name.

    Idempotent like the in-memory form: merging the same batch twice
    publishes a snapshot with identical rows (the second merge's
    left-anti adds nothing). The table is readable at every instant —
    before the flip readers see the old snapshot, after it the new one,
    never a mixture.
    """
    table_dir = Path(table_dir)
    table_dir.mkdir(parents=True, exist_ok=True)
    cur_name = current_snapshot(table_dir)
    merged = (
        new.distinct()
        if cur_name is None
        else insert_ignore(spark.read.parquet(str(table_dir / cur_name)), new)
    )
    return _publish_snapshot(
        table_dir, cur_name, merged.write.mode("overwrite").parquet
    )


def rewrite_snapshot_zordered(
    spark: SparkSession,
    table_dir: str | Path,
    zorder_by: Sequence[str],
    n_files: int = 1,
) -> str:
    """Rewrite the live snapshot in Z-order on the given columns and
    flip the pointer: same rows, new layout (the snapshot analog of
    :func:`checkpoint`'s ``zorder_by``). The superseded snapshot becomes
    ordinary :func:`vacuum` garbage."""
    table_dir = Path(table_dir)
    cur = current_snapshot(table_dir)
    if cur is None:
        raise ValueError(f"empty snapshot table: {table_dir}")
    df = spark.read.parquet(str(table_dir / cur))
    return _publish_snapshot(
        table_dir, cur, lambda dest: _rewrite(df, dest, n_files, zorder_by)
    )


def vacuum(table_dir: str | Path, keep: int = 1) -> list[str]:
    """Remove orphaned / superseded snapshot directories, keeping the
    live snapshot plus ``keep - 1`` predecessors (time travel on the
    cheap). Never touches the pointer. Returns removed names."""
    table_dir = Path(table_dir)
    snaps = sorted(
        p.name for p in table_dir.iterdir() if p.is_dir() and p.name.startswith("snap-")
    )
    keep_set = _keep_window(snaps, current_snapshot(table_dir), keep)
    removed = []
    for name in snaps:
        if name not in keep_set:
            shutil.rmtree(table_dir / name, ignore_errors=True)
            removed.append(name)
    return removed


# ---------------------------------------------------------------------------
# Manifest tables (pointer and OCC)
# ---------------------------------------------------------------------------


def _manifest_pointer(table_dir: str | Path) -> Path:
    return Path(table_dir) / _MANIFEST_POINTER


def _is_occ_table(table_dir: Path) -> bool:
    return (Path(table_dir) / _OCC_MARKER).exists()


def _manifest_dirs(table_dir: Path, manifest_name: str) -> list[str]:
    return json.loads((table_dir / manifest_name).read_text())["dirs"]


def _manifest_files(table_dir: Path) -> list[Path]:
    """Every ``manifest-*`` file in the table, ascending by name."""
    return sorted(
        p for p in Path(table_dir).iterdir()
        if p.is_file() and p.name.startswith("manifest-")
    )


def _parses(manifest: Path) -> bool:
    """Whether ``manifest`` is readable as a manifest. A committed one
    always is; a torn or hand-damaged one (missing, truncated,
    non-UTF-8, not an object, no ``dirs``) is not."""
    try:
        _manifest_dirs(manifest.parent, manifest.name)
    except (OSError, ValueError, KeyError, TypeError):
        return False
    return True


def current_manifest(table_dir: str | Path) -> str | None:
    """Name of the live manifest file, or None for an empty table.

    Pointer tables (single-writer) resolve the ``_CURRENT_MANIFEST``
    pointer. OCC tables resolve the highest parseable manifest: their
    version chain is the commit log, and a pointer would be a second,
    raceable source of truth."""
    table_dir = Path(table_dir)
    if _is_occ_table(table_dir):
        return next(
            (p.name for p in reversed(_manifest_files(table_dir)) if _parses(p)), None
        )
    try:
        name = _manifest_pointer(table_dir).read_text().strip()
    except FileNotFoundError:
        return None
    return name or None


def manifest_versions(table_dir: str | Path) -> list[int]:
    """Version numbers of every manifest still on disk, ascending —
    the time-travel window (``vacuum_manifest``'s ``keep`` bounds it).
    A version is listed only if its manifest parses."""
    return [_version(p.name) for p in _manifest_files(Path(table_dir)) if _parses(p)]


def read_manifest_table(
    spark: SparkSession, table_dir: str | Path, version: int | None = None
) -> DataFrame | None:
    """DataFrame over the union of the live manifest's data dirs (None
    when empty). Readers list NOTHING — the manifest names every live
    directory, so object-store LIST cost is zero on the read path (the
    property Iceberg/Delta buy with the same structure).

    ``version`` time-travels to a historical manifest still inside the
    vacuum keep-window (``manifest_versions`` lists what is readable;
    vacuumed versions raise FileNotFoundError). On a pointer table the
    live version is whatever the pointer names; asking for a version
    ABOVE it reads a crash-orphan — allowed deliberately for repair
    tooling, so pass versions from ``manifest_versions``/
    ``current_manifest`` in normal use."""
    table_dir = Path(table_dir)
    if version is not None:
        name: str | None = f"manifest-{version:06d}.json"
        if not (table_dir / name).exists():
            raise FileNotFoundError(
                f"{name} not on disk in {table_dir} (vacuumed or never "
                f"committed); readable versions: {manifest_versions(table_dir)}"
            )
    else:
        name = current_manifest(table_dir)
    if name is None:
        return None
    dirs = _manifest_dirs(table_dir, name)
    return spark.read.parquet(*[str(table_dir / d) for d in dirs])


def _data_dir_name(kind: str, version: int, occ: bool) -> str:
    """``delta-N`` / ``base-N``; on OCC tables with a writer-unique
    suffix, so concurrent writers never write the same directory."""
    name = f"{kind}-{version:06d}"
    return f"{name}-{os.getpid()}{os.urandom(3).hex()}" if occ else name


def _commit_manifest_cas(
    table_dir: Path,
    manifest_name: str,
    payload: str,
    cas: CasBackend | None = None,
) -> None:
    """Atomically claim ``manifest_name`` through the CAS seam
    (plans/cas.py). Default :class:`LinkCas` is the hard-link claim;
    :class:`ConditionalPutCas` commits through an object store's
    ``If-None-Match`` PUT. Either way the claim wins exactly once — a
    taken version raises :class:`ManifestConflictError`."""
    (cas or DEFAULT_CAS).claim(Path(table_dir), manifest_name, payload)


def _commit_manifest(
    table_dir: Path, version: int, dirs: list[str], occ: bool, cas: CasBackend | None
) -> str:
    """Publish ``manifest-<version>.json`` listing ``dirs``; the last
    of ``dirs`` is the directory this commit wrote. A pointer table
    writes the manifest and flips ``_CURRENT_MANIFEST``; an OCC table
    claims the version through the CAS, and on a lost race removes its
    own directory and raises :class:`ManifestConflictError`."""
    name = f"manifest-{version:06d}.json"
    payload = json.dumps({"dirs": dirs})
    if not occ:
        (table_dir / name).write_text(payload)
        _flip(_manifest_pointer(table_dir), name)
        return name
    try:
        _commit_manifest_cas(table_dir, name, payload, cas=cas)
    except ManifestConflictError:
        shutil.rmtree(table_dir / dirs[-1], ignore_errors=True)
        raise
    return name


def _merge_manifest(
    spark: SparkSession,
    table_dir: Path,
    new: DataFrame,
    occ: bool,
    attempts: int,
    cas: CasBackend | None,
) -> str:
    """The manifest merge: read the current table, write ``new ∖
    current`` as a delta directory, commit a manifest listing it after
    the live dirs. A contained batch gives an empty delta, which is
    dropped and publishes nothing (the current name is returned). A
    lost OCC race recomputes against the winner's table — the winner
    may have inserted some of this batch — up to ``attempts`` times."""
    last_err: Exception | None = None
    for _ in range(attempts):
        cur_name = current_manifest(table_dir)
        if cur_name is None:
            delta, live, version = new.distinct(), [], 1
        else:
            delta = insert_ignore_delta(read_manifest_table(spark, table_dir), new)
            live, version = _manifest_dirs(table_dir, cur_name), _version(cur_name) + 1
        delta_name = _data_dir_name("delta", version, occ)
        delta.write.mode("overwrite").parquet(str(table_dir / delta_name))
        # the emptiness probe reads the WRITTEN parquet (one footer), not
        # the plan, so nothing is recomputed
        if cur_name is not None and spark.read.parquet(
            str(table_dir / delta_name)
        ).limit(1).count() == 0:
            shutil.rmtree(table_dir / delta_name, ignore_errors=True)
            return cur_name
        try:
            return _commit_manifest(table_dir, version, [*live, delta_name], occ, cas)
        except ManifestConflictError as e:
            last_err = e
    raise ManifestConflictError(
        f"gave up after {attempts} lost commit races in {table_dir}"
    ) from last_err


def merge_insert_ignore_incremental(
    spark: SparkSession,
    table_dir: str | Path,
    new: DataFrame,
) -> str:
    """Incremental op-insert-ignore MERGE on a pointer manifest table:
    write only ``new ∖ current`` as a delta directory, publish a
    manifest referencing it plus every prior live directory. Returns
    the published manifest name. Idempotent: a contained batch writes
    no delta and no manifest, and the current name is returned, so
    retries cannot grow the table or the manifest chain.

    One keyed anti-join shuffle per merge (``insert_ignore_delta`` —
    broadcastable when the batch is small); write volume is the delta
    alone. Reads are O(live dirs) opens — bound them with
    :func:`checkpoint` every K merges."""
    table_dir = Path(table_dir)
    table_dir.mkdir(parents=True, exist_ok=True)
    if _is_occ_table(table_dir):
        raise ValueError(
            f"{table_dir} is an OCC table (_OCC marker): use "
            "merge_insert_ignore_occ — the pointer-flip commit would race "
            "CAS writers and is ignored by OCC resolution"
        )
    return _merge_manifest(spark, table_dir, new, occ=False, attempts=1, cas=None)


def merge_insert_ignore_occ(
    spark: SparkSession,
    table_dir: str | Path,
    new: DataFrame,
    *,
    max_retries: int = 3,
    cas: CasBackend | None = None,
) -> str:
    """op-insert-ignore MERGE safe under CONCURRENT writers: the
    manifest merge with a compare-and-swap commit. Each attempt reads
    the current table, writes ``new ∖ current`` under a writer-unique
    directory name and tries to claim the next manifest version; a lost
    race recomputes against the winner's table. Raises
    :class:`ManifestConflictError` after ``max_retries`` lost races.

    Idempotency and the scale contract are those of
    :func:`merge_insert_ignore_incremental`; concurrency costs only the
    recompute on actual conflicts, which is the Delta/Iceberg trade."""
    table_dir = Path(table_dir)
    table_dir.mkdir(parents=True, exist_ok=True)
    marker = table_dir / _OCC_MARKER
    if not marker.exists():
        if _manifest_pointer(table_dir).exists():
            # adopting OCC on a pointer table would switch resolution to
            # max-valid-manifest, which can resurrect a crash-orphan
            # COMPLETE manifest the pointer protocol considers garbage.
            # Migration must be explicit: checkpoint the pointer table,
            # copy the base into a fresh OCC dir, or vacuum first.
            raise ValueError(
                f"{table_dir} is a pointer table (_CURRENT_MANIFEST): "
                "migrate explicitly before using merge_insert_ignore_occ"
            )
        marker.write_text("")
    return _merge_manifest(
        spark, table_dir, new, occ=True, attempts=max_retries, cas=cas
    )


def checkpoint(
    spark: SparkSession,
    table_dir: str | Path,
    n_files: int = 1,
    zorder_by: Sequence[str] | None = None,
    cas: CasBackend | None = None,
) -> str:
    """Rewrite the live set into ONE compacted base directory and
    publish a manifest referencing only it — the Iceberg
    rewrite-data-files maintenance action. Bounds read amplification
    (per-merge deltas accumulate one directory each) and restores scan
    locality. Coalesce-based (narrow, zero shuffle) like
    compact_small_files; the old dirs become garbage for
    :func:`vacuum_manifest`.

    ``zorder_by`` lays the base out in Z-order on the given 2-3 columns
    instead — Delta's ``OPTIMIZE ... ZORDER BY`` as one maintenance
    action (operators/scale.py:write_zordered_auto, so string and date
    keys work) at the cost of one range exchange. Either way the rows
    are unchanged and the commit is the merge's. On an OCC table a
    concurrent merge claiming the same version raises
    :class:`ManifestConflictError`; re-run against the new current."""
    table_dir = Path(table_dir)
    cur_name = current_manifest(table_dir)
    if cur_name is None:
        raise ValueError(f"empty manifest table: {table_dir}")
    version, occ = _version(cur_name) + 1, _is_occ_table(table_dir)
    base_name = _data_dir_name("base", version, occ)
    _rewrite(read_manifest_table(spark, table_dir), table_dir / base_name, n_files, zorder_by)
    return _commit_manifest(table_dir, version, [base_name], occ, cas)


def vacuum_manifest(
    table_dir: str | Path, keep: int = 1, retain_seconds: float | None = None
) -> list[str]:
    """Remove data directories and manifests not reachable from the
    kept manifest set: the LIVE manifest plus its ``keep - 1``
    predecessors (the window semantics of the snapshot :func:`vacuum`).
    Crash orphans (a delta/base whose writer died before the commit, or
    a torn higher-numbered manifest) are unreachable by construction.

    ``retain_seconds``: on an OCC table an unreferenced delta dir may be
    a concurrent merge's fully written delta whose CAS has not landed
    yet, and a manifest above the live one may be a commit that won
    after this vacuum computed its keep set. Deleting either turns a
    committed transaction into an unreadable table. So OCC vacuums only
    remove candidates whose mtime is older than the retention window —
    Delta Lake's VACUUM retention — defaulting to
    :data:`OCC_VACUUM_RETAIN_SECONDS`. Pass ``retain_seconds=0.0`` only
    under exclusive access, e.g. a maintenance window. Pointer tables
    are single-writer and default to 0."""
    table_dir = Path(table_dir)
    if retain_seconds is None:
        retain_seconds = OCC_VACUUM_RETAIN_SECONDS if _is_occ_table(table_dir) else 0.0
    cutoff = time.time() - retain_seconds
    manifests = [p.name for p in _manifest_files(table_dir)]
    keep_manifests = _keep_window(manifests, current_manifest(table_dir), keep)
    keep_dirs: set[str] = set()
    for m in keep_manifests:
        keep_dirs.update(_manifest_dirs(table_dir, m))

    def _retained(p: Path) -> bool:
        # fresh candidates stay inside the retention window (in-flight
        # concurrent deltas / just-won commits); stat races with a
        # concurrent rmtree resolve to "retained" — never delete on doubt
        if retain_seconds <= 0:
            return False
        try:
            return p.stat().st_mtime >= cutoff
        except OSError:
            return True

    removed = []
    for p in sorted(table_dir.iterdir()):
        if p.is_dir() and p.name.startswith(("delta-", "base-")):
            if p.name not in keep_dirs and not _retained(p):
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p.name)
        elif (
            p.name in manifests
            and p.name not in keep_manifests
            and not _retained(p)
        ):
            p.unlink()
            removed.append(p.name)
    return removed


# ---------------------------------------------------------------------------
# Format-level entry points (what the pipeline calls)
# ---------------------------------------------------------------------------


def merge_table(
    spark: SparkSession,
    table_dir: str | Path,
    new: DataFrame,
    table_format: str,
    cas: CasBackend | None = None,
) -> DataFrame:
    """INSERT OR IGNORE ``new`` into a snapshot, manifest or OCC table
    and return the published table. Flat parquet tables merge in
    plans/pipeline.py:merge_parquet."""
    if table_format == "snapshot":
        merge_insert_ignore(spark, table_dir, new)
        return read_table(spark, table_dir)
    if table_format == "occ":
        merge_insert_ignore_occ(spark, table_dir, new, cas=cas)
    elif table_format == "manifest":
        merge_insert_ignore_incremental(spark, table_dir, new)
    else:
        raise ValueError(f"merge_table takes snapshot|manifest|occ, got {table_format!r}")
    return read_manifest_table(spark, table_dir)


def relayout(
    spark: SparkSession,
    table_dir: str | Path,
    table_format: str,
    target_bytes: int | None = None,
    zorder_by: Sequence[str] | None = None,
    cas: CasBackend | None = None,
) -> DataFrame | None:
    """Rewrite a table into files of about ``target_bytes`` (compaction)
    and/or in Z-order on ``zorder_by``, publish it the format's way and
    return it; None when there is nothing to do. Without ``target_bytes``
    the Z-order files are sized by a 128 MB target.

    - parquet: rewrite into the temp sibling and swap;
    - snapshot: a Z-ordered new snapshot and a pointer flip. Compaction
      alone is a no-op, because every merge already rewrites the table;
    - manifest / occ: :func:`checkpoint` into one base, then
      :func:`vacuum_manifest` under the format's default retention.
    """
    if not zorder_by and (target_bytes is None or table_format == "snapshot"):
        return None
    table_dir = Path(table_dir)
    if table_format == "parquet":
        live = [table_dir]
    elif table_format == "snapshot":
        live = [table_dir / current_snapshot(table_dir)]
    else:
        live = [table_dir / d for d in _manifest_dirs(table_dir, current_manifest(table_dir))]
    live_bytes = sum(f.stat().st_size for d in live for f in d.rglob("*.parquet"))
    n_files = max(1, math.ceil(live_bytes / (target_bytes or 128 << 20)))
    if table_format == "parquet":
        df = spark.read.parquet(str(table_dir))
        _swap(table_dir, lambda tmp: _rewrite(df, tmp, n_files, zorder_by))
        return spark.read.parquet(str(table_dir))
    if table_format == "snapshot":
        rewrite_snapshot_zordered(spark, table_dir, zorder_by, n_files=n_files)
        return read_table(spark, table_dir)
    checkpoint(spark, table_dir, n_files=n_files, zorder_by=zorder_by, cas=cas)
    vacuum_manifest(table_dir)
    return read_manifest_table(spark, table_dir)
