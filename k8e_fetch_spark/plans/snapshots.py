"""Transactional snapshot-pointer table: atomic MERGE semantics on
plain parquet, no table-format library required.

The reference's Compress stage merges with ``INSERT OR IGNORE`` into a
SQLite table (/root/reference/bin/fetcher.bash:157-159) — SQLite gives
it transactionality for free. The Spark-side ``insert_ignore``
(operators/dedup.py) reproduces the merge SEMANTICS (null-safe
left-anti + union, idempotency-tested), but appending parquet files in
place is not atomic: a failed job leaves partial files that a
concurrent reader sees as data. Production closes this with a
transactional table format (Delta/Iceberg MERGE — the documented
upgrade path, and those libraries are drop-in replacements for this
module); this module closes it PORTABLY with the classic
snapshot-pointer pattern those formats generalize:

- every merge writes a COMPLETE new snapshot directory
  ``snap-<n+1>/`` next to the current one (never touching it);
- the table's state is a tiny ``_CURRENT`` pointer file naming the
  live snapshot, published with write-temp-then-``os.replace`` — the
  same atomic-rename primitive the marker files elsewhere in this repo
  use (POSIX rename atomicity);
- readers resolve the pointer, then read only that directory. A crash
  mid-write leaves an orphaned half-written ``snap-*`` directory and
  the pointer still naming the previous snapshot — the table is never
  observed in a partial state. Orphans are garbage, not corruption,
  and ``vacuum`` removes them.

Scale notes: rewriting the full table per merge is the snapshot
pattern's honest cost (Delta/Iceberg avoid it with file-level
manifests); it is the right trade for dimension/component tables —
the reference's merge targets — which are orders of magnitude smaller
than facts. The merge itself is the same left-anti + union plan as
``insert_ignore`` (one keyed shuffle, broadcastable when the new
batch is small). Concurrent WRITERS are out of scope (single-writer,
like the bash pipeline's serialized runs); last-pointer-wins if two
race, never a torn table.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
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

_POINTER = "_CURRENT"


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


def _publish(table_dir: Path, snap_name: str) -> None:
    ptr = _pointer_path(table_dir)
    tmp = ptr.with_name(f".{_POINTER}.{os.getpid()}.tmp")
    tmp.write_text(snap_name)
    tmp.replace(ptr)  # os.replace: atomic on POSIX


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
    if cur_name is None:
        merged = new.distinct()
        next_id = 1
    else:
        cur_df = spark.read.parquet(str(table_dir / cur_name))
        merged = insert_ignore(cur_df, new)
        next_id = int(cur_name.split("-")[1]) + 1
    snap_name = f"snap-{next_id:06d}"
    merged.write.mode("overwrite").parquet(str(table_dir / snap_name))
    _publish(table_dir, snap_name)
    return snap_name


def rewrite_snapshot_zordered(
    spark: SparkSession,
    table_dir: str | Path,
    zorder_by: Sequence[str],
    n_files: int = 1,
) -> str:
    """Maintenance action for snapshot-pointer tables (VERDICT r13 #7):
    rewrite the live snapshot in Z-order on the given columns and flip
    the pointer — content identity, layout change only (the snapshot
    analog of :func:`checkpoint`'s ``zorder_by``). The superseded
    snapshot becomes ordinary :func:`vacuum` garbage."""
    from k8e_fetch_spark.operators.scale import write_zordered_auto

    table_dir = Path(table_dir)
    cur = current_snapshot(table_dir)
    if cur is None:
        raise ValueError(f"empty snapshot table: {table_dir}")
    next_id = int(cur.split("-")[1]) + 1
    snap_name = f"snap-{next_id:06d}"
    df = spark.read.parquet(str(table_dir / cur))
    write_zordered_auto(df, str(table_dir / snap_name), zorder_by, n_files=n_files)
    _publish(table_dir, snap_name)
    return snap_name


def vacuum(table_dir: str | Path, keep: int = 1) -> list[str]:
    """Remove orphaned / superseded snapshot directories, keeping the
    live snapshot plus ``keep - 1`` predecessors (time travel on the
    cheap). Never touches the pointer. Returns removed names."""
    import shutil

    table_dir = Path(table_dir)
    live = current_snapshot(table_dir)
    snaps = sorted(
        p.name for p in table_dir.iterdir() if p.is_dir() and p.name.startswith("snap-")
    )
    # the keep window is the LIVE snapshot plus its predecessors — a
    # crash orphan can carry a HIGHER number than live (its writer died
    # before the flip), and lexically-latest would wrongly protect it
    if live is not None and live in snaps:
        upto = snaps.index(live)
        keep_set = set(snaps[max(0, upto - keep + 1) : upto + 1])
        keep_set.add(live)
    else:
        keep_set = set(snaps[-keep:])
    removed = []
    for name in snaps:
        if name not in keep_set:
            shutil.rmtree(table_dir / name, ignore_errors=True)
            removed.append(name)
    return removed


# ---------------------------------------------------------------------------
# Manifest tables (r12): incremental merges, the Iceberg/Delta mechanism
# portably. The snapshot-pointer table above rewrites the FULL table per
# merge — its documented honest cost, fine for dimension tables. A
# manifest table removes it: the table's state is a _CURRENT pointer to
# a small JSON MANIFEST listing live data directories; a merge computes
# `new ∖ current` (the same null-safe anti-join) and writes ONLY that
# delta as a new directory plus a new manifest — write volume drops
# from O(table) to O(delta). Atomicity is unchanged (complete
# delta + complete manifest, then one atomic pointer rename); a crash
# leaves an unreferenced directory/manifest, garbage never corruption.
# Read amplification grows with the delta count, so `checkpoint`
# periodically rewrites the live set into one compacted base (the
# Iceberg "rewrite data files" maintenance action) — compose with
# compact_small_files-style width sizing upstream if needed.
# ---------------------------------------------------------------------------

_MANIFEST_POINTER = "_CURRENT_MANIFEST"


def _manifest_pointer(table_dir: str | Path) -> Path:
    return Path(table_dir) / _MANIFEST_POINTER


def current_manifest(table_dir: str | Path) -> str | None:
    """Name of the live manifest file, or None for an empty table.

    Pointer tables (single-writer) resolve the ``_CURRENT_MANIFEST``
    pointer; OCC tables (``_OCC`` marker — see the r13 section below)
    resolve the highest committed manifest, because under link-CAS the
    version chain itself is the commit log and a pointer would be a
    second, raceable source of truth."""
    if _is_occ_table(Path(table_dir)):
        return _max_valid_manifest(Path(table_dir))
    try:
        name = _manifest_pointer(table_dir).read_text().strip()
    except FileNotFoundError:
        return None
    return name or None


def _manifest_dirs(table_dir: Path, manifest_name: str) -> list[str]:
    import json

    return json.loads((table_dir / manifest_name).read_text())["dirs"]


def manifest_versions(table_dir: str | Path) -> list[int]:
    """Version numbers of every manifest still on disk, ascending —
    the time-travel window (``vacuum_manifest``'s ``keep`` bounds it).
    Torn manifests (pointer tables only — impossible under OCC's
    link-CAS) are excluded: a version is listed only if it parses."""
    import json

    out = []
    for p in sorted(Path(table_dir).iterdir()):
        if p.is_file() and p.name.startswith("manifest-"):
            try:
                json.loads(p.read_text())["dirs"]
            except Exception:
                continue
            out.append(int(p.name.split("-")[1].split(".")[0]))
    return out


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


def merge_insert_ignore_incremental(
    spark: SparkSession,
    table_dir: str | Path,
    new: DataFrame,
) -> str:
    """Incremental op-insert-ignore MERGE: write only ``new ∖ current``
    as a delta directory, publish a manifest referencing it plus every
    prior live directory. Returns the published manifest name.
    Idempotent: re-merging a contained batch publishes a manifest with
    the SAME directory list (an empty delta writes nothing — no delta
    dir, no new manifest; the current name is returned unchanged, so
    retries cannot grow the table or the manifest chain).

    One keyed anti-join shuffle per merge (``insert_ignore_delta`` —
    broadcastable when the batch is small); write volume is the delta
    alone. Scale contract: merges are O(delta) writes, reads are
    O(live dirs) opens — bound the latter with :func:`checkpoint`
    every K merges."""
    import json

    table_dir = Path(table_dir)
    table_dir.mkdir(parents=True, exist_ok=True)
    if _is_occ_table(table_dir):
        raise ValueError(
            f"{table_dir} is an OCC table (_OCC marker): use "
            "merge_insert_ignore_occ — the pointer-flip commit would race "
            "CAS writers and is ignored by OCC resolution"
        )
    cur_name = current_manifest(table_dir)
    if cur_name is None:
        delta = new.distinct()
        live: list[str] = []
        next_id = 1
    else:
        delta = insert_ignore_delta(read_manifest_table(spark, table_dir), new)
        live = _manifest_dirs(table_dir, cur_name)
        next_id = int(cur_name.split("-")[1].split(".")[0]) + 1
    delta_name = f"delta-{next_id:06d}"
    delta.write.mode("overwrite").parquet(str(table_dir / delta_name))
    # an empty delta (fully-contained batch) publishes nothing: drop the
    # empty dir and keep the current manifest — idempotency without a
    # manifest chain that grows on retries. The emptiness probe reads
    # the WRITTEN parquet (one footer), not the plan (no recompute).
    if cur_name is not None and spark.read.parquet(
        str(table_dir / delta_name)
    ).limit(1).count() == 0:
        import shutil

        shutil.rmtree(table_dir / delta_name, ignore_errors=True)
        return cur_name
    manifest_name = f"manifest-{next_id:06d}.json"
    (table_dir / manifest_name).write_text(json.dumps({"dirs": [*live, delta_name]}))
    ptr = _manifest_pointer(table_dir)
    tmp = ptr.with_name(f".{_MANIFEST_POINTER}.{os.getpid()}.tmp")
    tmp.write_text(manifest_name)
    tmp.replace(ptr)
    return manifest_name


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

    ``zorder_by`` (VERDICT r13 #7): lay the compacted base out in
    Z-order on the given 2-3 columns instead of plain coalesce —
    Delta's ``OPTIMIZE ... ZORDER BY`` as one maintenance action
    (operators/scale.py:write_zordered_auto — sampled range-id
    bucketing, so string/date keys work). Costs one range exchange
    where plain compaction is shuffle-free; content identity is
    unchanged (the manifest/CAS publish protocol is identical)."""
    table_dir = Path(table_dir)
    cur_name = current_manifest(table_dir)
    if cur_name is None:
        raise ValueError(f"empty manifest table: {table_dir}")
    next_id = int(cur_name.split("-")[1].split(".")[0]) + 1
    occ = _is_occ_table(table_dir)
    # OCC tables: writer-unique base name + CAS commit (a concurrent
    # merge claiming the same version surfaces as ManifestConflictError
    # — re-run the maintenance action against the new current)
    base_name = (
        f"base-{next_id:06d}-{os.getpid()}{os.urandom(3).hex()}"
        if occ
        else f"base-{next_id:06d}"
    )
    df = read_manifest_table(spark, table_dir)
    if zorder_by:
        from k8e_fetch_spark.operators.scale import write_zordered_auto

        write_zordered_auto(df, str(table_dir / base_name), zorder_by, n_files=n_files)
    else:
        df.coalesce(n_files).write.mode("overwrite").parquet(str(table_dir / base_name))
    import json

    manifest_name = f"manifest-{next_id:06d}.json"
    if occ:
        try:
            _commit_manifest_cas(
                table_dir, manifest_name, json.dumps({"dirs": [base_name]}), cas=cas
            )
        except ManifestConflictError:
            import shutil

            shutil.rmtree(table_dir / base_name, ignore_errors=True)
            raise
        return manifest_name
    (table_dir / manifest_name).write_text(json.dumps({"dirs": [base_name]}))
    ptr = _manifest_pointer(table_dir)
    tmp = ptr.with_name(f".{_MANIFEST_POINTER}.{os.getpid()}.tmp")
    tmp.write_text(manifest_name)
    tmp.replace(ptr)
    return manifest_name


def vacuum_manifest(
    table_dir: str | Path, keep: int = 1, retain_seconds: float | None = None
) -> list[str]:
    """Remove data directories and manifests not reachable from the
    kept manifest set: the LIVE manifest plus its ``keep - 1``
    predecessors (time travel on the cheap — the same window semantics
    as the snapshot :func:`vacuum`). Crash orphans (a delta/base whose
    writer died before the pointer flip, or a torn HIGHER-numbered
    manifest) are unreachable garbage by construction — protection
    flows from the pointer, never from lexical order, so an orphan
    numbered above live is never protected.

    ``retain_seconds`` (ADVICE r13): on an OCC table — advertised for
    CONCURRENT writers — an unreferenced delta dir is not necessarily
    garbage: it may be a concurrent merge's fully-written delta whose
    CAS commit has not landed yet, and a manifest above the live one
    may be a commit that won the race after this vacuum computed its
    keep set. Deleting either turns a committed transaction into an
    unreadable table (corruption, not garbage collection). So OCC
    vacuums only remove candidates whose mtime is older than the
    retention window — Delta Lake's VACUUM retention, same reasoning —
    defaulting to :data:`OCC_VACUUM_RETAIN_SECONDS`. Pass
    ``retain_seconds=0.0`` only under exclusive access (no concurrent
    writers), e.g. a maintenance window. Pointer tables are
    single-writer by protocol and default to 0 (unchanged behavior)."""
    import shutil
    import time

    table_dir = Path(table_dir)
    if retain_seconds is None:
        retain_seconds = OCC_VACUUM_RETAIN_SECONDS if _is_occ_table(table_dir) else 0.0
    cutoff = time.time() - retain_seconds
    live_manifest = current_manifest(table_dir)
    manifests = sorted(
        p.name
        for p in table_dir.iterdir()
        if p.is_file() and p.name.startswith("manifest-")
    )
    if live_manifest is not None and live_manifest in manifests:
        upto = manifests.index(live_manifest)
        keep_manifests = set(manifests[max(0, upto - keep + 1) : upto + 1])
        keep_manifests.add(live_manifest)
    else:
        # No pointer, OR a pointer naming a manifest that is missing on
        # disk: conservatively keep the lexically latest ``keep``
        # manifests and their dirs — the same fallback the snapshot
        # vacuum uses. A stale/corrupt pointer must degrade to
        # readable garbage, never to deleting every delta/base dir
        # (ADVICE r12: the old dangling-pointer branch kept NOTHING).
        keep_manifests = set(manifests[-keep:])
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
            p.is_file()
            and p.name.startswith("manifest-")
            and p.name not in keep_manifests
            and not _retained(p)
        ):
            p.unlink()
            removed.append(p.name)
    return removed


# ---------------------------------------------------------------------------
# OCC manifest tables (r13): optimistic concurrency for MULTIPLE writers.
# The pointer protocol above is single-writer by design (the reference's
# serialized runs). Under concurrent writers it has two failure modes:
# two merges that read the same base compute the same next_id, so (a)
# the second delta write CLOBBERS the first's data directory, and (b)
# last-pointer-wins silently drops a committed merge. The fix is the
# protocol Delta Lake uses on S3 and Iceberg uses against its catalog:
# the VERSION NUMBER is the compare-and-swap token. A commit claims
# `manifest-{N+1}` atomically through the CAS seam (plans/cas.py):
# LinkCas (default) hard-links a fully-written temp file — link fails
# with FileExistsError if the version is taken; ConditionalPutCas is
# the object-store form of the same claim (If-None-Match PUT, lost
# race -> 409/412); a catalog row CAS slots in as another backend.
# The loser recomputes its delta
# against the NEW current table and retries — its abandoned delta dir
# is unreachable garbage for vacuum_manifest, never corruption. Delta
# dirs carry a per-writer suffix so concurrent writers can never write
# the same data path. OCC tables are marked with an `_OCC` file; their
# current state is the HIGHEST parseable manifest (manifests are
# complete-by-construction under link-CAS), so no pointer file exists
# to race or regress.
# ---------------------------------------------------------------------------

_OCC_MARKER = "_OCC"

# Default vacuum retention for OCC tables (see vacuum_manifest): an
# unreferenced dir younger than this is presumed to be a concurrent
# writer's in-flight delta, not garbage. Delta Lake defaults to 7 days;
# one day is generous for a merge attempt's write-to-CAS gap while
# keeping local test garbage collectable by backdating mtimes.
OCC_VACUUM_RETAIN_SECONDS = 24 * 3600.0



def _is_occ_table(table_dir: Path) -> bool:
    return (Path(table_dir) / _OCC_MARKER).exists()


def _max_valid_manifest(table_dir: Path) -> str | None:
    """Highest-numbered manifest that parses (the OCC notion of
    'current'). Under link-CAS every manifest is complete, so the
    parse guard only matters for hand-damaged tables."""
    import json

    for p in sorted(
        (
            q
            for q in Path(table_dir).iterdir()
            if q.is_file() and q.name.startswith("manifest-")
        ),
        key=lambda q: q.name,
        reverse=True,
    ):
        try:
            json.loads(p.read_text())["dirs"]
            return p.name
        except Exception:
            continue
    return None


def _commit_manifest_cas(
    table_dir: Path,
    manifest_name: str,
    payload: str,
    cas: CasBackend | None = None,
) -> None:
    """Atomically claim ``manifest_name`` through the CAS seam
    (plans/cas.py). Default :class:`LinkCas` is the hard-link claim
    the OCC tables shipped with; :class:`ConditionalPutCas` commits
    through an object store's ``If-None-Match`` PUT. Either way the
    claim wins exactly once — a taken version raises
    :class:`ManifestConflictError` and the merge recomputes."""
    (cas or DEFAULT_CAS).claim(Path(table_dir), manifest_name, payload)


def merge_insert_ignore_occ(
    spark: SparkSession,
    table_dir: str | Path,
    new: DataFrame,
    *,
    max_retries: int = 3,
    cas: CasBackend | None = None,
) -> str:
    """op-insert-ignore MERGE safe under CONCURRENT writers: the
    incremental manifest merge with a compare-and-swap commit. Each
    attempt reads the current table, computes ``new ∖ current`` (the
    null-safe ``insert_ignore_delta``), writes the delta under a
    writer-unique directory name, and tries to claim the next manifest
    version; a lost race recomputes against the winner's table and
    retries (the recompute is required for correctness — the winner may
    have inserted some of this batch's rows). Raises
    :class:`ManifestConflictError` after ``max_retries`` lost races.

    Idempotency is unchanged from the single-writer form: a contained
    batch produces an empty delta, publishes nothing and returns the
    current name. Scale contract is unchanged too — O(delta) writes,
    one keyed shuffle per attempt; the concurrency cost is only the
    recompute on actual conflicts, which is exactly the Delta/Iceberg
    trade."""
    import json
    import shutil

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
    last_err: Exception | None = None
    for _ in range(max_retries):
        cur_name = current_manifest(table_dir)
        if cur_name is None:
            delta = new.distinct()
            live: list[str] = []
            next_id = 1
        else:
            delta = insert_ignore_delta(read_manifest_table(spark, table_dir), new)
            live = _manifest_dirs(table_dir, cur_name)
            next_id = int(cur_name.split("-")[1].split(".")[0]) + 1
        delta_name = f"delta-{next_id:06d}-{os.getpid()}{os.urandom(3).hex()}"
        delta.write.mode("overwrite").parquet(str(table_dir / delta_name))
        if cur_name is not None and spark.read.parquet(
            str(table_dir / delta_name)
        ).limit(1).count() == 0:
            shutil.rmtree(table_dir / delta_name, ignore_errors=True)
            return cur_name
        manifest_name = f"manifest-{next_id:06d}.json"
        try:
            _commit_manifest_cas(
                table_dir,
                manifest_name,
                json.dumps({"dirs": [*live, delta_name]}),
                cas=cas,
            )
            return manifest_name
        except ManifestConflictError as e:
            # lost the race: our delta may be stale against the winner's
            # table — drop it (unreachable garbage anyway) and recompute
            shutil.rmtree(table_dir / delta_name, ignore_errors=True)
            last_err = e
    raise ManifestConflictError(
        f"gave up after {max_retries} lost commit races in {table_dir}"
    ) from last_err
