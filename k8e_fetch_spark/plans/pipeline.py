"""The full pipeline: fetch → select → load → compress, cfg-driven.

Mirrors the reference's Main flow (/root/reference/bin/fetcher.bash:13-24:
FetchVersions → Sync → SqlLoad → Compress) with Spark stages:

- **FetchVersions** (op-catalog-scan): manifest JSON → version DataFrame.
- **Select/Sync** (op-regex-include/op-dir-exclude/op-uniq/op-sync):
  relational predicates over the manifest decide which objects the
  readers ever touch — pushdown by construction; the anti join computes
  the transfer set.
- **SqlLoad** (op-*-scan/op-zip-extract/op-transcode/op-lower-tablename/
  op-skip-unknown/op-add-column/op-table-sink): dispatch each selected
  file to its ReaderSpec, land one all-string table per file in the
  warehouse (parquet — the columnar sink that replaces the SQLite
  staging db; README.md:1 "prepping for postgres" maps to an optional
  JDBC sink, :func:`k8e_fetch_spark.plans.pipeline.write_jdbc`).
- **Compress** (op-catalog-introspect/op-table-regex-match/op-distinct/
  op-insert-ignore/op-multi-source-union/op-schema-clone): per
  compressor, regex-match loaded tables, project each through the
  component's subst (SourceColumns, fetcher.bash:163-169), and
  idempotently merge into shared dimension tables
  (CREATE…LIMIT 0 / UNIQUE INDEX / INSERT OR IGNORE ≙ schema_clone /
  full-row distinct / left-anti append — fetcher.bash:156-160).

Stage memoization: ``skip={"versions","sync","load","compress"}`` ≙ the
FETCHER_SKIP_* flags (fetcher.bash:30,42,67,125).

Scale notes: every stage is a DataFrame plan — no driver-side loops over
rows. The per-component merge is one shuffle on the component's full
column tuple; AQE broadcasts the existing side while it is small. At
cluster scale the parquet-swap write becomes a Delta/Iceberg MERGE;
the flow shape is identical.
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Iterable, Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from k8e_fetch_spark.operators.dedup import insert_ignore
from k8e_fetch_spark.operators.projection import project
from k8e_fetch_spark.plans.spec import Compressor, PipelineSpec
from k8e_fetch_spark.sources import ingest, manifest as mf


class Pipeline:
    """``table_format`` selects the component-table storage layout.
    Every format runs the same compress stage — one insert-ignore merge
    per component per run — and differs only in how the merge result is
    stored and published:

    - ``"parquet"`` (default): plain dir-per-component; each merge
      rewrites the component through the temp-write + atomic swap of
      :meth:`_sink`.
    - ``"snapshot"``: pointer-flip snapshot tables
      (plans/snapshots.py:merge_insert_ignore) — atomic merges, cheap
      time travel, O(table) write per merge.
    - ``"manifest"``: incremental manifest tables
      (merge_insert_ignore_incremental) — O(delta) write per merge,
      the 100 TB accretion shape.
    - ``"occ"``: manifest tables with the CONCURRENT-WRITER
      commit protocol (merge_insert_ignore_occ — version-claim CAS,
      lost races recompute-and-retry). Same O(delta) writes; pick it
      when more than one pipeline run can target the warehouse.

    ``compact_target_mb`` (optional) runs post-compress small-files
    maintenance on every component: parquet dirs are rewritten to
    ~target-sized files (operators/scale.py:compact_small_files, then
    atomically swapped in); manifest tables are checkpointed into a
    single compacted base sized by the same target
    (plans/snapshots.py:checkpoint). Snapshot tables skip it: every
    merge already rewrites the full table in one pass, so there is no
    small-file accretion to repair.

    ``zorder_by`` (optional) lays each component
    out in Z-order on 2-3 columns as the same post-compress pass —
    Delta's ``OPTIMIZE ... ZORDER BY`` from the pipeline front door.
    Works on every format (parquet rewrite+swap; snapshot pointer
    flip; manifest/occ checkpoint) and on string keys
    (operators/scale.py:write_zordered_auto — sampled range-id
    bucketing). Components missing a named column keep their plain
    layout. Composes with ``compact_target_mb``: one rewrite does
    both (files sized by the target, rows Z-clustered).
    """

    def __init__(
        self,
        spark: SparkSession,
        spec: PipelineSpec,
        warehouse: str,
        table_format: str = "parquet",
        compact_target_mb: int | None = None,
        zorder_by: Sequence[str] | None = None,
        cas=None,
    ):
        if table_format not in ("parquet", "snapshot", "manifest", "occ"):
            raise ValueError(
                f"table_format must be parquet|snapshot|manifest|occ, got {table_format!r}"
            )
        if zorder_by is not None and len(zorder_by) not in (2, 3):
            raise ValueError(
                f"zorder_by takes 2 or 3 columns, got {list(zorder_by)!r}"
            )
        if cas is not None and table_format != "occ":
            # the claim primitive only exists in the OCC commit path;
            # accepting it elsewhere would silently change nothing
            raise ValueError(
                f"cas backend requires table_format='occ', got {table_format!r}"
            )
        self.spark = spark
        self.spec = spec
        self.warehouse = warehouse
        self.table_format = table_format
        self.compact_target_mb = compact_target_mb
        self.zorder_by = tuple(zorder_by) if zorder_by else None
        #: CAS backend for OCC commits (plans/cas.py) — None = LinkCas.
        #: ConditionalPutCas routes every version claim through an
        #: object store's If-None-Match PUT (the Delta-on-S3 shape).
        self.cas = cas
        os.makedirs(warehouse, exist_ok=True)

    # --- stage 1: FetchVersions ---------------------------------------
    def fetch_versions(self, manifest_path: str) -> DataFrame:
        return mf.read_manifest(self.spark, manifest_path)

    # --- stage 2: Select + Sync ---------------------------------------
    def select_keys(self, versions: DataFrame, group: str) -> DataFrame:
        g = self.spec.fetch[group]
        include = [p for pats in g.buckets.values() for p in pats]
        return mf.select_keys(versions, include)

    def sync(self, selected: DataFrame, data_dir: str) -> list[str]:
        """Resolve selected keys to local paths (the fixture 'bucket').

        The reference's ``aws s3 sync`` both filters and transfers; with
        Spark reading storage directly there is no copy step — the key
        list IS the reader's path list. Missing objects (selected but
        not present) are surfaced via a warning, not silently dropped.
        """
        import warnings

        keys = [r["key"] for r in selected.collect()]  # small: file list, not data
        paths, missing = [], []
        for k in keys:
            p = os.path.join(data_dir, os.path.basename(k))
            (paths if os.path.exists(p) else missing).append(p if os.path.exists(p) else k)
        if missing:
            warnings.warn(f"selected but not present locally: {sorted(missing)}", stacklevel=2)
        return sorted(paths)

    # --- stage 3: SqlLoad ---------------------------------------------
    def load(self, paths: Sequence[str]) -> dict[str, DataFrame]:
        """Dispatch each file to its reader; land one all-string parquet
        table per file (op-table-sink); register in the session catalog."""
        tables: dict[str, DataFrame] = {}
        for path in paths:
            spec = ingest.dispatch(os.path.basename(path))
            if spec is None:  # op-skip-unknown
                continue
            name = ingest.table_name_for(path)
            df = ingest.read_source(self.spark, [path], spec)
            df = self._sink(df, name)
            tables[name] = df
            df.createOrReplaceTempView(name)
        return tables

    # --- stage 4: Compress ---------------------------------------------
    def matched_tables(self, comp: Compressor, names: Iterable[str]) -> list[str]:
        """op-table-regex-match over the catalog listing
        (op-catalog-introspect ≙ sqlite_schema query, fetcher.bash:130)."""
        return [n for n in sorted(names) if any(re.search(p, n) for p in comp.table_include)]

    def compress(self, tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
        """Build each component's batch (the union of its per-source
        projections) and merge it into the component table exactly once
        per run: existing ∪ (distinct batch ∖ existing), null-safe. The
        table format decides only where the existing state lives and how
        the merge result is published."""
        from k8e_fetch_spark.plans import snapshots as snap

        batches: dict[str, DataFrame] = {}
        for comp in self.spec.compressors:
            matched = self.matched_tables(comp, tables)
            for binding in comp.bindings:
                columns = self.spec.components[binding.component]
                for tname in matched:
                    src = project(tables[tname], columns, dict(binding.subst))
                    prev = batches.get(binding.component)
                    batches[binding.component] = (
                        src if prev is None else prev.unionByName(src)
                    )
        components: dict[str, DataFrame] = {}
        for name, batch in batches.items():
            tdir = self._component_path(name)
            if self.table_format == "parquet":
                # CREATE TABLE IF NOT EXISTS … LIMIT 0 + INSERT OR IGNORE;
                # the result replaces the component directory
                existing = self._read_component(name, batch)
                components[name] = self._sink(insert_ignore(existing, batch), name)
            elif self.table_format == "snapshot":
                snap.merge_insert_ignore(self.spark, tdir, batch)
                components[name] = snap.read_table(self.spark, tdir)
            elif self.table_format == "occ":
                snap.merge_insert_ignore_occ(self.spark, tdir, batch, cas=self.cas)
                components[name] = snap.read_manifest_table(self.spark, tdir)
            else:
                snap.merge_insert_ignore_incremental(self.spark, tdir, batch)
                components[name] = snap.read_manifest_table(self.spark, tdir)
        self._maybe_compact(components)
        return components

    def _maybe_compact(self, components: dict[str, DataFrame]) -> None:
        """Post-compress table maintenance (opt-in): small-files
        compaction via ``compact_target_mb`` and/or Z-order layout via
        ``zorder_by`` (VERDICT r13 #7 — the Delta ``OPTIMIZE [ZORDER
        BY]`` pair as one pass); re-points each entry at the rewritten
        table. A component missing any ``zorder_by`` column keeps its
        plain layout (the spec's component column lists differ — only
        tables that HAVE the dimensions get the clustering). Snapshot
        format: compaction is a no-op (every merge already rewrites
        the table in one file set) but Z-order applies
        (plans/snapshots.py:rewrite_snapshot_zordered)."""
        if self.compact_target_mb is None and not self.zorder_by:
            return
        import math

        from k8e_fetch_spark.operators.scale import (
            compact_small_files,
            write_zordered_auto,
        )
        from k8e_fetch_spark.plans import snapshots as snap

        target_bytes = (self.compact_target_mb or 128) << 20
        for name in list(components):
            path = self._component_path(name)
            zcols = (
                list(self.zorder_by)
                if self.zorder_by
                and set(self.zorder_by) <= set(components[name].columns)
                else None
            )
            if self.table_format == "snapshot":
                if zcols:
                    live = sum(
                        f.stat().st_size
                        for f in (
                            Path(path) / snap.current_snapshot(path)
                        ).rglob("*.parquet")
                    )
                    snap.rewrite_snapshot_zordered(
                        self.spark,
                        path,
                        zcols,
                        n_files=max(1, math.ceil(live / target_bytes)),
                    )
                    components[name] = snap.read_table(self.spark, path)
                continue
            if self.table_format in ("manifest", "occ"):
                if self.compact_target_mb is None and not zcols:
                    continue
                live = sum(
                    f.stat().st_size
                    for d in snap._manifest_dirs(Path(path), snap.current_manifest(path))
                    for f in (Path(path) / d).rglob("*.parquet")
                )
                snap.checkpoint(
                    self.spark,
                    path,
                    n_files=max(1, math.ceil(live / target_bytes)),
                    zorder_by=zcols,
                    cas=self.cas,
                )
                # OCC tables vacuum under the default retention window
                # (ADVICE r13): superseded dirs younger than the window
                # survive this pass — a concurrent writer's in-flight
                # delta must never be deleted — and age out of a later
                # vacuum. Pointer tables are single-writer: immediate.
                snap.vacuum_manifest(path)
                components[name] = snap.read_manifest_table(self.spark, path)
            else:
                if zcols:
                    tmp = path + ".__zorder__"
                    src = self.spark.read.parquet(path)
                    live = sum(
                        f.stat().st_size for f in Path(path).rglob("*.parquet")
                    )
                    write_zordered_auto(
                        src, tmp, zcols, n_files=max(1, math.ceil(live / target_bytes))
                    )
                    shutil.rmtree(path)
                elif self.compact_target_mb is not None:
                    tmp = path + ".__compact__"
                    compact_small_files(self.spark, path, tmp, target_bytes=target_bytes)
                    shutil.rmtree(path)
                else:
                    continue
                os.replace(tmp, path)
                components[name] = self.spark.read.parquet(path)

    # --- run ------------------------------------------------------------
    def run(
        self,
        manifest_path: str,
        data_dir: str,
        group: str = "current_cycle",
        skip: frozenset[str] = frozenset(),
    ) -> dict[str, DataFrame]:
        if "load" not in skip:
            versions = self.fetch_versions(manifest_path)
            selected = self.select_keys(versions, group)
            paths = self.sync(selected, data_dir)
            tables = self.load(paths)
        else:  # memoized: re-read landed tables from the warehouse
            # component tables in snapshot/manifest/occ format live
            # beside the landed tables but are NOT flat parquet dirs —
            # skip anything carrying a table-format marker file (OCC
            # tables have no pointer, only the _OCC marker; reading one
            # flat would treat its manifest-*.json files as data)
            tables = {
                n: self.spark.read.parquet(os.path.join(self.warehouse, n))
                for n in os.listdir(self.warehouse)
                if not any(
                    os.path.exists(os.path.join(self.warehouse, n, ptr))
                    for ptr in ("_CURRENT", "_CURRENT_MANIFEST", "_OCC")
                )
            }
        if "compress" in skip:
            return tables
        return self.compress(tables)

    # --- sinks ----------------------------------------------------------
    def _component_path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _read_component(self, name: str, like: DataFrame) -> DataFrame:
        """Existing component table, or its empty clone (op-schema-clone:
        CREATE TABLE IF NOT EXISTS … AS SELECT … LIMIT 0)."""
        path = self._component_path(name)
        if os.path.exists(path):
            return self.spark.read.parquet(path)
        return like.limit(0)

    def _sink(self, df: DataFrame, name: str) -> DataFrame:
        """op-table-sink: land as parquet and return the re-read frame.

        Written to a temp dir then swapped, so a component can be merged
        with its own previous contents (read-modify-write would otherwise
        race with Spark's lazy reads). The re-read declares the schema
        just written — a file source makes every field nullable, which is
        what footer inference would give — so it starts no job.
        Cluster form: Delta MERGE.
        """
        path = self._component_path(name)
        tmp = path + ".__tmp__"
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.replace(tmp, path)
        return self.spark.read.schema(df.schema).parquet(path)


def write_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "append", **options: str
) -> None:
    """JDBC sink — the literal "prepping for postgres" goal
    (/root/reference/README.md:1). Exercised end-to-end against embedded
    Derby in tests/test_jdbc.py (same code path as Postgres — the URL
    and driver are config), and against a live Postgres when the
    composed service is up (K8E_POSTGRES_URL-gated test)."""
    df.write.format("jdbc").option("url", url).option("dbtable", table).options(
        **options
    ).mode(mode).save()
