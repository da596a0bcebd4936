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
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession

from k8e_fetch_spark.operators.dedup import insert_ignore
from k8e_fetch_spark.operators.projection import project
from k8e_fetch_spark.plans import snapshots as snap
from k8e_fetch_spark.plans.spec import Compressor, PipelineSpec
from k8e_fetch_spark.sources import ingest, manifest as mf


class Pipeline:
    """The fetch → select → sync → load → compress flow over one warehouse.

    - ``table_format``: the component-table layout, one of
      ``parquet`` (default), ``snapshot``, ``manifest``, ``occ``
      (plans/snapshots.py describes each).
    - ``compact_target_mb``: after compress, rewrite each component into
      files of about this size.
    - ``zorder_by``: after compress, lay out each component that has
      these 2-3 columns in Z-order; composes with ``compact_target_mb``
      in one rewrite.
    - ``cas``: the CAS backend for ``occ`` commits (plans/cas.py);
      None uses the hard-link claim.
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
        if table_format not in snap.TABLE_FORMATS:
            raise ValueError(
                f"table_format must be {'|'.join(snap.TABLE_FORMATS)}, got {table_format!r}"
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
        projections), merge it into the component table exactly once
        per run — existing ∪ (distinct batch ∖ existing), null-safe —
        then apply the optional relayout."""
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
        target_bytes = (
            None if self.compact_target_mb is None else self.compact_target_mb << 20
        )
        components: dict[str, DataFrame] = {}
        for name, batch in batches.items():
            path = self._component_path(name)
            if self.table_format == "parquet":
                merged = merge_parquet(self.spark, path, batch)
            else:
                merged = snap.merge_table(
                    self.spark, path, batch, self.table_format, cas=self.cas
                )
            # a component missing a zorder_by column keeps its layout
            zcols = (
                list(self.zorder_by)
                if self.zorder_by and set(self.zorder_by) <= set(merged.columns)
                else None
            )
            relaid = snap.relayout(
                self.spark, path, self.table_format, target_bytes, zcols, cas=self.cas
            )
            components[name] = merged if relaid is None else relaid
        return components

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
        else:  # memoized: re-read the landed tables from the warehouse
            tables = {
                n: self.spark.read.parquet(os.path.join(self.warehouse, n))
                for n in snap.flat_tables(self.warehouse)
            }
        if "compress" in skip:
            return tables
        return self.compress(tables)

    # --- sinks ----------------------------------------------------------
    def _component_path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _sink(self, df: DataFrame, name: str) -> DataFrame:
        """op-table-sink: land ``df`` as the flat parquet table ``name``
        and return the re-read frame (no job). Cluster form: Delta MERGE."""
        return snap.write_flat(df, self._component_path(name))


def merge_parquet(spark: SparkSession, path: str, batch: DataFrame) -> DataFrame:
    """op-insert-ignore into the flat parquet table at ``path``: CREATE
    TABLE IF NOT EXISTS … LIMIT 0 (op-schema-clone), INSERT OR IGNORE,
    and the result replaces the table. Returns the re-read table."""
    existing = spark.read.parquet(path) if snap.is_flat_table(path) else batch.limit(0)
    return snap.write_flat(insert_ignore(existing, batch), path)


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
