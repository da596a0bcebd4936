"""End-to-end pipeline test (M3): fetch → select → load → compress over
the FIXTURES.md §B fixtures, driven by the cfg.yaml-shaped DEFAULT_SPEC.
Verifies the reference's Main flow semantics (fetcher.bash:13-24) —
manifest selection, source dispatch, component decomposition, and
idempotent reruns (INSERT OR IGNORE)."""

from __future__ import annotations

from pathlib import Path

import pytest

from k8e_fetch_spark.plans.pipeline import Pipeline
from k8e_fetch_spark.plans.spec import DEFAULT_SPEC

from k8e_fetch_spark.resources import fixtures_root

FIXTURES = fixtures_root()


@pytest.fixture(scope="module")
def pipe(spark, tmp_path_factory):
    return Pipeline(spark, DEFAULT_SPEC, str(tmp_path_factory.mktemp("warehouse")))


@pytest.fixture(scope="module")
def selected(pipe):
    versions = pipe.fetch_versions(str(FIXTURES / "manifest.json"))
    return pipe.select_keys(versions, "current_cycle")


def test_manifest_selection(selected):
    keys = {r["key"] for r in selected.collect()}
    assert "Snapshots/VR_Snapshot_20240514.zip" in keys
    assert "data/ncvoter_Statewide.zip" in keys
    assert "Elections/2024/Candidate_Listing_2024.csv" in keys
    assert "data/layout_ncvoter.txt" in keys  # synced (skip happens at load)
    assert "Elections/" not in keys  # op-dir-exclude
    assert "other/readme.md" not in keys  # no include regex matches
    # op-uniq + op-version-latest: the duplicate-key older version collapses
    assert len(keys) == len([r for r in selected.collect()])


@pytest.fixture(scope="module")
def tables(pipe, selected):
    paths = pipe.sync(selected, str(FIXTURES))
    return pipe.load(paths)


def test_load_dispatch(tables):
    assert set(tables) == {
        "vr_snapshot_20240514",
        "ncvoter_statewide",
        "candidate_listing_2022",
        "candidate_listing_2024",
    }  # layout_ncvoter.txt skipped (op-skip-unknown)
    assert tables["ncvoter_statewide"].count() == 4
    assert tables["vr_snapshot_20240514"].count() == 3


@pytest.fixture(scope="module")
def components(pipe, tables):
    return pipe.compress(tables)


def test_compress_components(components):
    assert set(components) == {"c_name", "c_phone", "c_status", "c_registr"}
    # c_status: distinct status codes across BOTH sources (A, I)
    assert {r["status_cd"] for r in components["c_status"].collect()} == {"A", "I"}
    # c_name: 3 distinct ncvoter (row 4 is an exact dup) + 3 vr, where
    # SMITH/JOHN/Q is byte-identical across sources -> merges once
    names = components["c_name"].collect()
    assert len(names) == 5
    last = {r["last_name"] for r in names}
    assert {"RENÉE", "RENEE", "MUÑOZ", "SMITH", "O'BRIEN"} == last


def test_compress_subst(components):
    # c_phone: area_cd||phone_num expression subst (cfg.yaml:26-27)
    phones = {r["ncid"]: r["full_phone_number"] for r in components["c_phone"].collect()}
    assert phones["AA1"] == "9195550101"
    # c_registr: vr side takes the 'NA' constant default, ncvoter side
    # passes registr_dt through (cfg.yaml:46-54 shape)
    reg = {(r["ncid"], r["registr_dt"]) for r in components["c_registr"].collect()}
    assert ("AA1", "NA") in reg  # from vr_snapshot subst
    assert ("AA1", "2002-03-04") in reg  # from ncvoter passthrough


def test_compress_idempotent(pipe, tables, components):
    """Rerunning compress (INSERT OR IGNORE) adds no rows."""
    before = {k: v.count() for k, v in components.items()}
    again = pipe.compress(tables)
    after = {k: v.count() for k, v in again.items()}
    assert before == after


def test_temporal_include_generates_mkfilter_set(spark):
    """MkFilter parity (current_cycle.bash:36-45): snapshots for
    {Y-1, Y}, election dirs for the 8-year judge term, statewide zips."""
    from k8e_fetch_spark.sources.manifest import read_manifest, select_keys, temporal_include

    pats = temporal_include(2024)
    assert "VR_Snapshot_2023" in pats and "VR_Snapshot_2024" in pats
    assert "Elections/2016" in pats and "Elections/2024" in pats
    assert "Elections/2015" not in pats
    assert r"_Statewide\.zip$" in pats

    versions = read_manifest(spark, str(FIXTURES / "manifest.json"))
    keys = {r["key"] for r in select_keys(versions, pats).collect()}
    assert "Snapshots/VR_Snapshot_20240514.zip" in keys
    assert "data/ncvoter_Statewide.zip" in keys
    assert "Elections/2022/Candidate_Listing_2022.csv" in keys
    assert "data/layout_ncvoter.txt" not in keys  # not in the temporal set


def test_sql_front_door(spark):
    """register_views makes the whole corpus addressable from plain
    spark.sql — run one of the oracle queries as raw SQL text."""
    from k8e_fetch_spark.io import register_views
    from tests.conftest import SF_DIR

    register_views(spark, SF_DIR)
    got = spark.sql(
        "SELECT l_returnflag, l_linestatus, count(*) AS n "
        "FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"
    ).collect()
    assert len(got) >= 3 and all(r["n"] > 0 for r in got)


def test_stage_memoization_skip_load(spark, tmp_path):
    """FETCHER_SKIP_* analog: a prior run lands tables in the warehouse;
    a skip={'load'} rerun compresses straight from the landed parquet
    without touching the manifest or source files."""
    from k8e_fetch_spark.plans.pipeline import Pipeline
    from k8e_fetch_spark.plans.spec import DEFAULT_SPEC

    wh = str(tmp_path / "wh")
    pipe = Pipeline(spark, DEFAULT_SPEC, wh)
    first = pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
    counts_first = {k: v.count() for k, v in first.items()}

    # tables-only run (skip compress), then compress from the warehouse
    pipe2 = Pipeline(spark, DEFAULT_SPEC, wh)
    again = pipe2.run(
        manifest_path="/nonexistent/manifest.json",  # must never be read
        data_dir="/nonexistent",
        skip=frozenset({"load"}),
    )
    counts_again = {k: v.count() for k, v in again.items()}
    assert counts_again == counts_first

    # a write that died before its swap leaves the table's temp sibling;
    # the rerun must not read it as a landed table (the VR include
    # pattern matches its name)
    from pyspark.sql import functions as F

    landed = spark.read.parquet(f"{wh}/vr_snapshot_20240514")
    landed.limit(1).select(
        [F.lit("junk").cast(f.dataType).alias(f.name) for f in landed.schema]
    ).write.parquet(f"{wh}/vr_snapshot_20240514.__tmp__")
    crashed = pipe2.run(
        manifest_path="/nonexistent/manifest.json",
        data_dir="/nonexistent",
        skip=frozenset({"load"}),
    )
    assert {k: v.count() for k, v in crashed.items()} == counts_first


def test_swap_crash_keeps_component_rows(spark, tmp_path, monkeypatch):
    """A compress that dies between the flat-table swap's two renames
    leaves c_name aside, never deleted: the next compress renames it
    back and merges into all 5 rows (deleting the live table before the
    rename lost the earlier runs' rows: 3 left)."""
    import os

    from k8e_fetch_spark.plans import snapshots as snap

    wh = str(tmp_path / "wh")
    pipe = Pipeline(spark, DEFAULT_SPEC, wh)
    pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
    landed = {"ncvoter_statewide": spark.read.parquet(f"{wh}/ncvoter_statewide")}
    c_name = os.path.join(wh, "c_name")
    real_replace = os.replace

    def crash_on_c_name(src, dst, **kw):
        if os.fspath(dst) == c_name:
            raise OSError("injected crash")
        return real_replace(src, dst, **kw)

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash_on_c_name)
        with pytest.raises(OSError, match="injected crash"):
            pipe.compress(landed)
    assert not os.path.exists(c_name)
    assert not snap.is_flat_table(c_name + ".__old__")
    assert pipe.compress(landed)["c_name"].count() == 5
    assert sorted(os.listdir(wh)) == sorted(snap.flat_tables(wh))


@pytest.mark.parametrize("listing", ['{"Versions": []}', "{}"], ids=["empty", "no_versions"])
def test_empty_listing_loads_nothing(spark, tmp_path, listing):
    """An empty bucket's listing is a run with nothing to do: no tables,
    no components, nothing written to the warehouse."""
    manifest = tmp_path / "manifest.json"
    manifest.write_text(listing)
    wh = tmp_path / "wh"
    assert Pipeline(spark, DEFAULT_SPEC, str(wh)).run(str(manifest), str(FIXTURES)) == {}
    assert list(wh.iterdir()) == []


def _jobs_started(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_planning_starts_no_discovery_jobs(spark, tmp_path):
    """The catalog's shape is declared and each file's column list is
    read on the driver, so listing, selecting and planning every
    Python-decoded source family start no Spark job; landing a table
    costs its write and nothing more."""
    from k8e_fetch_spark.sources import ingest

    pipe = Pipeline(spark, DEFAULT_SPEC, str(tmp_path / "wh"))
    manifest = str(FIXTURES / "manifest.json")
    versions, n = _jobs_started(spark, lambda: pipe.fetch_versions(manifest))
    assert n == 0
    _, n = _jobs_started(spark, lambda: pipe.select_keys(versions, "current_cycle"))
    assert n == 0
    for name in (
        "VR_Snapshot_20240514.tsv",
        "ncvoter_Statewide.zip",
        "Candidate_Listing_2022.csv",
        "Candidate_Listing_2024.csv",
        "VR_Snapshot_20240514.zip",
    ):
        spec = ingest.dispatch(name)
        df, n = _jobs_started(
            spark, lambda: ingest.read_source(spark, [str(FIXTURES / name)], spec)
        )
        assert n == 0, name
    _, plain = _jobs_started(spark, lambda: df.write.parquet(str(tmp_path / "plain")))
    landed, n = _jobs_started(spark, lambda: pipe._sink(df, "vr_snapshot_20240514"))
    assert n <= plain
    assert sorted(map(tuple, landed.collect())) == sorted(map(tuple, df.collect()))


def test_stage_memoization_skip_compress(spark, tmp_path):
    """skip={'compress'} returns the loaded tables without building
    components."""
    from k8e_fetch_spark.plans.pipeline import Pipeline
    from k8e_fetch_spark.plans.spec import DEFAULT_SPEC

    pipe = Pipeline(spark, DEFAULT_SPEC, str(tmp_path / "wh"))
    tables = pipe.run(
        str(FIXTURES / "manifest.json"), str(FIXTURES), skip=frozenset({"compress"})
    )
    assert "ncvoter_statewide" in tables and "c_name" not in tables


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_pipeline_front_door_manifest_format_with_compaction(spark, tmp_path):
    """VERDICT r12 #4: the maintenance machinery reachable from the
    pipeline front door. fetch→load→compress lands the components as
    incremental MANIFEST tables, the post-compress maintenance
    checkpoints them into one compacted base, and the content is
    identical to the plain-parquet flow. A rerun is a no-op on both
    content and the manifest chain (empty delta publishes nothing)."""
    from k8e_fetch_spark.plans.snapshots import current_manifest, read_manifest_table

    ref = Pipeline(spark, DEFAULT_SPEC, str(tmp_path / "ref"))
    ref_components = ref.run(str(FIXTURES / "manifest.json"), str(FIXTURES))

    wh = tmp_path / "wh_manifest"
    pipe = Pipeline(
        spark, DEFAULT_SPEC, str(wh), table_format="manifest", compact_target_mb=64
    )
    components = pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
    assert set(components) == set(ref_components)
    for name in components:
        cols = sorted(ref_components[name].columns)
        assert _rows(components[name], cols) == _rows(ref_components[name], cols), name
        # manifest table on disk, checkpointed+vacuumed to one base dir
        tdir = wh / name
        assert (tdir / "_CURRENT_MANIFEST").exists()
        live = current_manifest(tdir)
        assert live is not None
        data_dirs = [p.name for p in tdir.iterdir() if p.is_dir()]
        assert data_dirs == [f"base-{live.split('-')[1].split('.')[0]}"]
    # rerun: same content, same manifest (delta empty -> no publish)
    before = {n: current_manifest(wh / n) for n in components}
    again = pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
    for name in again:
        cols = sorted(ref_components[name].columns)
        assert _rows(again[name], cols) == _rows(ref_components[name], cols)
    after = {n: current_manifest(wh / n) for n in components}
    # compaction republishes once per run; the MERGE itself was a no-op
    # (no new delta dir appeared beyond the checkpoint base)
    for name in components:
        tdir = wh / name
        assert not any(p.name.startswith("delta-") for p in tdir.iterdir() if p.is_dir())
    assert read_manifest_table(spark, wh / "c_name").count() == 5
    del before, after  # chain growth is bounded by checkpoint+vacuum, asserted above


def test_pipeline_front_door_snapshot_format(spark, tmp_path):
    """Snapshot table format from the front door: same content as the
    parquet flow, pointer-flip layout on disk, idempotent rerun."""
    from k8e_fetch_spark.plans.snapshots import current_snapshot

    ref = Pipeline(spark, DEFAULT_SPEC, str(tmp_path / "ref"))
    ref_components = ref.run(str(FIXTURES / "manifest.json"), str(FIXTURES))

    wh = tmp_path / "wh_snap"
    pipe = Pipeline(spark, DEFAULT_SPEC, str(wh), table_format="snapshot")
    components = pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
    assert set(components) == set(ref_components)
    for name in components:
        cols = sorted(ref_components[name].columns)
        assert _rows(components[name], cols) == _rows(ref_components[name], cols), name
        assert current_snapshot(wh / name) == "snap-000001"
    # rerun: content unchanged; merge publishes a new (identical) snapshot
    again = pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
    for name in again:
        cols = sorted(ref_components[name].columns)
        assert _rows(again[name], cols) == _rows(ref_components[name], cols)


def test_pipeline_parquet_compaction_swaps_in_place(spark, tmp_path):
    """compact_target_mb on the default parquet format: content
    identical, single output file per (tiny) component, original flow
    untouched when the knob is off."""
    wh = tmp_path / "wh_compact"
    pipe = Pipeline(spark, DEFAULT_SPEC, str(wh), compact_target_mb=64)
    components = pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
    for name, df in components.items():
        files = [
            p for p in (wh / name).rglob("*.parquet") if not p.name.startswith(("_", "."))
        ]
        assert len(files) == 1, (name, files)
    assert components["c_name"].count() == 5


def test_pipeline_front_door_occ_format(spark, tmp_path):
    """table_format='occ' (r13): same content as the plain-parquet
    flow, OCC layout on disk (the _OCC marker, NO pointer file —
    CAS-committed version chain), idempotent rerun (contained batch
    publishes nothing)."""
    from k8e_fetch_spark.plans.snapshots import current_manifest, read_manifest_table

    ref = Pipeline(spark, DEFAULT_SPEC, str(tmp_path / "ref"))
    ref_components = ref.run(str(FIXTURES / "manifest.json"), str(FIXTURES))

    wh = tmp_path / "wh_occ"
    pipe = Pipeline(spark, DEFAULT_SPEC, str(wh), table_format="occ")
    components = pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
    assert set(components) == set(ref_components)
    for name in components:
        cols = sorted(ref_components[name].columns)
        assert _rows(components[name], cols) == _rows(ref_components[name], cols), name
        tdir = wh / name
        assert (tdir / "_OCC").exists()
        assert not (tdir / "_CURRENT_MANIFEST").exists()
        assert current_manifest(tdir) == "manifest-000001.json"
    # rerun: content unchanged AND the version chain did not grow
    again = pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
    for name in again:
        cols = sorted(ref_components[name].columns)
        assert _rows(again[name], cols) == _rows(ref_components[name], cols)
        assert current_manifest(wh / name) == "manifest-000001.json"
    assert read_manifest_table(spark, wh / "c_name").count() == 5


def test_pipeline_front_door_zorder_layout_all_formats(spark, tmp_path):
    """VERDICT r13 #7: fetch→compress→zorder lifecycle from the front
    door. zorder_by clusters each component that HAS the named columns
    (string keys — the sampled range-id path), leaves the others in
    their plain layout, and composes with compact_target_mb. Content
    identity against the plain-parquet flow on every table format;
    parquet additionally pins that the layout actually changed row
    order within the rewritten files (clustered, not pass-through)."""
    from k8e_fetch_spark.plans.snapshots import (
        current_manifest,
        current_snapshot,
        read_manifest_table,
        read_table,
    )

    ref = Pipeline(spark, DEFAULT_SPEC, str(tmp_path / "ref"))
    ref_components = ref.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
    zcols = ["ncid", "last_name"]  # c_name has both; c_status has neither

    for fmt in ("parquet", "snapshot", "manifest", "occ"):
        wh = tmp_path / f"wh_z_{fmt}"
        pipe = Pipeline(
            spark,
            DEFAULT_SPEC,
            str(wh),
            table_format=fmt,
            compact_target_mb=64,
            zorder_by=zcols,
        )
        components = pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
        assert set(components) == set(ref_components), fmt
        for name in components:
            cols = sorted(ref_components[name].columns)
            assert _rows(components[name], cols) == _rows(
                ref_components[name], cols
            ), (fmt, name)
        tdir = wh / "c_name"
        if fmt == "parquet":
            assert not (tdir / "_CURRENT").exists()
        elif fmt == "snapshot":
            assert current_snapshot(tdir) is not None
            assert read_table(spark, tdir).count() == 5
        else:
            assert current_manifest(tdir) is not None
            assert read_manifest_table(spark, tdir).count() == 5

    # the layout is real: on a larger synthetic component the rewritten
    # parquet orders rows by the interleaved bucket key, not input order
    from k8e_fetch_spark.operators.scale import (
        range_bucket_id,
        sampled_range_cuts,
        write_zordered_auto,
        zorder_key,
    )

    import random as _random

    rng = _random.Random(13)
    rows = [
        (f"id{rng.randrange(500):04d}", rng.choice("abcdefgh") * 3) for _ in range(4000)
    ]
    df = spark.createDataFrame(rows, "ncid string, last_name string")
    out = str(tmp_path / "zcheck")
    write_zordered_auto(df, out, ["ncid", "last_name"], n_files=4)
    back = spark.read.parquet(out)
    k = lambda t: tuple((v is None, v) for v in t)
    assert sorted(map(tuple, back.collect()), key=k) == sorted(
        map(tuple, df.collect()), key=k
    )
    cuts = sampled_range_cuts(df, ["ncid", "last_name"])
    keyed = back.withColumn(
        "_zk",
        zorder_key(
            [
                range_bucket_id("ncid", cuts["ncid"]),
                range_bucket_id("last_name", cuts["last_name"]),
            ]
        ),
    )
    import pyspark.sql.functions as _F

    per_file = (
        keyed.groupBy(_F.spark_partition_id().alias("pid"))
        .agg(_F.min("_zk").alias("mn"), _F.max("_zk").alias("mx"))
        .collect()
    )
    spans = sorted((r.mn, r.mx) for r in per_file)
    assert len(spans) >= 3
    # range-partitioned on the key: file spans are (near-)disjoint —
    # each file covers a compact z segment, which is what footer
    # min/max pruning exploits
    overlaps = sum(
        1 for a, b in zip(spans, spans[1:]) if b[0] <= a[1]
    )
    assert overlaps <= 1, spans


def test_pipeline_front_door_occ_over_conditional_put(spark, tmp_path):
    """--cas-endpoint (r14): the OCC pipeline with EVERY manifest
    commit travelling over an object store's conditional PUT — content
    and version chain identical to the link-CAS run; the endpoint saw
    only 201 wins (no conflicts in a serial run); a non-occ format
    refuses the backend loudly."""
    import http.server
    import threading

    import pytest as _pytest

    from k8e_fetch_spark.plans.cas import ConditionalPutCas
    from k8e_fetch_spark.plans.snapshots import current_manifest
    from test_cas import _make_store_handler

    responses: list[int] = []
    server = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), _make_store_handler(responses)
    )
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        cas = ConditionalPutCas(f"http://127.0.0.1:{server.server_address[1]}")
        ref = Pipeline(spark, DEFAULT_SPEC, str(tmp_path / "ref"), table_format="occ")
        ref_components = ref.run(str(FIXTURES / "manifest.json"), str(FIXTURES))

        wh = tmp_path / "wh_occ_http"
        pipe = Pipeline(
            spark, DEFAULT_SPEC, str(wh), table_format="occ", cas=cas
        )
        components = pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
        assert set(components) == set(ref_components)
        for name in components:
            cols = sorted(ref_components[name].columns)
            assert _rows(components[name], cols) == _rows(
                ref_components[name], cols
            ), name
            assert current_manifest(wh / name) == "manifest-000001.json"
        # one 201 win per component table, zero conflicts
        assert responses == [201] * len(components)
    finally:
        server.shutdown()
        t.join(timeout=5)
    with _pytest.raises(ValueError, match="occ"):
        Pipeline(
            spark, DEFAULT_SPEC, str(tmp_path / "bad"), table_format="manifest", cas=cas
        )
