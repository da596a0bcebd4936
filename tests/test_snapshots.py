"""Transactional snapshot-pointer MERGE (plans/snapshots.py): atomic
publish, idempotency, crash-orphan invisibility, vacuum."""

from __future__ import annotations

from pathlib import Path

from k8e_fetch_spark.plans.snapshots import (
    current_snapshot,
    merge_insert_ignore,
    read_table,
    vacuum,
)


def _rows(spark, tdir):
    df = read_table(spark, tdir)
    return set() if df is None else {tuple(r) for r in df.collect()}


def test_merge_publishes_and_is_idempotent(spark, tmp_path):
    tdir = tmp_path / "component"
    a = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
    s1 = merge_insert_ignore(spark, tdir, a)
    assert current_snapshot(tdir) == s1
    assert _rows(spark, tdir) == {(1, "x"), (2, "y")}

    # merging the SAME batch again adds nothing (op-insert-ignore)
    s2 = merge_insert_ignore(spark, tdir, a)
    assert s2 != s1 and _rows(spark, tdir) == {(1, "x"), (2, "y")}

    # a new batch with one overlap adds only the novel row
    b = spark.createDataFrame([(2, "y"), (3, "z")], "k int, v string")
    merge_insert_ignore(spark, tdir, b)
    assert _rows(spark, tdir) == {(1, "x"), (2, "y"), (3, "z")}


def test_empty_table_reads_none(spark, tmp_path):
    assert read_table(spark, tmp_path / "nothing") is None


def test_crash_orphan_is_invisible_until_published(spark, tmp_path):
    """A half-written snapshot directory without a pointer flip must
    not change what readers see — the crash-safety contract."""
    tdir = tmp_path / "component"
    a = spark.createDataFrame([(1, "x")], "k int, v string")
    s1 = merge_insert_ignore(spark, tdir, a)

    # simulate a writer that died after writing files, before the flip
    orphan = Path(tdir) / "snap-000099"
    spark.createDataFrame([(9, "junk")], "k int, v string").write.parquet(str(orphan))
    assert current_snapshot(tdir) == s1
    assert _rows(spark, tdir) == {(1, "x")}

    # vacuum removes the orphan, keeps the live snapshot
    removed = vacuum(tdir, keep=1)
    assert "snap-000099" in removed
    assert _rows(spark, tdir) == {(1, "x")}


def test_vacuum_keeps_history_window(spark, tmp_path):
    tdir = tmp_path / "component"
    for i in range(4):
        merge_insert_ignore(
            spark, tdir, spark.createDataFrame([(i, "v")], "k int, v string")
        )
    live = current_snapshot(tdir)
    removed = vacuum(tdir, keep=2)
    kept = sorted(
        p.name for p in Path(tdir).iterdir() if p.is_dir() and p.name.startswith("snap-")
    )
    assert live in kept and len(kept) == 2
    assert len(removed) == 2


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_manifest_merge_is_incremental_and_idempotent(spark, tmp_path):
    """The r12 manifest table: merges write ONLY the delta directory
    (write volume O(delta), not O(table)); a fully-contained re-merge
    publishes NOTHING (same manifest name back, no new dirs, no chain
    growth); content equals the full-rewrite snapshot semantics."""
    from k8e_fetch_spark.plans.snapshots import (
        current_manifest,
        merge_insert_ignore_incremental,
        read_manifest_table,
    )

    t = str(tmp_path / "mt")
    a = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
    b = spark.createDataFrame([(2, "y"), (3, "z")], "k int, v string")

    m1 = merge_insert_ignore_incremental(spark, t, a)
    assert current_manifest(t) == m1
    m2 = merge_insert_ignore_incremental(spark, t, b)
    assert m2 != m1
    got = _sorted_rows(read_manifest_table(spark, t))
    assert got == [(1, "x"), (2, "y"), (3, "z")]
    # delta-000002 must hold ONLY the new row
    d2 = _sorted_rows(spark.read.parquet(f"{t}/delta-000002"))
    assert d2 == [(3, "z")]
    # idempotent re-merge: no new manifest, no new dirs
    dirs_before = sorted(p.name for p in Path(t).iterdir())
    m3 = merge_insert_ignore_incremental(spark, t, b)
    assert m3 == m2
    assert sorted(p.name for p in Path(t).iterdir()) == dirs_before
    assert _sorted_rows(read_manifest_table(spark, t)) == got


def test_manifest_torn_delta_is_invisible_and_vacuumed(spark, tmp_path):
    """A writer that dies AFTER writing its delta (or even a
    torn higher-numbered manifest file) but BEFORE the pointer flip
    leaves the table reading the old state; vacuum removes exactly the
    unreferenced garbage, anchored at the live manifest."""
    from k8e_fetch_spark.plans.snapshots import (
        current_manifest,
        merge_insert_ignore_incremental,
        read_manifest_table,
        vacuum_manifest,
    )

    t = str(tmp_path / "mt")
    merge_insert_ignore_incremental(
        spark, t, spark.createDataFrame([(1, "x")], "k int, v string")
    )
    live = current_manifest(t)
    # torn write: complete-looking delta + manifest, pointer NOT flipped
    poison = spark.createDataFrame([(-9, "TORN")], "k int, v string")
    poison.write.parquet(f"{t}/delta-000099")
    Path(f"{t}/manifest-000099.json").write_text('{"dirs": ["delta-000099"]}')
    assert current_manifest(t) == live
    assert _sorted_rows(read_manifest_table(spark, t)) == [(1, "x")]
    removed = vacuum_manifest(t)
    assert "delta-000099" in removed and "manifest-000099.json" in removed
    assert _sorted_rows(read_manifest_table(spark, t)) == [(1, "x")]


def test_manifest_checkpoint_compacts_and_preserves_content(spark, tmp_path):
    """checkpoint rewrites the live dirs into one base and the manifest
    references ONLY it; content identical; vacuum then reclaims every
    superseded delta."""
    from k8e_fetch_spark.plans.snapshots import (
        checkpoint,
        merge_insert_ignore_incremental,
        read_manifest_table,
        vacuum_manifest,
    )

    t = str(tmp_path / "mt")
    for i in range(4):
        merge_insert_ignore_incremental(
            spark,
            t,
            spark.createDataFrame([(j, f"v{j}") for j in range(i * 3, i * 3 + 4)],
                                  "k int, v string"),
        )
    before = _sorted_rows(read_manifest_table(spark, t))
    assert len(before) == 13  # overlapping batches merged set-wise
    checkpoint(spark, t, n_files=1)
    assert _sorted_rows(read_manifest_table(spark, t)) == before
    removed = vacuum_manifest(t)
    assert sum(1 for r in removed if r.startswith("delta-")) == 4
    assert _sorted_rows(read_manifest_table(spark, t)) == before
    # exactly one live data dir remains
    live_dirs = [p.name for p in Path(t).iterdir() if p.is_dir()]
    assert len(live_dirs) == 1 and live_dirs[0].startswith("base-")


def test_manifest_vacuum_keep_window_time_travel(spark, tmp_path):
    """vacuum_manifest(keep=2) preserves the live manifest AND its
    predecessor — including every data dir the predecessor references
    (a kept old manifest must stay READABLE, not just present) — while
    a torn higher-numbered manifest is still reclaimed (anchored at the
    pointer, not lexical order)."""
    import json

    from k8e_fetch_spark.plans.snapshots import (
        current_manifest,
        merge_insert_ignore_incremental,
        read_manifest_table,
        vacuum_manifest,
    )

    t = str(tmp_path / "mt")
    for i in range(3):
        merge_insert_ignore_incremental(
            spark, t, spark.createDataFrame([(i, f"v{i}")], "k int, v string")
        )
    live = current_manifest(t)
    # torn manifest ABOVE live
    Path(f"{t}/manifest-000099.json").write_text('{"dirs": ["delta-000001"]}')
    removed = vacuum_manifest(t, keep=2)
    assert "manifest-000099.json" in removed
    assert "manifest-000001.json" in removed  # outside the keep window
    assert current_manifest(t) == live
    # live still reads complete
    got = sorted(tuple(r) for r in read_manifest_table(spark, t).collect())
    assert got == [(0, "v0"), (1, "v1"), (2, "v2")]
    # the kept predecessor (manifest-000002) is still fully readable:
    # every dir it references survived
    prev = json.loads(Path(f"{t}/manifest-000002.json").read_text())["dirs"]
    for d in prev:
        assert Path(f"{t}/{d}").is_dir(), d


def test_snapshot_and_manifest_forms_agree(spark, tmp_path):
    """Cross-validation of the two transactional merge machineries:
    the same overlapping batch sequence through the full-rewrite
    snapshot table and the incremental manifest table must yield
    identical row sets — the manifest form is a COST change (O(delta)
    writes), never a semantics change."""
    from k8e_fetch_spark.plans.snapshots import (
        merge_insert_ignore,
        merge_insert_ignore_incremental,
        read_manifest_table,
        read_table,
    )

    batches = [
        [(1, "a"), (2, "b"), (None, "n")],
        [(2, "b"), (3, "c"), (None, "n")],  # overlap incl. the NULL row
        [(3, "c"), (4, "d")],
    ]
    snap_dir, man_dir = str(tmp_path / "snap"), str(tmp_path / "man")
    for rows in batches:
        df = spark.createDataFrame(rows, "k int, v string")
        merge_insert_ignore(spark, snap_dir, df)
        merge_insert_ignore_incremental(spark, man_dir, df)
    key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731 (None-safe sort)
    a = sorted((tuple(r) for r in read_table(spark, snap_dir).collect()), key=key)
    b = sorted(
        (tuple(r) for r in read_manifest_table(spark, man_dir).collect()), key=key
    )
    assert a == b
    # the null-safe contract held on both paths: the NULL row merged ONCE
    assert sum(1 for r in b if r[0] is None) == 1


def test_vacuum_manifest_dangling_pointer_keeps_latest_not_nothing(spark, tmp_path):
    """ADVICE r12 low: a pointer naming a manifest that is MISSING on
    disk must degrade like the no-pointer case — keep the lexically
    latest `keep` manifests and their dirs (readable garbage) — not
    delete every delta/base dir (total data loss)."""
    from k8e_fetch_spark.plans.snapshots import (
        _manifest_pointer,
        merge_insert_ignore_incremental,
        read_manifest_table,
        vacuum_manifest,
    )

    t = str(tmp_path / "mt")
    merge_insert_ignore_incremental(
        spark, t, spark.createDataFrame([(1, "x")], "k int, v string")
    )
    m2 = merge_insert_ignore_incremental(
        spark, t, spark.createDataFrame([(2, "y")], "k int, v string")
    )
    # corrupt the pointer: names a manifest that does not exist
    _manifest_pointer(t).write_text("manifest-000999.json")
    removed = vacuum_manifest(t, keep=2)
    # both manifests and both deltas survive under keep=2
    assert removed == []
    # keep=1 keeps exactly the lexically-latest manifest + its dirs
    removed = vacuum_manifest(t, keep=1)
    assert m2 not in removed and "delta-000002" not in removed
    # repair the pointer to the surviving manifest: table reads fully
    _manifest_pointer(t).write_text(m2)
    rows = sorted(tuple(r) for r in read_manifest_table(spark, t).collect())
    assert rows == [(1, "x"), (2, "y")]


# --- OCC manifest tables (r13): concurrent-writer commit protocol ---


def _occ_rows(df):
    return sorted(map(tuple, df.collect()))


def test_occ_merge_lifecycle_and_idempotency(spark, tmp_path):
    from k8e_fetch_spark.plans import snapshots as snap

    t = str(tmp_path / "occ")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    b2 = spark.createDataFrame([(2, "b"), (3, "c")], "k int, v string")
    m1 = snap.merge_insert_ignore_occ(spark, t, b1)
    m2 = snap.merge_insert_ignore_occ(spark, t, b2)
    assert (m1, m2) == ("manifest-000001.json", "manifest-000002.json")
    # no pointer file on OCC tables — the version chain is the log
    assert not (Path(t) / "_CURRENT_MANIFEST").exists()
    assert (Path(t) / "_OCC").exists()
    assert _occ_rows(snap.read_manifest_table(spark, t)) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]
    # contained batch publishes nothing, returns current
    assert snap.merge_insert_ignore_occ(spark, t, b1) == m2


def test_occ_lost_race_recomputes_and_preserves_both_writers(
    spark, tmp_path, monkeypatch
):
    """The failure the protocol exists for: writer B reads base v1,
    a competitor claims v2 first, B's CAS fails -> B recomputes against
    the competitor's table and commits v3. Both writers' rows survive;
    B's first-attempt delta is cleaned up; the chain is v1..v3."""
    import json

    from k8e_fetch_spark.plans import snapshots as snap

    t = tmp_path / "occ"
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    b_comp = spark.createDataFrame([(3, "c")], "k int, v string")
    b_loser = spark.createDataFrame([(3, "c"), (4, "d")], "k int, v string")
    snap.merge_insert_ignore_occ(spark, str(t), b1)

    real_cas = snap._commit_manifest_cas
    state = {"raced": False}

    def racy_cas(table_dir, manifest_name, payload, cas=None):
        if not state["raced"]:
            state["raced"] = True
            # the competitor lands its commit for the SAME version first
            b_comp.write.parquet(str(t / "delta-000002-competitor"))
            live = snap._manifest_dirs(t, "manifest-000001.json")
            real_cas(
                t,
                "manifest-000002.json",
                json.dumps({"dirs": [*live, "delta-000002-competitor"]}),
            )
        return real_cas(table_dir, manifest_name, payload)

    monkeypatch.setattr(snap, "_commit_manifest_cas", racy_cas)
    m = snap.merge_insert_ignore_occ(spark, str(t), b_loser)
    assert m == "manifest-000003.json"
    # both writers' rows present exactly once; loser re-derived its
    # delta against the winner (3 already inserted -> only 4 is new)
    assert _occ_rows(snap.read_manifest_table(spark, t)) == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d"),
    ]
    final_dirs = snap._manifest_dirs(t, m)
    delta3 = [d for d in final_dirs if d.startswith("delta-000003")]
    assert len(delta3) == 1
    assert _occ_rows(spark.read.parquet(str(t / delta3[0]))) == [(4, "d")]
    # the loser's abandoned v2 delta attempt was cleaned on conflict:
    # only the competitor's delta-000002 dir remains on disk
    v2_dirs = [p.name for p in t.iterdir() if p.name.startswith("delta-000002")]
    assert v2_dirs == ["delta-000002-competitor"]


def test_occ_exhausted_retries_raise_and_leave_no_garbage(
    spark, tmp_path, monkeypatch
):
    from k8e_fetch_spark.plans import snapshots as snap

    t = tmp_path / "occ"

    def always_conflict(*a, **k):
        raise snap.ManifestConflictError("forced")

    monkeypatch.setattr(snap, "_commit_manifest_cas", always_conflict)
    b = spark.createDataFrame([(1, "a")], "k int, v string")
    try:
        snap.merge_insert_ignore_occ(spark, str(t), b, max_retries=2)
        raise AssertionError("expected ManifestConflictError")
    except snap.ManifestConflictError:
        pass
    # every attempt's delta dir was cleaned; no manifest committed
    assert [p.name for p in t.iterdir() if p.is_dir()] == []
    assert snap.current_manifest(str(t)) is None


def test_occ_checkpoint_vacuum_and_pointer_table_isolation(spark, tmp_path):
    from k8e_fetch_spark.plans import snapshots as snap

    # OCC table: 3 merges -> checkpoint -> vacuum; content preserved
    t = str(tmp_path / "occ")
    for lo in (0, 2, 4):
        snap.merge_insert_ignore_occ(
            spark,
            t,
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(lo, lo + 3)], "k int, v string"
            ),
        )
    expect = [(i, f"v{i}") for i in range(7)]
    assert _occ_rows(snap.read_manifest_table(spark, t)) == expect
    m4 = snap.checkpoint(spark, t, n_files=1)
    assert m4 == "manifest-000004.json"
    # exclusive access here, so opt out of the OCC retention window
    removed = snap.vacuum_manifest(t, retain_seconds=0.0)
    assert any(r.startswith("delta-") for r in removed)
    assert _occ_rows(snap.read_manifest_table(spark, t)) == expect
    dirs = snap._manifest_dirs(Path(t), m4)
    assert len(dirs) == 1 and dirs[0].startswith("base-000004")

    # pointer table in a sibling dir: untouched semantics (pointer file,
    # no _OCC marker, crash-orphan higher manifest stays invisible)
    p = str(tmp_path / "ptr")
    snap.merge_insert_ignore_incremental(
        spark, p, spark.createDataFrame([(1, "x")], "k int, v string")
    )
    assert (Path(p) / "_CURRENT_MANIFEST").exists()
    assert not (Path(p) / "_OCC").exists()
    Path(p, "manifest-000099.json").write_text('{"dirs": []}')
    assert snap.current_manifest(p) == "manifest-000001.json"


def test_occ_and_pointer_protocols_refuse_to_mix(spark, tmp_path):
    """Protocol misuse is an ERROR, not silent corruption: the legacy
    pointer merge on an OCC table would bypass the CAS, and OCC
    adoption on a pointer table would resurrect crash-orphan complete
    manifests the pointer protocol considers garbage."""
    import pytest as _pytest

    from k8e_fetch_spark.plans import snapshots as snap

    b = spark.createDataFrame([(1, "a")], "k int, v string")
    occ = str(tmp_path / "occ")
    snap.merge_insert_ignore_occ(spark, occ, b)
    with _pytest.raises(ValueError, match="OCC table"):
        snap.merge_insert_ignore_incremental(spark, occ, b)
    ptr = str(tmp_path / "ptr")
    snap.merge_insert_ignore_incremental(spark, ptr, b)
    with _pytest.raises(ValueError, match="pointer table"):
        snap.merge_insert_ignore_occ(spark, ptr, b)


def test_manifest_time_travel_reads_inside_keep_window(spark, tmp_path):
    """read_manifest_table(version=N): historical versions inside the
    vacuum keep-window read back exactly as they were; vacuumed
    versions raise with the readable list. Works on both protocols."""
    import pytest as _pytest

    from k8e_fetch_spark.plans import snapshots as snap

    t = str(tmp_path / "occ")
    for lo in (0, 2, 4):
        snap.merge_insert_ignore_occ(
            spark,
            t,
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(lo, lo + 3)], "k int, v string"
            ),
        )
    assert snap.manifest_versions(t) == [1, 2, 3]
    assert _occ_rows(snap.read_manifest_table(spark, t, version=1)) == [
        (0, "v0"), (1, "v1"), (2, "v2"),
    ]
    assert _occ_rows(snap.read_manifest_table(spark, t, version=2)) == [
        (i, f"v{i}") for i in range(5)
    ]
    snap.vacuum_manifest(t, keep=2, retain_seconds=0.0)  # keeps v2, v3
    assert snap.manifest_versions(t) == [2, 3]
    with _pytest.raises(FileNotFoundError, match=r"readable versions: \[2, 3\]"):
        snap.read_manifest_table(spark, t, version=1)
    # v2's dirs survive the keep window: still reads exactly as before
    assert _occ_rows(snap.read_manifest_table(spark, t, version=2)) == [
        (i, f"v{i}") for i in range(5)
    ]


def test_occ_skips_unparseable_manifests(spark, tmp_path):
    """A manifest that does not parse — truncated, or not a JSON
    object — is not a version: OCC resolution falls back to the highest
    one that does, and manifest_versions leaves it out."""
    from k8e_fetch_spark.plans import snapshots as snap

    t = str(tmp_path / "occ")
    snap.merge_insert_ignore_occ(
        spark, t, spark.createDataFrame([(1, "a")], "k int, v string")
    )
    Path(t, "manifest-000098.json").write_text("[]")
    Path(t, "manifest-000099.json").write_text('{"dirs": ["del')
    assert snap.current_manifest(t) == "manifest-000001.json"
    assert snap.manifest_versions(t) == [1]
    assert _occ_rows(snap.read_manifest_table(spark, t)) == [(1, "a")]


def test_occ_real_two_process_race(tmp_path):
    """The OCC claim proven with REAL concurrency: two separate driver
    processes (own JVMs) merge overlapping batches into the same table
    simultaneously. Whatever the interleaving, the outcome must be:
    both batches' rows present exactly once, a gap-free committed
    version chain, and at most max_retries lost races. The monkeypatch
    test above pins the recompute logic; this pins the actual
    os.link contention end to end."""
    import subprocess
    import sys
    import textwrap

    t = str(tmp_path / "occ_race")
    prog = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, "/root/repo")
        from k8e_fetch_spark.session import get_spark
        from k8e_fetch_spark.plans import snapshots as snap
        table, lo = sys.argv[1], int(sys.argv[2])
        spark = get_spark(app_name=f"occ-race-{lo}", cpus=2, shuffle_partitions=2)
        rows = [(i, f"v{i}") for i in range(lo, lo + 6)]
        snap.merge_insert_ignore_occ(
            spark, table, spark.createDataFrame(rows, "k int, v string"),
            max_retries=10,
        )
        spark.stop()
        """
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", prog, t, str(lo)],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )
        for lo in (0, 3)  # overlapping ranges 0-5 and 3-8
    ]
    for p in procs:
        assert p.wait(timeout=300) == 0
    from k8e_fetch_spark.plans import snapshots as snap

    versions = snap.manifest_versions(t)
    # both writers committed: either serially (v1, v2) or after a lost
    # race (still v1, v2 — the version chain is gap-free by CAS)
    assert versions == [1, 2]
    # verify content with a fresh local session
    from k8e_fetch_spark.session import get_spark

    spark = get_spark(app_name="occ-race-verify", cpus=2, shuffle_partitions=2)
    got = sorted(map(tuple, snap.read_manifest_table(spark, t).collect()))
    assert got == [(i, f"v{i}") for i in range(9)]


def test_occ_vacuum_retention_protects_inflight_delta(spark, tmp_path):
    """ADVICE r13: on an OCC table, vacuum under the default retention
    window must NOT delete (a) a fresh unreferenced delta dir — it may
    be a concurrent writer's fully-written, not-yet-CAS-committed merge
    — nor (b) a manifest committed above the live one mid-vacuum. The
    in-flight writer's commit then publishes a manifest whose dirs all
    still exist: the table stays readable (no corruption). Backdated
    (retention-expired) garbage IS removed."""
    import json
    import os

    from k8e_fetch_spark.plans import snapshots as snap

    t = str(tmp_path / "occ")
    for lo in (0, 2):
        snap.merge_insert_ignore_occ(
            spark,
            t,
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(lo, lo + 2)], "k int, v string"
            ),
        )
    live = snap.current_manifest(t)
    assert live == "manifest-000002.json"
    live_dirs = snap._manifest_dirs(Path(t), live)

    # simulate a concurrent writer between delta-write and CAS: a fully
    # written delta dir that no manifest references yet
    inflight = "delta-000003-9999deadbe"
    spark.createDataFrame([(9, "v9")], "k int, v string").write.parquet(
        str(Path(t) / inflight)
    )
    removed = snap.vacuum_manifest(t)  # default OCC retention
    assert inflight not in removed
    assert (Path(t) / inflight).exists()
    # … the writer's CAS now lands: table must read back whole
    snap._commit_manifest_cas(
        Path(t), "manifest-000003.json", json.dumps({"dirs": [*live_dirs, inflight]})
    )
    assert _occ_rows(snap.read_manifest_table(spark, t)) == [
        (0, "v0"), (1, "v1"), (2, "v2"), (3, "v3"), (9, "v9"),
    ]

    # a retention-expired unreferenced dir is garbage and goes
    stale = "delta-000004-0000aaaaaa"
    spark.createDataFrame([(7, "x")], "k int, v string").write.parquet(
        str(Path(t) / stale)
    )
    old = 1.0  # epoch 1970: far outside any retention window
    os.utime(Path(t) / stale, (old, old))
    removed = snap.vacuum_manifest(t)
    assert stale in removed
    assert not (Path(t) / stale).exists()
    # live state untouched
    assert snap.current_manifest(t) == "manifest-000003.json"


def test_pipeline_memoized_rerun_skips_occ_component_tables(spark, tmp_path):
    """ADVICE r13 (pipeline.py): run(skip={'load'}) re-reads landed
    source tables as flat parquet but must skip OCC component tables
    (no pointer file, only the _OCC marker — reading one flat would hit
    its manifest-*.json files). The memoized rerun must reproduce the
    first run's content and keep the version chain idempotent."""
    from k8e_fetch_spark.plans.pipeline import Pipeline
    from k8e_fetch_spark.plans.snapshots import current_manifest
    from k8e_fetch_spark.plans.spec import DEFAULT_SPEC
    from k8e_fetch_spark.resources import fixtures_root

    fixtures = fixtures_root()
    wh = tmp_path / "wh_occ_memo"
    pipe = Pipeline(spark, DEFAULT_SPEC, str(wh), table_format="occ")
    first = pipe.run(str(fixtures / "manifest.json"), str(fixtures))
    memo = pipe.run(
        str(fixtures / "manifest.json"), str(fixtures), skip=frozenset({"load"})
    )
    assert set(memo) == set(first)
    for name in first:
        cols = sorted(first[name].columns)
        a = sorted(map(tuple, first[name].select(*cols).collect()))
        b = sorted(map(tuple, memo[name].select(*cols).collect()))
        assert a == b, name
        assert current_manifest(wh / name) == "manifest-000001.json"
