"""CAS seam (plans/cas.py): the OCC commit's claim primitive behind an
interface — LinkCas (hard-link, the shipped default) and
ConditionalPutCas (object-store If-None-Match PUT) must expose
identical win/lose semantics, and the OCC merge must run unchanged
through either backend.

The HTTP side runs against an in-process conditional-PUT endpoint (the
``tests/test_objectstore.py`` pattern): the server enforces
``If-None-Match: *`` and materializes winning claims INTO the table
directory (exactly what an object-store-backed deployment does — the
store is the commit authority and the scan reads the same bucket), so
Spark reads observe HTTP-committed manifests with no extra plumbing.
"""

from __future__ import annotations

import http.server
import json
import os
import threading
import urllib.parse
import urllib.request
from pathlib import Path

import pytest

from k8e_fetch_spark.plans.cas import (
    ConditionalPutCas,
    LinkCas,
    ManifestConflictError,
)


# ---------------------------------------------------------------------------
# In-process conditional-PUT object store (test double)
# ---------------------------------------------------------------------------


def _make_store_handler(responses: list[int]):
    """A strict conditional-PUT handler rooted at the filesystem: the
    request path IS the absolute object path. Claims go through the
    same link-CAS internally so the double is race-safe even under the
    threading server. Each status is logged before it is sent, so a
    client that reads ``responses`` right after its request sees it."""

    link = LinkCas()

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):  # keep pytest output clean
            pass

        def do_PUT(self):
            if self.headers.get("If-None-Match") != "*":
                # the whole point is create-if-absent; an unconditional
                # PUT from commit code is a protocol bug — fail loudly
                responses.append(400)
                self.send_response(400)
                self.end_headers()
                return
            raw = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            obj = Path("/" + urllib.parse.unquote(self.path).lstrip("/"))
            obj.parent.mkdir(parents=True, exist_ok=True)
            try:
                link.claim(obj.parent, obj.name, raw.decode("utf-8"))
            except ManifestConflictError:
                # S3 answers a failed If-None-Match with 412
                responses.append(412)
                self.send_response(412)
                self.end_headers()
                return
            responses.append(201)
            self.send_response(201)
            self.end_headers()

    return Handler


@pytest.fixture()
def put_store():
    responses: list[int] = []
    server = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), _make_store_handler(responses)
    )
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{server.server_address[1]}", responses
    finally:
        server.shutdown()
        t.join(timeout=5)


# ---------------------------------------------------------------------------
# Backend semantics
# ---------------------------------------------------------------------------


def test_link_cas_second_claim_loses_and_payload_is_winners(tmp_path):
    cas = LinkCas()
    cas.claim(tmp_path, "manifest-000001.json", '{"dirs": ["a"]}')
    with pytest.raises(ManifestConflictError):
        cas.claim(tmp_path, "manifest-000001.json", '{"dirs": ["b"]}')
    assert json.loads((tmp_path / "manifest-000001.json").read_text()) == {
        "dirs": ["a"]
    }
    # no temp litter either way
    assert not list(tmp_path.glob(".manifest-*.tmp"))


def test_conditional_put_cas_win_then_412_conflict(tmp_path, put_store):
    endpoint, responses = put_store
    cas = ConditionalPutCas(endpoint)
    cas.claim(tmp_path, "manifest-000001.json", '{"dirs": ["a"]}')
    with pytest.raises(ManifestConflictError):
        cas.claim(tmp_path, "manifest-000001.json", '{"dirs": ["b"]}')
    # the claim materialized in the table dir; the loser changed nothing
    assert json.loads((tmp_path / "manifest-000001.json").read_text()) == {
        "dirs": ["a"]
    }
    assert responses == [201, 412]


def test_conditional_put_cas_maps_409_too(tmp_path):
    class Conflict409Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_PUT(self):
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
            self.send_response(409)
            self.end_headers()

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Conflict409Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        cas = ConditionalPutCas(f"http://127.0.0.1:{server.server_address[1]}")
        with pytest.raises(ManifestConflictError):
            cas.claim(tmp_path, "manifest-000001.json", "{}")
    finally:
        server.shutdown()
        t.join(timeout=5)


def test_conditional_put_cas_propagates_outages(tmp_path):
    """A 500 is an outage, not a lost race: recompute-and-retry must
    NOT swallow it (retrying against a down commit endpoint burns the
    delta recompute for nothing and hides the incident)."""

    class OutageHandler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_PUT(self):
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
            self.send_response(500)
            self.end_headers()

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), OutageHandler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        cas = ConditionalPutCas(f"http://127.0.0.1:{server.server_address[1]}")
        with pytest.raises(urllib.error.HTTPError):
            cas.claim(tmp_path, "manifest-000001.json", "{}")
    finally:
        server.shutdown()
        t.join(timeout=5)


# ---------------------------------------------------------------------------
# OCC merge through the seam
# ---------------------------------------------------------------------------


def _occ_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_occ_merge_lifecycle_through_conditional_put(spark, tmp_path, put_store):
    """The full OCC lifecycle with every commit travelling over HTTP
    conditional PUT: same manifests, same content, same idempotency as
    the link-CAS default."""
    from k8e_fetch_spark.plans import snapshots as snap

    endpoint, responses = put_store
    cas = ConditionalPutCas(endpoint)
    t = str(tmp_path / "occ")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    b2 = spark.createDataFrame([(2, "b"), (3, "c")], "k int, v string")
    m1 = snap.merge_insert_ignore_occ(spark, t, b1, cas=cas)
    m2 = snap.merge_insert_ignore_occ(spark, t, b2, cas=cas)
    assert (m1, m2) == ("manifest-000001.json", "manifest-000002.json")
    assert _occ_rows(snap.read_manifest_table(spark, t)) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]
    # contained batch: no new version, no HTTP claim attempted
    n_before = len(responses)
    assert snap.merge_insert_ignore_occ(spark, t, b1, cas=cas) == m2
    assert len(responses) == n_before
    assert responses == [201, 201]


def test_occ_forced_interleave_race_through_adapter(
    spark, tmp_path, put_store, monkeypatch
):
    """The forced-interleave race (tests/test_snapshots.py's
    lost-race test) replayed with BOTH writers committing through the
    conditional-PUT adapter: the loser's claim comes back 412, it
    recomputes against the winner's table and lands v3. Both writers'
    rows survive exactly once; local behavior is byte-identical to the
    link-CAS run of the same race."""
    from k8e_fetch_spark.plans import snapshots as snap

    endpoint, responses = put_store
    cas = ConditionalPutCas(endpoint)
    t = tmp_path / "occ"
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    b_comp = spark.createDataFrame([(3, "c")], "k int, v string")
    b_loser = spark.createDataFrame([(3, "c"), (4, "d")], "k int, v string")
    snap.merge_insert_ignore_occ(spark, str(t), b1, cas=cas)

    real_cas = snap._commit_manifest_cas
    state = {"raced": False}

    def racy_cas(table_dir, manifest_name, payload, cas=None):
        if not state["raced"]:
            state["raced"] = True
            # the competitor lands its commit for the SAME version
            # first — over HTTP, like every other commit in this test
            b_comp.write.parquet(str(t / "delta-000002-competitor"))
            live = snap._manifest_dirs(t, "manifest-000001.json")
            real_cas(
                t,
                "manifest-000002.json",
                json.dumps({"dirs": [*live, "delta-000002-competitor"]}),
                cas=cas,
            )
        return real_cas(table_dir, manifest_name, payload, cas=cas)

    monkeypatch.setattr(snap, "_commit_manifest_cas", racy_cas)
    m = snap.merge_insert_ignore_occ(spark, str(t), b_loser, cas=cas)
    assert m == "manifest-000003.json"
    assert _occ_rows(snap.read_manifest_table(spark, t)) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
        (4, "d"),
    ]
    final_dirs = snap._manifest_dirs(t, m)
    delta3 = [d for d in final_dirs if d.startswith("delta-000003")]
    assert len(delta3) == 1
    assert _occ_rows(spark.read.parquet(str(t / delta3[0]))) == [(4, "d")]
    # loser's abandoned v2 delta attempt was cleaned on conflict
    orphans = [
        d.name
        for d in t.iterdir()
        if d.is_dir()
        and d.name.startswith("delta-000002")
        and d.name != "delta-000002-competitor"
    ]
    assert orphans == []
    # v1 win, v2 competitor win, v2 loser 412, v3 win
    assert responses == [201, 201, 412, 201]


def test_occ_checkpoint_through_adapter(spark, tmp_path, put_store):
    from k8e_fetch_spark.plans import snapshots as snap

    endpoint, responses = put_store
    cas = ConditionalPutCas(endpoint)
    t = str(tmp_path / "occ")
    for batch in ([(1, "a")], [(2, "b")]):
        snap.merge_insert_ignore_occ(
            spark, t, spark.createDataFrame(batch, "k int, v string"), cas=cas
        )
    m = snap.checkpoint(spark, t, cas=cas)
    assert m == "manifest-000003.json"
    assert _occ_rows(snap.read_manifest_table(spark, t)) == [(1, "a"), (2, "b")]
    dirs = snap._manifest_dirs(Path(t), m)
    assert len(dirs) == 1 and dirs[0].startswith("base-000003")
    assert responses == [201, 201, 201]


def test_default_path_unchanged_is_linkcas(tmp_path):
    """The no-arg commit funnel IS LinkCas — the shipped local
    behavior (temp file + hard link + temp cleanup), bit-for-bit."""
    from k8e_fetch_spark.plans import snapshots as snap
    from k8e_fetch_spark.plans.cas import DEFAULT_CAS, LinkCas

    assert isinstance(DEFAULT_CAS, LinkCas)
    payload = '{"dirs": ["delta-000001-x"]}'
    snap._commit_manifest_cas(tmp_path, "manifest-000001.json", payload)
    assert (tmp_path / "manifest-000001.json").read_text() == payload
    assert [p.name for p in tmp_path.iterdir()] == ["manifest-000001.json"]
    with pytest.raises(snap.ManifestConflictError):
        snap._commit_manifest_cas(tmp_path, "manifest-000001.json", "{}")


# ---------------------------------------------------------------------------
# Read-back verify (r15, VERDICT r14 #7): the If-None-Match-not-
# authoritative contract edge, pinned in both misbehavior modes.
# ---------------------------------------------------------------------------


def _run_store(handler_cls):
    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler_cls)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server, t, f"http://127.0.0.1:{server.server_address[1]}"


def _broken_store_handler(mode: str):
    """A store whose If-None-Match is NOT authoritative: answers 2xx to
    every racer. mode='keep_first': acks but keeps the first object
    (detectable by read-back). mode='last_wins': overwrites (each
    racer's read-back returns its OWN bytes — undetectable)."""
    objects: dict[str, bytes] = {}
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_PUT(self):
            raw = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            with lock:
                if self.path not in objects or mode == "last_wins":
                    objects[self.path] = raw
                # keep_first: silently drop the loser's bytes — but ACK
            self.send_response(200)
            self.end_headers()

        def do_GET(self):
            with lock:
                body = objects.get(self.path)
            if body is None:
                self.send_response(404)
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    return Handler


def test_read_back_verify_rejects_ack_but_keep_first_store(tmp_path):
    """A store that 200-acks a lost race while keeping the winner's
    object must be REJECTED: the read-back returns the other writer's
    bytes and the claim raises CasContractError — a deployment fault,
    NOT ManifestConflictError (retry-with-recompute would 'win' again
    on such a store and still be unsafe)."""
    from k8e_fetch_spark.plans.cas import CasContractError

    server, t, endpoint = _run_store(_broken_store_handler("keep_first"))
    try:
        a = ConditionalPutCas(endpoint, verify_read_back=True)
        b = ConditionalPutCas(endpoint, verify_read_back=True)
        a.claim(tmp_path, "manifest-000001.json", '{"dirs": ["a"]}')
        with pytest.raises(CasContractError) as exc:
            b.claim(tmp_path, "manifest-000001.json", '{"dirs": ["b"]}')
        assert not isinstance(exc.value, ManifestConflictError)
        # without the verify, the loser silently 'wins' — the hazard
        # the read-back exists to surface
        ConditionalPutCas(endpoint).claim(
            tmp_path, "manifest-000001.json", '{"dirs": ["c"]}'
        )
    finally:
        server.shutdown()
        t.join(timeout=5)


def test_read_back_verify_cannot_detect_last_writer_wins_store(tmp_path):
    """The documented limit that keeps such stores OUT OF CONTRACT
    rather than 'handled': on a last-writer-wins store each racer's
    read-back returns its OWN bytes, so both claims 'verify' cleanly
    while the first commit is silently destroyed. Read-back is a
    fail-fast smoke check, not a correctness mechanism — the contract
    (plans/cas.py docstring) requires an authoritative If-None-Match."""
    server, t, endpoint = _run_store(_broken_store_handler("last_wins"))
    try:
        a = ConditionalPutCas(endpoint, verify_read_back=True)
        b = ConditionalPutCas(endpoint, verify_read_back=True)
        a.claim(tmp_path, "manifest-000001.json", '{"dirs": ["a"]}')
        # b SHOULD lose, but the broken store acks and read-back shows
        # b's own bytes: no exception — exactly why this store class is
        # out of contract, pinned here so the decision is explicit
        b.claim(tmp_path, "manifest-000001.json", '{"dirs": ["b"]}')
    finally:
        server.shutdown()
        t.join(timeout=5)


def test_read_back_verify_passes_on_strict_store(tmp_path):
    """On a contract-honoring store the verify is invisible: winner's
    read-back matches, loser still gets ManifestConflictError."""
    from k8e_fetch_spark.plans.cas import LinkCas as _Link

    link = _Link()

    class StrictHandler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_PUT(self):
            if self.headers.get("If-None-Match") != "*":
                self.send_response(400)
                self.end_headers()
                return
            raw = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            obj = Path("/" + urllib.parse.unquote(self.path).lstrip("/"))
            obj.parent.mkdir(parents=True, exist_ok=True)
            try:
                link.claim(obj.parent, obj.name, raw.decode("utf-8"))
            except ManifestConflictError:
                self.send_response(412)
                self.end_headers()
                return
            self.send_response(201)
            self.end_headers()

        def do_GET(self):
            obj = Path("/" + urllib.parse.unquote(self.path).lstrip("/"))
            if not obj.exists():
                self.send_response(404)
                self.end_headers()
                return
            body = obj.read_bytes()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    server, t, endpoint = _run_store(StrictHandler)
    try:
        cas = ConditionalPutCas(endpoint, verify_read_back=True)
        cas.claim(tmp_path, "manifest-000001.json", '{"dirs": ["a"]}')
        with pytest.raises(ManifestConflictError):
            cas.claim(tmp_path, "manifest-000001.json", '{"dirs": ["b"]}')
        assert json.loads((tmp_path / "manifest-000001.json").read_text()) == {
            "dirs": ["a"]
        }
    finally:
        server.shutdown()
        t.join(timeout=5)
