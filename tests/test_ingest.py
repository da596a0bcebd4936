"""Unit tests for the ingest/repair layer (SURVEY.md §2.1/§2.3, M2)
against the FIXTURES.md §B raw-text fixtures — byte-level pathologies:
LATIN1 + UTF-16 charsets, zip wrappers, spaced/uppercase headers,
quotequote repair cases, evolving schemas."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import types as T

from k8e_fetch_spark.sources import ingest

from k8e_fetch_spark.resources import fixtures_root

FIXTURES = fixtures_root()
# bin/quotequote:3-4, the data-row quote repair, as a committed sed script
QUOTEQUOTE_SED = Path(__file__).parent / "fixtures" / "quotequote_data_rows.sed"


def _all_string(df):
    return all(isinstance(f.dataType, T.StringType) for f in df.schema.fields)


# --- dispatch / naming (op-skip-unknown, op-lower-tablename) -----------


def test_dispatch():
    assert ingest.dispatch("VR_Snapshot_20240514.zip").encoding == "utf-16"
    assert ingest.dispatch("VR_Snapshot_20050101.zip").encoding == "iso-8859-1"
    assert ingest.dispatch("ncvoter_Statewide.zip").encoding == "iso-8859-1"
    assert ingest.dispatch("Candidate_Listing_2024.csv").sep == ","
    assert ingest.dispatch("layout_ncvoter.txt") is None
    assert ingest.dispatch("unknown_thing.bin") is None


def test_table_name_for():
    assert ingest.table_name_for("/x/ncvoter_Statewide.zip") == "ncvoter_statewide"
    assert ingest.table_name_for("VR_Snapshot_20240514.zip") == "vr_snapshot_20240514"
    assert ingest.table_name_for("a/b/Candidate_Listing_2024.csv") == "candidate_listing_2024"


# --- LATIN1 TSV: JVM reader path (op-tsv-scan, op-transcode, op-header-norm)


@pytest.fixture(scope="module")
def ncvoter_tsv(spark):
    spec = ingest.dispatch("ncvoter_Statewide.tsv")
    return ingest.read_source(spark, [str(FIXTURES / "ncvoter_Statewide.tsv")], spec)


def test_ncvoter_headers_normalized(ncvoter_tsv):
    assert ncvoter_tsv.columns[:5] == ["county_id", "voter_reg_num", "ncid", "last_name", "first_name"]
    assert _all_string(ncvoter_tsv)


def test_ncvoter_latin1_decoded(ncvoter_tsv):
    names = {r["last_name"] for r in ncvoter_tsv.collect()}
    assert "RENÉE" in names and "MUÑOZ" in names


# --- zip + LATIN1: Python decode path (op-zip-extract) ------------------


def test_zip_matches_plain(spark):
    spec_zip = ingest.dispatch("ncvoter_Statewide.zip")
    df_zip = ingest.read_source(spark, [str(FIXTURES / "ncvoter_Statewide.zip")], spec_zip)
    spec_tsv = ingest.dispatch("ncvoter_Statewide.tsv")
    df_tsv = ingest.read_source(spark, [str(FIXTURES / "ncvoter_Statewide.tsv")], spec_tsv)
    assert df_zip.columns == df_tsv.columns
    assert sorted(map(tuple, df_zip.collect())) == sorted(map(tuple, df_tsv.collect()))


# --- UTF-16 + quotequote repair (op-transcode, op-quote-repair) ---------


@pytest.fixture(scope="module")
def vr_snapshot(spark):
    spec = ingest.dispatch("VR_Snapshot_20240514.zip")
    return ingest.read_source(spark, [str(FIXTURES / "VR_Snapshot_20240514.zip")], spec)


def test_vr_utf16_rows(vr_snapshot):
    assert vr_snapshot.count() == 3
    assert _all_string(vr_snapshot)


def test_vr_quote_repair(vr_snapshot):
    rows = {r["ncid"]: r for r in vr_snapshot.collect()}
    # caps rule: O"BRIEN -> O'BRIEN (quotequote:4)
    assert rows["AA5"]["last_name"] == 'O\'BRIEN'
    # nickname rule doubles both quotes; .mode tabs keeps them literal
    assert rows["AA5"]["first_name"] == 'JOHN ""JACK""'


# --- quoted CSV + evolving schema (op-csv-scan, op-add-column) ----------


def test_candidate_csv_repair_and_schema_evolution(spark):
    spec = ingest.dispatch("Candidate_Listing_2022.csv")
    df22 = ingest.read_source(spark, [str(FIXTURES / "Candidate_Listing_2022.csv")], spec)
    df24 = ingest.read_source(spark, [str(FIXTURES / "Candidate_Listing_2024.csv")], spec)
    # op-add-column aligns the 2022 vintage with the 2024 email column
    assert "email" in df22.columns and "email" in df24.columns
    r22 = {r["county_name"]: r for r in df22.collect()}
    assert r22["DURHAM"]["contest_name"] == "US SENATE"  # quoted field unquoted
    assert r22["DURHAM"]["email"] is None
    r24 = {r["county_name"]: r for r in df24.collect()}
    assert r24["WAKE"]["candidate_name"] == "SAM O'BRIEN"  # caps repair
    assert r24["WAKE"]["email"] == "sam@example.org"


# --- UTF-16 plain TSV equals its zip ------------------------------------


def test_vr_tsv_matches_zip(spark, vr_snapshot):
    spec = ingest.dispatch("VR_Snapshot_20240514.tsv")
    df_tsv = ingest.read_source(spark, [str(FIXTURES / "VR_Snapshot_20240514.tsv")], spec)
    assert sorted(map(tuple, df_tsv.collect())) == sorted(map(tuple, vr_snapshot.collect()))


# --- malformed rows: PERMISSIVE padding/truncation semantics ------------


def test_ragged_rows_permissive(spark, tmp_path):
    """Rows with too few fields parse with trailing NULLs; rows with too
    many keep the schema width (extra fields dropped) — the PERMISSIVE
    contract that keeps one bad line from killing a 100 TB load."""
    p = tmp_path / "ragged_ncvoter_statewide.tsv"
    p.write_bytes(b"COL A\tCOL B\tCOL C\nx\ty\nz\ty2\tc2\textra\n")
    spec = ingest.ReaderSpec(sep="\t", encoding="iso-8859-1")
    df = ingest.read_source(spark, [str(p)], spec)
    assert df.columns == ["col_a", "col_b", "col_c"]
    rows = sorted(map(tuple, df.collect()))
    assert rows == [("x", "y", None), ("z", "y2", "c2")]


# --- transcode ground truth: our decode == iconv (the reference's tool) --


def test_transcode_matches_iconv(spark, tmp_path):
    """The reference pipes through ``iconv -f LATIN1/UTF-16 -t UTF-8``
    (fetcher.bash:105-110), then through ``bin/quotequote``. Ground truth:
    our decoded rows must equal what iconv itself produces from the same
    bytes; for the VR fixture, after ``sed -f`` runs the committed
    data-row rules of quotequote (``fixtures/quotequote_data_rows.sed``)."""
    import subprocess

    for name, enc_spark, enc_iconv in [
        ("ncvoter_Statewide.tsv", "iso-8859-1", "LATIN1"),
        ("VR_Snapshot_20240514.tsv", "utf-16", "UTF-16"),
    ]:
        raw = (FIXTURES / name).read_bytes()
        iconv_text = subprocess.run(
            ["iconv", "-f", enc_iconv, "-t", "UTF-8"],
            input=raw,
            capture_output=True,
            check=True,
        ).stdout.decode("utf-8")
        iconv_lines = [ln for ln in iconv_text.split("\n") if ln]

        spec = ingest.ReaderSpec(sep="\t", encoding=enc_spark)
        df = ingest.read_source(spark, [str(FIXTURES / name)], spec)
        # reassemble rows as tab-joined lines; header from iconv line 0
        got_lines = [
            "\t".join("" if v is None else v for v in row) for row in map(tuple, df.collect())
        ]
        want_data = iconv_lines[1:]
        # quote repair applies to VR data rows before parse; mirror it
        if name.startswith("VR_"):
            want_data = [
                subprocess.run(
                    ["sed", "-f", str(QUOTEQUOTE_SED)],
                    input="HDR\n" + ln + "\n",
                    capture_output=True,
                    text=True,
                    check=True,
                ).stdout.splitlines()[1]
                for ln in want_data
            ]
            spec = ingest.dispatch(name)
            df = ingest.read_source(spark, [str(FIXTURES / name)], spec)
            got_lines = [
                "\t".join("" if v is None else v for v in row) for row in map(tuple, df.collect())
            ]
        assert sorted(got_lines) == sorted(want_data), name


# --- driver-side header + decode width -----------------------------------


@pytest.mark.parametrize(
    "name",
    [
        "VR_Snapshot_20240514.zip",  # UTF-16 with BOM, zipped
        "VR_Snapshot_20240514.tsv",  # UTF-16 with BOM
        "ncvoter_Statewide.zip",  # LATIN1, zipped
        "Candidate_Listing_2022.csv",  # quoted CSV, op-add-column
    ],
)
def test_header_is_decoded_line_zero(spark, name):
    """The column list read on the driver is line 0 of the decoded rows
    (the Spark-side probe, written out here), normalized."""
    from pyspark.sql import functions as F

    from k8e_fetch_spark.operators.repair import normalize_header_name

    spec = ingest.dispatch(name)
    path = str(FIXTURES / name)
    probe = ingest.raw_lines(spark, [path], spec.encoding).filter(F.col("line_no") == 0)
    line0 = probe.select("line").first()["line"]
    want = [normalize_header_name(c) for c in line0.split(spec.sep)]
    want += [c for c in spec.add_columns if c not in want]
    assert ingest.read_source(spark, [path], spec).columns == want


def test_source_without_lines_has_no_header(spark, tmp_path):
    """An empty zip member, a zip with no file member, an empty file and
    a UTF-16 file holding only its BOM have no line 0 to name columns."""
    import zipfile

    empty_member = tmp_path / "ncvoter_empty.zip"
    with zipfile.ZipFile(empty_member, "w") as zf:
        zf.writestr("ncvoter_empty.tsv", b"")
    dir_only = tmp_path / "ncvoter_dironly.zip"
    with zipfile.ZipFile(dir_only, "w") as zf:
        zf.writestr("sub/", b"")
    empty_file = tmp_path / "vr_snapshot_empty.tsv"
    empty_file.write_bytes(b"")
    bom_only = tmp_path / "vr_snapshot_bom.tsv"
    bom_only.write_bytes("".encode("utf-16"))
    for path in (empty_member, dir_only, empty_file, bom_only):
        spec = ingest.dispatch(path.name)
        with pytest.raises(ValueError, match="no header row found"):
            ingest.read_source(spark, [str(path)], spec)


def test_decode_width_follows_split_size(spark):
    """A zip member that is one file split keeps its decode task's
    partition; a larger one is spread round-robin over as many
    partitions as Spark's file scan would split it into — at most
    maxPartitionBytes per split, at least openCostInBytes, no more than
    the bytes per core — capped at defaultParallelism. Same rows in
    every plan."""
    import zipfile

    from k8e_fetch_spark.testing import formatted_plan

    name = "ncvoter_Statewide.zip"
    path = str(FIXTURES / name)
    spec = ingest.dispatch(name)
    with zipfile.ZipFile(path) as zf:
        member_bytes = zf.infolist()[0].file_size
    cores = spark.sparkContext.defaultParallelism
    narrow = ingest.read_source(spark, [path], spec)
    assert "Exchange" not in formatted_plan(narrow)
    narrow_rows = sorted(map(tuple, narrow.collect()))

    split = 128
    for key, value, n in [
        ("spark.sql.files.maxPartitionBytes", f"{split}b", min(cores, -(-member_bytes // split))),
        # a negligible open cost leaves the bytes-per-core share: one split per core
        ("spark.sql.files.openCostInBytes", "1b", cores),
    ]:
        prev = spark.conf.get(key)
        spark.conf.set(key, value)
        try:
            wide = ingest.read_source(spark, [path], spec)
            plan, rows = formatted_plan(wide), sorted(map(tuple, wide.collect()))
        finally:
            spark.conf.set(key, prev)
        assert n > 1
        assert plan.count("RoundRobinPartitioning(") == 1, plan
        assert f"RoundRobinPartitioning({n})" in plan, plan
        assert rows == narrow_rows
