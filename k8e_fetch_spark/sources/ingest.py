"""Ingest layer: zip + charset + malformed-CSV decode into all-string tables.

Re-expresses the reference's import pipe — ``unzip -p f | iconv -f ENC
-t UTF-8 | sed -f quotequote | sqlite3 .import``
(/root/reference/bin/fetcher.bash:96,105-110,119-120) — as Spark stages:

- **op-zip-extract + op-transcode**: Spark has no zip codec for CSV, so
  zips go through ``binaryFile`` + a *streaming* ``mapInPandas`` decode
  (iterator in, iterator out: one zip member is decoded incrementally,
  never materialized whole — the UNIX-pipe property the reference relies
  on, preserved at 100 TB). Plain LATIN1/ASCII files never leave the JVM:
  ``spark.read.csv(encoding=...)`` decodes them in the vectorized reader.
  UTF-16 routes through the Python path because the JVM text splitter
  assumes byte-oriented newlines.
- **op-quote-repair**: the quotequote sed chain as ``regexp_replace`` on
  the raw line (JVM, whole-stage codegen) before ``from_csv`` parses it.
- **op-tsv-scan / op-csv-scan**: all columns ``StringType`` (sqlite
  ``.import`` semantics — the reference types nothing, SURVEY.md §1.2);
  header row 1 becomes the normalized column list (op-header-norm).
- **op-lower-tablename**: table = lowercase(basename up to first dot)
  (fetcher.bash:92-94).
- **op-skip-unknown**: dispatch table keyed on filename pattern; files
  matching no rule are synced-but-never-loaded (fetcher.bash:115-118).

Scale notes: one zip member = one decode task (DEFLATE streams are not
splittable). The rows it decodes to are spread round-robin before repair
and parse over as many partitions as Spark's file scan would split the
uncompressed member into (``FilePartition.maxSplitBytes``: at most
``spark.sql.files.maxPartitionBytes`` per split, at least
``spark.sql.files.openCostInBytes``, no more than the bytes per core),
capped at the default parallelism; a member that is one split adds no
exchange. The column list (line 0) and the member size are read on the
driver from the local file through the same member opener and line
splitter the decode stage runs, so planning a load starts no Spark job.
"""

from __future__ import annotations

import contextlib
import io
import re
import zipfile
from collections.abc import Iterator
from dataclasses import dataclass, field
from typing import BinaryIO

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from k8e_fetch_spark.operators.repair import normalize_header_name, quote_repair

LINES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("line_no", T.LongType()),
        T.StructField("line", T.StringType()),
    ]
)

_BATCH_LINES = 10_000


@dataclass(frozen=True)
class ReaderSpec:
    """How to decode one source family (cf. ItemCmds, fetcher.bash:90-122)."""

    sep: str = "\t"
    encoding: str = "utf-8"
    zipped: bool = False
    repair: bool = False  # apply quotequote chain to data rows
    quoted: bool = False  # sqlite .mode csv (RFC-4180) vs .mode tabs (no quoting)
    add_columns: tuple[str, ...] = field(default_factory=tuple)  # op-add-column


# Dispatch table ≙ the case statement at fetcher.bash:98-118. Ordered;
# first match wins; no match → file is skipped at load.
DISPATCH: tuple[tuple[str, ReaderSpec | None], ...] = (
    (r"(?i)^vr_snapshot_200[5-7].*\.zip$", ReaderSpec(encoding="iso-8859-1", zipped=True, repair=True)),
    (r"(?i)^vr_snapshot.*\.zip$", ReaderSpec(encoding="utf-16", zipped=True, repair=True)),
    (r"(?i)^vr_snapshot.*\.tsv$", ReaderSpec(encoding="utf-16", repair=True)),
    (r"(?i)^ncvoter.*\.zip$", ReaderSpec(encoding="iso-8859-1", zipped=True)),
    (r"(?i)^ncvhis.*\.zip$", ReaderSpec(encoding="iso-8859-1", zipped=True)),
    (r"(?i)^ncvoter.*\.tsv$", ReaderSpec(encoding="iso-8859-1")),
    (
        r"(?i)^candidate_listing.*\.csv$",
        ReaderSpec(sep=",", repair=True, quoted=True, add_columns=("email",)),
    ),
    (r"(?i)^layout.*\.txt$", None),  # synced but not loaded
)


def dispatch(filename: str) -> ReaderSpec | None:
    """op-skip-unknown: reader config for a filename, or None to skip."""
    base = filename.rsplit("/", 1)[-1]
    for pattern, spec in DISPATCH:
        if re.match(pattern, base):
            return spec
    return None


def table_name_for(path: str) -> str:
    """op-lower-tablename: lowercase basename up to the first dot
    (``${base%%.*}``, ``${t1,,}`` — fetcher.bash:92-94)."""
    base = path.rsplit("/", 1)[-1]
    return base.split(".", 1)[0].lower()


# --- decode stages ------------------------------------------------------


_DECODE_CHUNK_CHARS = 1 << 20  # 1M chars per decoded chunk


def _lines(stream: BinaryIO, encoding: str) -> Iterator[str]:
    r"""Decode a binary stream incrementally (never whole-file-as-str) into
    lines split on \n exactly — like the reference's sed|sqlite pipe and
    unlike ``str.splitlines``, which also splits on NEL/VT/FF. A trailing
    \r is stripped per line (\r\n input); undecodable bytes become
    U+FFFD. Chunked decode + ``str.split`` rather than per-line
    TextIOWrapper iteration: one zip member is one task, so this loop is
    the ingest critical path."""
    text = io.TextIOWrapper(stream, encoding=encoding, errors="replace", newline="")
    carry = ""
    while True:
        chunk = text.read(_DECODE_CHUNK_CHARS)
        if not chunk:
            break
        parts = (carry + chunk).split("\n")
        carry = parts.pop()  # text after the last \n (maybe partial)
        for ln in parts:
            yield ln.rstrip("\r")
    if carry:
        yield carry.rstrip("\r")


@contextlib.contextmanager
def _member(name: str, stream: BinaryIO) -> Iterator[tuple[BinaryIO, int]]:
    """The payload of one source file and its uncompressed byte size: the
    first file member of a zip (reference zips carry a single member,
    ``unzip -p``; a zip with none has an empty payload), or the file."""
    if not name.lower().endswith(".zip"):
        size = stream.seek(0, io.SEEK_END)
        stream.seek(0)
        yield stream, size
        return
    with zipfile.ZipFile(stream) as zf:
        info = next((m for m in zf.infolist() if not m.is_dir()), None)
        if info is None:
            yield io.BytesIO(), 0
            return
        with zf.open(info) as mf:
            yield mf, info.file_size


def _decode_member(name: str, stream: BinaryIO, encoding: str) -> Iterator[tuple[str, int, str]]:
    """Stream (path, line_no, line) from one source file opened as a
    binary stream, decoding its member incrementally."""
    with _member(name, stream) as (payload, _):
        for i, ln in enumerate(_lines(payload, encoding)):
            yield name, i, ln


def _head(path: str, encoding: str) -> str | None:
    r"""Line 0 of a local source file (None when it has no lines), read on
    the driver with the decode stage's own member opener and line
    splitter — so BOMs, \r and undecodable bytes give the same header
    here as in the decoded rows."""
    with open(path, "rb") as f, _member(path, f) as (payload, _):
        return next(_lines(payload, encoding), None)


def _member_bytes(path: str) -> int:
    """Uncompressed size of a local source file's member (zip central
    directory; nothing is decompressed)."""
    with open(path, "rb") as f, _member(path, f) as (_, size):
        return size


def raw_lines(spark: SparkSession, paths: list[str], encoding: str) -> DataFrame:
    """op-zip-extract + op-transcode: binary scan → streaming decode to
    (path, line_no, line). Python touches bytes only here; everything
    after is JVM-side."""
    import pandas as pd

    binary = spark.read.format("binaryFile").load(paths)

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for path, raw in zip(pdf["path"], pdf["content"]):
                buf: list[tuple[str, int, str]] = []
                for rec in _decode_member(path, io.BytesIO(raw), encoding):
                    buf.append(rec)
                    if len(buf) >= _BATCH_LINES:
                        yield pd.DataFrame(buf, columns=["path", "line_no", "line"])
                        buf = []
                if buf:
                    yield pd.DataFrame(buf, columns=["path", "line_no", "line"])

    return binary.select("path", "content").mapInPandas(decode, LINES_SCHEMA)


def _csv_options(sep: str, quoted: bool) -> dict[str, str]:
    """sqlite parse semantics: ``.mode csv`` = RFC-4180 (doubled-quote
    escaping, unescaped quotes in unquoted fields stay literal);
    ``.mode tabs`` = no quote processing at all (quote char disabled)."""
    if quoted:
        return {
            "sep": sep,
            "quote": '"',
            "escape": '"',
            "unescapedQuoteHandling": "STOP_AT_DELIMITER",
        }
    return {"sep": sep, "quote": "\u0000"}


def parse_lines(
    lines: DataFrame,
    header: str,
    sep: str,
    repair: bool = False,
    quoted: bool = False,
    rebalance_to: int | None = None,
) -> DataFrame:
    """Raw (path, line_no, line) → all-string table.

    ``header`` is the sources' line 0: split on ``sep`` and normalized
    (op-header-norm), it is the column list, and line 0 of every file is
    left out of the data. Data rows are optionally quote-repaired
    (op-quote-repair), then parsed by ``from_csv`` with an all-StringType
    schema — JVM parse. ``rebalance_to`` inserts a round-robin exchange
    BETWEEN decode and parse, so repair + parse of an unsplittable zip
    member run at that width.
    """
    columns = [normalize_header_name(c) for c in header.split(sep)]
    ddl = ", ".join(f"`{c}` STRING" for c in columns)

    data = lines.filter(F.col("line_no") > 0)
    if rebalance_to:
        data = data.repartition(rebalance_to)
    line = F.col("line")
    if repair:
        line = quote_repair(line)
    return data.select(F.from_csv(line, ddl, _csv_options(sep, quoted)).alias("_r")).select(
        "_r.*"
    )


def read_plain_delimited(
    spark: SparkSession, paths: list[str], sep: str, encoding: str, quoted: bool = False
) -> DataFrame:
    """op-tsv-scan / op-csv-scan, pure-JVM path for byte-oriented
    charsets: vectorized CSV reader with all-string schema, no
    inference, header normalized after read (metadata-only rename)."""
    reader = (
        spark.read.option("header", True)
        .option("inferSchema", False)
        .option("encoding", encoding)
    )
    for k, v in _csv_options(sep, quoted).items():
        reader = reader.option(k, v)
    df = reader.csv(paths)
    return df.toDF(*[normalize_header_name(c) for c in df.columns])


def _decode_width(spark: SparkSession, member_bytes: int) -> int:
    """Partitions for the rows decoded from zip members of ``member_bytes``
    uncompressed bytes: the splits Spark's file scan would cut from an
    uncompressed file that size — ``maxPartitionBytes``, but no smaller
    than ``openCostInBytes`` and no larger than the bytes per core
    (``FilePartition.maxSplitBytes``) — capped at the default
    parallelism."""
    try:
        cores = spark.sparkContext.defaultParallelism
        conf = spark._jsparkSession.sessionState().conf()
        max_split, open_cost = conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes()
    except Exception:  # Spark Connect: no SparkContext handle; Spark's defaults
        cores, max_split, open_cost = 32, 128 << 20, 4 << 20
    split = min(max_split, max(open_cost, (member_bytes + open_cost) // cores))
    return min(cores, -(-member_bytes // split))


def read_source(spark: SparkSession, paths: list[str], spec: ReaderSpec) -> DataFrame:
    """Full decode for one source family per its ReaderSpec, ending in an
    all-string DataFrame with normalized headers (+ op-add-column for
    evolving schemas, cf. fetcher.bash:103). ``paths`` are local files of
    one family; the column list is line 0 of ``paths[0]``."""
    needs_python = spec.zipped or spec.encoding.lower().replace("_", "-") in (
        "utf-16",
        "utf-16le",
        "utf-16be",
    )
    if needs_python or spec.repair:
        header = _head(paths[0], spec.encoding)
        if header is None:
            raise ValueError("no header row found")
        width = _decode_width(spark, sum(map(_member_bytes, paths))) if spec.zipped else 1
        df = parse_lines(
            raw_lines(spark, paths, spec.encoding),
            header,
            spec.sep,
            repair=spec.repair,
            quoted=spec.quoted,
            rebalance_to=width if width > 1 else None,
        )
    else:
        df = read_plain_delimited(spark, paths, spec.sep, spec.encoding, quoted=spec.quoted)
    for c in spec.add_columns:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast("string"))
    return df
