"""Event-time loading across parquet physical types.

The events fixture has shipped as both TIMESTAMP(NANOS) and
TIMESTAMP(MICROS) across generations; an unconditional nanos
conversion broke every events consumer when the fixture changed
(round-2 regression). These tests pin the contract: whatever the
physical type, ``load`` must yield session-tz TIMESTAMP with the same
instants, and the streaming source must accept it for watermarks.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from k8e_fetch_spark.io import _as_event_time, load
from tests.conftest import SF_DIR

UTC = dt.timezone.utc


def test_events_ts_loads_as_timestamp(spark):
    """The fixture (whatever its current physical type) must load as
    plain TIMESTAMP — TIMESTAMP_NTZ would break watermarks, LongType
    would break every time function."""
    events = load(spark, SF_DIR, "events")
    assert isinstance(events.schema["ts"].dataType, T.TimestampType)
    # and it must be usable in a time expression + watermark (the two
    # operations the round-2 regression broke)
    events.select(F.window("ts", "15 minutes")).limit(1).collect()


@pytest.mark.parametrize(
    "writer_type", [T.TimestampType(), T.TimestampNTZType(), T.LongType()]
)
def test_as_event_time_all_physical_types(spark, tmp_path, writer_type):
    """All three historical physical encodings of the same instant
    normalize to the identical TIMESTAMP value."""
    instant = dt.datetime(2024, 5, 14, 12, 30, 45, 123456)
    if isinstance(writer_type, T.LongType):
        # raw nanos since epoch (the nanosAsLong read of TIMESTAMP_NANOS)
        value = int(instant.replace(tzinfo=UTC).timestamp() * 1_000_000) * 1000
    else:
        value = instant
    df = spark.createDataFrame(
        [(1, value)], T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", writer_type),
        ])
    )
    out = df.withColumn("ts", _as_event_time(df.schema["ts"].dataType))
    assert isinstance(out.schema["ts"].dataType, T.TimestampType)
    [row] = out.collect()
    assert row["ts"] == instant  # session tz is UTC; naive datetimes align


def test_streaming_source_ts_is_watermarkable(spark, tmp_path):
    """The streaming file source applies the same normalization — a
    watermark (which rejects TIMESTAMP_NTZ) must attach cleanly."""
    import shutil

    from k8e_fetch_spark.streaming.windows import stream_events

    d = tmp_path / "events_dir"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    stream = stream_events(spark, str(d))
    assert isinstance(stream.schema["ts"].dataType, T.TimestampType)
    stream.withWatermark("ts", "10 minutes")  # raises on NTZ


def test_derived_fixture_rebuilds_only_when_stale(tmp_path):
    from k8e_fetch_spark.io import derived_fixture

    marker, builds = tmp_path / "fp.json", []
    there = {"ok": True}

    def run(fp):
        derived_fixture(marker, fp, lambda: there["ok"], lambda: builds.append(fp))

    run({"v": 1})  # no marker yet
    run({"v": 1})  # current: reused
    assert builds == [{"v": 1}]
    run({"v": 2})  # sources changed
    there["ok"] = False
    run({"v": 2})  # marker current, fixture gone
    marker.write_text("{torn")
    there["ok"] = True
    run({"v": 2})  # unreadable marker
    assert builds == [{"v": 1}, {"v": 2}, {"v": 2}, {"v": 2}]
    assert not list(tmp_path.glob(".*.tmp"))


def test_derived_fixture_does_not_read_a_failing_check_as_stale(tmp_path):
    from k8e_fetch_spark.io import derived_fixture

    marker = tmp_path / "fp.json"
    derived_fixture(marker, {"v": 1}, lambda: True, lambda: None)

    def broken() -> bool:
        raise RuntimeError("catalog down")

    with pytest.raises(RuntimeError, match="catalog down"):
        derived_fixture(marker, {"v": 1}, broken, lambda: pytest.fail("rebuilt"))
