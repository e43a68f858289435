"""Schema-drift guard for the events table loader.

The driver's regenerated testdata has shipped ``events.ts`` as parquet
TIMESTAMP(NANOS) (rounds 1-2) and plain TIMESTAMP(MICROS) (round 3+).  The
round-3 regression — a hardcoded nanos workaround meeting a micros file —
cost 8 driver rows, the bench, and the pytest suite.  This test writes BOTH
encodings with pyarrow and asserts ``load_table`` and ``streaming_events``
normalize each to identical session-TZ TIMESTAMP values.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cardano_analytics_duckdb_spark.lake.tables import (
    events_ts_encoding,
    load_table,
)

from .probes import session_state

_TS = [
    dt.datetime(2024, 1, 1, 0, 0, 7, 179575),
    dt.datetime(2024, 1, 1, 0, 3, 52, 824425),
    dt.datetime(2024, 6, 30, 23, 59, 59, 999999),
]

# parametrize key -> (pyarrow ts type, expected footer-probe encoding)
_ENCODINGS = {
    "us": (pa.timestamp("us"), "ntz"),
    "ns": (pa.timestamp("ns"), "nanos"),
    "utc": (pa.timestamp("us", tz="UTC"), "utc"),
}


def _write_events(dirname: str, unit: str) -> None:
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(_TS, _ENCODINGS[unit][0]),
            "user_id": pa.array([10, 10, 11], pa.int64()),
            "event_type": pa.array(["click", "view", "purchase"]),
            "value": pa.array([1.5, 2.5, 3.5], pa.float64()),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    pq.write_table(table, os.path.join(dirname, "events.parquet"))


@pytest.mark.parametrize("unit", ["us", "ns", "utc"])
def test_load_table_handles_both_ts_encodings(spark, tmp_path, unit):
    sf_dir = str(tmp_path / unit)
    os.makedirs(sf_dir)
    _write_events(sf_dir, unit)
    assert (
        events_ts_encoding(os.path.join(sf_dir, "events.parquet"))
        == _ENCODINGS[unit][1]
    )
    df = load_table(spark, sf_dir, "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    got = [r.ts for r in df.orderBy("event_id").select("ts").collect()]
    assert got == _TS


@pytest.mark.parametrize("unit", ["us", "ns", "utc"])
def test_streaming_events_handles_both_ts_encodings(spark, tmp_path, unit):
    from cardano_analytics_duckdb_spark.streaming.windows import (
        drained,
        streaming_events,
    )

    sf_dir = str(tmp_path / unit)
    os.makedirs(sf_dir)
    _write_events(sf_dir, unit)
    stream = streaming_events(spark, sf_dir)
    assert stream.isStreaming
    assert stream.schema["ts"].dataType.typeName() == "timestamp"
    before = session_state(spark)
    got = [r.ts for r in drained(stream, "append").orderBy("event_id").collect()]
    assert got == _TS
    assert session_state(spark) == before


def test_spark_written_events_round_trip(spark, tmp_path):
    """An events table written by Spark ITSELF (default writer = INT96
    timestamps, which pyarrow surfaces as timestamp[ns]) must be probed as
    "utc", not "nanos" — the r8 regression: the footer probe classified
    Spark-written compacted/derived event lakes into the nanos-as-long
    workaround, which then failed analysis on a real TIMESTAMP column."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_events(src, "us")
    out_dir = str(tmp_path / "derived")
    os.makedirs(out_dir)
    out = os.path.join(out_dir, "events.parquet")
    load_table(spark, src, "events").write.parquet(out)
    assert events_ts_encoding(out) == "utc"
    df = load_table(spark, out_dir, "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    got = [r.ts for r in df.orderBy("event_id").select("ts").collect()]
    assert got == _TS
