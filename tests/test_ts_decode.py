"""Regression: events.ts decode must be schema-adaptive.

The external driver regenerated events.parquet between rounds with a
different physical ts encoding — TIMESTAMP(NANOS) (readable only as
long via nanosAsLong) in r1-r2, plain TIMESTAMP(MICROS) (read as
TIMESTAMP_NTZ) from r3 — and a decode hard-coded to one encoding
silently voided an entire correctness round (CORRECTNESS_r03: 9 errored
keys, BENCH_r03 crashed). These tests pin that load_table yields the
same canonical column (TIMESTAMP, identical micros) for every encoding
the data has ever shipped with.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import LongType, TimestampType

from db_loader_spark.tables import decode_ts, load_table

# Naive micros since epoch for two instants, one with sub-millisecond
# precision to catch any decode that truncates to millis.
_US = [1_690_000_000_123_456, 1_690_000_003_000_001]
_EVENT_COLS = {
    "event_id": [1, 2],
    "user_id": [10, 20],
    "event_type": ["click", "view"],
    "value": [1.5, 2.5],
    "props": ["{}", "{}"],
}


def _write_events(dirpath, ts_array) -> str:
    cols = dict(_EVENT_COLS)
    table = pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array(cols["props"], pa.string()),
        }
    )
    pq.write_table(table, str(dirpath / "events.parquet"))
    return str(dirpath)


def _decoded_micros(spark, sf_dir: str) -> list[int]:
    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    rows = df.orderBy("event_id").select("ts").collect()
    epoch = datetime.datetime(1970, 1, 1)
    return [
        round((r["ts"] - epoch).total_seconds() * 1_000_000) for r in rows
    ]


def test_decode_micros_timestamp(spark, tmp_path):
    """Current driver encoding: parquet TIMESTAMP(MICROS) → NTZ read."""
    d = tmp_path / "micros"
    d.mkdir()
    _write_events(d, pa.array(_US, pa.timestamp("us")))
    assert _decoded_micros(spark, str(d)) == _US


def test_decode_nanos_legacy(spark, tmp_path):
    """r1-r2 driver encoding: TIMESTAMP(NANOS), nanosAsLong long read,
    exact integer div to micros."""
    d = tmp_path / "nanos"
    d.mkdir()
    _write_events(d, pa.array([us * 1000 + 789 for us in _US],
                              pa.timestamp("ns")))
    # floor(ns/1000): the +789 ns must truncate, not round up
    assert _decoded_micros(spark, str(d)) == _US


def test_decode_ts_rejects_nothing_known(spark):
    """decode_ts covers every dtype the data has shipped with."""
    from pyspark.sql.types import TimestampNTZType

    for dt in (LongType(), TimestampType(), TimestampNTZType()):
        col = decode_ts(dt)
        assert col is not None


def test_real_testdata_reads(spark, sf_dir):
    """The actual driver testdata loads and ts is canonical TIMESTAMP."""
    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    assert df.limit(1).count() == 1


def test_stream_rollup_reads_nanos_events_like_micros(spark, tmp_path):
    """stream_event_rollup reads events through the same reader as
    load_table: a TIMESTAMP(NANOS) file on a session that does not read
    nanos as long rolls up exactly as the MICROS file of the same
    instants."""
    from db_loader_spark.session import scoped_conf
    from db_loader_spark.streaming.file_ingest import stream_event_rollup

    def rollup(ts_array, name: str) -> set:
        d = tmp_path / name
        d.mkdir()
        _write_events(d, ts_array)
        q = stream_event_rollup(spark, str(d / "events.parquet"), query_name=name)
        q.awaitTermination()
        return {tuple(r) for r in spark.table(name).collect()}

    micros = rollup(pa.array(_US, pa.timestamp("us")), "rollup_micros")
    with scoped_conf(spark, {"spark.sql.legacy.parquet.nanosAsLong": "false"}):
        nanos = rollup(
            pa.array([us * 1000 + 789 for us in _US], pa.timestamp("ns")),
            "rollup_nanos",
        )
    assert nanos == micros and len(micros) == 2
