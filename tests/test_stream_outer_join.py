"""Left-OUTER stream-stream join semantics: unmatched left rows are
emitted (right side NULL) only after the watermark passes their join
window — the state-eviction contract that makes outer stream joins
bounded. The inner-join face is driver-checked (t_stream_join); outer
emission depends on watermark ADVANCEMENT, which needs controlled
event times, so it is pinned here with a synthetic staged stream."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from db_loader_spark.session import scoped_conf
from db_loader_spark.streaming.run import drain, file_stream


def _write_shard(spark, path, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(path)


@pytest.mark.parametrize("delay", ["0 seconds"])
def test_left_outer_join_emits_unmatched_after_watermark(spark, tmp_path, delay):
    left_dir = str(tmp_path / "left")
    right_dir = str(tmp_path / "right")
    lschema = "lid INT, lts TIMESTAMP"
    rschema = "rid INT, rts TIMESTAMP, lref INT"

    def ts(s):
        import datetime

        return datetime.datetime.fromisoformat(s)

    # shard 1: L1 matches R1; L2 has no match and must eventually emit
    # with a NULL right side once the watermark passes lts+10min
    _write_shard(
        spark,
        left_dir,
        [(1, ts("2024-01-01 10:00:00")), (2, ts("2024-01-01 10:00:00"))],
        lschema,
    )
    _write_shard(spark, right_dir, [(100, ts("2024-01-01 10:05:00"), 1)], rschema)
    # shards 2-4: both sides advance far past L2's window, batch by
    # batch — outer emission happens in a batch AFTER the watermark
    # passes, and availableNow needs trailing batches to flush it
    for h, (lid, rid) in zip((12, 14, 16), ((3, 101), (4, 102), (5, 103))):
        _write_shard(spark, left_dir, [(lid, ts(f"2024-01-01 {h}:00:00"))], lschema)
        _write_shard(
            spark, right_dir, [(rid, ts(f"2024-01-01 {h}:00:05"), lid)], rschema
        )

    left = file_stream(spark, left_dir).withWatermark("lts", delay)
    right = file_stream(spark, right_dir).withWatermark("rts", delay)
    joined = left.join(
        right,
        F.expr(
            "lref = lid AND rts >= lts AND rts <= lts + INTERVAL 10 MINUTES"
        ),
        "leftOuter",
    )
    out: list = []

    def collect_batch(batch_df, epoch_id):
        out.extend((r["lid"], r["rid"]) for r in batch_df.collect())

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        drain(joined.writeStream.foreachBatch(collect_batch), str(tmp_path))

    got = sorted(out)
    # batch-side truth: every left row, matched where a qualifying
    # right row exists, NULL otherwise
    lb = spark.read.parquet(left_dir)
    rb = spark.read.parquet(right_dir)
    expected = sorted(
        (r["lid"], r["rid"])
        for r in lb.join(
            rb,
            F.expr(
                "lref = lid AND rts >= lts AND rts <= lts + INTERVAL 10 MINUTES"
            ),
            "leftOuter",
        ).collect()
    )
    # the unmatched row really is in the expectation (not vacuous)
    assert (2, None) in expected
    assert got == expected, f"stream {got} != batch {expected}"
