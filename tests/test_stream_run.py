"""The availableNow drain helpers (streaming/run.py): a drain runs
every staged file as its own micro-batch, and a failed batch raises
without leaving a conf, a scratch dir or an active query behind."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import StreamingQueryException

from db_loader_spark.streaming.run import (
    STREAM_SHUFFLE_PARTITIONS,
    drain,
    drain_scope,
    epoch_writer,
    file_stream,
)

KEY = "spark.sql.shuffle.partitions"


def _stage(spark, path, files=2):
    spark.range(0, 10 * files, 1, files).write.parquet(path)
    return path


def test_drain_runs_one_batch_per_file_and_publishes_each_epoch(spark, tmp_path):
    stage = _stage(spark, str(tmp_path / "stage"))
    with drain_scope(spark) as run_dir:
        assert spark.conf.get(KEY) == str(STREAM_SHUFFLE_PARTITIONS)
        out_dir = os.path.join(run_dir, "out")
        q = drain(file_stream(spark, stage).writeStream.foreachBatch(epoch_writer(out_dir)), run_dir)
        assert len({p["batchId"] for p in q.recentProgress}) == 2
        assert sorted(os.listdir(out_dir)) == ["epoch=0", "epoch=1"]
        got = spark.read.parquet(os.path.join(out_dir, "epoch=*"))
        assert sorted(r.id for r in got.collect()) == list(range(20))
    assert not os.path.exists(run_dir)


def test_failed_batch_raises_and_releases_everything(spark, tmp_path):
    stage = _stage(spark, str(tmp_path / "stage"))
    before = spark.conf.get(KEY, None)
    seen = {}

    def fail(batch_df, epoch_id):
        raise RuntimeError("batch boom")

    with pytest.raises(StreamingQueryException, match="batch boom"):
        with drain_scope(spark) as run_dir:
            seen["run_dir"] = run_dir
            drain(file_stream(spark, stage).writeStream.foreachBatch(fail), run_dir)
    assert spark.conf.get(KEY, None) == before
    assert not os.path.exists(seen["run_dir"])
    assert spark.streams.active == []
