"""The availableNow drain the registry's stream keys run.

Each key is the reference's incremental loop (watch a folder, process
each file once, flush, final drain; scripts/load_csv_to_cloud.sh:107-141)
over staged parquet: a file stream reading one file per micro-batch, a
``foreachBatch`` (or memory) sink, and an availableNow trigger that
drains every staged file and stops. This module holds the pieces every
such drain repeats, so a wrapper only says what its stream computes and
what each batch publishes.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from db_loader_spark.session import scoped_conf

# State-store partition count for the drains. Stateful operators
# instantiate one state store per shuffle partition per micro-batch,
# and the count is frozen by the first batch's checkpoint, so it is
# sized to stream volume, not CPU count: the rollup state here is a few
# thousand rows, and a 32-partition session default × 4 batches = 128
# store instantiations was pure overhead (measured 3.5-4.0 s → ~2.2 s
# at 8).
STREAM_SHUFFLE_PARTITIONS = 8


def file_stream(spark: SparkSession, stage: str) -> DataFrame:
    """The staged parquet under ``stage`` as a file stream with the
    stage's own schema, one file per trigger: each staged file is one
    micro-batch, so state crosses every file boundary."""
    return (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )


@contextmanager
def stream_shuffle(spark: SparkSession):
    """``spark.sql.shuffle.partitions`` scoped to
    ``STREAM_SHUFFLE_PARTITIONS`` for a query started inside."""
    conf = {"spark.sql.shuffle.partitions": str(STREAM_SHUFFLE_PARTITIONS)}
    with scoped_conf(spark, conf):
        yield


@contextmanager
def drain_scope(spark: SparkSession) -> Iterator[str]:
    """A fresh per-run scratch dir under ``stream_shuffle``, removed on
    exit. The dir holds the checkpoint (and whatever else the caller
    puts there), and it must be fresh for every call: a reused
    availableNow checkpoint sees no new files, runs zero batches and
    publishes nothing. Anything read back from the dir must be
    materialized inside the scope."""
    run_dir = tempfile.mkdtemp(prefix="db_loader_stream_run_")
    try:
        with stream_shuffle(spark):
            yield run_dir
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def drain(writer: DataStreamWriter, run_dir: str) -> StreamingQuery:
    """Start ``writer`` with its checkpoint under ``run_dir`` and an
    availableNow trigger, and wait until every available file has been
    processed. A failed batch raises here (``StreamingQueryException``)
    and leaves no active query behind."""
    q = (
        writer.option("checkpointLocation", os.path.join(run_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def epoch_writer(out_dir: str):
    """A ``foreachBatch`` body that publishes each batch to its own
    ``out_dir/epoch=N`` dir in overwrite mode: a replayed epoch
    replaces its own half-written output, so the net effect is
    exactly once under foreachBatch's at-least-once contract."""

    def publish(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )

    return publish
