"""Structured Streaming incremental ingest (T1-T5).

The reference's bulk shell loop (scripts/load_csv_to_cloud.sh:107-141)
is: watch a folder, process each new file once, flush in size-triggered
batches, final flush. All four behaviors map onto the file source:

- T1 per-file ingest      → ``spark.readStream.text(dir)``
- T2 already-seen guard   → file-source checkpoint (exactly-once file
                            tracking replaces the DB/CSV dedup probes)
- T3 size-triggered flush → micro-batches (``maxFilesPerTrigger``);
                            no manual 500 MB threshold
- T4 final flush          → ``trigger(availableNow=True)`` drains and
                            stops
- T5 transactional load   → ``foreachBatch``: per-batch idempotent
                            publish (epoch id = the retry token)

The parse itself reuses plans.clojush.parse_clojush_lines — windows
aren't allowed on a streaming frame directly, but inside foreachBatch
each micro-batch is a static DataFrame, so the whole batch plan applies
unchanged.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from db_loader_spark.cache import free_local_checkpoint
from db_loader_spark.plans.clojush import parse_clojush_lines
from db_loader_spark.sources.text_logs import number_lines

TABLE_NAMES = ("experiments", "experiment", "generations", "summary")


def stream_log_tables(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 100,
    available_now: bool = True,
    publish: Callable[[str, DataFrame, int], None] | None = None,
    **parse_kwargs,
):
    """Stream logs from ``in_dir``; publish the four tables per batch.

    Default publish appends parquet under ``out_dir/<table>``; pass
    ``publish(table_name, df, epoch_id)`` to route to JDBC
    (sinks.jdbc_sink) or anywhere else. ``publish`` must finish with
    ``df`` before it returns: the batch's line checkpoint is freed once
    all four tables are published. Returns the StreamingQuery.
    """

    raw = (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .text(in_dir)
        .select(
            F.input_file_name().alias("file"),
            F.col("value").alias("line"),
            # Same split-ordering guard as the batch reader (text_logs).
            F.col("_metadata.file_block_start").alias("_block_start"),
        )
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        lines = number_lines(batch_df)
        # persist_shared: the four per-epoch writes below all derive
        # from one routed line frame (same fold as the CLI, __main__.main)
        tables = parse_clojush_lines(
            batch_df.sparkSession, lines, persist_shared=True, **parse_kwargs
        )
        shared = tables.pop("_shared")
        try:
            for name in TABLE_NAMES:
                df = tables[name]
                if publish is not None:
                    publish(name, df, epoch_id)
                else:
                    # Idempotent under foreachBatch's at-least-once retries:
                    # each epoch owns a partition dir it OVERWRITES, so a
                    # replayed epoch (crash between tables, before the
                    # checkpoint commit) replaces its own half-written
                    # output instead of appending duplicates (T2/T5).
                    df.write.mode("overwrite").parquet(
                        os.path.join(out_dir, name, f"epoch={epoch_id}")
                    )
        finally:
            free_local_checkpoint(shared)

    writer = raw.writeStream.option("checkpointLocation", checkpoint_dir).foreachBatch(
        process_batch
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_event_rollup(
    spark: SparkSession,
    events_dir: str,
    watermark: str = "1 hour",
    window_len: str = "1 hour",
    query_name: str = "event_rollup",
    output_mode: str = "complete",
    max_files_per_trigger: int | None = None,
):
    """Watermarked event-time windowed aggregate over a parquet stream —
    the late-data-tolerant rollup shape (memory sink for tests).

    Default ``complete`` mode emits every window on each trigger, so a
    single-batch ``availableNow`` drain still produces the full rollup
    (in ``append`` mode a window only emits once the watermark passes
    its end — which never happens for the final batch, so a one-file
    source would emit NOTHING). For an unbounded production stream use
    ``append`` + a real sink, where the watermark also bounds state;
    complete mode keeps all windows in state by design.

    ``ts`` is read and decoded as tables.load_table reads it
    (nanos-as-long legacy or native TIMESTAMP micros).
    """
    from db_loader_spark.tables import decode_ts, read_raw_events

    static = read_raw_events(spark, events_dir)
    # The streaming file source wants a directory; events.parquet sits in
    # the sf dir next to the other tables, so glob-filter within it.
    base = events_dir
    glob = None
    if base.endswith(".parquet"):
        base, glob = os.path.dirname(base), os.path.basename(base)
    reader = spark.readStream.schema(static.schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger:
        # One file per micro-batch: over a multi-file source this forces
        # the aggregation STATE to accumulate across several batches —
        # the incremental execution a single-batch drain never exercises.
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(base).withColumn(
        "ts", decode_ts(static.schema["ts"].dataType)
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_len), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
