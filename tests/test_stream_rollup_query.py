"""t_stream_rollup: the driver-witnessed streaming query.

The oracle row proves stream ≡ batch under the driver's hash; these
tests pin the properties the oracle can't see — that the run is a REAL
multi-batch incremental execution (state carried across micro-batches,
not a one-batch drain) and that repeated invocations in one session
are idempotent (fresh stream per call)."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_stream_rollup_is_multi_batch_and_equals_batch(spark):
    from db_loader_spark.queries.streamingq import _staged_events
    from db_loader_spark.streaming.file_ingest import stream_event_rollup
    from db_loader_spark.tables import load_table

    stage = _staged_events(spark, SF)
    q = stream_event_rollup(
        spark, stage, query_name="t_mb_check", max_files_per_trigger=1
    )
    q.awaitTermination()
    batches = {p["batchId"] for p in q.recentProgress}
    assert len(batches) >= 2, "expected state to accumulate across micro-batches"

    got = {tuple(r) for r in spark.table("t_mb_check").collect()}
    batch = (
        load_table(spark, SF, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    assert got == {tuple(r) for r in batch.collect()}


def test_staging_invalidated_on_source_change(spark, tmp_path):
    """The staged shards are keyed on the SOURCE's size+mtime: when the
    driver re-ships events.parquet (it did in r3), the next call
    restages instead of serving the stale copy."""
    import os
    import shutil

    from db_loader_spark.queries.streamingq import _staged_events

    src = tmp_path / "sfdir"
    src.mkdir()
    shutil.copy(f"{SF}/events.parquet", src / "events.parquet")
    stage = _staged_events(spark, str(src))
    first_stamp = open(os.path.join(stage, "_SOURCE_STAMP")).read()
    # simulate a re-shipped table: same path, new mtime
    os.utime(src / "events.parquet")
    stage2 = _staged_events(spark, str(src))
    assert stage2 == stage
    assert open(os.path.join(stage, "_SOURCE_STAMP")).read() != first_stamp


def test_stale_layout_stage_restages_under_new_stamp(spark, tmp_path):
    """r10 migration pin: a warm stage carrying the PRE-r10 suffix-less
    stamp text (the old default-layout form) must restage at the new
    2-shard layout — the stamp↔layout bijection means old-format
    stamps can never validate."""
    import os
    import shutil

    from db_loader_spark.queries.streamingq import SHARDS_SHAVED, _stage_table
    from db_loader_spark.staging import source_stamp

    src = tmp_path / "sfdir"
    src.mkdir()
    shutil.copy(f"{SF}/events.parquet", src / "events.parquet")
    stage = _stage_table(spark, str(src), "events", "migr")
    files = [f for f in os.listdir(stage) if f.endswith(".parquet")]
    assert len(files) == SHARDS_SHAVED
    stamp_path = os.path.join(stage, "_SOURCE_STAMP")
    new_stamp = open(stamp_path).read()
    assert new_stamp.endswith(f":shards{SHARDS_SHAVED}")
    # forge the pre-r10 stamp text (no layout suffix) over a fake old
    # 4-file layout; the next call must reject it and restage
    for f in files[:1]:
        for i in (97, 98):  # two extra fake shard files
            shutil.copy(
                os.path.join(stage, f), os.path.join(stage, f"part-fake{i}.parquet")
            )
    with open(stamp_path, "w") as fh:
        fh.write(source_stamp(str(src / "events.parquet")))
    stage2 = _stage_table(spark, str(src), "events", "migr")
    assert stage2 == stage
    assert open(stamp_path).read() == new_stamp
    files2 = [f for f in os.listdir(stage) if f.endswith(".parquet")]
    assert len(files2) == SHARDS_SHAVED  # fake extra shards were wiped


def test_stream_dedup_actually_removes_duplicates(spark):
    """The staged input really is 2× the table (the dedup has work to
    do), and the streamed output equals exactly one copy."""
    from db_loader_spark.queries import all_queries
    from db_loader_spark.staging import stage_path
    from db_loader_spark.tables import load_table

    n_one = load_table(spark, SF, "events").count()
    out = all_queries()["t_stream_dedup"].spark(spark, SF)
    assert out.agg(F.sum("n_events")).first()[0] == n_one
    stage = stage_path(SF, "stream_dup")
    assert spark.read.parquet(stage).count() == 2 * n_one


def test_decontaminate_no_gate_path_matches(spark):
    """broadcast_limit_bytes=None skips the sizing job entirely and
    defers to autoBroadcastJoinThreshold — values identical."""
    from db_loader_spark import cache
    from db_loader_spark.functions.dedup import decontaminate
    from db_loader_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    is_b = F.expr("substring(md5(CAST(doc_id AS STRING)), 1, 1) = '0'")
    gated = decontaminate(docs.filter(~is_b), docs.filter(is_b))
    ungated = decontaminate(
        docs.filter(~is_b), docs.filter(is_b), broadcast_limit_bytes=None
    )
    assert sorted(map(tuple, gated.collect())) == sorted(map(tuple, ungated.collect()))
    cache.release()


def test_stream_join_is_multi_batch_and_complete(spark, tmp_path):
    """The stream-stream interval join emits matches across MULTIPLE
    micro-batches (symmetric-hash state buffering both sides — with 2
    random shards per side an order and its lineitems often land in
    different files, so later epochs must match against earlier epochs'
    buffered state) and the union over epochs is EXACTLY the batch interval
    join — no row dropped by the span-covering watermark, none
    duplicated across epochs."""
    from db_loader_spark.queries.streamingq import ORDER_ITEM_JOIN, order_item_stream
    from db_loader_spark.streaming.run import drain, stream_shuffle
    from db_loader_spark.tables import load_table

    per_epoch: dict[int, int] = {}

    def count_epoch(batch_df, epoch_id):
        per_epoch[epoch_id] = batch_df.count()

    joined = order_item_stream(spark, SF).select("l_orderkey", "l_linenumber")
    with stream_shuffle(spark):
        drain(joined.writeStream.foreachBatch(count_epoch), str(tmp_path))

    producing = [e for e, n in per_epoch.items() if n > 0]
    assert len(producing) >= 2, f"matches confined to one epoch: {per_epoch}"
    batch_n = (
        load_table(spark, SF, "orders")
        .join(load_table(spark, SF, "lineitem"), F.expr(ORDER_ITEM_JOIN))
        .count()
    )
    assert sum(per_epoch.values()) == batch_n


def test_stream_join_survives_stop_and_resume(spark, tmp_path):
    """T2 crash-resume for the stream-stream join: stop after ≥1
    published epoch, restart on the SAME checkpoint with an
    availableNow drain — the symmetric-hash join STATE (both sides'
    buffered rows) must restore from the checkpoint so cross-restart
    matches still emit, and epoch-overwrite publishes absorb any
    replayed torn batch. Final union over epochs == the batch interval
    join, each match exactly once."""
    import os
    import time as _time

    from db_loader_spark.queries.streamingq import ORDER_ITEM_JOIN, order_item_stream
    from db_loader_spark.streaming.run import drain, epoch_writer
    from db_loader_spark.tables import load_table

    out_dir = str(tmp_path / "out")

    def writer():
        return (
            order_item_stream(spark, SF)
            .select("l_orderkey", "l_linenumber")
            .writeStream.foreachBatch(epoch_writer(out_dir))
        )

    q = (
        writer()
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = _time.time() + 120
    while _time.time() < deadline:
        done = len(os.listdir(out_dir)) if os.path.isdir(out_dir) else 0
        if done >= 1:
            break
        _time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    assert os.path.isdir(out_dir) and len(os.listdir(out_dir)) >= 1

    drain(writer(), str(tmp_path))  # resumes on tmp_path/ckpt

    got = spark.read.parquet(os.path.join(out_dir, "epoch=*")).select(
        "l_orderkey", "l_linenumber"
    )
    batch = (
        load_table(spark, SF, "orders")
        .join(load_table(spark, SF, "lineitem"), F.expr(ORDER_ITEM_JOIN))
        .select("l_orderkey", "l_linenumber")
    )
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_stream_mview_emits_per_key_updates_across_batches(spark):
    """Update-mode witness: (1) multiple micro-batches emit, (2) at
    least one user's aggregate is RE-emitted in a later epoch (the
    state update that distinguishes update mode from append), and
    (3) each batch emits only changed keys — strictly fewer rows than
    a complete-mode emission after the first batch would total."""
    from db_loader_spark.queries.streamingq import _stage_table
    from db_loader_spark.streaming.run import drain, drain_scope, file_stream

    per_epoch: dict[int, set] = {}

    def capture(batch_df, epoch_id):
        per_epoch[epoch_id] = {(r["user_id"], r["day"]) for r in batch_df.collect()}

    updates = (
        file_stream(spark, _stage_table(spark, SF, "events", "stage"))
        # (user_id, day) keys: far more groups than rows per
        # micro-batch, so each batch touches a strict subset and
        # the only-changed-keys property is observable (with bare
        # user_id, 15 users all change every batch)
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    with drain_scope(spark) as run_dir:
        drain(updates.writeStream.outputMode("update").foreachBatch(capture), run_dir)

    assert len(per_epoch) >= 2, f"single-batch drain: {sorted(per_epoch)}"
    epochs = sorted(per_epoch)
    seen: set = set()
    re_emitted = set()
    for e in epochs:
        re_emitted |= per_epoch[e] & seen
        seen |= per_epoch[e]
    assert re_emitted, "no key was ever updated across batches"
    # update mode: later batches emit only CHANGED keys, never the
    # full key set accumulated so far (that would be complete mode)
    assert any(len(per_epoch[e]) < len(seen) for e in epochs[1:])


def test_stream_rollup_registry_rerun_idempotent(spark):
    from db_loader_spark.queries import all_queries

    spec = all_queries()["t_stream_rollup"]
    a = {tuple(r) for r in spec.spark(spark, SF).collect()}
    b = {tuple(r) for r in spec.spark(spark, SF).collect()}
    assert a == b and len(a) > 0
