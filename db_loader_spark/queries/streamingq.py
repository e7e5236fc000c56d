"""Driver-witnessed streaming query: the availableNow micro-batch
pipeline run end-to-end, value-checked against the batch answer.

Every other streaming proof in this repo is a local pytest (stream ≡
batch assertions in tests/test_stateful_streaming.py and
test_streaming_dedup.py). This module puts one streaming pipeline
under the EXTERNAL value-check: the registry entry stages the events
table as multiple parquet shards, streams them through a watermarked
windowed aggregation one file per micro-batch (state accumulates
across batches — genuine incremental execution, not a one-batch
drain), and returns the final rollup, which the DuckDB oracle
recomputes as plain batch SQL over the same rows. A green driver row
here IS the stream-≡-batch theorem under the driver's hash, not just
our own test suite's.

Reference behavior: the T1-T4 incremental ingest loop
(scripts/load_csv_to_cloud.sh:107-141 — watch folder, process each
file once, flush batches, final drain) mapped onto Structured
Streaming's file source + availableNow trigger; see
streaming/file_ingest.py.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from db_loader_spark.queries import QuerySpec
from db_loader_spark.session import local_frame
from db_loader_spark.staging import build_stage, source_stamp, stage_path
from db_loader_spark.streaming.run import (
    drain,
    drain_scope,
    epoch_writer,
    file_stream,
    stream_shuffle,
)
from db_loader_spark.tables import load_table

# Staged files → micro-batches (one file per trigger). Two is the
# floor, not a tunable: one batch boundary must always remain, since a
# single-file drain would witness nothing about the state carried
# across batches (dedup guard, join buffers, index maintenance, one
# manifest commit per batch), which is the entire point of these keys.
# More files only add fixed cost: every micro-batch pays ~1-1.5 s of
# machinery regardless of rows.
SHARDS_SHAVED = 2


def _stage_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    tag: str,
    shards: int = SHARDS_SHAVED,
) -> str:
    """Stage a source table as ``shards`` parquet files under the
    system temp dir (keyed by sf_dir + source stamp + shard layout;
    reused across calls — staging is the table's storage layout, not
    per-query work). The shards are what turns the availableNow drain
    into a REAL multi-batch run."""
    # The stamp always carries the shard layout, so stamp text and
    # layout are in bijection: a warm stage is never reused at a layout
    # other than the one that built it, whatever the default becomes.
    stamp = source_stamp(os.path.join(sf_dir, f"{table}.parquet"))
    return build_stage(
        stage_path(sf_dir, f"stream_{tag}"),
        f"{stamp}:shards{shards}",
        lambda scratch: load_table(spark, sf_dir, table)
        .repartition(shards)
        .write.mode("overwrite")
        .parquet(scratch),
    )


def _staged_events(spark: SparkSession, sf_dir: str) -> str:
    return _stage_table(spark, sf_dir, "events", "stage")


def t_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event rollup computed BY THE STREAMING ENGINE: file
    source over the staged shards, one file per micro-batch, watermarked
    event-time windows, complete-mode memory sink, availableNow drain.

    Complete mode retains all window state and never drops late rows,
    so the final emission after the last micro-batch equals the batch
    aggregate over the same input regardless of file order — which is
    exactly what the oracle checks. Each call starts a FRESH stream
    (memory-sink temp checkpoint): a reused checkpoint under
    availableNow would see no new files, run zero batches, and leave
    the memory table empty — per-run freshness is load-bearing."""
    from db_loader_spark.streaming.file_ingest import stream_event_rollup

    stage = _staged_events(spark, sf_dir)
    qname = "t_stream_rollup_" + hashlib.md5(stage.encode()).hexdigest()[:8]
    with stream_shuffle(spark):
        stream_event_rollup(
            spark,
            stage,
            watermark="1 hour",
            window_len="1 hour",
            query_name=qname,
            output_mode="complete",
            max_files_per_trigger=1,
        ).awaitTermination()
    # memory sink registered the final rollup as a temp view
    return spark.table(qname)


_STREAM_ROLLUP_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""


def t_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACTLY-ONCE dedup under the driver's hash: the staged
    events shards are written TWICE (two full copies, 8 files), the
    stream drains them one file per micro-batch through
    ``dropDuplicates(event_id)`` — dedup STATE carried across batches
    is what drops the second copy — and each batch publishes to an
    epoch-owned parquet dir it OVERWRITES (the T2/T5 idempotent-retry
    pattern from streaming/file_ingest.stream_log_tables). The oracle
    is the plain batch aggregate over ONE copy: equality proves the
    stream removed every cross-batch duplicate, exactly once.

    Duplicate rows are full-row identical, so whichever copy wins the
    keep-first race, the aggregate is deterministic. Fresh checkpoint +
    output dir per call (a reused availableNow checkpoint would see no
    new files and publish nothing). Production unbounded streams bound
    the dedup state with ``dropDuplicatesWithinWatermark``; the finite
    drain here holds corpus-bounded state by construction.

    PRECONDITION (asserted at staging time, not assumed): event_id is
    unique in the SOURCE table. dropDuplicates(event_id) would also
    collapse genuine source-side id collisions while the oracle counts
    every row of one copy — a silent hash mismatch if testdata ever
    ships duplicate ids. One count≡countDistinct check per (re)staging
    turns that drift into a loud error naming the precondition."""
    stage = stage_path(sf_dir, "stream_dup")
    # SHARDS_SHAVED shards × 2 copies = 4 micro-batches, 3 boundaries
    # carrying dedup state; the stamp carries the layout
    stamp = source_stamp(os.path.join(sf_dir, "events.parquet"))
    stamp += f":shards{SHARDS_SHAVED}"

    def build(scratch: str) -> None:
        ev = load_table(spark, sf_dir, "events").repartition(SHARDS_SHAVED)
        uniq = ev.agg(
            F.count("event_id").alias("n"),
            F.countDistinct("event_id").alias("d"),
        ).first()
        if uniq["n"] != uniq["d"]:
            raise ValueError(
                "t_stream_dedup precondition violated: events.event_id is not "
                f"unique in the source ({uniq['n']} rows, {uniq['d']} distinct). "
                "The streamed dedup would collapse genuine source rows and "
                "diverge from the batch oracle."
            )
        ev.write.mode("overwrite").parquet(scratch)
        # second verbatim copy, distinct file names → 2×SHARDS_SHAVED files
        ev.write.mode("append").parquet(scratch)

    build_stage(stage, stamp, build)
    stream = file_stream(spark, stage).dropDuplicates(["event_id"])
    with drain_scope(spark) as run_dir:
        out_dir = os.path.join(run_dir, "out")
        drain(stream.writeStream.foreachBatch(epoch_writer(out_dir)), run_dir)
        deduped = spark.read.parquet(os.path.join(out_dir, "epoch=*"))
        agg = deduped.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        # Materialize the (few-row) aggregate BEFORE the run dir is
        # removed — the result must not lazily depend on files about to
        # go. One benign driver-side collect of ≤ |event_type| rows; the
        # per-call checkpoint + epoch copies of events would otherwise
        # accumulate unbounded /tmp debris across bench and driver runs.
        table = agg.toArrow()
    return local_frame(spark, table)


_STREAM_DEDUP_ORACLE = """
SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY 1
"""


def make_index_maintainer(spark: SparkSession, sig_dir: str, pairs_dir: str):
    """The foreachBatch body of the streaming dedup index, factored out
    so crash-resume tests can drive it against their own dirs: compute
    the batch's MinHash signatures, upsert them into the epoch-owned
    signature table, and join the batch against the accumulated index.
    Each epoch OVERWRITES its own dirs, so a replayed epoch (crash or
    stop between publish and checkpoint commit) replaces its own
    half-written output — exactly-once net effect under foreachBatch's
    at-least-once contract."""
    from db_loader_spark.functions import dedup as D

    def maintain_index(batch_df: DataFrame, epoch_id: int) -> None:
        batch_sigs = D.minhash_signatures(batch_df, num_hashes=8).persist()
        try:
            batch_sigs.write.mode("overwrite").parquet(
                os.path.join(sig_dir, f"epoch={epoch_id}")
            )
            # index as of THIS batch = every epoch dir incl. the one
            # just written; batch-vs-index incremental banded join
            index = spark.read.parquet(os.path.join(sig_dir, "epoch=*"))
            pairs = D.lsh_pairs_against(
                batch_sigs, index, num_hashes=8, band_size=2, min_est_sim=0.375
            )
            pairs.write.mode("overwrite").parquet(
                os.path.join(pairs_dir, f"epoch={epoch_id}")
            )
        finally:
            batch_sigs.unpersist()

    return maintain_index


def t_stream_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup-INDEX maintenance — the ingest-time shape of
    near-dup detection at 100 TB: documents arrive as files, each
    micro-batch computes MinHash signatures for ITS docs only, upserts
    them into a persistent signature table (epoch-owned parquet dirs —
    the idempotent-retry pattern), and joins the batch against the
    accumulated index (functions.dedup.lsh_pairs_against). Signatures
    are MAINTAINED across batches, never rebuilt per query.

    The returned frame is the union of every batch's incremental
    pairs; the oracle is the plain BATCH LSH over the whole corpus
    (_MINHASH_ORACLE) — equality is the stream ≡ batch theorem for the
    incremental index: each qualifying pair is found exactly once, by
    the batch in which its later member arrives. A green driver row
    here witnesses genuine multi-batch incremental execution
    (SHARDS_SHAVED staged shards, 1 file per trigger), not a one-shot
    recompute."""
    stage = _stage_table(spark, sf_dir, "documents", "docs")
    stream = file_stream(spark, stage)
    with drain_scope(spark) as run_dir:
        pairs_dir = os.path.join(run_dir, "pairs")
        maintain_index = make_index_maintainer(
            spark, os.path.join(run_dir, "signatures"), pairs_dir
        )
        drain(stream.writeStream.foreachBatch(maintain_index), run_dir)
        out = spark.read.parquet(os.path.join(pairs_dir, "epoch=*")).select(
            "doc_a", "doc_b", "est_sim"
        )
        # materialize before the run dir goes (same contract as
        # t_stream_dedup): the pair set is overlap-sized, not corpus
        # -sized, so the collect is bounded
        table = out.toArrow()
    return local_frame(spark, table)


def _stream_signatures_oracle() -> str:
    from db_loader_spark.queries.dedup import _MINHASH_ORACLE

    return _MINHASH_ORACLE


# The interval join's condition: same orderkey, shipped within 60 days
# of the order date.
ORDER_ITEM_JOIN = (
    "l_orderkey = o_orderkey"
    " AND l_shipdate >= o_orderdate"
    " AND l_shipdate <= o_orderdate + INTERVAL 60 DAYS"
)


def order_item_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked stream-stream interval join ``t_stream_join``
    drains: orders and lineitem, each staged as SHARDS_SHAVED files and
    read one file per micro-batch per side, joined on
    ``ORDER_ITEM_JOIN``. All columns of both sides are kept.

    The watermark delay covers the corpus's full time span (~7 years),
    so nothing is evicted before its partner arrives and the drain is
    exactly the batch join. The source dates are TIMESTAMP_NTZ;
    watermarks require an LTZ timestamp, and the session timezone is
    pinned UTC (session.py), so the cast is a pure type relabel — both
    sides shift identically."""
    orders = (
        file_stream(spark, _stage_table(spark, sf_dir, "orders", "ord"))
        .withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
        .withWatermark("o_orderdate", "3700 days")
    )
    items = (
        file_stream(spark, _stage_table(spark, sf_dir, "lineitem", "li"))
        .withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
        .withWatermark("l_shipdate", "3700 days")
    )
    return orders.join(items, F.expr(ORDER_ITEM_JOIN))


def t_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM interval join under the driver's hash —
    the last Structured Streaming shape the registry lacked: two file
    streams (orders, lineitem — staged as SHARDS_SHAVED files each, one
    per micro-batch per side), event-time watermarks on both sides, and an
    equi+interval join condition (same orderkey, shipped within 60 days
    of the order date). Spark's symmetric hash join buffers each side's
    rows in state stores keyed by orderkey and emits a match in the
    micro-batch where its LATER member arrives — so cross-batch matches
    are exactly what a green row witnesses. Each batch's matches publish
    to an epoch-owned dir (idempotent-retry pattern); the union over
    epochs, aggregated per order priority, must equal DuckDB's plain
    batch interval join.

    The watermark delay here deliberately covers the staged corpus's
    full time span, so no buffered row is evicted before its partner
    arrives and stream ≡ batch holds EXACTLY. In production the same
    query runs with a realistic delay (hours, not years) — the interval
    condition plus watermarks is precisely what lets Spark evict state
    for orders too old to still match, keeping join state bounded by
    the interval width × arrival rate instead of the corpus. The
    interval bound is load-bearing, not decorative: only ~2.5% of
    lineitems ship within [0, 60] days of their order in this corpus,
    so a bound regression flips the hash loudly.

    Reference behavior: the incremental T1-T4 loop joined against a
    concurrently-loaded second table (scripts/load_csv_to_cloud.sh's
    per-file loop feeding tables other queries join); the reference
    never does this incrementally — it reloads, which is exactly the
    per-query recompute this operator retires."""
    joined = order_item_stream(spark, sf_dir).select(
        "o_orderpriority", "l_orderkey", "l_extendedprice", "l_discount"
    )
    with drain_scope(spark) as run_dir:
        out_dir = os.path.join(run_dir, "out")
        drain(joined.writeStream.foreachBatch(epoch_writer(out_dir)), run_dir)
        matched = spark.read.parquet(os.path.join(out_dir, "epoch=*"))
        agg = matched.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_items"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        # materialize the (≤5-row) aggregate before the run dir goes
        # (same contract as t_stream_dedup)
        table = agg.toArrow()
    return local_frame(spark, table)


def t_stream_mview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MATERIALIZED VIEW maintenance — UPDATE output mode,
    the third and last output semantics the registry's stream keys
    cover (complete: t_stream_rollup; append: t_stream_join): a
    per-user aggregate over the staged event shards where each
    micro-batch emits ONLY the users whose aggregate changed, and
    foreachBatch merges those deltas into an epoch-stamped table. The
    final view = keep-latest-epoch per user (one window over the
    update log), and it must equal DuckDB's batch aggregate — update
    mode's contract is exactly that the last emission per key IS the
    final value.

    This is the incremental-dashboard / feature-store shape at 100 TB:
    the view table receives |changed keys| rows per batch, not
    |all keys|, and a reader at any epoch sees the aggregate as of
    that epoch (the epoch column is the snapshot axis; a production
    deployment would publish each epoch through sinks/manifest.py
    instead of epoch dirs). State is the running aggregate per user —
    bounded by key cardinality, not stream length."""
    from pyspark.sql import Window as W

    stage = _stage_table(spark, sf_dir, "events", "mv")
    agg = (
        file_stream(spark, stage)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    with drain_scope(spark) as run_dir:
        out_dir = os.path.join(run_dir, "out")
        drain(
            agg.writeStream.outputMode("update").foreachBatch(epoch_writer(out_dir)),
            run_dir,
        )
        # read the PARENT dir (not the epoch=* glob): partition
        # discovery then surfaces the epoch dir key as a column
        # (numeric values, so partition type inference is safe here)
        upd = spark.read.parquet(out_dir)
        w = W.partitionBy("user_id").orderBy(F.col("epoch").desc())
        view = (
            upd.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("user_id", "n_events", "sum_value")
        )
        table = view.toArrow()
    return local_frame(spark, table)


_STREAM_MVIEW_ORACLE = """
SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY 1
"""


_STREAM_JOIN_ORACLE = """
SELECT o.o_orderpriority,
       COUNT(*) AS n_items,
       CAST(COUNT(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM orders o
JOIN lineitem l
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate <= o.o_orderdate + INTERVAL 60 DAY
GROUP BY 1
"""


def _stage_time_chunks(spark: SparkSession, sf_dir: str) -> str:
    """events split into TWO single-file chunks at the TIME MEDIAN
    (the stateful stream's watermark contract: replay respects event
    order, so nothing is ever late) plus ONE sentinel chunk past the
    horizon, mtimes ascending so the file source drains them in order.
    Two data chunks, not more: each applyInPandasWithState micro-batch
    carries ~1.3 s of fixed machinery regardless of rows, and two data
    batches already witness multi-batch ordered replay.

    The sentinels (user_id = -1, at max_ts + 2h and + 4h) are the
    end-of-stream flush protocol: the first advances the watermark past
    every real session's close + gap, the second gives the engine the
    extra micro-batch in which event-time TIMEOUTS actually fire
    (watermarks update at batch end; timeouts fire in the NEXT batch).
    The FIRST sentinel needs no batch of its own, it only needs to be
    SEEN before the last batch so the watermark it implies is in force
    when that batch runs — so it rides in the second data chunk, and
    only the + 4h sentinel gets its own file: 3 micro-batches (sentinel
    rows are user -1, filtered at publish; every real session's timeout
    < max_ts + 2h - delay, so all fire in the final batch). After the
    drain, every real-user session has been emitted — which is what
    makes stream ≡ batch an EQUALITY the driver can hash, not the
    subset relation the local pytest settles for."""
    import datetime as dt
    import shutil

    stage = stage_path(sf_dir, "stream_sess")
    # the stamp carries the chunk layout, so a warm stage from another
    # layout rebuilds instead of being silently reused
    stamp = source_stamp(os.path.join(sf_dir, "events.parquet")) + ":chunks2s1"

    def build(scratch: str) -> None:
        e = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
        mid = int(
            e.selectExpr("percentile(unix_micros(ts), 0.5) AS q").first()["q"]
        )
        max_us = e.agg(F.max(F.unix_micros("ts"))).first()[0]
        us = F.unix_micros("ts")
        epoch = dt.datetime(1970, 1, 1)

        def sentinel(h: int) -> DataFrame:
            row = [
                (epoch + dt.timedelta(microseconds=max_us + h * 3_600_000_000), -1, 0.0)
            ]
            return spark.createDataFrame(row, "ts timestamp, user_id long, value double")

        parts = [
            e.filter(us <= mid),
            # + 2h sentinel rides WITH the last data chunk (see docstring)
            e.filter(us > mid).unionByName(sentinel(2)),
            sentinel(4),
        ]
        for i, chunk in enumerate(parts):
            tmp = os.path.join(scratch, f"tmp{i}")
            chunk.coalesce(1).write.parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            final = os.path.join(scratch, f"chunk_{i}.parquet")
            os.rename(os.path.join(tmp, part), final)
            shutil.rmtree(tmp, ignore_errors=True)
            os.utime(final, (1_700_000_000 + i * 10,) * 2)

    return build_stage(stage, stamp, build)


def t_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization computed BY THE CUSTOM STATEFUL OPERATOR
    (streaming.stateful.sessionize_stream — applyInPandasWithState,
    Arrow-batched per-key interval folding, event-time timeouts) over
    a genuine multi-batch availableNow drain, flushed to completion by
    the sentinel protocol in _stage_time_chunks and value-checked by
    the driver against the SAME first-principles DuckDB oracle the
    native-operator batch query (eventops.t_session_window) uses. One
    green row is therefore a three-way theorem: hand-rolled stateful
    streaming ≡ Spark's native session_window ≡ DuckDB lag/cumsum SQL.

    State is 4 numbers per open user session, partitioned by user_id,
    evicted on flush — the shape that scales to any key cardinality.

    Publish path: each micro-batch's flushed sessions land as
    epoch-owned parquet via ``foreachBatch`` (the same exactly-once
    epoch-overwrite its siblings t_stream_dedup / t_stream_join /
    t_stream_mview use) and the wrapper returns a LAZY read of the
    published epochs — session rows never pass through the driver, so
    driver memory is independent of session count. The output dir is
    stable and source-stamp-keyed; each call clears and rewrites it, so
    the returned frame must be consumed before the next call for the
    same sf_dir — the driver collects immediately (and any sink publish
    would too)."""
    import shutil

    from db_loader_spark.streaming.stateful import sessionize_stream

    stage = _stage_time_chunks(spark, sf_dir)
    out_dir = stage_path(sf_dir, "stream_sess_out")
    shutil.rmtree(out_dir, ignore_errors=True)
    sessions = sessionize_stream(
        file_stream(spark, stage), gap_minutes=30, watermark="5 seconds"
    )
    publish_epoch = epoch_writer(out_dir)

    def publish(batch_df: DataFrame, epoch_id: int) -> None:
        publish_epoch(batch_df.filter(F.col("user_id") >= 0), epoch_id)

    # only the checkpoint is per-run scratch; the published epochs are
    # the result and must outlive the wrapper (lazy read below)
    with drain_scope(spark) as run_dir:
        drain(sessions.writeStream.outputMode("append").foreachBatch(publish), run_dir)
    return spark.read.parquet(os.path.join(out_dir, "epoch=*"))


def t_stream_lakehouse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest committing through the MANIFEST LAYER — the
    reference's incremental T1-T4 loop (watch folder, process each
    file once, flush, drain — scripts/load_csv_to_cloud.sh:107-141)
    landing in T5's transactional table instead of bare CSV appends:
    each micro-batch publishes an APPEND COMMIT (immutable epoch-
    prefixed data files + one pointer flip; sinks/manifest.publish
    with the epoch id as the idempotent snapshot token), so a reader
    at any instant sees a complete prefix of the stream — never a
    torn batch — and a crashed batch replays as a no-op (committed
    epoch) or an invisible restage (uncommitted). availableNow +
    maxFilesPerTrigger=1 makes it a genuine multi-batch run; the
    wrapper asserts one commit per micro-batch landed before reading.

    The driver-checked aggregate over read_current must equal DuckDB
    over the raw events view: a dropped batch, a double-applied
    replay, or a torn file list all flip a count or a cents sum.
    Zone maps (stats_cols on event_id) are recorded at ingest, so the
    landed table is immediately read_pruned-able — ingest and layout
    in one pass, which is the lakehouse point. Integer-cents sums
    keep the hash FP-free. The final aggregate is event-type-sized;
    it is collected before the per-run scratch dir is removed (same
    bounded-collect epilogue as t_stream_dedup)."""
    from db_loader_spark.sinks import manifest as M

    stream = file_stream(spark, _stage_table(spark, sf_dir, "events", "lake"))
    with drain_scope(spark) as run_dir:
        root = os.path.join(run_dir, "tbl")

        def publish(batch_df: DataFrame, epoch_id: int) -> None:
            M.publish(
                batch_df,
                root,
                snapshot_id=f"epoch-{epoch_id:06d}",
                append=True,
                stats_cols=["event_id"],
            )

        drain(stream.writeStream.foreachBatch(publish), run_dir)
        lineage = M.snapshots(root)
        if len(lineage) < SHARDS_SHAVED:
            raise RuntimeError(
                f"expected ≥{SHARDS_SHAVED} append commits (one per micro-batch), "
                f"got {len(lineage)}: the multi-batch ingest collapsed"
            )
        # OPTIMIZE epilogue: per-epoch commits each land ≥1 small file —
        # the debris every foreachBatch pipeline accumulates. Compaction
        # rewrites the current snapshot into right-sized files as one
        # more commit (readers of older snapshots keep their exact file
        # lists; the pointer flip is the only visible event), so the
        # driver hash ALSO witnesses OPTIMIZE preserving the table:
        # ingest → N append commits → compact → same answer.
        n_before = len(M._manifest(root, M.current_snapshot(root))["files"])
        # target 1 < SHARDS_SHAVED so the shrink assertion below stays
        # a real witness at the current per-epoch file count
        M.compact_snapshot(spark, root, target_files=1, snapshot_id="compacted")
        n_after = len(M._manifest(root, "compacted")["files"])
        if n_after >= n_before:
            raise RuntimeError(
                f"compaction did not shrink the file list ({n_before} → {n_after})"
            )
        agg = (
            M.read_current(spark, root)
            .groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n_events"),
                F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias(
                    "sum_cents"
                ),
            )
        )
        table = agg.toArrow()
    return local_frame(spark, table)


_STREAM_LAKEHOUSE_ORACLE = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY event_type
"""


def t_stream_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN-INDEX MAINTENANCE — the embedding sibling of the
    MinHash row (`t_stream_signatures`): new vectors arriving in
    micro-batches are assigned to their nearest cell of the FIXED
    trained coarse quantizer (broadcast centroids — the production
    shape: the quantizer trains offline on a prior corpus version;
    ingest only assigns, retraining is a scheduled offline job) and
    each batch's (cell, vec_id) rows publish to an epoch-owned dir —
    per-batch cost is |batch| × cells, never corpus-sized, and the
    accumulated index equals the one-shot batch build row for row.

    The driver-checked per-cell histogram (count + exact vec_id sum)
    over the union of epochs must equal DuckDB replaying the trainer
    CTEs and assigning the whole corpus at once: a dropped batch, a
    double-published epoch, or an assignment drift between the
    incremental and batch paths all flip an integer. Centroids come
    from the SAME shared `_ivf_index` cache the serving arms use —
    one quantizer per corpus version feeding search, SemDeDup, and
    now ingest."""
    from db_loader_spark.functions import similarity as S
    from db_loader_spark.queries.similarity import _ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    cents, _ = _ivf_index(spark, sf_dir, emb)
    stream = file_stream(spark, _stage_table(spark, sf_dir, "embeddings", "emb"))
    with drain_scope(spark) as run_dir:
        out_dir = os.path.join(run_dir, "out")
        publish_epoch = epoch_writer(out_dir)

        def publish(batch_df: DataFrame, epoch_id: int) -> None:
            assigned = S.ivf_inverted_lists(batch_df, cents)
            publish_epoch(assigned.select("cell", "neighbor_id"), epoch_id)

        drain(stream.writeStream.foreachBatch(publish), run_dir)
        agg = (
            spark.read.parquet(os.path.join(out_dir, "epoch=*"))
            .groupBy("cell")
            .agg(
                F.count("*").cast("long").alias("n_vectors"),
                F.sum("neighbor_id").cast("long").alias("sum_id"),
            )
        )
        table = agg.toArrow()  # cell-count-sized (16 cells)
    return local_frame(spark, table)


def _stream_ann_index_oracle() -> str:
    from db_loader_spark.queries.similarity import _KM_CELLS_CTES

    return f"""
WITH {_KM_CELLS_CTES}
SELECT cell, COUNT(*) AS n_vectors, CAST(SUM(vec_id) AS BIGINT) AS sum_id
FROM cells GROUP BY cell
"""


def _stream_sessions_oracle() -> str:
    # Same first-principles session derivation the batch key is checked
    # against — by construction, since the theorem IS stream ≡ batch.
    from db_loader_spark.queries.eventops import _SESSION_ORACLE

    return _SESSION_ORACLE


QUERIES: dict[str, QuerySpec] = {
    "t_stream_rollup": QuerySpec(
        t_stream_rollup,
        _STREAM_ROLLUP_ORACLE,
        "availableNow multi-batch streaming rollup ≡ batch (memory sink)",
    ),
    "t_stream_dedup": QuerySpec(
        t_stream_dedup,
        _STREAM_DEDUP_ORACLE,
        "cross-batch streaming exactly-once dedup ≡ batch distinct",
    ),
    "t_stream_signatures": QuerySpec(
        t_stream_signatures,
        _stream_signatures_oracle(),
        "stream-maintained MinHash index: incremental pairs ≡ batch LSH",
    ),
    "t_stream_join": QuerySpec(
        t_stream_join,
        _STREAM_JOIN_ORACLE,
        "watermarked stream-stream interval join ≡ batch interval join",
    ),
    "t_stream_mview": QuerySpec(
        t_stream_mview,
        _STREAM_MVIEW_ORACLE,
        "update-mode materialized view: keep-latest merge ≡ batch aggregate",
    ),
    "t_stream_sessions": QuerySpec(
        t_stream_sessions,
        _stream_sessions_oracle(),
        "applyInPandasWithState sessionization, sentinel-flushed ≡ batch",
    ),
    "t_stream_lakehouse": QuerySpec(
        t_stream_lakehouse,
        _STREAM_LAKEHOUSE_ORACLE,
        "streaming ingest as manifest append commits ≡ batch aggregate",
    ),
    "t_stream_ann_index": QuerySpec(
        t_stream_ann_index,
        _stream_ann_index_oracle(),
        "incremental IVF list maintenance ≡ one-shot batch assignment",
    ),
}
