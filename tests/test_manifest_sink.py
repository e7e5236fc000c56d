"""Manifest-committed table layout (sinks/manifest.py): snapshot
atomicity, idempotent retries, crash-residue invisibility, time
travel, concurrent-publish detection, and vacuum — the object-store
-safe commit protocol the rename-based sinks document as out of scope."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from db_loader_spark.sinks import manifest as M


def _rewind_pointer(root: str, sid: str) -> None:
    """Simulate a crash BEFORE the pointer advance: drop generation
    entries (newest first) until the pointer resolves to ``sid`` — the
    exact on-disk state a writer that died between its manifest write
    and its CAS leaves behind (manifest + staged data complete, the
    pointer still naming the parent)."""
    gen_dir = os.path.join(root, M._GEN)
    while M.current_snapshot(root) != sid:
        entries = sorted(
            (e for e in os.listdir(gen_dir) if e.isdigit()), key=int
        )
        assert entries, f"rewound past the log start without reaching {sid!r}"
        os.remove(os.path.join(gen_dir, entries[-1]))


def _stale_once(monkeypatch, stale: tuple[int, str | None]) -> None:
    """Make the NEXT _read_pointer call return ``stale``, then pass
    through — the standard simulation of a writer whose parent capture
    happened just before a concurrent commit moved the pointer."""
    orig = M._read_pointer
    state = {"first": True}

    def stale_then_real(root):
        if state["first"]:
            state["first"] = False
            return stale
        return orig(root)

    monkeypatch.setattr(M, "_read_pointer", stale_then_real)


def test_publish_read_roundtrip_and_lineage(spark, tmp_path):
    root = str(tmp_path / "tbl")
    s1 = M.publish(spark.range(100).withColumn("v", F.col("id") * 2), root)
    assert M.current_snapshot(root) == s1
    assert M.read_current(spark, root).count() == 100
    s2 = M.publish(spark.range(40), root)
    assert M.snapshots(root) == [s1, s2]
    # time travel: old snapshot intact after the new one published
    assert M.read_snapshot(spark, root, s1).count() == 100
    assert M.read_current(spark, root).count() == 40


def test_crashed_writer_is_invisible(spark, tmp_path):
    """A writer that dies after staging data but BEFORE the pointer
    moves leaves zero reader-visible effect: the current snapshot
    still serves the old file list (manifest-driven scan, never a
    directory listing)."""
    root = str(tmp_path / "tbl")
    M.publish(spark.range(10), root)
    # simulate a crashed writer: staged files + manifest, no pointer move
    staged = os.path.join(root, "data", "deadbeef-crashed")
    spark.range(9999).write.parquet(staged)
    with open(os.path.join(root, "_manifests", "deadbeef-crashed.json"), "w") as fh:
        fh.write('{"snapshot_id": "deadbeef-crashed", "parent": null, "files": []}')
    assert M.read_current(spark, root).count() == 10
    # vacuum reclaims the orphaned prefix
    removed = M.vacuum(root, keep=1)
    assert "deadbeef-crashed" in removed
    assert not os.path.exists(staged)
    assert M.read_current(spark, root).count() == 10


def test_retry_with_same_snapshot_id_is_idempotent(spark, tmp_path):
    """The foreachBatch at-least-once contract: replaying a publish
    with the same snapshot id (epoch token) re-stages over its own
    files and re-points — one snapshot, same rows, no duplicates."""
    root = str(tmp_path / "tbl")
    df = spark.range(50)
    M.publish(df, root, snapshot_id="epoch-7")
    M.publish(df, root, snapshot_id="epoch-7")
    assert M.current_snapshot(root) == "epoch-7"
    assert M.read_current(spark, root).count() == 50
    assert len([s for s in M.snapshots(root) if s == "epoch-7"]) == 1


def test_concurrent_publish_detected(spark, tmp_path, monkeypatch):
    """Optimistic concurrency through publish's OWN code path: the
    loser captured its parent before the winner's pointer moved, so
    its CAS fails (the winner holds that generation) and — for an
    overwrite commit with parent_check — the loss surfaces as the
    loud error with the pointer untouched."""
    root = str(tmp_path / "tbl")
    s1 = M.publish(spark.range(5), root)
    s2 = M.publish(spark.range(6), root)  # the winner lands
    # the loser's stale parent capture: generation 1 naming s1, read
    # just before s2's commit took generation 2
    _stale_once(monkeypatch, (1, s1))
    with pytest.raises(RuntimeError, match="concurrent publish"):
        M.publish(spark.range(7), root)
    monkeypatch.undo()
    assert M.current_snapshot(root) == s2  # failed publish never pointed


def test_vacuum_keeps_recent_lineage(spark, tmp_path):
    root = str(tmp_path / "tbl")
    sids = [M.publish(spark.range(i + 1), root) for i in range(4)]
    removed = M.vacuum(root, keep=2)
    assert set(removed) == set(sids[:2])
    # survivors still readable, pruned ones gone
    assert M.read_snapshot(spark, root, sids[2]).count() == 3
    assert M.read_current(spark, root).count() == 4
    with pytest.raises(Exception):
        M.read_snapshot(spark, root, sids[0])


def test_foreachbatch_publishes_manifest_snapshots(spark, tmp_path):
    """The T5 integration: an availableNow stream publishes one
    manifest snapshot per micro-batch (epoch id = snapshot id = the
    idempotent retry token). After the drain, the current snapshot
    serves the LAST batch, the lineage holds every batch in order, and
    the union of snapshots equals the batch input — the object-store
    -safe version of the epoch-overwrite parquet publish the streaming
    sinks use today."""
    src = str(tmp_path / "src")
    root = str(tmp_path / "tbl")
    spark.range(120).withColumn("v", F.col("id") % 7).repartition(3).write.parquet(src)
    static = spark.read.parquet(src)

    def publish_batch(batch_df, epoch_id):
        if batch_df.take(1):
            M.publish(batch_df, root, snapshot_id=f"epoch-{epoch_id}")

    q = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(publish_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    sids = M.snapshots(root)
    assert len(sids) >= 2  # genuinely multi-batch
    assert M.current_snapshot(root) == sids[-1]
    total = 0
    seen = set()
    for sid in sids:
        rows = {r.id for r in M.read_snapshot(spark, root, sid).collect()}
        assert not (rows & seen)  # epochs partition the input
        seen |= rows
        total += len(rows)
    assert total == 120 and seen == set(range(120))


def test_zonemap_stats_recorded_and_pruning_is_exact(spark, tmp_path):
    """publish(stats_cols) must record per-file min/max + row_count;
    read_pruned must scan strictly fewer files on a range-clustered
    table yet return exactly the full-scan filter result; an
    impossible range must come back empty WITH the snapshot schema."""
    root = str(tmp_path / "tbl")
    df = spark.range(4_000).select(
        F.col("id"), (F.col("id") % 13).alias("k")
    )
    M.publish(df.repartitionByRange(8, "id"), root, stats_cols=["id"])
    man = M._manifest(root, M.current_snapshot(root))
    assert man["row_count"] == 4_000
    assert len(man["files_meta"]) == len(man["files"])
    assert all("id" in m["stats"] for m in man["files_meta"].values())

    pruned = M.read_pruned(spark, root, "id", 100, 300)
    assert len(pruned.inputFiles()) < len(man["files"])
    expect = {r.id for r in M.read_current(spark, root).filter("id BETWEEN 100 AND 300").collect()}
    assert {r.id for r in pruned.collect()} == expect

    empty = M.read_pruned(spark, root, "id", 10**9, 2 * 10**9)
    assert empty.count() == 0
    assert [f.name for f in empty.schema] == ["id", "k"]


def test_zonemap_absent_stats_degrade_to_full_scan(spark, tmp_path):
    """A manifest published WITHOUT stats (or by an older writer) must
    prune nothing — conservative fallback, never wrongness."""
    root = str(tmp_path / "tbl")
    df = spark.range(1_000)
    M.publish(df.repartitionByRange(4, "id"), root)  # no stats_cols
    pruned = M.read_pruned(spark, root, "id", 0, 10)
    assert len(pruned.inputFiles()) == len(
        M._manifest(root, M.current_snapshot(root))["files"]
    )
    assert pruned.count() == 11


def test_append_commit_inherits_files_and_added_files_is_the_delta(spark, tmp_path):
    """Append commits must list parent files + delta; added_files must
    be exactly the per-commit delta; snapshots stay time-travelable
    (v1 unchanged after later appends); the deltas tile the table."""
    root = str(tmp_path / "tbl")
    M.publish(spark.range(0, 100).repartition(2), root, snapshot_id="v1")
    M.publish(spark.range(100, 150).repartition(2), root, snapshot_id="v2", append=True)
    M.publish(spark.range(150, 160).repartition(1), root, snapshot_id="v3", append=True)

    m1, m2, m3 = (M._manifest(root, s) for s in ("v1", "v2", "v3"))
    assert set(m1["files"]) < set(m2["files"]) < set(m3["files"])
    assert set(M.added_files(root, "v1", "v2")) == set(m2["files"]) - set(m1["files"])
    assert {r.id for r in M.read_added(spark, root, "v2", "v3").collect()} == set(range(150, 160))
    assert {r.id for r in M.read_snapshot(spark, root, "v1").collect()} == set(range(100))
    assert {r.id for r in M.read_current(spark, root).collect()} == set(range(160))
    assert M.read_added(spark, root, "v3", "v3").count() == 0  # empty delta, real schema

    # vacuum keeping only the current snapshot must preserve files it
    # inherits from older prefixes (they are live via v3's manifest)
    M.vacuum(root, keep=1)
    assert {r.id for r in M.read_current(spark, root).collect()} == set(range(160))


def test_append_commit_merges_zonemap_stats(spark, tmp_path):
    """Appends with stats_cols must carry the parent's zone maps
    forward and add the delta's, so read_pruned keeps working across
    the whole lineage."""
    root = str(tmp_path / "tbl")
    M.publish(
        spark.range(0, 1000).repartitionByRange(4, "id"),
        root, snapshot_id="v1", stats_cols=["id"],
    )
    M.publish(
        spark.range(1000, 2000).repartitionByRange(4, "id"),
        root, snapshot_id="v2", append=True, stats_cols=["id"],
    )
    man = M._manifest(root, "v2")
    assert len(man["files_meta"]) == len(man["files"]) == 8
    assert man["row_count"] == 2000
    pruned = M.read_pruned(spark, root, "id", 1500, 1600)
    assert len(pruned.inputFiles()) < 8
    assert pruned.count() == 101


def test_merge_upsert_rewrites_only_touched_files(spark, tmp_path):
    """Copy-on-write MERGE over a range-clustered table: keys 100-110
    updated + key 5000 inserted must (a) produce exactly the row-level
    merge result, (b) carry every range-disjoint parent file by
    REFERENCE (same path in both manifests), and (c) rewrite at least
    one but not all files."""
    root = str(tmp_path / "tbl")
    base = spark.range(1_000).select("id", (F.col("id") * 2).alias("v"))
    M.publish(base.repartitionByRange(8, "id"), root, snapshot_id="v1", stats_cols=["id"])
    ups = spark.createDataFrame(
        [(i, -1) for i in range(100, 111)] + [(5_000, 99)], "id long, v long"
    )
    M.merge_upsert(spark, ups, root, "id", snapshot_id="v2")

    got = {r.id: r.v for r in M.read_current(spark, root).collect()}
    assert len(got) == 1_001
    assert all(got[i] == -1 for i in range(100, 111))
    assert got[5_000] == 99 and got[500] == 1_000

    f1, f2 = (set(M._manifest(root, s)["files"]) for s in ("v1", "v2"))
    carried = f1 & f2
    assert carried and f1 - f2  # some by reference, some rewritten
    # zone maps survive the merge: pruning still works on v2
    assert len(M.read_pruned(spark, root, "id", 900, 950).inputFiles()) < len(f2)


def test_merge_upsert_without_stats_degrades_to_full_rewrite(spark, tmp_path):
    """No zone maps -> every file is conservatively touched; the result
    is still the exact merge (correct-but-unpruned contract)."""
    root = str(tmp_path / "tbl")
    M.publish(spark.range(100).select("id", F.lit(0).cast("long").alias("v")).repartition(4), root, snapshot_id="v1")
    M.merge_upsert(
        spark,
        spark.createDataFrame([(7, 1)], "id long, v long"),
        root, "id", snapshot_id="v2",
    )
    got = {r.id: r.v for r in M.read_current(spark, root).collect()}
    assert got[7] == 1 and got[8] == 0 and len(got) == 100
    f1, f2 = (set(M._manifest(root, s)["files"]) for s in ("v1", "v2"))
    assert not (f1 & f2)  # full rewrite: nothing carried by reference


def test_merge_upsert_replay_is_exactly_once(spark, tmp_path):
    """Replaying a committed merge epoch (the foreachBatch retry) must
    be a no-op: without the guard, inserts would anti-join against
    their own result and duplicate."""
    root = str(tmp_path / "tbl")
    M.publish(spark.range(10).select("id", F.lit(0).cast("long").alias("v")), root, snapshot_id="v1")
    batch = spark.createDataFrame([(3, 1), (50, 1)], "id long, v long")
    M.merge_upsert(spark, batch, root, "id", snapshot_id="epoch-1")
    M.merge_upsert(spark, batch, root, "id", snapshot_id="epoch-1")  # retry
    rows = M.read_current(spark, root).collect()
    assert len(rows) == 11  # 10 base + 1 insert, NOT 12
    assert M.snapshots(root) == ["v1", "epoch-1"]


def test_schema_evolution_merge_schema_read(spark, tmp_path):
    """An append commit with an added column (merge_schema=True, the
    r12b opt-in): EVERY read surfaces it — NULL for old files — via
    the manifest-recorded schema, no footer union needed. A LEGACY
    lineage (manifest predating schema recording) still gets the
    footer-union fallback through merge_schema=True at read time."""
    root = str(tmp_path / "tbl")
    M.publish(spark.range(5).select("id"), root, snapshot_id="v1")
    M.publish(
        spark.range(5, 8).select("id", F.lit("x").alias("tag")),
        root, snapshot_id="v2", append=True, merge_schema=True,
    )
    evolved = M.read_current(spark, root)
    assert list(evolved.columns) == ["id", "tag"]
    got = {r.id: r.tag for r in evolved.collect()}
    assert got[2] is None and got[6] == "x" and len(got) == 8
    # legacy fallback: strip the recorded schemas from the manifests
    # (simulating a pre-r12b lineage) and read with merge_schema=True
    for sid in ("v1", "v2"):
        mp = os.path.join(root, "_manifests", f"{sid}.json")
        with open(mp) as fh:
            man = json.load(fh)
        man.pop("schema", None)
        with open(mp, "w") as fh:
            json.dump(man, fh)
    legacy = M.read_current(spark, root, merge_schema=True)
    assert set(legacy.columns) == {"id", "tag"}
    got = {r.id: r.tag for r in legacy.collect()}
    assert got[2] is None and got[6] == "x" and len(got) == 8


def test_compact_snapshot_preserves_rows_and_zone_maps(spark, tmp_path):
    """OPTIMIZE over append debris: row set identical, file count at
    the target, zone maps re-harvested, old snapshot still readable
    until vacuum."""
    root = str(tmp_path / "tbl")
    for i in range(6):  # six 1-file epochs of debris
        M.publish(
            spark.range(i * 100, (i + 1) * 100).coalesce(1),
            root, snapshot_id=f"e{i}", append=(i > 0), stats_cols=["id"],
        )
    assert len(M._manifest(root, "e5")["files"]) == 6
    M.compact_snapshot(spark, root, target_files=2, snapshot_id="opt-1")
    man = M._manifest(root, "opt-1")
    assert len(man["files"]) == 2
    assert man["row_count"] == 600
    assert {r.id for r in M.read_current(spark, root).collect()} == set(range(600))
    assert {r.id for r in M.read_snapshot(spark, root, "e5").collect()} == set(range(600))
    assert len(M.read_pruned(spark, root, "id", 0, 10).inputFiles()) == 1


def test_foreachbatch_streaming_merge_apply(spark, tmp_path):
    """The streaming CDC-apply loop: micro-batches of upserts flow
    through foreachBatch into merge_upsert with the epoch id as the
    snapshot token — at-least-once delivery + the replay guard =
    exactly-once table state."""
    src = str(tmp_path / "updates_src")
    root = str(tmp_path / "tbl")
    M.publish(
        spark.range(100).select("id", F.lit(0).cast("long").alias("v")),
        root, snapshot_id="base", stats_cols=["id"],
    )
    upd = spark.createDataFrame(
        [(i * 10 + j, 1) for i in range(3) for j in range(5)], "id long, v long"
    )
    upd.repartition(3).write.parquet(src)
    static = spark.read.parquet(src)

    def apply_batch(batch_df, epoch_id):
        if batch_df.take(1):
            M.merge_upsert(batch_df.sparkSession, batch_df, root, "id",
                           snapshot_id=f"epoch-{epoch_id}")

    q = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {r.id: r.v for r in M.read_current(spark, root).collect()}
    assert len(got) == 100
    touched = {i * 10 + j for i in range(3) for j in range(5)}
    assert all(got[k] == 1 for k in touched)
    assert all(got[k] == 0 for k in set(range(100)) - touched)
    assert len(M.snapshots(root)) >= 3  # genuinely multi-epoch


def test_merge_upsert_rejects_duplicate_batch_keys(spark, tmp_path):
    root = str(tmp_path / "tbl")
    M.publish(spark.range(10).select("id", F.lit(0).cast("long").alias("v")), root)
    dup = spark.createDataFrame([(1, 1), (1, 2)], "id long, v long")
    with pytest.raises(ValueError, match="duplicate"):
        M.merge_upsert(spark, dup, root, "id")


def test_zonemap_string_stats_survive_json(spark, tmp_path):
    """String-column zone maps must serialize (pyarrow can surface
    BYTE_ARRAY min/max as bytes) and prune string ranges."""
    root = str(tmp_path / "tbl")
    df = spark.range(260).selectExpr("id", "chr(65 + CAST(id / 10 AS INT)) AS tag")
    M.publish(df.repartitionByRange(4, "tag"), root, stats_cols=["tag", "id"])
    man = M._manifest(root, M.current_snapshot(root))
    assert all(
        isinstance(m["stats"]["tag"][0], str) for m in man["files_meta"].values()
    )
    pruned = M.read_pruned(spark, root, "tag", "A", "B")
    assert len(pruned.inputFiles()) < 4
    assert pruned.count() == 20


def test_stats_less_append_keeps_inherited_zone_maps(spark, tmp_path):
    """An append WITHOUT stats_cols must not strip the parent's zone
    maps from the lineage: the parent's files stay prunable (their
    files_meta entries carry forward), the new stats-less files are
    conservatively kept by every consumer, and a later stats append
    re-inherits the full map. Regression: gating files_meta on the
    stats_cols argument alone dropped the inherited entries, silently
    degrading read_pruned to full scans for all earlier files."""
    root = str(tmp_path / "tbl")
    M.publish(
        spark.range(0, 1000).repartitionByRange(4, "id"),
        root, snapshot_id="v1", stats_cols=["id"],
    )
    M.publish(
        spark.range(1000, 2000).repartitionByRange(2, "id"),
        root, snapshot_id="v2", append=True,  # no stats_cols
    )
    man = M._manifest(root, "v2")
    # parent's 4 entries survive; the 2 new files have no entries
    assert len(man["files"]) == 6
    assert len(man["files_meta"]) == 4
    assert man["row_count"] is None  # not every file has stats
    # pruning still skips parent files outside the range, keeps BOTH
    # stats-less new files, and the residual predicate stays exact
    pruned = M.read_pruned(spark, root, "id", 0, 100)
    assert len(pruned.inputFiles()) == 1 + 2
    assert pruned.count() == 101
    # a later stats append re-inherits the intact map for its parents
    M.publish(
        spark.range(2000, 2500).repartitionByRange(2, "id"),
        root, snapshot_id="v3", append=True, stats_cols=["id"],
    )
    man3 = M._manifest(root, "v3")
    assert len(man3["files"]) == 8
    assert len(man3["files_meta"]) == 6  # v1's 4 + v3's 2 (v2 stays bare)


def test_replay_of_committed_snapshot_never_touches_live_files(spark, tmp_path):
    """A replayed publish of the CURRENT snapshot is a pure no-op: the
    pointer reading the id proves the commit finished, and restaging
    would transiently delete the files the live manifest points to —
    a reader resolving the pointer mid-restage would see a torn
    snapshot. Pin: the staged parquet files' inodes/mtimes are
    byte-identical across the replay, and no write job runs."""
    root = str(tmp_path / "tbl")
    M.publish(spark.range(25), root, snapshot_id="epoch-3")
    staged = os.path.join(root, "data", "epoch-3")
    before = {
        f: os.stat(os.path.join(staged, f)).st_mtime_ns
        for f in os.listdir(staged)
    }
    M.publish(spark.range(25), root, snapshot_id="epoch-3")  # replay
    after = {
        f: os.stat(os.path.join(staged, f)).st_mtime_ns
        for f in os.listdir(staged)
    }
    assert after == before  # same files, untouched — not rewritten
    assert M.current_snapshot(root) == "epoch-3"
    assert M.read_current(spark, root).count() == 25


def test_append_commit_replay_is_exactly_once(spark, tmp_path):
    """The streaming-lakehouse contract (t_stream_lakehouse): a
    replayed APPEND commit with the same epoch token must not append
    its rows twice. A committed-and-current epoch replays as a pure
    no-op; the lineage holds one snapshot per epoch."""
    root = str(tmp_path / "tbl")
    M.publish(spark.range(10), root, snapshot_id="epoch-0", append=True)
    M.publish(spark.range(10, 15), root, snapshot_id="epoch-1", append=True)
    M.publish(spark.range(10, 15), root, snapshot_id="epoch-1", append=True)
    assert M.snapshots(root) == ["epoch-0", "epoch-1"]
    assert M.read_current(spark, root).count() == 15


def test_replay_of_superseded_snapshot_is_idempotent_noop(spark, tmp_path):
    """A token that committed EARLIER but was since superseded (e.g. a
    foreachBatch restarted with a fresh checkpoint against an existing
    table root, re-issuing epoch-0) must NOT restage: the live lineage
    inherits data/epoch-0 files by reference, so an overwrite would
    tear concurrent reads and an append would list the files twice,
    double-counting rows in read_current (ADVICE r7). r12 close
    review: since the lineage walk PROVES the epoch committed, the
    replay returns success as a pure no-op (raising wedged multi-
    writer streams whose epoch landed then was superseded — the token
    cannot be re-minted). Pin: no-op return, data files untouched,
    lineage unchanged, rows exactly once."""
    root = str(tmp_path / "tbl")
    M.publish(spark.range(10), root, snapshot_id="epoch-0", append=True)
    M.publish(spark.range(10, 15), root, snapshot_id="epoch-1", append=True)
    staged = os.path.join(root, "data", "epoch-0")
    before = {
        f: os.stat(os.path.join(staged, f)).st_mtime_ns
        for f in os.listdir(staged)
    }
    out = M.publish(spark.range(10), root, snapshot_id="epoch-0", append=True)
    assert out == "epoch-0"  # idempotent success, not a new commit
    after = {
        f: os.stat(os.path.join(staged, f)).st_mtime_ns
        for f in os.listdir(staged)
    }
    assert after == before  # live files untouched by the no-op replay
    assert M.snapshots(root) == ["epoch-0", "epoch-1"]  # pointer unmoved
    assert M.current_snapshot(root) == "epoch-1"
    assert M.read_current(spark, root).count() == 15


def test_replay_after_pre_flip_crash_completes_the_commit(spark, tmp_path):
    """r9 (ADVICE r8): a crash in the one-instruction window between
    manifest write and pointer flip leaves manifest.parent == observed
    current — a state no other operation can produce (nothing moves
    the pointer backward). The replay must FINISH the commit (flip the
    pointer, no restage) rather than raise: foreachBatch derives sid
    from the epoch id and cannot mint a fresh token, so refusing here
    permanently wedged a persistent-checkpoint stream on restart."""
    root = str(tmp_path / "tbl")
    M.publish(spark.range(10), root, snapshot_id="epoch-0", append=True)
    M.publish(spark.range(10, 15), root, snapshot_id="epoch-1", append=True)
    # simulate the pre-flip crash: manifest + staged data for epoch-1
    # are complete but the pointer still names its parent
    _rewind_pointer(root, "epoch-0")
    staged = os.path.join(root, "data", "epoch-1")
    before = {
        f: os.stat(os.path.join(staged, f)).st_mtime_ns
        for f in os.listdir(staged)
    }
    out = M.publish(
        spark.range(10, 15), root, snapshot_id="epoch-1", append=True
    )
    assert out == "epoch-1"
    assert M.current_snapshot(root) == "epoch-1"  # commit finished
    after = {
        f: os.stat(os.path.join(staged, f)).st_mtime_ns
        for f in os.listdir(staged)
    }
    assert after == before  # completed by pointer flip, never restaged
    assert M.read_current(spark, root).count() == 15
    # and the recovery is idempotent: a second replay is the no-op path
    assert M.publish(
        spark.range(10, 15), root, snapshot_id="epoch-1", append=True
    ) == "epoch-1"
    assert M.read_current(spark, root).count() == 15


def test_recovery_cas_never_orphans_concurrent_commit(
    spark, tmp_path, monkeypatch
):
    """r12, the CAS upgrade's headline guarantee (replacing the r9-r11
    residual-window tests): a concurrent writer committing a child of
    `observed` between the torn-commit recovery's entry read and its
    pointer advance now makes the recovery's CAS LOSE — the old blind
    flip silently orphaned the concurrent commit from the live
    lineage; that outcome is now impossible. r12b extends the recovery
    past the lost CAS: the lineage walk proves epoch-1 never committed
    (pure residue), so the replay is ADOPTED — restaged and committed
    as a child of the concurrent winner. Both commits land, serialized,
    every row exactly once, and the stream un-wedges."""
    root = str(tmp_path / "tbl")
    M.publish(spark.range(10), root, snapshot_id="epoch-0", append=True)
    M.publish(spark.range(10, 15), root, snapshot_id="epoch-1", append=True)
    _rewind_pointer(root, "epoch-0")  # epoch-1's torn pre-flip state
    stale = M._read_pointer(root)  # the replay's entry capture
    # the concurrent writer commits a DIFFERENT child of epoch-0 — for
    # real, on disk — after the replay's capture
    M.publish(spark.range(100, 103), root, snapshot_id="epoch-2", append=True)
    assert M.current_snapshot(root) == "epoch-2"
    _stale_once(monkeypatch, stale)
    out = M.publish(spark.range(10, 15), root, snapshot_id="epoch-1", append=True)
    monkeypatch.undo()
    assert out == "epoch-1"
    # the concurrent commit was NOT orphaned: epoch-2 is in the live
    # lineage and every one of its rows is current
    assert M.current_snapshot(root) == "epoch-1"
    assert M.snapshots(root) == ["epoch-0", "epoch-2", "epoch-1"]
    # the adopted replay landed as a child of the winner, exactly once
    assert M._manifest(root, "epoch-1")["parent"] == "epoch-2"
    assert sorted(
        r["id"] for r in M.read_current(spark, root).select("id").collect()
    ) == list(range(15)) + [100, 101, 102]


def test_recovery_flip_tolerates_same_token_race(spark, tmp_path, monkeypatch):
    """r9 review #2, re-pinned on the CAS (r12): if a CONCURRENT REPLAY
    OF THE SAME token finished the torn-commit flip between this
    replay's entry read and its own CAS attempt, the CAS loses — but
    the post-loss re-read finds the pointer naming OUR token, so the
    commit is complete and the recovery must return success
    (at-least-once restarts cannot mint a fresh token), not raise the
    unretryable 'superseded' error. Simulated by handing the replay a
    stale entry read from epoch-1's pre-flip instant while on disk the
    twin's flip has already happened (the real generation log)."""
    root = str(tmp_path / "tbl")
    M.publish(spark.range(10), root, snapshot_id="epoch-0", append=True)
    M.publish(spark.range(10, 15), root, snapshot_id="epoch-1", append=True)
    _stale_once(monkeypatch, (1, "epoch-0"))
    out = M.publish(spark.range(10, 15), root, snapshot_id="epoch-1", append=True)
    monkeypatch.undo()
    assert out == "epoch-1"
    assert M.current_snapshot(root) == "epoch-1"


def test_never_committed_token_may_restage(spark, tmp_path):
    """The guard must NOT break genuine crash recovery: a sid whose
    staging wrote data files but CRASHED before its manifest landed
    has no manifest on disk — no reader can reference it — so the
    retry restages and commits normally."""
    root = str(tmp_path / "tbl")
    M.publish(spark.range(10), root, snapshot_id="epoch-0", append=True)
    # simulate a crash mid-stage of epoch-1: data dir exists, no manifest
    crashed = os.path.join(root, "data", "epoch-1")
    os.makedirs(crashed)
    with open(os.path.join(crashed, "part-junk.parquet"), "w") as fh:
        fh.write("torn")
    M.publish(spark.range(10, 15), root, snapshot_id="epoch-1", append=True)
    assert M.snapshots(root) == ["epoch-0", "epoch-1"]
    assert M.read_current(spark, root).count() == 15


def test_concurrent_readers_always_see_a_complete_snapshot(spark, tmp_path):
    """r10 stress witness for the module's core claim — readers
    resolving pointer -> manifest -> file list see "a complete old
    snapshot or a complete new one, never a mix" — under REAL thread
    concurrency rather than scripted interleavings. One writer (one,
    because it interleaves VACUUM, which requires quiesced co-writers)
    publishes a rapid sequence of
    overwrite commits, vacuuming as it goes; three reader threads
    hammer resolve+read the whole time. Every successful read must
    surface exactly one committed (marker, rowcount) pair, and each
    reader's marker sequence must be non-decreasing (the pointer is a
    single os.replace-atomic file, so one thread's sequential resolves
    can never travel backwards). Vacuum runs with keep=5, so it
    GENUINELY reaps old snapshots during the storm; the one failure
    the contract permits is the retention-window casualty the vacuum
    docstring documents — a reader whose resolved snapshot was
    vacuumed between resolve and scan — which the reader verifies
    (the failed sid must be absent from the surviving lineage) and
    counts rather than reports. Any OTHER read failure, or any
    mixed/miscounted row set, fails the test."""
    import threading

    from pyspark.sql import types as T

    root = str(tmp_path / "tbl")
    n_commits = 12
    expected = {i: 50 + i for i in range(n_commits)}

    def frame(i):
        return spark.createDataFrame(
            [(i, j) for j in range(expected[i])],
            T.StructType(
                [
                    T.StructField("marker", T.IntegerType()),
                    T.StructField("j", T.IntegerType()),
                ]
            ),
        )

    M.publish(frame(0), root, snapshot_id="epoch-00")  # readers never see "no table"
    done = threading.Event()
    errors: list[str] = []
    reads_per_thread: list[int] = []
    retention_casualties: list[str] = []

    def reader():
        last = -1
        n_reads = 0
        while not done.is_set() or n_reads == 0:
            sid = M.current_snapshot(root)
            try:
                rows = M.read_snapshot(spark, root, sid).collect()
            except Exception:  # noqa: BLE001 — classified below
                # permitted ONLY as the documented retention-window
                # casualty: the resolved snapshot was vacuumed between
                # resolve and scan. Verify that's what happened — the
                # sid must be gone from the surviving lineage.
                if sid in M.snapshots(root):
                    errors.append(f"read of LIVE snapshot {sid} failed")
                    break
                retention_casualties.append(sid)
                continue
            n_reads += 1
            markers = {r["marker"] for r in rows}
            if len(markers) != 1:
                errors.append(f"torn read: mixed markers {sorted(markers)}")
                break
            (m,) = markers
            if len(rows) != expected.get(m):
                errors.append(f"torn read: marker {m} with {len(rows)} rows")
                break
            if m < last:
                errors.append(f"pointer went backwards: {last} -> {m}")
                break
            last = m
        reads_per_thread.append(n_reads)

    threads = [threading.Thread(target=reader) for _ in range(3)]
    for t in threads:
        t.start()
    try:
        for i in range(1, n_commits):
            M.publish(frame(i), root, snapshot_id=f"epoch-{i:02d}")
            if i % 4 == 0:
                M.vacuum(root, keep=5)
    finally:
        done.set()
        for t in threads:
            t.join(timeout=120)
    assert errors == [], errors
    assert all(not t.is_alive() for t in threads)
    assert all(n > 0 for n in reads_per_thread)
    # the writer's own end state is intact after the storm
    final = M.read_current(spark, root).collect()
    assert {r["marker"] for r in final} == {n_commits - 1}
    assert len(final) == expected[n_commits - 1]


def test_snapshots_walk_survives_vacuum_truncation(spark, tmp_path):
    """r10 bug fix: vacuum deletes old manifests but cannot rewrite the
    survivors' immutable parent pointers, so the lineage walk MUST
    treat a missing ancestor manifest as the retention horizon. Before
    the fix, snapshots() raised FileNotFoundError on the first reaped
    parent — which broke every consumer after the first reaping
    vacuum, including vacuum itself (not idempotent). A missing
    manifest for the CURRENT pointer is still corruption and raises."""
    import os

    root = str(tmp_path / "tbl")
    sids = [M.publish(spark.range(i + 1), root) for i in range(4)]
    assert M.snapshots(root) == sids
    removed = M.vacuum(root, keep=2)
    assert set(removed) == set(sids[:2])
    # the walk lists exactly the surviving suffix of the lineage
    assert M.snapshots(root) == sids[2:]
    # vacuum is idempotent post-truncation
    assert M.vacuum(root, keep=2) == []
    assert M.snapshots(root) == sids[2:]
    # and publishing on the truncated lineage keeps working
    s5 = M.publish(spark.range(9), root)
    assert M.snapshots(root) == sids[2:] + [s5]
    # pointer naming a missing manifest is still an error, not truncation
    os.remove(os.path.join(root, "_manifests", f"{s5}.json"))
    with pytest.raises(OSError):
        M.snapshots(root)


def test_transient_ancestor_error_propagates_and_aborts_vacuum(
    spark, tmp_path, monkeypatch
):
    """r11 fix (ADVICE r10, medium): only FileNotFoundError on an
    ancestor manifest means "reaped by vacuum". A TRANSIENT OSError
    (EMFILE, EACCES, EIO) must propagate: vacuum derives its keep set
    from snapshots()[-keep:], so a transiently truncated walk would
    reap manifests and uniquely-referenced data of snapshots INSIDE
    the keep window — permanent loss from a recoverable error."""
    root = str(tmp_path / "tbl")
    sids = [M.publish(spark.range(i + 1), root) for i in range(4)]

    real_manifest = M._manifest

    def flaky_manifest(r, sid):
        if sid == sids[1]:  # an ANCESTOR, not the current pointer
            raise PermissionError(13, "transient EACCES", f"{sid}.json")
        return real_manifest(r, sid)

    monkeypatch.setattr(M, "_manifest", flaky_manifest)
    # the walk must not misread the transient error as the horizon
    with pytest.raises(PermissionError):
        M.snapshots(root)
    # and vacuum must abort (propagate), reaping NOTHING
    with pytest.raises(PermissionError):
        M.vacuum(root, keep=2)
    monkeypatch.setattr(M, "_manifest", real_manifest)
    # nothing was deleted during the aborted vacuum; full lineage intact
    assert M.snapshots(root) == sids
    # once the condition clears, the same vacuum succeeds normally
    removed = M.vacuum(root, keep=2)
    assert set(removed) == set(sids[:2])
    assert M.snapshots(root) == sids[2:]


def test_concurrent_appends_all_land_serialized(spark, tmp_path):
    """r12, the CAS contract's positive half: N writers racing APPEND
    commits (distinct tokens) against one root ALL land — a loser
    rebuilds its manifest on the fresh parent inside _commit_staged
    and re-CASes. Afterward: every token is in the lineage, each
    lineage step is the parent's file set plus one commit's files
    (serialized, nothing clobbered), and the current snapshot holds
    the union of every writer's rows. Real thread concurrency over the
    real publish path; frames are pre-built so workers contend only on
    the commit protocol."""
    import threading

    root = str(tmp_path / "tbl")
    M.publish(spark.range(0, 10), root, snapshot_id="base", append=True)
    n_writers, per_writer = 4, 3
    frames = {
        (w, i): spark.range(1000 * (w * per_writer + i) + 100,
                            1000 * (w * per_writer + i) + 105)
        for w in range(n_writers)
        for i in range(per_writer)
    }
    errors = []

    def writer(w):
        try:
            for i in range(per_writer):
                M.publish(
                    frames[(w, i)], root,
                    snapshot_id=f"w{w}-c{i}", append=True,
                )
        except Exception as e:  # surfaced below; a raise here = lost commit
            errors.append((w, repr(e)))

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(n_writers)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    chain = M.snapshots(root)
    expected_tokens = {"base"} | {
        f"w{w}-c{i}" for w in range(n_writers) for i in range(per_writer)
    }
    assert set(chain) == expected_tokens  # every commit landed
    # serialization: each step adds exactly its own files to the parent
    prev_files: set[str] = set()
    for sid in chain:
        files = set(M._manifest(root, sid)["files"])
        assert prev_files < files  # strict superset: append-only growth
        prev_files = files
    # value-level: the union of all writers' rows plus the base
    got = sorted(r["id"] for r in M.read_current(spark, root).collect())
    want = sorted(
        set(range(10)).union(
            *(range(1000 * k + 100, 1000 * k + 105)
              for k in range(n_writers * per_writer))
        )
    )
    assert got == want


def test_legacy_pointer_root_bootstraps_generation_log(spark, tmp_path):
    """Pre-r12 roots have only the single-file _CURRENT pointer. The
    reader must resolve it (generation 0 fallback) and the first CAS
    commit must start the generation log from it — lineage unbroken
    across the format boundary."""
    import shutil

    root = str(tmp_path / "tbl")
    s1 = M.publish(spark.range(25), root, snapshot_id="legacy-1")
    # strip the generation log, leaving the legacy mirror file — the
    # exact on-disk state a pre-r12 writer left behind
    shutil.rmtree(os.path.join(root, M._GEN))
    assert M.current_snapshot(root) == s1  # legacy fallback resolves
    assert M.read_current(spark, root).count() == 25
    s2 = M.publish(spark.range(7), root, snapshot_id="post-upgrade")
    assert M.current_snapshot(root) == s2
    assert M.snapshots(root) == [s1, s2]
    gen_dir = os.path.join(root, M._GEN)
    entries = sorted(e for e in os.listdir(gen_dir) if e.isdigit())
    assert [int(e) for e in entries] == [1]  # log restarted at gen 1


def test_vacuum_prunes_generation_log_keeping_pointer(spark, tmp_path):
    """The pointer log grows one entry per commit; vacuum must trim it
    to _GEN_KEEP entries while the max entry (THE pointer) survives
    and still resolves to the current snapshot."""
    root = str(tmp_path / "tbl")
    last = None
    for i in range(M._GEN_KEEP + 6):
        last = M.publish(spark.range(i + 1), root, append=True)
    gen_dir = os.path.join(root, M._GEN)
    assert len(os.listdir(gen_dir)) == M._GEN_KEEP + 6
    M.vacuum(root, keep=2)
    entries = sorted(
        (e for e in os.listdir(gen_dir) if e.isdigit()), key=int
    )
    assert len(entries) == M._GEN_KEEP
    assert M.current_snapshot(root) == last  # max entry kept + resolves
    assert M.read_current(spark, root).count() > 0


def test_lost_race_merge_raises_typed_with_rebase_disabled(
    spark, tmp_path, monkeypatch
):
    """A merge commit's content is DERIVED from the parent it read
    (survivor rows from the touched files), so a lost pointer race
    must NOT silently re-point. With ``rebase_retries=0`` (the pre-
    r12b contract) the typed ConcurrentPublishError surfaces for the
    caller to re-derive. Pinned via a stale parent capture around a
    real interloping commit."""
    root = str(tmp_path / "tbl")
    M.publish(
        spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v")),
        root,
        stats_cols=["id"],
    )
    stale = M._read_pointer(root)
    # interloper: another writer overwrites while our merge derives
    M.publish(
        spark.range(50).select(F.col("id"), (F.col("id") * 3).alias("v")),
        root,
        stats_cols=["id"],
    )
    _stale_once(monkeypatch, stale)
    upd = spark.range(5).select(F.col("id"), F.lit(-1).cast("long").alias("v"))
    with pytest.raises(M.ConcurrentPublishError, match="concurrent publish"):
        M.merge_upsert(spark, upd, root, "id", rebase_retries=0)
    monkeypatch.undo()
    # nothing clobbered: the interloper's overwrite is still current
    assert M.read_current(spark, root).count() == 50


def test_lost_race_merge_rebases_to_the_serial_outcome(
    spark, tmp_path, monkeypatch
):
    """r12b OCC: by default a merge that lost the race RE-DERIVES on
    the interloper's result and lands — the outcome must equal the
    serial order (interloper, then merge). The interloper overwrote
    the table down to ids 0..49 (v = id*3); the merge updates ids 0..4
    to v=-1 and must see the INTERLOPER's table, not its stale parent:
    50 rows, five of them -1, the rest id*3."""
    root = str(tmp_path / "tbl")
    M.publish(
        spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v")),
        root,
        stats_cols=["id"],
    )
    stale = M._read_pointer(root)
    M.publish(
        spark.range(50).select(F.col("id"), (F.col("id") * 3).alias("v")),
        root,
        stats_cols=["id"],
    )
    _stale_once(monkeypatch, stale)
    upd = spark.range(5).select(F.col("id"), F.lit(-1).cast("long").alias("v"))
    sid = M.merge_upsert(spark, upd, root, "id")
    monkeypatch.undo()
    assert M.current_snapshot(root) == sid
    rows = {r["id"]: r["v"] for r in M.read_current(spark, root).collect()}
    assert len(rows) == 50
    assert all(rows[i] == -1 for i in range(5))
    assert all(rows[i] == i * 3 for i in range(5, 50))


def test_lost_race_compaction_rebases_absorbing_the_append(
    spark, tmp_path, monkeypatch
):
    """compact_snapshot rewrites the parent's content; an append that
    lands between the compaction's read and its commit must never be
    dropped. r12b: the compaction auto-rebases and compacts the
    WINNER's table, so the appended rows survive into the compacted
    current; with rebase_retries=0 the typed error surfaces instead
    (the pre-r12b contract), leaving the append current."""
    root = str(tmp_path / "tbl")
    M.publish(spark.range(100), root)
    stale = M._read_pointer(root)
    M.publish(spark.range(100, 120), root, append=True)
    _stale_once(monkeypatch, stale)
    with pytest.raises(M.ConcurrentPublishError, match="concurrent publish"):
        M.compact_snapshot(spark, root, target_files=1, rebase_retries=0)
    monkeypatch.undo()
    assert M.read_current(spark, root).count() == 120
    # same race, default retries: the rebase compacts the post-append
    # table — 120 rows, one file, appended ids present
    stale = M._read_pointer(root)
    M.publish(spark.range(120, 130), root, append=True)
    _stale_once(monkeypatch, stale)
    sid = M.compact_snapshot(spark, root, target_files=1)
    monkeypatch.undo()
    assert M.current_snapshot(root) == sid
    assert len(M._manifest(root, sid)["files"]) == 1
    got = sorted(r["id"] for r in M.read_current(spark, root).collect())
    assert got == list(range(130))


def test_merge_rebase_same_token_scrubs_its_lost_residue(
    spark, tmp_path, monkeypatch
):
    """The hard same-token case: the first attempt writes sid's
    manifest, then loses the CAS to an interloper landing between the
    derivation and the pointer advance. Without the scrub, the retry
    would be refused as a superseded-token replay (the residue's
    parent is stale). The rebase must remove exactly its own residue,
    re-derive on the interloper, and land the epoch token once —
    committed manifest's parent IS the interloper."""
    root = str(tmp_path / "tbl")
    M.publish(
        spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v")),
        root,
        stats_cols=["id"],
        snapshot_id="base",
    )
    orig_adv = M._advance_pointer
    state = {"fired": False}

    def adv_with_interloper(r, expect_gen, new_sid):
        # the worst instruction: an interloper append commits AFTER the
        # merge wrote its manifest, IMMEDIATELY before its CAS
        if not state["fired"] and new_sid == "epoch-7":
            state["fired"] = True
            M.publish(
                spark.range(100, 103).select(
                    F.col("id"), (F.col("id") * 2).alias("v")
                ),
                root,
                append=True,
                snapshot_id="interloper",
            )
        return orig_adv(r, expect_gen, new_sid)

    monkeypatch.setattr(M, "_advance_pointer", adv_with_interloper)
    upd = spark.range(3).select(F.col("id"), F.lit(-1).cast("long").alias("v"))
    out = M.merge_upsert(spark, upd, root, "id", snapshot_id="epoch-7")
    monkeypatch.undo()
    assert out == "epoch-7"
    assert M.current_snapshot(root) == "epoch-7"
    # exactly one committed life of the token, rebased onto the winner
    assert M._manifest(root, "epoch-7")["parent"] == "interloper"
    rows = {r["id"]: r["v"] for r in M.read_current(spark, root).collect()}
    assert len(rows) == 13  # 10 base + 3 interloper rows, merged once
    assert all(rows[i] == -1 for i in range(3))
    assert all(rows[i] == i * 2 for i in list(range(3, 10)) + [100, 101, 102])
    # replay of the committed epoch stays a no-op (exactly-once guard)
    assert M.merge_upsert(spark, upd, root, "id", snapshot_id="epoch-7") == "epoch-7"
    assert M.read_current(spark, root).count() == 13


def test_publish_adopts_provable_crash_residue_token(spark, tmp_path):
    """Crash between a lost CAS and the rebase scrub leaves a manifest
    whose token never committed. The r12b lineage adjudication in
    publish must ADOPT such a replay (delete the residue, commit fresh
    on the live lineage) instead of wedging the stream on the
    superseded-token refusal — the walk from current completes without
    meeting the token, which PROVES it never committed."""
    root = str(tmp_path / "tbl")
    M.publish(spark.range(10), root, snapshot_id="epoch-0", append=True)
    M.publish(spark.range(10, 15), root, snapshot_id="epoch-1", append=True)
    # handcraft the crash residue: epoch-2 staged + manifest written
    # against epoch-0 (a parent the pointer has moved past), CAS lost,
    # process died before any scrub
    staged = os.path.join(root, "data", "epoch-2")
    os.makedirs(staged)
    with open(os.path.join(root, "_manifests", "epoch-2.json"), "w") as fh:
        json.dump(
            {"snapshot_id": "epoch-2", "parent": "epoch-0",
             "files": [], "row_count": None},
            fh,
        )
    out = M.publish(spark.range(20, 23), root, snapshot_id="epoch-2", append=True)
    assert out == "epoch-2"
    assert M.current_snapshot(root) == "epoch-2"
    assert M._manifest(root, "epoch-2")["parent"] == "epoch-1"  # adopted fresh
    got = sorted(r["id"] for r in M.read_current(spark, root).collect())
    assert got == list(range(15)) + [20, 21, 22]  # exactly once


def test_publish_refuses_residue_when_lineage_walk_truncates(spark, tmp_path):
    """The adoption proof requires a COMPLETE lineage walk; when vacuum
    has reaped ancestor manifests (FileNotFoundError — the retention
    horizon), residue and committed-then-superseded are
    indistinguishable and the replay must stay refused."""
    root = str(tmp_path / "tbl")
    M.publish(spark.range(5), root, snapshot_id="e0", append=True)
    M.publish(spark.range(5, 10), root, snapshot_id="e1", append=True)
    M.publish(spark.range(10, 15), root, snapshot_id="e2", append=True)
    M.vacuum(root, keep=1)  # e0/e1 manifests reaped: walk now truncates
    with open(os.path.join(root, "_manifests", "ghost.json"), "w") as fh:
        json.dump(
            {"snapshot_id": "ghost", "parent": "e1",
             "files": [], "row_count": None},
            fh,
        )
    with pytest.raises(RuntimeError, match="superseded"):
        M.publish(spark.range(99), root, snapshot_id="ghost", append=True)
    assert M.current_snapshot(root) == "e2"  # untouched


def _ghost_commit(spark, root, verb: str):
    """Run ``verb`` against ``root`` with the replay token ``ghost``."""
    from pyspark.sql.types import StringType, StructField

    ids = spark.range(2)
    flagged = ids.select("id", F.lit(False).alias("_delete"))
    name, _, mode = verb.partition("-")
    kw = {"snapshot_id": "ghost"}
    if mode:
        kw["mode"] = mode
    return {
        "publish": lambda: M.publish(ids, root, append=True, **kw),
        "delete_where": lambda: M.delete_where(spark, root, "id < 2", **kw),
        "update_where": lambda: M.update_where(
            spark, root, "id < 2", {"id": "id + 100"}, **kw
        ),
        "merge_upsert": lambda: M.merge_upsert(spark, ids, root, "id", **kw),
        "merge_apply": lambda: M.merge_apply(spark, flagged, root, "id", **kw),
        "compact_snapshot": lambda: M.compact_snapshot(spark, root, 1, **kw),
        "restore_snapshot": lambda: M.restore_snapshot(root, "e2", **kw),
        "evolve_schema": lambda: M.evolve_schema(
            root, [StructField("w", StringType())], **kw
        ),
    }[name]()


@pytest.mark.parametrize(
    "verb",
    [
        "publish",
        "delete_where-cow", "delete_where-mor",
        "update_where-cow", "update_where-mor",
        "merge_upsert-cow", "merge_upsert-mor",
        "merge_apply",
        "compact_snapshot",
        "restore_snapshot",
        "evolve_schema",
    ],
)
def test_every_commit_path_refuses_a_token_it_cannot_prove(
    spark, tmp_path, verb
):
    """A token whose manifest is neither current nor provably residue
    (the lineage walk stops at the vacuum horizon) is refused by every
    commit path, merge-on-read included: none of them overwrites the
    manifest or moves the pointer."""
    root = str(tmp_path / "tbl")
    for i in range(4):
        M.publish(
            spark.range(5 * i, 5 * i + 5), root, snapshot_id=f"e{i}",
            append=True, stats_cols=["id"],
        )
    M.vacuum(root, keep=2)  # e0/e1 manifests reaped: the walk truncates
    with open(os.path.join(root, "_manifests", "ghost.json"), "w") as fh:
        json.dump(
            {"snapshot_id": "ghost", "parent": "e1",
             "files": [], "row_count": None},
            fh,
        )
    with pytest.raises(RuntimeError, match="vacuum horizon"):
        _ghost_commit(spark, root, verb)
    assert M.current_snapshot(root) == "e3"
    assert M._manifest(root, "ghost")["parent"] == "e1"


def test_concurrent_merges_all_land_serialized(spark, tmp_path):
    """r12b, the OCC loop under REAL thread concurrency: N writers
    race full merge_upsert commits (distinct tokens, disjoint insert
    keys, plus one contended key they all update) against one root.
    Every merge must land — losers re-derive on the winner's result —
    and the final table must equal SOME serial application: every
    writer's inserts present exactly once, the contended key holding
    exactly one writer's value, and every token in the lineage. Worst
    case one merge loses 3 rival commits, exactly _REBASE_RETRIES, so
    the DEFAULT retry budget must absorb an N=4 storm."""
    import threading

    root = str(tmp_path / "tbl")
    base = spark.range(10).select(F.col("id"), F.lit(0).cast("long").alias("v"))
    M.publish(base, root, snapshot_id="base", stats_cols=["id"])
    n_writers = 4
    frames = {
        w: spark.createDataFrame(
            [(0, w + 1)] + [(100 * (w + 1) + j, w + 1) for j in range(3)],
            "id long, v long",
        )
        for w in range(n_writers)
    }
    errors = []

    def writer(w):
        try:
            M.merge_upsert(
                spark, frames[w], root, "id", snapshot_id=f"m{w}"
            )
        except Exception as e:  # surfaced below; a raise = lost merge
            errors.append((w, repr(e)))

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(n_writers)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    chain = M.snapshots(root)
    assert set(chain) == {"base"} | {f"m{w}" for w in range(n_writers)}
    rows = {r["id"]: r["v"] for r in M.read_current(spark, root).collect()}
    # base rows 1..9 untouched; id 0 = exactly one writer's update;
    # every writer's three inserts present with its own value
    assert all(rows[i] == 0 for i in range(1, 10))
    assert rows[0] in {w + 1 for w in range(n_writers)}
    for w in range(n_writers):
        for j in range(3):
            assert rows[100 * (w + 1) + j] == w + 1
    assert len(rows) == 10 + 3 * n_writers


def test_restore_snapshot_rolls_back_as_a_new_commit(spark, tmp_path):
    """RESTORE semantics (Delta RESTORE TO VERSION, metadata-only):
    current state equals the target snapshot again, committed as a NEW
    child — the pointer never moves backward, the lineage stays
    linear, and no data is rewritten (the restored manifest lists the
    target's files by reference, zone maps included)."""
    root = str(tmp_path / "tbl")
    s1 = M.publish(
        spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v")),
        root,
        stats_cols=["id"],
    )
    s2 = M.merge_upsert(
        spark,
        spark.range(5).select(F.col("id"), F.lit(-1).cast("long").alias("v")),
        root,
        "id",
    )
    assert M.read_current(spark, root).where("v = -1").count() == 5
    r = M.restore_snapshot(root, s1)
    assert M.current_snapshot(root) == r and r not in (s1, s2)
    assert M.snapshots(root) == [s1, s2, r]  # forward-only lineage
    # value-level: exactly the pre-merge table again
    rows = {x["id"]: x["v"] for x in M.read_current(spark, root).collect()}
    assert rows == {i: i * 2 for i in range(100)}
    # metadata-only: the restored manifest references s1's files and
    # re-derives its row_count + zone maps from them
    rm, m1 = M._manifest(root, r), M._manifest(root, s1)
    assert rm["files"] == m1["files"]
    assert rm["row_count"] == 100
    assert rm.get("files_meta") == m1.get("files_meta")
    # the undone merge stays time-travel readable (it is history)
    assert M.read_snapshot(spark, root, s2).where("v = -1").count() == 5
    # vacuum keeps the restored files (they are current-referenced)
    M.vacuum(root, keep=1)
    assert M.read_current(spark, root).count() == 100
    # restoring to the current state is a documented no-op
    assert M.restore_snapshot(root, r) == r
    assert M.snapshots(root)[-1] == r


def test_restore_refuses_unprovable_or_vacuumed_targets(spark, tmp_path):
    """A restore target must be a walk-proven committed snapshot with
    every data file still on disk: residue manifests, reaped
    manifests, and vacuumed file lists are all refused loudly (a
    manifest over missing files would tear every future read)."""
    root = str(tmp_path / "tbl")
    s1 = M.publish(spark.range(10), root)
    s2 = M.publish(spark.range(20), root)
    # residue manifest (never committed): refused
    with open(os.path.join(root, "_manifests", "ghost.json"), "w") as fh:
        json.dump(
            {"snapshot_id": "ghost", "parent": s1, "files": [],
             "row_count": None},
            fh,
        )
    with pytest.raises(RuntimeError, match="not a committed snapshot"):
        M.restore_snapshot(root, "ghost")
    # vacuumed target: manifest reaped -> FileNotFoundError
    s3 = M.publish(spark.range(30), root)
    M.vacuum(root, keep=1)
    with pytest.raises(FileNotFoundError):
        M.restore_snapshot(root, s1)
    # manifest present but a data file missing: refused before commit
    s4 = M.publish(spark.range(40), root)
    victim = M._manifest(root, s3)["files"][0]
    os.remove(os.path.join(root, victim))
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        M.restore_snapshot(root, s3)
    assert M.current_snapshot(root) == s4  # refusals never pointed


def test_restore_token_replay_is_idempotent_even_after_supersede(
    spark, tmp_path
):
    """A restore epoch token replays idempotently while current AND
    after it was superseded (the lineage walk proves it committed, so
    the replay no-ops rather than recommitting — which would write a
    cycle into the parent chain). The replay also survives the TARGET
    being vacuumed away, since the committed restore carries the files
    under its own manifest (r12 close review)."""
    root = str(tmp_path / "tbl")
    s1 = M.publish(spark.range(10), root)
    M.publish(spark.range(20), root)
    out = M.restore_snapshot(root, s1, snapshot_id="restore-1")
    assert out == "restore-1"
    # replay while current: no-op
    assert M.restore_snapshot(root, s1, snapshot_id="restore-1") == "restore-1"
    assert M.snapshots(root).count("restore-1") == 1
    # superseded, then replayed: idempotent no-op, nothing recommitted
    top = M.publish(spark.range(5), root)
    assert M.restore_snapshot(root, s1, snapshot_id="restore-1") == "restore-1"
    assert M.current_snapshot(root) == top
    assert M.snapshots(root).count("restore-1") == 1
    # vacuum the TARGET out of existence (keep=3 spares the committed
    # restore's own manifest but reaps s1): the replay still no-ops —
    # the old ordering validated the target first and crashed here
    M.vacuum(root, keep=3)
    with pytest.raises(Exception):
        M.read_snapshot(spark, root, s1)  # target truly gone
    assert M.restore_snapshot(root, s1, snapshot_id="restore-1") == "restore-1"
    assert M.current_snapshot(root) == top


def test_restore_lost_race_retries_and_lands(spark, tmp_path, monkeypatch):
    """A restore whose CAS loses to an interloping commit re-reads and
    re-commits (its content derives from the immutable TARGET, not the
    parent, so the rebuild is pure metadata). The landed restore is a
    child of the interloper and still reproduces the target's rows."""
    root = str(tmp_path / "tbl")
    s1 = M.publish(spark.range(10), root)
    s2 = M.publish(spark.range(20), root)
    stale = M._read_pointer(root)
    s3 = M.publish(spark.range(5), root)  # interloper
    _stale_once(monkeypatch, stale)
    r = M.restore_snapshot(root, s1)
    monkeypatch.undo()
    assert M.current_snapshot(root) == r
    assert M.snapshots(root) == [s1, s2, s3, r]  # interloper in lineage
    assert M.read_current(spark, root).count() == 10


def test_schema_recorded_and_reads_bind_without_footers(spark, tmp_path):
    """Every commit records its snapshot schema; reads bind to it
    (names + types) instead of unioning parquet footers."""
    root = str(tmp_path / "tbl")
    M.publish(
        spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v")),
        root,
    )
    man = M._manifest(root, M.current_snapshot(root))
    assert [f["name"] for f in man["schema"]["fields"]] == ["id", "v"]
    assert all(f["nullable"] for f in man["schema"]["fields"])
    got = M.read_current(spark, root)
    assert got.columns == ["id", "v"]
    assert dict(got.dtypes) == {"id": "bigint", "v": "bigint"}


def test_append_schema_evolution_requires_opt_in(spark, tmp_path):
    """Delta's mergeSchema contract: an append adding a column is
    refused by default, lands with merge_schema=True, and old files
    read the evolved column as NULL; a shared-name TYPE conflict is
    always refused (no implicit casts). Appending a column subset is
    fine — missing columns read as NULL."""
    root = str(tmp_path / "tbl")
    M.publish(
        spark.range(3).select(F.col("id"), (F.col("id") * 2).alias("v")),
        root,
        snapshot_id="s1",
    )
    wide = spark.range(3, 6).select(
        F.col("id"), (F.col("id") * 2).alias("v"), F.lit("en").alias("lang")
    )
    with pytest.raises(ValueError, match="merge_schema=True"):
        M.publish(wide, root, append=True)
    M.publish(wide, root, append=True, merge_schema=True, snapshot_id="s2")
    cur = M.read_current(spark, root)
    assert cur.columns == ["id", "v", "lang"]  # parent order, new at end
    rows = {r["id"]: r["lang"] for r in cur.collect()}
    assert all(rows[i] is None for i in range(3))  # old files: NULL
    assert all(rows[i] == "en" for i in range(3, 6))
    # time travel before the evolution keeps the narrow schema
    assert M.read_snapshot(spark, root, "s1").columns == ["id", "v"]
    # subset append: lang missing -> NULL, no opt-in needed
    M.publish(
        spark.range(6, 8).select(F.col("id"), (F.col("id") * 2).alias("v")),
        root,
        append=True,
        snapshot_id="s3",
    )
    rows = {r["id"]: r["lang"] for r in M.read_current(spark, root).collect()}
    assert rows[6] is None and rows[7] is None and len(rows) == 8
    # type conflict: always refused, even with the opt-in
    clash = spark.range(8, 9).select(
        F.col("id"), F.lit("oops").alias("v")
    )
    with pytest.raises(ValueError, match="no.*implicit casts|implicit casts"):
        M.publish(clash, root, append=True, merge_schema=True)
    assert M.read_current(spark, root).count() == 8  # refusal never landed


def test_merge_and_restore_respect_evolved_schema(spark, tmp_path):
    """After an evolution, merge_upsert must read survivors through
    the RECORDED schema (touched files may predate the new column) and
    refuse a batch whose columns don't match the table contract;
    restore must carry the restored snapshot's own schema back."""
    root = str(tmp_path / "tbl")
    M.publish(
        spark.range(4).select(F.col("id"), (F.col("id") * 2).alias("v")),
        root,
        stats_cols=["id"],
        snapshot_id="narrow",
    )
    M.publish(
        spark.range(4, 6).select(
            F.col("id"), (F.col("id") * 2).alias("v"), F.lit("en").alias("lang")
        ),
        root,
        append=True,
        merge_schema=True,
        snapshot_id="wide",
    )
    # batch narrower than the evolved contract: refused loudly
    with pytest.raises(ValueError, match="batch columns"):
        M.merge_upsert(
            spark,
            spark.range(1).select(F.col("id"), F.lit(-1).cast("long").alias("v")),
            root,
            "id",
        )
    # full-contract batch: updates rows in pre-evolution files, whose
    # surviving rows carry lang=NULL through the recorded schema
    batch = spark.createDataFrame([(0, -1, "fr"), (9, -9, "de")],
                                  "id long, v long, lang string")
    M.merge_upsert(spark, batch, root, "id")
    rows = {r["id"]: (r["v"], r["lang"]) for r in M.read_current(spark, root).collect()}
    assert rows[0] == (-1, "fr") and rows[9] == (-9, "de")
    assert rows[1] == (2, None)  # pre-evolution survivor, NULL lang
    assert rows[4] == (8, "en")
    assert len(rows) == 7
    # restore to the pre-evolution snapshot: narrow schema comes back
    M.restore_snapshot(root, "narrow")
    cur = M.read_current(spark, root)
    assert cur.columns == ["id", "v"]
    assert cur.count() == 4


def test_delete_where_rewrites_only_matching_files(spark, tmp_path):
    """COPY-ON-WRITE DELETE: rows matching the predicate vanish, files
    with no matches carry over BY REFERENCE (same path, not rewritten),
    and NULL-predicate rows are kept (SQL DELETE semantics)."""
    root = str(tmp_path / "tbl")
    df = spark.range(1000).select(
        F.col("id"),
        F.when(F.col("id") % 100 == 0, None).otherwise(F.col("id") % 7).alias("v"),
    )
    M.publish(df.repartitionByRange(8, "id"), root, stats_cols=["id"])
    parent = M.current_snapshot(root)
    pfiles = M._manifest(root, parent)["files"]
    sid = M.delete_where(spark, root, "id >= 100 AND id < 200 AND v = 3")
    assert M.current_snapshot(root) == sid
    man = M._manifest(root, sid)
    # untouched files carried by reference: most of the 8 range files
    carried = set(man["files"]) & set(pfiles)
    assert len(carried) >= 6
    rows = {r["id"]: r["v"] for r in M.read_current(spark, root).collect()}
    deleted = {i for i in range(100, 200) if i % 100 != 0 and i % 7 == 3}
    assert deleted and all(i not in rows for i in deleted)
    assert len(rows) == 1000 - len(deleted)
    # NULL predicate rows (v IS NULL at 100): kept
    assert 100 in rows and rows[100] is None
    # zone maps re-harvested for the rewritten files
    assert len(man["files_meta"]) == len(man["files"])
    # the pre-delete snapshot is time-travel intact
    assert M.read_snapshot(spark, root, parent).count() == 1000


def test_delete_where_noop_and_replay(spark, tmp_path):
    """A predicate matching nothing commits nothing (parent stays
    current); a replayed epoch token is exactly-once."""
    root = str(tmp_path / "tbl")
    s1 = M.publish(spark.range(50), root, stats_cols=["id"])
    assert M.delete_where(spark, root, "id > 1000") == s1
    assert M.current_snapshot(root) == s1
    out = M.delete_where(spark, root, "id < 10", snapshot_id="del-1")
    assert out == "del-1"
    assert M.delete_where(spark, root, "id < 10", snapshot_id="del-1") == "del-1"
    assert M.snapshots(root) == [s1, "del-1"]
    assert M.read_current(spark, root).count() == 40


def test_delete_where_lost_race_rebases(spark, tmp_path, monkeypatch):
    """A delete losing the pointer race to a concurrent append
    re-derives on the winner: appended rows matching the predicate are
    deleted too (the serial order append-then-delete)."""
    root = str(tmp_path / "tbl")
    M.publish(spark.range(100), root, stats_cols=["id"])
    stale = M._read_pointer(root)
    M.publish(spark.range(100, 120), root, append=True)  # interloper
    _stale_once(monkeypatch, stale)
    sid = M.delete_where(spark, root, "id % 2 = 1")
    monkeypatch.undo()
    assert M.current_snapshot(root) == sid
    got = sorted(r["id"] for r in M.read_current(spark, root).collect())
    assert got == [i for i in range(120) if i % 2 == 0]
    # and rebase_retries=0 keeps the raise-to-caller contract (the
    # predicate must match STALE rows so the commit path engages — a
    # stale no-match returns without committing, which is the valid
    # delete-before-append serialization)
    stale = M._read_pointer(root)
    M.publish(spark.range(200, 210), root, append=True)
    _stale_once(monkeypatch, stale)
    with pytest.raises(M.ConcurrentPublishError):
        M.delete_where(spark, root, "id >= 100", rebase_retries=0)
    monkeypatch.undo()


def test_delete_where_respects_evolved_schema(spark, tmp_path):
    """DELETE on an evolved lineage: survivor rows from pre-evolution
    files keep their NULL evolved column, and the delete predicate may
    reference the evolved column (NULL never matches)."""
    root = str(tmp_path / "tbl")
    M.publish(spark.range(4).select(F.col("id"), (F.col("id") * 2).alias("v")), root)
    M.publish(
        spark.range(4, 8).select(
            F.col("id"), (F.col("id") * 2).alias("v"), F.lit("en").alias("lang")
        ),
        root, append=True, merge_schema=True,
    )
    M.delete_where(spark, root, "lang = 'en' AND id >= 6")
    rows = {r["id"]: r["lang"] for r in M.read_current(spark, root).collect()}
    assert sorted(rows) == [0, 1, 2, 3, 4, 5]
    assert rows[0] is None and rows[4] == "en"  # old files: NULL kept


def test_mixed_dml_storm_is_serializable(spark, tmp_path):
    """The OCC end-to-end theorem: appends, merges, and deletes racing
    from real threads must produce a lineage whose SEQUENTIAL REPLAY
    reproduces the racing table exactly. Each worker runs one DML op
    with a distinct token; afterwards the observed lineage order is
    re-applied one-by-one to a fresh root and the two tables must be
    row-for-row identical — if any commit had derived against a stale
    state (lost update, clobbered append, vanished delete), the replay
    would diverge."""
    import threading

    root = str(tmp_path / "tbl")
    base = spark.range(40).select(
        F.col("id"), F.lit(0).cast("long").alias("v")
    )
    M.publish(base.repartitionByRange(4, "id"), root,
              snapshot_id="base", stats_cols=["id"])
    ops = {
        "app-0": ("append", spark.range(100, 105).select(
            F.col("id"), F.lit(100).cast("long").alias("v"))),
        "app-1": ("append", spark.range(200, 205).select(
            F.col("id"), F.lit(200).cast("long").alias("v"))),
        "mrg-0": ("merge", spark.createDataFrame(
            [(1, -1), (300, -1)], "id long, v long")),
        "mrg-1": ("merge", spark.createDataFrame(
            [(2, -2), (301, -2)], "id long, v long")),
        "del-0": ("delete", "id >= 10 AND id < 20"),
        "del-1": ("delete", "id >= 30 AND id < 35"),
    }

    def apply_op(r, token, kind, payload):
        # rebase_retries=8: six racing writers can cost one loser up
        # to five lost races — past the default budget, which is sized
        # for <=4 concurrent writers (its docstring's contention bar)
        if kind == "append":
            M.publish(payload, r, snapshot_id=token, append=True,
                      stats_cols=["id"])
        elif kind == "merge":
            M.merge_upsert(spark, payload, r, "id", snapshot_id=token,
                           rebase_retries=8)
        else:
            M.delete_where(spark, r, payload, snapshot_id=token,
                           rebase_retries=8)

    errors = []

    def worker(token):
        kind, payload = ops[token]
        try:
            apply_op(root, token, kind, payload)
        except Exception as e:
            errors.append((token, repr(e)))

    threads = [threading.Thread(target=worker, args=(t,)) for t in ops]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    chain = M.snapshots(root)
    # every token committed exactly once (deletes always match here,
    # so the no-op path cannot hide one), lineage is linear and whole
    assert chain[0] == "base" and sorted(chain[1:]) == sorted(ops)
    # sequential replay of the OBSERVED order onto a fresh root
    replay = str(tmp_path / "replay")
    M.publish(base.repartitionByRange(4, "id"), replay,
              snapshot_id="base", stats_cols=["id"])
    for token in chain[1:]:
        kind, payload = ops[token]
        apply_op(replay, token, kind, payload)
    got = sorted(
        (r["id"], r["v"]) for r in M.read_current(spark, root).collect()
    )
    want = sorted(
        (r["id"], r["v"]) for r in M.read_current(spark, replay).collect()
    )
    assert got == want


def test_compact_zorder_makes_both_columns_prunable(spark, tmp_path):
    """OPTIMIZE ZORDER BY: after a Z-ordered compaction, read_pruned
    scans strictly fewer files on EITHER clustered column (each file
    covers a small rectangle of (a, b) space), with the row set and
    every filter result unchanged."""
    root = str(tmp_path / "tbl")
    # deterministic scatter: a and b are independent hash-derived dims,
    # written id-clustered so b starts completely unprunable
    df = spark.range(20_000).select(
        F.col("id"),
        F.expr("pmod(hash(concat('a:', id)), 1000)").alias("a"),
        F.expr("pmod(hash(concat('b:', id)), 1000)").alias("b"),
    )
    M.publish(df.repartitionByRange(8, "id"), root, stats_cols=["a", "b"])
    before_a = len(M.read_pruned(spark, root, "a", 0, 49).inputFiles())
    before_b = len(M.read_pruned(spark, root, "b", 0, 49).inputFiles())
    assert before_a == 8 and before_b == 8  # scattered: nothing prunes
    sid = M.compact_snapshot(spark, root, target_files=8, zorder_cols=("a", "b"))
    man = M._manifest(root, sid)
    assert len(man["files"]) == 8
    assert all(
        {"a", "b"} <= set(m["stats"]) for m in man["files_meta"].values()
    )
    after_a = M.read_pruned(spark, root, "a", 0, 49)
    after_b = M.read_pruned(spark, root, "b", 0, 49)
    assert len(after_a.inputFiles()) < 8  # both dimensions now prune
    assert len(after_b.inputFiles()) < 8
    # values identical to the pre-compaction truth
    want_a = df.where("a between 0 and 49").count()
    want_b = df.where("b between 0 and 49").count()
    assert after_a.count() == want_a and after_b.count() == want_b
    assert M.read_current(spark, root).count() == 20_000


def test_cdc_diff_surfaces_delete_where_rows(spark, tmp_path):
    """Cross-feature pin: a DELETE commit is consumable downstream as
    CDC — snapshot_diff between the pre- and post-delete snapshots
    emits exactly the deleted keys as 'delete' ops and nothing else."""
    from db_loader_spark.operators.cdc import snapshot_diff

    root = str(tmp_path / "tbl")
    df = spark.range(100).select(F.col("id"), (F.col("id") % 9).alias("v"))
    before = M.publish(df.repartitionByRange(4, "id"), root, stats_cols=["id"])
    after = M.delete_where(spark, root, "id >= 40 AND id < 55")
    diff = snapshot_diff(
        M.read_snapshot(spark, root, before),
        M.read_snapshot(spark, root, after),
        ["id"],
        ["v"],
    )
    rows = [(r["id"], r["change_op"]) for r in diff.collect()]
    assert sorted(rows) == [(i, "delete") for i in range(40, 55)]


def test_null_count_zone_maps_prune_allnull_and_absent_columns(spark, tmp_path):
    """r12c: zone maps record per-file NULL COUNTS, and read_pruned
    skips files that are provably all-NULL in the filter column —
    including files staged WITHOUT the column (subset appends / files
    predating a schema evolution), which parquet min/max alone can
    never prune. Results stay exact."""
    root = str(tmp_path / "tbl")
    # file layout by id-range; v is NULL for the low half of ids, so
    # low-range files are ALL-null in v (min/max absent, nulls==rows)
    df = spark.range(8_000).select(
        F.col("id"),
        F.when(F.col("id") >= 4_000, F.col("id") % 100).alias("v"),
    )
    M.publish(df.repartitionByRange(8, "id"), root, stats_cols=["id", "v"])
    man = M._manifest(root, M.current_snapshot(root))
    allnull = [
        f for f, m in man["files_meta"].items()
        if m.get("nulls", {}).get("v") == m["rows"]
    ]
    assert len(allnull) >= 3  # the low-id files
    pruned = M.read_pruned(spark, root, "v", 10, 20)
    kept = set(pruned.inputFiles())
    assert all(not any(k.endswith(f) for k in kept) for f in allnull)
    assert pruned.count() == df.where("v between 10 and 20").count()
    # subset append: the staged files LACK column v entirely, yet ask
    # for v stats — recorded as nulls==rows, so a v-range scan skips
    # them; an id-range scan still sees their rows
    M.publish(
        spark.range(50_000, 50_100).select("id"),
        root, append=True, stats_cols=["id", "v"],
    )
    man2 = M._manifest(root, M.current_snapshot(root))
    new_files = [f for f in man2["files"] if f not in set(man["files"])]
    assert new_files
    assert all(
        man2["files_meta"][f]["nulls"]["v"] == man2["files_meta"][f]["rows"]
        for f in new_files
    )
    pruned2 = M.read_pruned(spark, root, "v", 10, 20)
    assert all(
        not any(k.endswith(f) for k in pruned2.inputFiles())
        for f in new_files
    )
    assert pruned2.count() == df.where("v between 10 and 20").count()
    assert M.read_pruned(spark, root, "id", 50_000, 50_050).count() == 51
    # merge targeting skips all-null-key files the same way: an update
    # batch on v must not rewrite the files that provably hold no keys
    before_files = set(man2["files"])
    batch = spark.createDataFrame([(10, 777)], "v long, id long").select(
        "id", "v"
    )
    # (merge on v: batch columns must match the table contract)
    M.merge_upsert(spark, batch.select("id", "v"), root, "v")
    man3 = M._manifest(root, M.current_snapshot(root))
    carried_allnull = [f for f in allnull if f in set(man3["files"])]
    assert carried_allnull == allnull  # all-null-v files never rewritten


def test_vacuum_time_retention_widens_the_keep_set(spark, tmp_path):
    """vacuum(keep_hours=...): lineage snapshots committed inside the
    time window survive beyond keep=N; aging a manifest's mtime past
    the window lets the same call reap it (commit time = manifest
    mtime, the filesystem's own stamp)."""
    root = str(tmp_path / "tbl")
    sids = [M.publish(spark.range(i + 1), root) for i in range(4)]
    # all four commits are seconds old: a 1-hour window keeps everything
    assert M.vacuum(root, keep=1, keep_hours=1.0) == []
    assert all(M.read_snapshot(spark, root, s).count() == i + 1
               for i, s in enumerate(sids))
    # age the two oldest manifests past the window; they reap, the
    # recent two survive (keep=1 alone would have reaped three)
    old = __import__("time").time() - 7200
    for s in sids[:2]:
        os.utime(os.path.join(root, "_manifests", f"{s}.json"), (old, old))
    removed = M.vacuum(root, keep=1, keep_hours=1.0)
    assert set(removed) == set(sids[:2])
    assert M.read_snapshot(spark, root, sids[2]).count() == 3
    assert M.read_current(spark, root).count() == 4
    with pytest.raises(Exception):
        M.read_snapshot(spark, root, sids[0])


def test_history_lists_commit_metadata_newest_first(spark, tmp_path):
    """history(): one metadata entry per walkable commit, newest
    first — committed_at on the snapshot_as_of clock (manifest mtime),
    row_count LOGICAL (vector-masked rows subtracted), masked_rows
    the un-purged MOR debt, and the walk truncating at the vacuum
    horizon like snapshots()."""
    import datetime

    root = str(tmp_path / "tbl")
    M.publish(
        spark.range(100).repartitionByRange(2, "id"), root,
        snapshot_id="v1", stats_cols=["id"],
    )
    M.publish(
        spark.range(100, 120), root, append=True, snapshot_id="v2",
        stats_cols=["id"],
    )
    M.delete_where(spark, root, "id < 10", mode="mor", snapshot_id="v3")
    h = M.history(root)
    assert [e["snapshot_id"] for e in h] == ["v3", "v2", "v1"]
    assert [e["parent"] for e in h] == ["v2", "v1", None]
    by = {e["snapshot_id"]: e for e in h}
    assert by["v1"]["row_count"] == 100 and by["v1"]["masked_rows"] == 0
    assert by["v2"]["row_count"] == 120
    # v3 masks 10 rows merge-on-read: logical count drops, debt shows
    assert by["v3"]["row_count"] == 110 and by["v3"]["masked_rows"] == 10
    assert by["v3"]["n_files"] == by["v2"]["n_files"]  # MOR adds no file
    # committed_at is the manifest mtime clock — the exact timestamps
    # snapshot_as_of resolves (aging a manifest moves both in lockstep)
    old = __import__("time").time() - 3600
    os.utime(os.path.join(root, "_manifests", "v1.json"), (old, old))
    h2 = {e["snapshot_id"]: e for e in M.history(root)}
    assert h2["v1"]["committed_at"] == datetime.datetime.utcfromtimestamp(old)
    assert M.snapshot_as_of(root, h2["v1"]["committed_at"]) == "v1"
    assert M.snapshot_as_of(root, h2["v3"]["committed_at"]) == "v3"
    # vacuum truncates the walk, not the function
    for s in ("v1", "v2"):
        os.utime(os.path.join(root, "_manifests", f"{s}.json"), (old, old))
    M.vacuum(root, keep=1, keep_hours=0.25)
    assert [e["snapshot_id"] for e in M.history(root)] == ["v3"]


def test_vacuum_dry_run_previews_without_deleting(spark, tmp_path):
    """vacuum(dry_run=True): returns exactly the prefix list the real
    call then removes, touches nothing (every snapshot still reads,
    manifests and generation log intact), and composes with
    history()/keep_hours for retention tuning."""
    root = str(tmp_path / "tbl")
    sids = [M.publish(spark.range(i + 1), root) for i in range(4)]
    man_count = len(os.listdir(os.path.join(root, "_manifests")))
    gen_count = len(os.listdir(os.path.join(root, "_CURRENT.gen")))
    preview = M.vacuum(root, keep=1, dry_run=True)
    assert preview  # something would go
    # nothing happened: every snapshot still reads, metadata untouched
    for i, s in enumerate(sids):
        assert M.read_snapshot(spark, root, s).count() == i + 1
    assert len(M.history(root)) == 4
    assert len(os.listdir(os.path.join(root, "_manifests"))) == man_count
    assert len(os.listdir(os.path.join(root, "_CURRENT.gen"))) == gen_count
    # the real call removes exactly the previewed prefixes
    assert sorted(M.vacuum(root, keep=1)) == sorted(preview)
    assert [e["snapshot_id"] for e in M.history(root)] == [sids[-1]]


def test_restore_to_a_time_composes(spark, tmp_path):
    """The ops round trip the two new faces exist for: pick a
    committed_at from history(), resolve it with snapshot_as_of, and
    RESTORE to it — the table reads back exactly the chosen commit's
    rows, and the restore is itself a forward commit history() then
    reports (lineage stays linear)."""
    root = str(tmp_path / "tbl")
    for i in range(3):
        M.publish(spark.range((i + 1) * 10), root, snapshot_id=f"v{i + 1}")
    # space the commit stamps so the middle one is unambiguous
    now = __import__("time").time()
    for i, t in enumerate([now - 300, now - 200, now - 100]):
        os.utime(
            os.path.join(root, "_manifests", f"v{i + 1}.json"), (t, t)
        )
    mid = {e["snapshot_id"]: e for e in M.history(root)}["v2"]
    target = M.snapshot_as_of(root, mid["committed_at"])
    assert target == "v2"
    M.restore_snapshot(root, target, snapshot_id="r1")
    assert M.read_current(spark, root).count() == 20
    h = [e["snapshot_id"] for e in M.history(root)]
    assert h[0] == "r1" and h[1:] == ["v3", "v2", "v1"]


def test_history_and_as_of_cycle_and_horizon_contracts(spark, tmp_path):
    """Review pins (r15 pass 4): (a) a manifest deleted mid-lineage —
    the concurrent-vacuum shape — truncates history() at the horizon
    instead of crashing the walk; (b) a CORRUPTED cyclic lineage
    raises the same RuntimeError snapshots() gives from history() and
    snapshot_as_of, never the misleading behind-the-horizon error."""
    root = str(tmp_path / "tbl")
    for i in range(3):
        M.publish(spark.range(i + 1), root, snapshot_id=f"v{i + 1}")
    # (a) reap the oldest manifest directly (no vacuum bookkeeping):
    # the walk ends there, newest commits still report
    os.remove(os.path.join(root, "_manifests", "v1.json"))
    assert [e["snapshot_id"] for e in M.history(root)] == ["v3", "v2"]
    # (b) splice a parent cycle: v2's parent -> v3
    mp = os.path.join(root, "_manifests", "v2.json")
    with open(mp) as fh:
        man = json.load(fh)
    man["parent"] = "v3"
    with open(mp, "w") as fh:
        json.dump(man, fh)
    with pytest.raises(RuntimeError, match="cycle"):
        M.history(root)
    with pytest.raises(RuntimeError, match="cycle"):
        M.snapshot_as_of(root, 0.0)


def test_snapshot_as_of_timestamp_time_travel(spark, tmp_path):
    """snapshot_as_of: the newest lineage commit at or before ts, on
    the SAME clock as vacuum keep_hours and the CDF's
    _commit_timestamp (manifest mtime). Between-commit timestamps
    resolve to the older commit; at-or-after-newest resolves to the
    head; before-the-earliest raises the behind-the-horizon error;
    the error also fires when the early history is actually vacuumed."""
    import datetime

    root = str(tmp_path / "tbl")
    sids = [M.publish(spark.range(i + 1), root) for i in range(3)]
    # deterministic commit times: 100s apart, ending 300s ago
    now = __import__("time").time()
    stamps = [now - 300, now - 200, now - 100]
    for s, t in zip(sids, stamps):
        os.utime(os.path.join(root, "_manifests", f"{s}.json"), (t, t))
    # exactly-at and between-commit resolution (epoch-seconds form)
    assert M.snapshot_as_of(root, stamps[0]) == sids[0]
    assert M.snapshot_as_of(root, stamps[1] - 1) == sids[0]
    assert M.snapshot_as_of(root, stamps[1]) == sids[1]
    assert M.snapshot_as_of(root, stamps[2] + 999) == sids[2]
    # datetime and ISO-string forms (UTC-naive, the repo convention)
    dt = datetime.datetime.utcfromtimestamp(stamps[1] + 1)
    assert M.snapshot_as_of(root, dt) == sids[1]
    assert M.snapshot_as_of(root, dt.isoformat()) == sids[1]
    # the resolved sid composes with the read faces
    assert M.read_snapshot(
        spark, root, M.snapshot_as_of(root, stamps[1])
    ).count() == 2
    with pytest.raises(ValueError, match="earliest available commit"):
        M.snapshot_as_of(root, stamps[0] - 1)
    # vacuum the two oldest: a ts inside the reaped era is now also
    # behind the horizon, even though it was resolvable a moment ago
    old = now - 7200
    for s in sids[:2]:
        os.utime(os.path.join(root, "_manifests", f"{s}.json"), (old, old))
    M.vacuum(root, keep=1, keep_hours=1.0)
    with pytest.raises(ValueError, match="vacuum horizon"):
        M.snapshot_as_of(root, stamps[1])
    assert M.snapshot_as_of(root, now) == sids[2]


def test_delete_where_handles_encoded_paths(spark, tmp_path):
    """A table root containing characters that URL-encode (space) must
    not break delete's hit-file mapping — input_file_name returns
    encoded URIs, which are decoded before the suffix match (the
    mapping-count guard would otherwise trip)."""
    root = str(tmp_path / "tbl with space")
    M.publish(spark.range(100).repartitionByRange(4, "id"), root,
              stats_cols=["id"])
    sid = M.delete_where(spark, root, "id < 10")
    assert M.current_snapshot(root) == sid
    assert M.read_current(spark, root).count() == 90


def test_merge_refuses_type_mismatched_batch(spark, tmp_path):
    """r12 close review #1: a batch matching the contract by NAME but
    not TYPE must be refused — unionByName would silently widen the
    survivors, the widened schema would be recorded, and the carried
    files' unchanged parquet would bind to the wrong type, breaking
    every future read."""
    root = str(tmp_path / "tbl")
    M.publish(
        spark.range(10).select("id", F.lit(0).cast("long").alias("v")),
        root, stats_cols=["id"],
    )
    bad = spark.createDataFrame([(1, 2.5)], "id long, v double")
    with pytest.raises(ValueError, match="type mismatch"):
        M.merge_upsert(spark, bad, root, "id")
    assert M.read_current(spark, root).where("v = 0").count() == 10


def test_legacy_heterogeneous_lineage_dml_preserves_columns(spark, tmp_path):
    """r12 close review #3: merge/delete/compact on a LEGACY lineage
    (pre-schema manifests) whose files are heterogeneous must read
    survivors with the footer UNION (a plain inferring read can drop
    whole columns) and must NOT record a schema (legacy stays legacy,
    so merge_schema=True reads keep surfacing every column)."""
    root = str(tmp_path / "tbl")
    M.publish(spark.range(4).select("id"), root, snapshot_id="v1",
              stats_cols=["id"])
    M.publish(
        spark.range(4, 8).select("id", F.lit("x").alias("tag")),
        root, snapshot_id="v2", append=True, merge_schema=True,
        stats_cols=["id"],
    )
    # strip recorded schemas: simulate a pre-r12b heterogeneous lineage
    for sid in ("v1", "v2"):
        mp = os.path.join(root, "_manifests", f"{sid}.json")
        with open(mp) as fh:
            man = json.load(fh)
        man.pop("schema", None)
        with open(mp, "w") as fh:
            json.dump(man, fh)
    # delete touches BOTH files; survivors keep tag (NULL for v1 rows)
    M.delete_where(spark, root, "id in (0, 5)")
    assert M._manifest(root, M.current_snapshot(root)).get("schema") is None
    got = {r.id: r.tag for r in
           M.read_current(spark, root, merge_schema=True).collect()}
    assert got == {1: None, 2: None, 3: None, 4: "x", 6: "x", 7: "x"}
    # compaction of the legacy lineage keeps every column too
    M.compact_snapshot(spark, root, target_files=1)
    assert M._manifest(root, M.current_snapshot(root)).get("schema") is None
    got = {r.id: r.tag for r in
           M.read_current(spark, root, merge_schema=True).collect()}
    assert got == {1: None, 2: None, 3: None, 4: "x", 6: "x", 7: "x"}
    # merge with a NARROWER batch than the heterogeneous union: no
    # contract exists, so the batch's missing column fills NULL
    # (allowMissingColumns on the legacy path — review pass 2: the
    # strict union crashed here) and survivors keep their tag
    M.merge_upsert(
        spark, spark.createDataFrame([(4, ), (9, )], "id long"), root, "id"
    )
    assert M._manifest(root, M.current_snapshot(root)).get("schema") is None
    got = {r.id: r.tag for r in
           M.read_current(spark, root, merge_schema=True).collect()}
    assert got == {1: None, 2: None, 3: None, 4: None, 6: "x", 7: "x",
                   9: None}


def test_compact_zorder_spares_a_real_zkey_column(spark, tmp_path):
    """r12 close review #5: the Z-order scratch column name is
    collision-proof — a real column named _zkey survives the clustered
    rewrite with its values intact."""
    root = str(tmp_path / "tbl")
    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("a"),
        (F.col("id") % 11).alias("b"),
        (F.col("id") * 3).alias("_zkey"),
    )
    M.publish(df.repartition(4), root, stats_cols=["a", "b"])
    M.compact_snapshot(spark, root, target_files=2, zorder_cols=("a", "b"))
    out = M.read_current(spark, root)
    assert "_zkey" in out.columns
    rows = {r["id"]: r["_zkey"] for r in out.collect()}
    assert rows == {i: i * 3 for i in range(1000)}


def test_merge_accepts_nested_nullability_variants_refuses_dup_columns(
    spark, tmp_path
):
    """Review pass 2: (a) a batch whose struct column differs only in
    NESTED nullability/metadata is the same type — not a cast — and
    must merge; (b) duplicate batch column names must hit the loud
    contract error, not a downstream AnalysisException."""
    root = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(0, (1,)), (1, (2,))], "id long, s struct<x: bigint>"
    )
    M.publish(base, root, stats_cols=["id"])
    batch = spark.createDataFrame([(0, (9,))], "id long, s struct<x: bigint>")
    M.merge_upsert(spark, batch, root, "id")
    rows = {r["id"]: r["s"]["x"] for r in M.read_current(spark, root).collect()}
    assert rows == {0: 9, 1: 2}
    dup = spark.range(1).select(
        "id",
        F.struct(F.lit(3).cast("bigint").alias("x")).alias("s"),
        F.struct(F.lit(4).cast("bigint").alias("x")).alias("s"),
    )
    with pytest.raises(ValueError, match="batch columns"):
        M.merge_upsert(spark, dup, root, "id")


def test_superseded_dml_token_replay_skips_rederivation(spark, tmp_path):
    """Review pass 2: replaying a delete/merge token that committed
    and was then superseded must no-op WITHOUT re-running the
    derivation (the _occ_loop guard adjudicates the token before
    attempt()); the table is untouched."""
    root = str(tmp_path / "tbl")
    M.publish(spark.range(100), root, stats_cols=["id"])
    M.delete_where(spark, root, "id < 10", snapshot_id="epoch-3")
    top = M.publish(spark.range(200, 205), root, append=True)
    out = M.delete_where(spark, root, "id < 10", snapshot_id="epoch-3")
    assert out == "epoch-3"  # idempotent no-op
    assert M.current_snapshot(root) == top  # nothing recommitted
    assert M.read_current(spark, root).count() == 95


def test_empty_table_merge_race_keeps_interloper_rows(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12 #1 (the lost-update window): a merge that derived
    against an EMPTY table must not clobber a first-writer that
    commits between the OCC loop's current_snapshot() read (None) and
    publish's own pointer read. The empty-path publish is pinned to
    "derived from no parent" (_NO_PARENT), so the interloper surfaces
    as ConcurrentPublishError and the rebase re-enters the REAL merge
    path — the serial order "append, then merge" keeps the appended
    rows."""
    root = str(tmp_path / "tbl")
    # the interloper's commit is already on disk...
    M.publish(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"),
        root, snapshot_id="interloper",
    )
    # ...but the merge's first derivation read still observes None
    orig = M.current_snapshot
    state = {"first": True}

    def stale_none_then_real(r):
        if state["first"]:
            state["first"] = False
            return None
        return orig(r)

    monkeypatch.setattr(M, "current_snapshot", stale_none_then_real)
    batch = spark.createDataFrame([(2, -1), (3, 30)], "id long, v long")
    M.merge_upsert(spark, batch, root, "id", snapshot_id="merge-1")
    monkeypatch.undo()
    got = {r.id: r.v for r in M.read_current(spark, root).collect()}
    # interloper's unmatched row SURVIVES; matched key updated; insert lands
    assert got == {1: 10, 2: -1, 3: 30}
    assert M.snapshots(root) == ["interloper", "merge-1"]


def test_publish_no_parent_pin_raises_on_nonempty_table(spark, tmp_path):
    """The _NO_PARENT sentinel's unit contract: a commit pinned to
    "derived from an empty table" must refuse to land when ANY current
    snapshot exists."""
    root = str(tmp_path / "tbl")
    M.publish(spark.range(3), root)
    with pytest.raises(M.ConcurrentPublishError, match="empty table"):
        M.publish(spark.range(2), root, _require_parent=M._NO_PARENT)


def test_recorded_schema_relaxes_nested_nullability(spark, tmp_path):
    """ADVICE r12 #2: the manifest-recorded schema must force
    nullable=True at EVERY nesting level (struct fields, array
    containsNull, map valueContainsNull), not just top-level — an
    evolved lineage can legally hold NULLs the first writer's frame
    didn't, and a non-nullable declaration would let Spark skip null
    checks on data the lineage holds."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField(
            "s",
            T.StructType([
                T.StructField("x", T.LongType(), False),
                T.StructField(
                    "inner",
                    T.StructType([T.StructField("y", T.LongType(), False)]),
                    False,
                ),
            ]),
            False,
        ),
        T.StructField("arr", T.ArrayType(T.LongType(), False), False),
        T.StructField(
            "m", T.MapType(T.StringType(), T.LongType(), False), False
        ),
    ])
    df = spark.createDataFrame(
        [(1, (2, (3,)), [4], {"k": 5})], schema
    )
    root = str(tmp_path / "tbl")
    sid = M.publish(df, root)
    rec = M._manifest(root, sid)["schema"]

    def assert_relaxed(t, path):
        if not isinstance(t, dict):
            return
        if t.get("type") == "struct":
            for f in t["fields"]:
                assert f["nullable"] is True, f"{path}.{f['name']}"
                assert_relaxed(f["type"], f"{path}.{f['name']}")
        elif t.get("type") == "array":
            assert t["containsNull"] is True, path
            assert_relaxed(t["elementType"], path + "[]")
        elif t.get("type") == "map":
            assert t["valueContainsNull"] is True, path
            assert_relaxed(t["valueType"], path + "{}")

    assert_relaxed(rec, "$")
    # functional: a later batch carrying NULLs at every nested level —
    # legal under the relaxed contract — appends and reads back
    # through the recorded schema without a type conflict
    df2 = spark.createDataFrame(
        [(2, (7, None), None, None)], T.StructType.fromJson(rec)
    )
    M.publish(df2, root, append=True)
    rows = {r.id: r for r in M.read_current(spark, root).collect()}
    assert rows[2]["s"]["inner"] is None and rows[2]["arr"] is None


def test_merge_records_parent_column_order_on_untouched_path(
    spark, tmp_path
):
    """ADVICE r12 #3: a merge touching NO files (zone maps exclude
    every parent file) must still record the PARENT's column order,
    not the batch's — otherwise the table's recorded field order
    churns across merges depending on whether a file was touched."""
    root = str(tmp_path / "tbl")
    base = spark.range(100).select(
        "id", (F.col("id") * 2).alias("v"), F.lit("x").alias("tag")
    )
    M.publish(
        base.repartitionByRange(4, "id"), root,
        snapshot_id="v1", stats_cols=["id"],
    )
    # batch columns deliberately REORDERED; keys beyond every file range
    batch = spark.createDataFrame(
        [("y", 9_000, 1), ("z", 9_001, 2)], "tag string, id long, v long"
    )
    M.merge_upsert(spark, batch, root, "id", snapshot_id="v2")
    rec1 = [f["name"] for f in M._manifest(root, "v1")["schema"]["fields"]]
    rec2 = [f["name"] for f in M._manifest(root, "v2")["schema"]["fields"]]
    assert rec2 == rec1 == ["id", "v", "tag"]
    got = {r.id: (r.v, r.tag) for r in M.read_current(spark, root).collect()}
    assert got[9_000] == (1, "y") and len(got) == 102
