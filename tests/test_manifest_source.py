"""The manifest_cdc and manifest Spark data sources: readStream/read
over a manifest table's commit log and snapshots, offsets checkpointed
by Structured Streaming itself. Each format face is pinned ≡ its
function face (CommitLogConsumer, read_snapshot, read_pruned,
read_added, snapshot_as_of), and the sources must work from a foreign
cwd, where only the driver can import the package — they are
registered pickled by value (see streaming/manifest_source.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from db_loader_spark.sinks import manifest as M
from db_loader_spark.streaming.commit_log import CommitLogConsumer
from db_loader_spark.streaming.manifest_source import register_manifest_cdc


def _base(spark, tmp_path):
    root = str(tmp_path / "tbl")
    M.publish(
        spark.range(400)
        .select("id", (F.col("id") * 2).alias("v"))
        .repartitionByRange(4, "id"),
        root, snapshot_id="v1", stats_cols=["id"],
    )
    return root


def _dml_sequence(spark, root):
    M.publish(
        spark.range(9_000, 9_020).select("id", (F.col("id") * 2).alias("v")),
        root, append=True, snapshot_id="a1", stats_cols=["id"],
    )
    M.delete_where(spark, root, "id % 40 = 3", mode="mor", snapshot_id="d1")
    M.merge_upsert(
        spark, spark.createDataFrame([(10, -1)], "id long, v long"),
        root, "id", snapshot_id="m1",
    )
    M.restore_snapshot(root, "d1", snapshot_id="r1")


def _consumer_rows(root):
    """CommitLogConsumer events flattened to the source's row shape
    (rows=None for file changes — the consumer doesn't carry counts)."""
    out = []
    for e in CommitLogConsumer(root).poll():
        for f in e.added_files:
            out.append((e.snapshot_id, e.parent, "add_file", f))
        for f in e.removed_files:
            out.append((e.snapshot_id, e.parent, "remove_file", f))
        for f, n in e.dv_added.items():
            out.append((e.snapshot_id, e.parent, "dv_add", f, n))
        for f, n in e.dv_removed.items():
            out.append((e.snapshot_id, e.parent, "dv_remove", f, n))
    return out


def test_batch_read_equals_commit_log_consumer(spark, tmp_path):
    root = _base(spark, tmp_path)
    _dml_sequence(spark, root)
    register_manifest_cdc(spark)
    got = spark.read.format("manifest_cdc").option("path", root).load()
    assert got.columns == ["snapshot_id", "parent", "change", "file", "rows"]
    rows = sorted(
        (r.snapshot_id, r.change, r.file, r.rows) for r in got.collect()
    )
    want = sorted(
        (t[0], t[2], t[3], t[4] if len(t) > 4 else None)
        for t in _consumer_rows(root)
    )
    # file-change rows may carry manifest row counts the consumer
    # doesn't; compare counts-insensitively for file rows, exactly for
    # vector rows
    assert [(s, c, f) for s, c, f, _ in rows] == [
        (s, c, f) for s, c, f, _ in want
    ]
    assert [
        (s, c, f, n) for s, c, f, n in rows if c.startswith("dv_")
    ] == [(s, c, f, n) for s, c, f, n in want if c.startswith("dv_")]
    # vector math: d1 masks 11 rows (ids 3,43,...,363 and 9003 within
    # the live set); the restore r1 RE-masks the 3 positions of the file
    # the merge m1 had rewritten (m1 materialized them; restoring to d1
    # brings its vector entry back) — correct changelog semantics
    assert (
        got.where("change = 'dv_add' and snapshot_id = 'd1'")
        .groupBy().sum("rows").first()[0] == 11
    )
    assert (
        got.where("change = 'dv_add' and snapshot_id = 'r1'")
        .groupBy().sum("rows").first()[0] == 3
    )


def test_streaming_reads_commits_incrementally_with_checkpoint(
    spark, tmp_path
):
    """availableNow drain #1 sees the history; new commits land; drain
    #2 FROM THE SAME CHECKPOINT sees only the delta — the offset (the
    commit-log cursor) is durably managed by Structured Streaming."""
    root = _base(spark, tmp_path)
    register_manifest_cdc(spark)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("manifest_cdc")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    first = spark.read.parquet(out_dir)
    assert {r.snapshot_id for r in first.collect()} == {"v1"}
    assert first.count() == 4  # the 4 base files as add_file rows

    _dml_sequence(spark, root)
    drain()
    second = spark.read.parquet(out_dir)
    assert {r.snapshot_id for r in second.collect()} == {
        "v1", "a1", "d1", "m1", "r1"
    }
    # exactly-once per commit: v1's rows were NOT re-emitted
    assert second.where("snapshot_id = 'v1'").count() == 4
    # 11 masked by d1 + 3 re-masked by the restore undoing m1's rewrite
    mor = second.where("change = 'dv_add'")
    assert mor.groupBy().sum("rows").first()[0] == 14


def test_streaming_starting_snapshot_option(spark, tmp_path):
    root = _base(spark, tmp_path)
    M.publish(
        spark.range(5_000, 5_005).select("id", (F.col("id") * 2).alias("v")),
        root, append=True, snapshot_id="a1",
    )
    register_manifest_cdc(spark)
    got = (
        spark.readStream.format("manifest_cdc")
        .option("path", root)
        .option("startingSnapshot", "v1")
        .load()
        .writeStream.format("memory")
        .queryName("cdc_tail")
        .trigger(availableNow=True)
        .start()
    )
    got.awaitTermination(120)
    rows = spark.sql("select * from cdc_tail").collect()
    assert {r.snapshot_id for r in rows} == {"a1"}


def test_missing_path_option_raises(spark, tmp_path):
    register_manifest_cdc(spark)
    with pytest.raises(Exception, match="path"):
        spark.read.format("manifest_cdc").load().collect()


def test_batch_read_survives_vacuum_as_bootstrap_event(spark, tmp_path):
    """Second r13 review: any long-lived table has been vacuumed, so
    the batch surface replays the WALKABLE history — the oldest
    walkable manifest emits as a bootstrap event (its full file list
    and live mask), never an error. A startingSnapshot that resolves
    still works; one behind the horizon still refuses."""
    root = _base(spark, tmp_path)
    M.delete_where(spark, root, "id < 9", mode="mor", snapshot_id="d1")
    M.publish(
        spark.range(7_000, 7_003).select("id", (F.col("id") * 2).alias("v")),
        root, append=True, snapshot_id="a1",
    )
    M.vacuum(root, keep=2)  # reaps v1; d1 (bootstrap-to-be) + a1 stay
    register_manifest_cdc(spark)
    got = spark.read.format("manifest_cdc").option("path", root).load()
    rows = got.collect()
    # bootstrap event: d1's FULL file list and its mask, parent reaped
    d1 = [r for r in rows if r.snapshot_id == "d1"]
    assert {r.change for r in d1} == {"add_file", "dv_add"}
    assert len([r for r in d1 if r.change == "add_file"]) == len(
        M._manifest(root, "d1")["files"]
    )
    assert sum(r.rows for r in d1 if r.change == "dv_add") == 9
    a1 = [r for r in rows if r.snapshot_id == "a1"]
    a1_added = set(M._manifest(root, "a1")["files"]) - set(
        M._manifest(root, "d1")["files"]
    )
    assert {r.change for r in a1} == {"add_file"}
    assert {r.file for r in a1} == a1_added
    # resolving startingSnapshot works; horizon cursor refuses
    tail = (
        spark.read.format("manifest_cdc")
        .option("path", root).option("startingSnapshot", "d1").load()
    )
    assert {r.snapshot_id for r in tail.collect()} == {"a1"}
    with pytest.raises(Exception, match="vacuum horizon"):
        spark.read.format("manifest_cdc").option("path", root).option(
            "startingSnapshot", "v1"
        ).load().collect()


def test_manifest_batch_format_equals_function_reads(spark, tmp_path):
    """VERDICT r14 #5: the batch ``manifest`` format must equal the
    function faces — read_snapshot (current + time travel, deletion
    vectors masked, evolved columns NULL-backfilled) and read_pruned
    (zone-map FILE pruning + the residual range filter) — and a
    user-passed subset schema column-prunes the arrow hop."""
    from db_loader_spark.streaming.manifest_source import (
        register_manifest_table,
    )

    root = str(tmp_path / "tbl")
    M.publish(
        spark.range(200).select("id", (F.col("id") * 2).alias("v"))
        .repartitionByRange(4, "id"),
        root, snapshot_id="v1", stats_cols=["id"],
    )
    M.publish(
        spark.range(9_000, 9_005).select(
            "id", (F.col("id") * 2).alias("v"), F.lit("x").alias("w")
        ),
        root, append=True, snapshot_id="e1", merge_schema=True,
        stats_cols=["id"],
    )
    M.delete_where(spark, root, "id % 7 = 0", mode="mor", snapshot_id="d1")
    register_manifest_table(spark)

    def rows(df):
        return sorted(
            (r.id, r.v, r.w if "w" in df.columns else None)
            for r in df.collect()
        )

    fmt = spark.read.format("manifest").option("path", root).load()
    assert fmt.columns == ["id", "v", "w"]
    assert rows(fmt) == rows(M.read_current(spark, root))
    # pre-evolution rows read w as NULL; masked rows are gone
    # (9002 % 7 == 0, so one of the five evolved rows is masked too)
    assert fmt.where("w IS NULL").count() == fmt.count() - 4
    assert fmt.where("id % 7 = 0").count() == 0

    # time travel binds the OLD schema
    fmt_v1 = (spark.read.format("manifest").option("path", root)
              .option("snapshot", "v1").load())
    assert fmt_v1.columns == ["id", "v"]
    assert rows(fmt_v1) == rows(M.read_snapshot(spark, root, "v1"))

    # pruning: same rows as read_pruned AND fewer partitions (files)
    fmt_pr = (spark.read.format("manifest").option("path", root)
              .option("pruneCol", "id").option("pruneLower", "10")
              .option("pruneUpper", "30").load())
    assert rows(fmt_pr) == rows(M.read_pruned(spark, root, "id", 10, 30))
    full_parts = fmt.rdd.getNumPartitions()
    assert fmt_pr.rdd.getNumPartitions() < full_parts  # files pruned

    # a subset schema column-prunes (and still masks vectors)
    sub = (spark.read.format("manifest").option("path", root)
           .schema("id long").load())
    assert sub.columns == ["id"]
    assert sorted(r.id for r in sub.collect()) == sorted(
        r.id for r in M.read_current(spark, root).select("id").collect()
    )

    with pytest.raises(Exception, match="path"):
        spark.read.format("manifest").load().collect()


@pytest.mark.parametrize("seed", [11, 23])
def test_manifest_format_tracks_random_history(spark, tmp_path, seed):
    """The format face ≡ the function faces across a seeded random
    multi-verb history — the format analog of the DML model pin, and
    deliberately REUSING that test's verb driver (one derivation of
    the verb algebra; a second inline copy could drift). After every
    commit the format read must equal the model; at the end, random
    time travel, a random prune range, and a subset schema must equal
    their function-face twins on whatever table the history built."""
    import random

    import test_dml_model as dml

    from db_loader_spark.streaming.manifest_source import (
        register_manifest_table,
    )

    rng = random.Random(seed)
    root = str(tmp_path / "tbl")
    base = [(i, rng.randint(-50, 50)) for i in range(200)]
    M.publish(
        spark.createDataFrame(base, "id long, v long")
        .repartitionByRange(3, "id"),
        root, snapshot_id="s0", stats_cols=["id"],
    )
    model = dict(base)
    snapshots = {"s0": dict(model)}
    next_id = 10_000
    register_manifest_table(spark)
    for step in range(10):
        sid = f"s{step + 1}"
        next_id = dml._apply_random_op(
            spark, root, rng, model, snapshots, next_id, sid
        )
        if M.current_snapshot(root) == sid:  # no-op verbs keep parent
            snapshots[sid] = dict(model)
        fmt = spark.read.format("manifest").option("path", root).load()
        assert sorted((r.id, r.v) for r in fmt.collect()) == sorted(
            model.items()
        ), f"seed {seed} diverged at {sid}"
    # time travel: three random committed snapshots read back exactly
    for sid in rng.sample(sorted(snapshots), min(3, len(snapshots))):
        fmt = (spark.read.format("manifest").option("path", root)
               .option("snapshot", sid).load())
        assert sorted((r.id, r.v) for r in fmt.collect()) == sorted(
            snapshots[sid].items()
        ), f"time travel to {sid}"
    # a random prune range ≡ read_pruned on the final table
    lo = rng.randint(0, 150)
    hi = lo + rng.randint(10, 300)
    fmt_pr = (spark.read.format("manifest").option("path", root)
              .option("pruneCol", "id").option("pruneLower", str(lo))
              .option("pruneUpper", str(hi)).load())
    assert sorted((r.id, r.v) for r in fmt_pr.collect()) == sorted(
        (r.id, r.v)
        for r in M.read_pruned(spark, root, "id", lo, hi).collect()
    )
    # a subset schema ≡ the projection
    sub = (spark.read.format("manifest").option("path", root)
           .schema("id long").load())
    assert sorted(r.id for r in sub.collect()) == sorted(model)


def test_manifest_format_timestamp_as_of(spark, tmp_path):
    """``timestampAsOf``: the format's self-contained resolver must
    equal ``snapshot_as_of`` (same mtime clock, same newest-first
    walk, same horizon error) for between-commit, at-commit, and
    after-newest timestamps; ``snapshot`` and ``timestampAsOf``
    together are a loud error (two time-travel axes, one pin)."""
    import datetime
    import os
    import time

    from db_loader_spark.streaming.manifest_source import (
        register_manifest_table,
    )

    root = str(tmp_path / "tbl")
    sids = [
        M.publish(
            spark.range((i + 1) * 10).select(
                "id", (F.col("id") * 2).alias("v")
            ),
            root,
        )
        for i in range(3)
    ]
    now = time.time()
    stamps = [now - 300, now - 200, now - 100]
    for s, t in zip(sids, stamps):
        os.utime(os.path.join(root, "_manifests", f"{s}.json"), (t, t))
    register_manifest_table(spark)

    def fmt_at(raw):
        return (
            spark.read.format("manifest").option("path", root)
            .option("timestampAsOf", raw).load()
        )

    for raw, want_sid in [
        (str(stamps[0]), sids[0]),           # epoch string, exact hit
        (str(stamps[1] - 1), sids[0]),       # between commits
        (
            datetime.datetime.utcfromtimestamp(stamps[1] + 1).isoformat(),
            sids[1],
        ),                                    # ISO string form
        (str(now), sids[2]),                  # after the newest commit
    ]:
        # the function face accepts the same raw strings the option
        # does — ONE parse semantic on both faces
        assert M.snapshot_as_of(root, raw) == want_sid
        assert sorted(r.id for r in fmt_at(raw).collect()) == sorted(
            r.id
            for r in M.read_snapshot(spark, root, want_sid).collect()
        )

    with pytest.raises(Exception, match="earliest available commit"):
        fmt_at(str(stamps[0] - 5)).collect()
    with pytest.raises(Exception, match="mutually exclusive"):
        (spark.read.format("manifest").option("path", root)
         .option("snapshot", sids[0])
         .option("timestampAsOf", str(now)).load().collect())


def test_cdf_rows_carry_commit_timestamp(spark, tmp_path):
    """VERDICT r14 #5: CDF rows carry ``_commit_timestamp`` (the
    manifest file's mtime — the same clock vacuum's keep_hours
    trusts) beside ``_commit_snapshot_id``, non-NULL and ordered with
    the commit sequence."""
    import os as _os

    from db_loader_spark.streaming.commit_log import read_table_changes

    root = str(tmp_path / "tbl")
    M.publish(
        spark.range(50).select("id", (F.col("id") * 2).alias("v")),
        root, snapshot_id="v1", stats_cols=["id"],
    )
    M.delete_where(spark, root, "id < 5", mode="mor", snapshot_id="d1")
    cdf = read_table_changes(spark, root, ["id"], ["v"])
    assert cdf.columns[:3] == [
        "_commit_snapshot_id", "_commit_timestamp", "_commit_seq"
    ]
    got = {
        r["_commit_snapshot_id"]: r["_commit_timestamp"]
        for r in cdf.select(
            "_commit_snapshot_id", "_commit_timestamp"
        ).distinct().collect()
    }
    assert set(got) == {"v1", "d1"} and all(
        ts is not None for ts in got.values()
    )
    assert got["v1"] <= got["d1"]  # commit order respects the clock
    # the stamp IS the manifest mtime (UTC-naive, second precision)
    import datetime

    want = datetime.datetime.utcfromtimestamp(
        _os.path.getmtime(_os.path.join(root, "_manifests", "v1.json"))
    )
    assert abs((got["v1"] - want).total_seconds()) < 0.001


def test_manifest_format_masks_url_encoding_paths(spark, tmp_path):
    """Review r15 #1: DV rows key on the URL-ENCODED relative path
    (the _metadata.file_path form) — a snapshot id that encodes
    differently (space, '%', '+') must still mask its deleted rows in
    the format face, exactly as the function face does."""
    from db_loader_spark.streaming.manifest_source import (
        register_manifest_table,
    )

    root = str(tmp_path / "tbl")
    M.publish(
        spark.range(20).select("id", (F.col("id") * 2).alias("v")),
        root, snapshot_id="v 1", stats_cols=["id"],  # space: encodes
    )
    M.delete_where(spark, root, "id < 5", mode="mor", snapshot_id="d+1")
    register_manifest_table(spark)
    fmt = spark.read.format("manifest").option("path", root).load()
    fn = M.read_current(spark, root)
    assert sorted(map(tuple, fmt.collect())) == sorted(
        map(tuple, fn.collect())
    )
    assert fmt.count() == 15


def test_manifest_format_prunes_on_unselected_column(spark, tmp_path):
    """Review r15 #2: pruneCol combined with a user subset schema that
    omits the prune column must read the column for the filter and
    drop it from the projection — filter-on-unselected-column is an
    ordinary read, not an executor KeyError."""
    from db_loader_spark.streaming.manifest_source import (
        register_manifest_table,
    )

    root = str(tmp_path / "tbl")
    M.publish(
        spark.range(100).select("id", (F.col("id") * 2).alias("v"))
        .repartitionByRange(4, "id"),
        root, snapshot_id="v1", stats_cols=["id"],
    )
    register_manifest_table(spark)
    sub = (spark.read.format("manifest").option("path", root)
           .schema("v long")
           .option("pruneCol", "id").option("pruneLower", "10")
           .option("pruneUpper", "30").load())
    assert sub.columns == ["v"]
    assert sorted(r.v for r in sub.collect()) == [2 * i for i in range(10, 31)]


def test_manifest_format_pins_snapshot_at_plan_time(spark, tmp_path):
    """Review r15 #3: an un-pinned format read resolves the pointer
    ONCE at load() — commits landing between plan and action (or
    between two actions on the same DataFrame) must not shift the
    row set or pair one snapshot's schema with another's files."""
    from db_loader_spark.streaming.manifest_source import (
        register_manifest_table,
    )

    root = str(tmp_path / "tbl")
    M.publish(
        spark.range(10).select("id", (F.col("id") * 2).alias("v")),
        root, snapshot_id="v1", stats_cols=["id"],
    )
    register_manifest_table(spark)
    df = spark.read.format("manifest").option("path", root).load()
    # a commit lands AFTER the plan, BEFORE the first action
    M.publish(
        spark.range(100, 105).select(
            "id", (F.col("id") * 2).alias("v"), F.lit("x").alias("w")
        ),
        root, append=True, snapshot_id="e1", merge_schema=True,
        stats_cols=["id"],
    )
    assert df.columns == ["id", "v"] and df.count() == 10  # still v1
    assert df.count() == 10  # and a second action reads the SAME table
    # a fresh load() sees the new snapshot, per the spark.read contract
    df2 = spark.read.format("manifest").option("path", root).load()
    assert df2.columns == ["id", "v", "w"] and df2.count() == 15


def test_manifest_format_incremental_equals_read_added(spark, tmp_path):
    """The format's startingSnapshot option is the read_added face:
    only files added since the cursor, the pinned snapshot's vectors
    still masking; a vacuumed cursor is a loud bootstrap error."""
    from db_loader_spark.streaming.manifest_source import (
        register_manifest_table,
    )

    root = str(tmp_path / "tbl")
    M.publish(
        spark.range(50).select("id", (F.col("id") * 2).alias("v")),
        root, snapshot_id="v1", stats_cols=["id"],
    )
    M.publish(
        spark.range(100, 120).select("id", (F.col("id") * 2).alias("v")),
        root, append=True, snapshot_id="a1", stats_cols=["id"],
    )
    M.delete_where(spark, root, "id IN (3, 105)", mode="mor",
                   snapshot_id="d1")
    register_manifest_table(spark)
    inc = (spark.read.format("manifest").option("path", root)
           .option("startingSnapshot", "v1").load())
    fn = M.read_added(spark, root, "v1", M.current_snapshot(root))
    assert sorted(map(tuple, inc.collect())) == sorted(
        map(tuple, fn.collect())
    )
    assert inc.where("id = 105").count() == 0  # delta is DV-masked
    assert inc.count() == 19
    with pytest.raises(Exception, match="vacuum horizon"):
        (spark.read.format("manifest").option("path", root)
         .option("startingSnapshot", "never-was").load().collect())


def test_manifest_format_empty_scan_is_empty_frame(spark, tmp_path):
    """Review r15 pass 2 #1: zero surviving files (zone maps exclude
    everything, or an empty incremental delta — the common no-new-data
    poll) must be the empty DataFrame, exactly like the function
    faces — PySpark hands read(None) to a source whose partitions()
    returned []."""
    from db_loader_spark.streaming.manifest_source import (
        register_manifest_table,
    )

    root = str(tmp_path / "tbl")
    M.publish(
        spark.range(10).select("id", (F.col("id") * 2).alias("v")),
        root, snapshot_id="v1", stats_cols=["id"],
    )
    register_manifest_table(spark)
    pruned_out = (spark.read.format("manifest").option("path", root)
                  .option("pruneCol", "id")
                  .option("pruneLower", "1000000")
                  .option("pruneUpper", "2000000").load())
    assert pruned_out.count() == 0
    assert pruned_out.columns == ["id", "v"]
    empty_delta = (spark.read.format("manifest").option("path", root)
                   .option("startingSnapshot", "v1").load())
    assert empty_delta.count() == 0


_FOREIGN_CWD_SCRIPT = """\
import importlib.util
import json
import sys

assert importlib.util.find_spec("db_loader_spark") is None
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.driver.memory", "1g")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from db_loader_spark.streaming.manifest_source import (
    register_manifest_cdc,
    register_manifest_table,
)

register_manifest_cdc(spark)
register_manifest_table(spark)
root = {root!r}
out = {{}}
out["cdc_batch"] = [
    list(r) for r in spark.read.format("manifest_cdc")
    .option("path", root).load().collect()
]
q = (
    spark.readStream.format("manifest_cdc").option("path", root).load()
    .writeStream.format("memory").queryName("cdc")
    .trigger(availableNow=True).start()
)
q.awaitTermination(120)
out["cdc_stream"] = [list(r) for r in spark.sql("select * from cdc").collect()]
out["table"] = [
    list(r) for r in spark.read.format("manifest").option("path", root)
    .option("pruneCol", "id").option("pruneLower", "5")
    .option("pruneUpper", "150").option("timestampAsOf", {ts!r})
    .load().collect()
]
with open({out!r}, "w") as fh:
    json.dump(out, fh)
spark.stop()
"""


def test_sources_work_from_a_foreign_cwd(spark, tmp_path):
    """Python workers started from a cwd that cannot import the package
    (and a PYTHONPATH without the repository) still run a batch
    ``manifest_cdc`` read, an ``availableNow`` ``manifest_cdc`` stream,
    and a ``manifest`` read with ``pruneCol`` and ``timestampAsOf``;
    each equals its in-process function face."""
    import json
    import os
    import subprocess
    import sys
    import time

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = _base(spark, tmp_path)
    _dml_sequence(spark, root)
    now = time.time()
    lineage = M.snapshots(root)
    for i, sid in enumerate(lineage):  # one commit per minute
        t = now - 60 * (len(lineage) - i)
        os.utime(os.path.join(root, "_manifests", f"{sid}.json"), (t, t))
    ts = str(now - 60 * (len(lineage) - 2) + 30)  # just after d1
    assert M.snapshot_as_of(root, ts) == "d1"
    out = tmp_path / "out.json"
    work = tmp_path / "cwd"
    work.mkdir()
    script = _FOREIGN_CWD_SCRIPT.format(
        repo=repo, root=root, ts=ts, out=str(out)
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != repo
    )
    r = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=600, cwd=str(work), env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    got = json.loads(out.read_text())

    want = sorted(
        (t[0], t[2], t[3], t[4] if len(t) > 4 else None)
        for t in _consumer_rows(root)
    )
    for face in ("cdc_batch", "cdc_stream"):
        rows = sorted((s, c, f, n) for s, _, c, f, n in got[face])
        assert [r[:3] for r in rows] == [w[:3] for w in want], face
        assert [r for r in rows if r[1].startswith("dv_")] == [
            w for w in want if w[1].startswith("dv_")
        ], face
    fn = M.read_pruned(spark, root, "id", 5, 150, sid="d1")
    assert sorted(map(tuple, got["table"])) == sorted(
        map(tuple, fn.collect())
    )
    assert got["table"]


def test_format_strings_live_only_in_sinks_manifest():
    """Only ``sinks/manifest.py`` names the pointer and manifest files."""
    import ast
    from pathlib import Path

    owner = Path(M.__file__)
    pkg = owner.parents[1]
    names = {"_CURRENT.gen", "_CURRENT", "_manifests"}
    offenders = [
        f"{path.relative_to(pkg)}:{node.lineno}"
        for path in sorted(pkg.rglob("*.py"))
        if path != owner
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Constant) and node.value in names
    ]
    assert offenders == []


def test_registered_source_classes_pickle_small(spark):
    """Each DataSource and reader class pickles by value without
    capturing a module object (one drags its whole namespace along),
    and registration leaves the package pickled by reference."""
    from pyspark import cloudpickle

    import db_loader_spark
    from db_loader_spark.streaming import manifest_source as S

    S.register_manifest_cdc(spark)
    S.register_manifest_table(spark)
    assert "db_loader_spark" not in cloudpickle.list_registry_pickle_by_value()
    classes = (
        S.ManifestCDCDataSource, S.ManifestCDCStreamReader,
        S.ManifestCDCBatchReader, S.ManifestTableDataSource,
        S.ManifestTableReader,
    )
    cloudpickle.register_pickle_by_value(db_loader_spark)
    try:
        sizes = {c.__name__: len(cloudpickle.dumps(c)) for c in classes}
    finally:
        cloudpickle.unregister_pickle_by_value(db_loader_spark)
    assert all(n < 48_000 for n in sizes.values()), sizes
