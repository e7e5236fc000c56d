"""Merge-on-read DELETE (deletion vectors), UPDATE, and their
interplay with every other manifest operation (r13, VERDICT r12 #3/#7).

The MOR contract under test:
- a MOR delete commits NO data files — only deletion-vector sidecars
  sized to the MATCHED ROWS — and every reader of the snapshot sees
  the logical (masked) table;
- the vectors ride correctly through append / merge / COW delete /
  compact / restore / vacuum, none of which may resurrect a deleted
  row or lose a live one;
- read ≡ the COW delete of the same predicate (the oracle the verdict
  asked for).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from db_loader_spark.sinks import manifest as M


def _table(spark, tmp_path, n=1_000, files=8, name="tbl"):
    root = str(tmp_path / name)
    base = spark.range(n).select("id", (F.col("id") * 2).alias("v"))
    M.publish(
        base.repartitionByRange(files, "id"), root,
        snapshot_id="v1", stats_cols=["id"],
    )
    return root


def _ids(spark, root):
    return sorted(r.id for r in M.read_current(spark, root).collect())


def test_mor_delete_read_equals_cow_delete(spark, tmp_path):
    """THE oracle: for the same predicate on identical tables, the
    merge-on-read result is row-for-row the copy-on-write result."""
    pred = "id % 97 = 13 or id between 400 and 420"
    r_mor = _table(spark, tmp_path, name="mor")
    r_cow = _table(spark, tmp_path, name="cow")
    M.delete_where(spark, r_mor, pred, mode="mor", snapshot_id="d1")
    M.delete_where(spark, r_cow, pred, mode="cow", snapshot_id="d1")
    a = sorted((r.id, r.v) for r in M.read_current(spark, r_mor).collect())
    b = sorted((r.id, r.v) for r in M.read_current(spark, r_cow).collect())
    assert a == b and len(a) < 1_000


def test_mor_commit_is_vectors_plus_metadata_only(spark, tmp_path):
    """Scale contract: the commit adds ZERO data files (the parent's
    file list carries verbatim) and the deletion-vector rows equal the
    matched rows exactly."""
    root = _table(spark, tmp_path)
    M.delete_where(spark, root, "id % 100 = 7", mode="mor", snapshot_id="d1")
    v1, d1 = M._manifest(root, "v1"), M._manifest(root, "d1")
    assert d1["files"] == v1["files"]  # no rewrite, no reorder
    assert sum(e["rows"] for e in d1["deletes"].values()) == 10
    # the vectors really are matched-rows-sized parquet
    dv_files = {p for e in d1["deletes"].values() for p in e["dv"]}
    dv = spark.read.schema("f string, pos long").parquet(
        *[os.path.join(root, p) for p in dv_files]
    )
    assert dv.count() == 10
    # per-file association is exact: each entry's dv files contain
    # exactly entry["rows"] positions for that file
    for f, e in d1["deletes"].items():
        got = (
            spark.read.schema("f string, pos long")
            .parquet(*[os.path.join(root, p) for p in e["dv"]])
            .where(F.col("f") == M._uri_rel(f))
            .count()
        )
        assert got == e["rows"], f


def test_mor_delete_on_delete_composes(spark, tmp_path):
    """A second MOR delete must mask against the FIRST's vectors
    (already-deleted rows never re-match) and the union of both masks
    applies."""
    root = _table(spark, tmp_path)
    M.delete_where(spark, root, "id < 100", mode="mor", snapshot_id="d1")
    M.delete_where(spark, root, "id < 200", mode="mor", snapshot_id="d2")
    d2 = M._manifest(root, "d2")["deletes"]
    assert sum(e["rows"] for e in d2.values()) == 200  # disjoint union
    assert _ids(spark, root) == list(range(200, 1_000))


def test_mor_noop_commits_nothing(spark, tmp_path):
    root = _table(spark, tmp_path)
    out = M.delete_where(spark, root, "id = -1", mode="mor", snapshot_id="dx")
    assert out == "v1"  # parent returned, nothing committed
    assert M.snapshots(root) == ["v1"]
    assert not os.path.exists(os.path.join(root, "data", "dx"))  # staged scrubbed


def test_mor_replay_is_exactly_once(spark, tmp_path):
    root = _table(spark, tmp_path)
    M.delete_where(spark, root, "id < 10", mode="mor", snapshot_id="epoch-1")
    M.delete_where(spark, root, "id < 10", mode="mor", snapshot_id="epoch-1")
    assert M.snapshots(root) == ["v1", "epoch-1"]
    assert len(_ids(spark, root)) == 990


def test_append_after_mor_keeps_the_mask(spark, tmp_path):
    """An append carries the parent's files AND their vectors: deleted
    rows stay deleted, appended rows all land."""
    root = _table(spark, tmp_path)
    M.delete_where(spark, root, "id < 50", mode="mor", snapshot_id="d1")
    M.publish(
        spark.range(2_000, 2_010).select("id", (F.col("id") * 2).alias("v")),
        root, append=True, snapshot_id="a1", stats_cols=["id"],
    )
    ids = _ids(spark, root)
    assert ids == list(range(50, 1_000)) + list(range(2_000, 2_010))
    assert M._manifest(root, "a1")["deletes"] == M._manifest(root, "d1")["deletes"]


def test_merge_after_mor_no_resurrection(spark, tmp_path):
    """merge_upsert against a MOR-masked table: a deleted key's
    re-insert lands exactly once; survivors of touched files never
    resurrect masked rows; carried files keep their vectors."""
    root = _table(spark, tmp_path)
    M.delete_where(spark, root, "id between 100 and 199", mode="mor", snapshot_id="d1")
    batch = spark.createDataFrame(
        [(150, -1), (500, -2)], "id long, v long"
    )
    M.merge_upsert(spark, batch, root, "id", snapshot_id="m1")
    got = {r.id: r.v for r in M.read_current(spark, root).collect()}
    assert got[150] == -1 and got[500] == -2
    assert 100 not in got and 199 not in got
    assert len(got) == 901  # 1000 - 100 deleted + 1 reinserted
    m1 = M._manifest(root, "m1")
    # untouched files carried with their DV entries; touched files'
    # entries dropped (the rewrite materialized the mask)
    assert all(f in m1["files"] for f in m1.get("deletes", {}))
    assert all(
        f in set(M._manifest(root, "d1")["files"]) for f in m1.get("deletes", {})
    )


def test_cow_delete_after_mor_no_resurrection(spark, tmp_path):
    root = _table(spark, tmp_path)
    M.delete_where(spark, root, "id between 300 and 399", mode="mor", snapshot_id="d1")
    M.delete_where(spark, root, "id between 350 and 449", mode="cow", snapshot_id="d2")
    ids = _ids(spark, root)
    assert ids == list(range(0, 300)) + list(range(450, 1_000))


def test_compact_absorbs_vectors(spark, tmp_path):
    """OPTIMIZE after MOR deletes: the compacted snapshot has clean
    files, NO deletes map, identical logical rows, and re-harvested
    zone maps that reflect the mask."""
    root = _table(spark, tmp_path)
    M.delete_where(spark, root, "id >= 900", mode="mor", snapshot_id="d1")
    before = _ids(spark, root)
    M.compact_snapshot(spark, root, 2, snapshot_id="c1")
    cm = M._manifest(root, "c1")
    assert "deletes" not in cm
    assert _ids(spark, root) == before == list(range(900))
    # zone maps re-harvested from the MASKED data: pruning above the
    # deleted range returns nothing without scanning
    assert M.read_pruned(spark, root, "id", 900, 999).count() == 0


def test_restore_round_trips_the_mask(spark, tmp_path):
    """RESTORE to a pre-delete snapshot resurrects (that's the point);
    restore forward to the MOR snapshot re-applies its vectors."""
    root = _table(spark, tmp_path)
    M.delete_where(spark, root, "id < 500", mode="mor", snapshot_id="d1")
    M.restore_snapshot(root, "v1", snapshot_id="r1")
    assert len(_ids(spark, root)) == 1_000
    M.restore_snapshot(root, "d1", snapshot_id="r2")
    assert _ids(spark, root) == list(range(500, 1_000))
    assert M._manifest(root, "r2")["deletes"] == M._manifest(root, "d1")["deletes"]


def test_vacuum_keeps_live_vectors_reaps_dead_ones(spark, tmp_path):
    """Vectors referenced by kept snapshots survive vacuum; a reaped
    MOR snapshot's vector prefix goes with it."""
    root = _table(spark, tmp_path)
    M.delete_where(spark, root, "id < 100", mode="mor", snapshot_id="d1")
    M.publish(
        spark.range(5_000, 5_010).select("id", (F.col("id") * 2).alias("v")),
        root, append=True, snapshot_id="a1",
    )
    M.vacuum(root, keep=1)  # keep only a1, which references d1's vectors
    assert _ids(spark, root) == list(range(100, 1_000)) + list(range(5_000, 5_010))
    # now mask gone from history: compact to clean files, vacuum again
    M.compact_snapshot(spark, root, 2, snapshot_id="c1")
    M.vacuum(root, keep=1)
    assert not os.path.isdir(os.path.join(root, "data", "d1"))  # vectors reaped
    assert _ids(spark, root) == list(range(100, 1_000)) + list(range(5_000, 5_010))


def test_read_pruned_applies_vectors_on_the_kept_slice(spark, tmp_path):
    root = _table(spark, tmp_path)
    M.delete_where(spark, root, "id between 120 and 130", mode="mor", snapshot_id="d1")
    got = sorted(r.id for r in M.read_pruned(spark, root, "id", 100, 150).collect())
    assert got == list(range(100, 120)) + list(range(131, 151))


def test_dv_prefilter_large_mask_uses_semi_join(spark, tmp_path, monkeypatch):
    """Past _DV_ISIN_MAX masked files the DV prefilter must switch
    from an isin literal (O(n) expressions embedded in the plan) to a
    broadcast semi-join (plan size constant in the mask count,
    ADVICE r13 #2) — and the read must stay value-identical to the
    isin branch and to COW."""
    pred = "id % 7 = 3"
    r_mor = _table(spark, tmp_path, name="mor")
    r_cow = _table(spark, tmp_path, name="cow")
    M.delete_where(spark, r_mor, pred, mode="mor", snapshot_id="d1")
    M.delete_where(spark, r_cow, pred, mode="cow", snapshot_id="d1")
    expected = sorted(
        (r.id, r.v) for r in M.read_current(spark, r_cow).collect()
    )
    monkeypatch.setattr(M, "_DV_ISIN_MAX", 0)  # every mask is "large"
    df = M.read_current(spark, r_mor)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan  # the semi-join branch, not isin
    assert sorted((r.id, r.v) for r in df.collect()) == expected
    monkeypatch.undo()
    # the isin branch on the SAME vectors agrees
    assert (
        sorted((r.id, r.v) for r in M.read_current(spark, r_mor).collect())
        == expected
    )


def test_mor_lost_race_rebases_on_fresh_current(spark, tmp_path, monkeypatch):
    """An append landing between the MOR derivation read and its
    pointer check surfaces as ConcurrentPublishError and the OCC loop
    re-derives against the interloper — its rows are then visible to
    the predicate."""
    root = _table(spark, tmp_path)
    orig = M.current_snapshot
    state = {"first": True}

    def stale_then_real(r):
        if state["first"]:
            state["first"] = False
            out = orig(r)
            # interloper commits AFTER our derivation read
            M.publish(
                spark.createDataFrame([(9_999, 1)], "id long, v long"),
                r, append=True, snapshot_id="interloper",
            )
            return out
        return orig(r)

    monkeypatch.setattr(M, "current_snapshot", stale_then_real)
    M.delete_where(spark, root, "id >= 900", mode="mor", snapshot_id="d1")
    monkeypatch.undo()
    # serial order: append, then delete — 9_999 matched and is gone
    assert _ids(spark, root) == list(range(900))
    assert M.snapshots(root) == ["v1", "interloper", "d1"]


def test_mor_on_empty_table_raises(spark, tmp_path):
    root = str(tmp_path / "tbl")
    with pytest.raises(FileNotFoundError):
        M.delete_where(spark, root, "id = 1", mode="mor")


def test_delete_mode_validated(spark, tmp_path):
    root = _table(spark, tmp_path)
    with pytest.raises(ValueError, match="mode"):
        M.delete_where(spark, root, "id = 1", mode="upsert")


def test_update_where_basic_and_guards(spark, tmp_path):
    """UPDATE: matched rows transformed (SET sees the PRE-update row),
    unmatched byte-identical, partial rewrite, no-op on no match,
    unknown-column and implicit-cast SETs refused."""
    root = str(tmp_path / "tbl")
    base = spark.range(1_000).select(
        "id", (F.col("id") * 2).alias("v"), F.lit("x").alias("tag")
    )
    M.publish(base.repartitionByRange(8, "id"), root, snapshot_id="v1", stats_cols=["id"])
    M.update_where(
        spark, root, "id between 100 and 110",
        {"v": "v + 1000", "tag": "upper(tag)"}, snapshot_id="u1",
    )
    got = {r.id: (r.v, r.tag) for r in M.read_current(spark, root).collect()}
    assert len(got) == 1_000
    assert got[105] == (1_210, "X") and got[500] == (1_000, "x")
    f1, f2 = (set(M._manifest(root, s)["files"]) for s in ("v1", "u1"))
    assert (f1 & f2) and (f1 - f2)  # partial rewrite
    assert M.update_where(spark, root, "id = -5", {"v": "0"}) == "u1"  # no-op
    with pytest.raises(ValueError, match="not in the table"):
        M.update_where(spark, root, "id = 1", {"nope": "1"})
    with pytest.raises(ValueError, match="changes column types"):
        M.update_where(spark, root, "id = 1", {"v": "v + 0.5"})


def test_update_set_swap_uses_pre_update_row(spark, tmp_path):
    root = str(tmp_path / "tbl")
    M.publish(
        spark.createDataFrame([(1, 10, 20)], "id long, a long, b long"),
        root, stats_cols=["id"],
    )
    M.update_where(spark, root, "id = 1", {"a": "b", "b": "a"})
    r = M.read_current(spark, root).first()
    assert (r.a, r.b) == (20, 10)


def test_update_after_mor_no_resurrection(spark, tmp_path):
    root = _table(spark, tmp_path)
    M.delete_where(spark, root, "id between 0 and 99", mode="mor", snapshot_id="d1")
    M.update_where(spark, root, "id between 50 and 149", {"v": "-v"}, snapshot_id="u1")
    got = {r.id: r.v for r in M.read_current(spark, root).collect()}
    assert len(got) == 900
    assert 50 not in got and got[149] == -298 and got[150] == 300


def test_update_replay_is_exactly_once(spark, tmp_path):
    root = _table(spark, tmp_path)
    M.update_where(spark, root, "id = 5", {"v": "v + 1"}, snapshot_id="e1")
    M.update_where(spark, root, "id = 5", {"v": "v + 1"}, snapshot_id="e1")
    assert {r.v for r in M.read_current(spark, root).where("id = 5").collect()} == {11}
    assert M.snapshots(root) == ["v1", "e1"]


def test_update_lost_race_rebases(spark, tmp_path, monkeypatch):
    root = _table(spark, tmp_path, n=100, files=2)
    orig = M.current_snapshot
    state = {"first": True}

    def stale_then_real(r):
        if state["first"]:
            state["first"] = False
            out = orig(r)
            M.publish(
                spark.createDataFrame([(7_000, 1)], "id long, v long"),
                r, append=True, snapshot_id="interloper",
            )
            return out
        return orig(r)

    monkeypatch.setattr(M, "current_snapshot", stale_then_real)
    M.update_where(spark, root, "id >= 50", {"v": "0"}, snapshot_id="u1")
    monkeypatch.undo()
    got = {r.id: r.v for r in M.read_current(spark, root).collect()}
    # serial order: append, then update — the interloper's row matched
    assert got[7_000] == 0 and got[99] == 0 and got[10] == 20


def test_mixed_dml_storm_with_mor_and_update_is_serializable(spark, tmp_path):
    """The r12 mixed-DML storm widened to the full r14 verb set:
    appends, COW and MOR merges, COW and MOR deletes, COW and MOR
    UPDATEs, and a delete-flagged merge_apply racing from eleven real
    threads must produce a lineage whose
    SEQUENTIAL REPLAY
    reproduces the racing table row-for-row — a stale derivation
    anywhere (resurrected MOR rows, clobbered vectors, lost updates)
    diverges the replay. Predicates are chosen to always match so the
    no-op path cannot hide a missing commit."""
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
        "mrg-mor": ("merge_mor", spark.createDataFrame(
            [(3, -3), (310, -3)], "id long, v long")),
        "mor-0": ("mor", "id >= 10 AND id < 20"),
        "mor-1": ("mor", "id >= 30 AND id < 35"),
        "cow-0": ("cow", "id >= 20 AND id < 25"),
        "upd-0": ("update", ("id < 5", {"v": "v + 1000"})),
        "upd-1": ("update", ("id >= 5 AND id < 10", {"v": "v - 7"})),
        "upd-mor": ("update_mor", ("id >= 25 AND id < 30", {"v": "v + 50"})),
        "apply-0": ("apply", [(35, -35, False), (36, 0, True), (400, -4, False)]),
    }

    def apply_op(r, token, kind, payload):
        # rebase_retries=16: eleven racing writers can cost one loser
        # ten lost races plus replays' own contention
        if kind == "append":
            M.publish(payload, r, snapshot_id=token, append=True,
                      stats_cols=["id"])
        elif kind == "merge":
            M.merge_upsert(spark, payload, r, "id", snapshot_id=token,
                           rebase_retries=16)
        elif kind == "merge_mor":
            M.merge_upsert(spark, payload, r, "id", snapshot_id=token,
                           rebase_retries=16, mode="mor")
        elif kind in ("cow", "mor"):
            M.delete_where(spark, r, payload, snapshot_id=token,
                           rebase_retries=16, mode=kind)
        elif kind == "apply":
            M.merge_apply(
                spark,
                spark.createDataFrame(payload,
                                      "id long, v long, _delete boolean"),
                r, "id", snapshot_id=token, rebase_retries=16,
            )
        else:
            pred, sets = payload
            M.update_where(spark, r, pred, sets, snapshot_id=token,
                           rebase_retries=16,
                           mode="mor" if kind == "update_mor" else "cow")

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
    assert chain[0] == "base" and sorted(chain[1:]) == sorted(ops)
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
    # the masked state replays too, not just the live rows: the same
    # total number of positions is vectored on both roots (file names
    # differ — uuids — but the masked-row count is order-determined)
    def total_masked(r):
        sid = M.current_snapshot(r)
        return sum(
            e["rows"]
            for e in M._manifest(r, sid).get("deletes", {}).values()
        )

    assert total_masked(root) == total_masked(replay)


def test_mor_update_equals_cow_update(spark, tmp_path):
    """THE oracle (VERDICT r13 #4): for the same predicate and SET on
    identical tables, the merge-on-read update result is row-for-row
    the copy-on-write result."""
    pred = "id % 97 = 13 or id between 400 and 420"
    sets = {"v": "v + 100000"}
    r_mor = _table(spark, tmp_path, name="mor")
    r_cow = _table(spark, tmp_path, name="cow")
    M.update_where(spark, r_mor, pred, sets, mode="mor", snapshot_id="u1")
    M.update_where(spark, r_cow, pred, sets, mode="cow", snapshot_id="u1")
    a = sorted((r.id, r.v) for r in M.read_current(spark, r_mor).collect())
    b = sorted((r.id, r.v) for r in M.read_current(spark, r_cow).collect())
    assert a == b and len(a) == 1_000


def test_mor_update_commit_is_matched_rows_sized(spark, tmp_path):
    """Scale contract: the MOR update rewrites NO parent file — the
    parent's list carries verbatim, the commit adds only the updated
    rows as new files plus vectors sized to the matched rows exactly,
    and the new files carry zone maps."""
    root = _table(spark, tmp_path)
    M.update_where(
        spark, root, "id % 100 = 7", {"v": "-v"}, mode="mor",
        snapshot_id="u1",
    )
    v1, u1 = M._manifest(root, "v1"), M._manifest(root, "u1")
    assert set(v1["files"]) <= set(u1["files"])  # nothing rewritten
    added = sorted(set(u1["files"]) - set(v1["files"]))
    assert added and all(f.startswith("data/u1/") for f in added)
    # file COUNT bounded to the batch, not the scan (r14 review): 10
    # scattered matched rows must land in ONE file, not one per scan
    # partition of the 8-file table
    assert len(added) == 1
    assert sum(e["rows"] for e in u1["deletes"].values()) == 10
    assert sum(
        u1["files_meta"][f]["rows"] for f in added
    ) == 10  # the appended batch is exactly the updated rows
    assert all("id" in u1["files_meta"][f]["stats"] for f in added)


def test_mor_update_set_swap_and_guards(spark, tmp_path):
    """The MOR arm shares the COW arm's SET contract: pre-update-row
    semantics (swap works), unknown columns and implicit casts
    refused, nothing-matched is a no-op, bad mode refused."""
    root = str(tmp_path / "tbl")
    M.publish(
        spark.createDataFrame([(1, 10, 20), (2, 1, 2)],
                              "id long, a long, b long"),
        root, snapshot_id="v1", stats_cols=["id"],
    )
    M.update_where(spark, root, "id = 1", {"a": "b", "b": "a"},
                   mode="mor", snapshot_id="u1")
    got = {r.id: (r.a, r.b) for r in M.read_current(spark, root).collect()}
    assert got == {1: (20, 10), 2: (1, 2)}
    assert M.update_where(spark, root, "id = -5", {"a": "0"},
                          mode="mor") == "u1"  # no-op
    with pytest.raises(ValueError, match="not in the table"):
        M.update_where(spark, root, "id = 1", {"nope": "1"}, mode="mor")
    with pytest.raises(ValueError, match="changes column types"):
        M.update_where(spark, root, "id = 1", {"a": "a + 0.5"}, mode="mor")
    with pytest.raises(ValueError, match="mode"):
        M.update_where(spark, root, "id = 1", {"a": "0"}, mode="merge")


def test_mor_update_replay_is_exactly_once(spark, tmp_path):
    root = _table(spark, tmp_path)
    for _ in range(2):
        M.update_where(spark, root, "id = 5", {"v": "v + 1"},
                       mode="mor", snapshot_id="e1")
    assert {
        r.v for r in M.read_current(spark, root).where("id = 5").collect()
    } == {11}
    assert M.snapshots(root) == ["v1", "e1"]


def test_mor_update_after_mor_delete_composes(spark, tmp_path):
    """An update whose predicate overlaps already-masked rows must see
    only LIVE rows (masked rows stay dead, not updated-and-revived)."""
    root = _table(spark, tmp_path)
    M.delete_where(spark, root, "id between 0 and 99", mode="mor",
                   snapshot_id="d1")
    M.update_where(spark, root, "id between 50 and 149", {"v": "-v"},
                   mode="mor", snapshot_id="u1")
    got = {r.id: r.v for r in M.read_current(spark, root).collect()}
    assert len(got) == 900
    assert 50 not in got and got[149] == -298 and got[150] == 300


def test_mor_update_purge_and_compact_absorb(spark, tmp_path):
    """PURGE materializes the update's mask (vectors gone, logical
    table unchanged); OPTIMIZE likewise."""
    for absorber in ("purge", "compact"):
        root = _table(spark, tmp_path, name=f"t_{absorber}")
        M.update_where(spark, root, "id % 10 = 3", {"v": "v + 1"},
                       mode="mor", snapshot_id="u1")
        before = sorted(
            (r.id, r.v) for r in M.read_current(spark, root).collect()
        )
        if absorber == "purge":
            M.purge_deletes(spark, root, snapshot_id="z1")
        else:
            M.compact_snapshot(spark, root, 2, snapshot_id="z1")
        man = M._manifest(root, "z1")
        assert not man.get("deletes")
        after = sorted(
            (r.id, r.v) for r in M.read_current(spark, root).collect()
        )
        assert after == before


def test_mor_update_lost_race_rebases(spark, tmp_path, monkeypatch):
    root = _table(spark, tmp_path, n=100, files=2)
    orig = M.current_snapshot
    state = {"first": True}

    def stale_then_real(r):
        if state["first"]:
            state["first"] = False
            out = orig(r)
            M.publish(
                spark.createDataFrame([(7_000, 1)], "id long, v long"),
                r, append=True, snapshot_id="interloper",
            )
            return out
        return orig(r)

    monkeypatch.setattr(M, "current_snapshot", stale_then_real)
    M.update_where(spark, root, "id >= 50", {"v": "0"}, mode="mor",
                   snapshot_id="u1")
    monkeypatch.undo()
    got = {r.id: r.v for r in M.read_current(spark, root).collect()}
    # serial order: append, then update — the interloper's row matched
    assert got[7_000] == 0 and got[99] == 0 and got[10] == 20
    assert M.snapshots(root) == ["v1", "interloper", "u1"]


def test_purge_deletes_rewrites_only_masked_files(spark, tmp_path):
    """REORG PURGE: after a localized MOR delete, purging rewrites
    exactly the masked files (mask materialized, vectors gone), keeps
    every clean file by reference, and the logical table is unchanged."""
    root = _table(spark, tmp_path)
    M.delete_where(spark, root, "id between 0 and 60", mode="mor", snapshot_id="d1")
    before = _ids(spark, root)
    d1 = M._manifest(root, "d1")
    masked = set(d1["deletes"])
    M.purge_deletes(spark, root, snapshot_id="p1")
    p1 = M._manifest(root, "p1")
    assert "deletes" not in p1
    assert _ids(spark, root) == before
    # clean parent files carried verbatim; masked ones replaced
    assert set(d1["files"]) - masked <= set(p1["files"])
    assert masked.isdisjoint(set(p1["files"]))
    # zone maps re-harvested: pruning below the deleted range is empty
    assert M.read_pruned(spark, root, "id", 0, 60).count() == 0


def test_purge_threshold_keeps_lightly_masked_files(spark, tmp_path):
    """min_masked_fraction: a file masked below threshold keeps its
    vectors and is NOT rewritten; one above is purged."""
    root = _table(spark, tmp_path)  # 8 files of 125 rows each
    # heavy mask on the first file (100/125), light on the last (1/125)
    M.delete_where(spark, root, "id < 100 or id = 999", mode="mor", snapshot_id="d1")
    before = _ids(spark, root)
    M.purge_deletes(spark, root, min_masked_fraction=0.5, snapshot_id="p1")
    p1 = M._manifest(root, "p1")
    assert _ids(spark, root) == before
    rem = p1.get("deletes", {})
    assert sum(e["rows"] for e in rem.values()) == 1  # light mask kept
    d1_files = M._manifest(root, "d1")["files"]
    assert len(set(d1_files) - set(p1["files"])) == 1  # one file rewritten
    # second pass at 0.0 cleans the rest
    M.purge_deletes(spark, root, snapshot_id="p2")
    assert "deletes" not in M._manifest(root, "p2")
    assert _ids(spark, root) == before


def test_purge_noops_on_clean_table_and_replays_once(spark, tmp_path):
    root = _table(spark, tmp_path)
    assert M.purge_deletes(spark, root) == "v1"  # clean: no commit
    M.delete_where(spark, root, "id < 10", mode="mor", snapshot_id="d1")
    M.purge_deletes(spark, root, snapshot_id="e1")
    M.purge_deletes(spark, root, snapshot_id="e1")  # replay
    assert M.snapshots(root) == ["v1", "d1", "e1"]
    assert len(_ids(spark, root)) == 990


def test_read_added_applies_vectors(spark, tmp_path):
    """r13 review #1: the incremental-scan primitive must see the
    LOGICAL delta — a from_sid predating a later MOR delete must not
    resurrect the masked rows of the delta files."""
    root = _table(spark, tmp_path)
    M.delete_where(spark, root, "id % 100 = 7", mode="mor", snapshot_id="d1")
    got = sorted(
        r.id for r in M.read_added(spark, root, None, "d1").collect()
    )
    assert got == [i for i in range(1_000) if i % 100 != 7]
    # delta between v1 and d1 is empty (MOR adds no files)
    assert M.read_added(spark, root, "v1", "d1").count() == 0


def test_append_to_pre_relaxation_lineage_relaxes_nested_nullability(
    spark, tmp_path
):
    """r13 review #2: a lineage whose recorded schema predates the
    recursive relaxation (nested nullable=false on disk) must have the
    relaxation applied by the next APPEND's schema merge, not
    perpetuated forever."""
    import json

    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, (2,))], "id long, s struct<x: bigint>"
    )
    M.publish(df, root, snapshot_id="v1")
    # simulate the pre-r13 on-disk state: nested nullable forced false
    mp = os.path.join(root, "_manifests", "v1.json")
    man = json.load(open(mp))
    man["schema"]["fields"][1]["type"]["fields"][0]["nullable"] = False
    json.dump(man, open(mp, "w"))
    M.publish(df, root, snapshot_id="a1", append=True)
    rec = M._manifest(root, "a1")["schema"]
    assert rec["fields"][1]["type"]["fields"][0]["nullable"] is True


def test_mor_replay_of_reaped_token_never_touches_live_vectors(
    spark, tmp_path
):
    """r13 review #4: an at-least-once replay of a MOR delete whose
    manifest vacuum reaped — but whose vectors still mask live files —
    must no-op, never restage (or rmtree) the live vector prefix."""
    root = _table(spark, tmp_path)
    M.delete_where(spark, root, "id < 100", mode="mor", snapshot_id="epoch-7")
    M.publish(
        spark.range(5_000, 5_005).select("id", (F.col("id") * 2).alias("v")),
        root, append=True, snapshot_id="a1",
    )
    M.vacuum(root, keep=1)  # reaps epoch-7's manifest, keeps its vectors
    assert not os.path.exists(
        os.path.join(root, "_manifests", "epoch-7.json")
    )
    before = _ids(spark, root)
    out = M.delete_where(
        spark, root, "id < 100", mode="mor", snapshot_id="epoch-7"
    )
    assert out == "epoch-7"
    assert M.current_snapshot(root) == "a1"  # nothing recommitted
    assert _ids(spark, root) == before  # vectors intact, reads whole


def test_append_replay_of_reaped_token_is_noop(spark, tmp_path):
    """Same class on the publish path (pre-existing, r13 review #4):
    replaying an append epoch whose manifest was reaped but whose data
    files the current manifest inherits must not duplicate the batch
    or overwrite the live files."""
    root = _table(spark, tmp_path, n=100, files=2)
    batch = spark.range(2_000, 2_010).select(
        "id", (F.col("id") * 2).alias("v")
    )
    M.publish(batch, root, append=True, snapshot_id="epoch-3")
    M.publish(
        spark.range(3_000, 3_005).select("id", (F.col("id") * 2).alias("v")),
        root, append=True, snapshot_id="a1",
    )
    M.vacuum(root, keep=1)
    before = _ids(spark, root)
    out = M.publish(batch, root, append=True, snapshot_id="epoch-3")
    assert out == "epoch-3"
    assert M.current_snapshot(root) == "a1"
    assert _ids(spark, root) == before  # no duplicate rows, no torn files


def test_manifest_row_count_is_logical_after_mor(spark, tmp_path):
    """r13 review #5: a MOR commit's recorded row_count must agree
    with what read_snapshot returns, not the physical file sum."""
    root = _table(spark, tmp_path)
    M.delete_where(spark, root, "id < 250", mode="mor", snapshot_id="d1")
    man = M._manifest(root, "d1")
    assert man["row_count"] == 750 == M.read_current(spark, root).count()


def test_mor_merge_equals_cow_merge(spark, tmp_path):
    """THE oracle for merge-on-read MERGE: same batch on identical
    tables — the vectors+append result is row-for-row the
    copy-on-write rewrite's."""
    batch_rows = [(i, -i) for i in range(100, 111)] + [(5_000, 99), (7_777, 1)]
    r_mor = _table(spark, tmp_path, name="mor")
    r_cow = _table(spark, tmp_path, name="cow")
    for r, mode in ((r_mor, "mor"), (r_cow, "cow")):
        M.merge_upsert(
            spark,
            spark.createDataFrame(batch_rows, "id long, v long"),
            r, "id", snapshot_id="m1", mode=mode,
        )
    a = sorted((r.id, r.v) for r in M.read_current(spark, r_mor).collect())
    b = sorted((r.id, r.v) for r in M.read_current(spark, r_cow).collect())
    assert a == b and len(a) == 1_002


def test_mor_merge_commit_is_batch_sized(spark, tmp_path):
    """Scale contract: every parent file carries BY REFERENCE (even
    the ones containing matched keys); only batch-sized data files and
    vectors are added; masked rows == matched keys."""
    root = _table(spark, tmp_path)
    batch = spark.createDataFrame(
        [(i * 97, -1) for i in range(10)] + [(9_999, 5)], "id long, v long"
    )  # keys scattered across files + one insert
    M.merge_upsert(spark, batch, root, "id", snapshot_id="m1", mode="mor")
    v1, m1 = M._manifest(root, "v1"), M._manifest(root, "m1")
    assert set(v1["files"]) <= set(m1["files"])  # nothing rewritten away
    added = set(m1["files"]) - set(v1["files"])
    assert all(f.startswith("data/m1/") for f in added)
    # file COUNT bounded to the batch (r14 review): 11 batch rows land
    # in ONE file, not one per shuffle partition of the batch frame
    assert len(added) == 1
    assert sum(e["rows"] for e in m1["deletes"].values()) == 10  # matched only
    got = {r.id: r.v for r in M.read_current(spark, root).collect()}
    assert got[97] == -1 and got[9_999] == 5 and got[98] == 196
    assert len(got) == 1_001
    # row_count stays logical
    assert m1["row_count"] == 1_001


def test_mor_merge_after_mor_delete_composes(spark, tmp_path):
    """A MOR merge re-inserting a MOR-deleted key: the old position is
    already masked (never double-masked), the batch row lands once."""
    root = _table(spark, tmp_path)
    M.delete_where(spark, root, "id = 42", mode="mor", snapshot_id="d1")
    M.merge_upsert(
        spark, spark.createDataFrame([(42, 1)], "id long, v long"),
        root, "id", snapshot_id="m1", mode="mor",
    )
    rows = M.read_current(spark, root).where("id = 42").collect()
    assert [(r.id, r.v) for r in rows] == [(42, 1)]
    assert sum(
        e["rows"] for e in M._manifest(root, "m1")["deletes"].values()
    ) == 1  # just d1's mask; the merge matched nothing live for id=42


def test_mor_merge_replay_and_race(spark, tmp_path, monkeypatch):
    root = _table(spark, tmp_path, n=100, files=2)
    batch = spark.createDataFrame([(7, -1), (500, 1)], "id long, v long")
    M.merge_upsert(spark, batch, root, "id", snapshot_id="e1", mode="mor")
    M.merge_upsert(spark, batch, root, "id", snapshot_id="e1", mode="mor")
    assert M.snapshots(root) == ["v1", "e1"]
    assert M.read_current(spark, root).count() == 101
    # lost race: interloper lands between derivation and commit
    orig = M.current_snapshot
    state = {"first": True}

    def stale_then_real(r):
        if state["first"]:
            state["first"] = False
            out = orig(r)
            M.publish(
                spark.createDataFrame([(600, 0)], "id long, v long"),
                r, append=True, snapshot_id="interloper",
            )
            return out
        return orig(r)

    monkeypatch.setattr(M, "current_snapshot", stale_then_real)
    M.merge_upsert(
        spark, spark.createDataFrame([(600, -6)], "id long, v long"),
        root, "id", snapshot_id="e2", mode="mor", rebase_retries=4,
    )
    monkeypatch.undo()
    got = {r.id: r.v for r in M.read_current(spark, root).collect()}
    # serial order: append, then merge — the interloper's row updated
    # (100 base + e1's insert of 500 + interloper's 600, updated in place)
    assert got[600] == -6 and len(got) == 102


def test_mor_merge_purge_and_compact_absorb(spark, tmp_path):
    root = _table(spark, tmp_path)
    M.merge_upsert(
        spark,
        spark.createDataFrame([(i, -1) for i in range(0, 1000, 50)],
                              "id long, v long"),
        root, "id", snapshot_id="m1", mode="mor",
    )
    before = sorted((r.id, r.v) for r in M.read_current(spark, root).collect())
    M.purge_deletes(spark, root, snapshot_id="p1")
    assert "deletes" not in M._manifest(root, "p1")
    assert sorted(
        (r.id, r.v) for r in M.read_current(spark, root).collect()
    ) == before
    # and the OPTIMIZE leg, on a fresh mixed data+dv snapshot dir (the
    # shape only MOR MERGE creates): compact must absorb those vectors
    M.merge_upsert(
        spark,
        spark.createDataFrame([(i, -2) for i in range(3, 1000, 71)],
                              "id long, v long"),
        root, "id", snapshot_id="m2", mode="mor",
    )
    want = sorted((r.id, r.v) for r in M.read_current(spark, root).collect())
    M.compact_snapshot(spark, root, 2, snapshot_id="c1")
    assert "deletes" not in M._manifest(root, "c1")
    assert sorted(
        (r.id, r.v) for r in M.read_current(spark, root).collect()
    ) == want


def test_mor_merge_mode_validated_and_contract_enforced(spark, tmp_path):
    root = _table(spark, tmp_path)
    batch = spark.createDataFrame([(1, 0)], "id long, v long")
    with pytest.raises(ValueError, match="mode"):
        M.merge_upsert(spark, batch, root, "id", mode="hybrid")
    dup = spark.createDataFrame([(1, 0), (1, 2)], "id long, v long")
    with pytest.raises(ValueError, match="duplicate"):
        M.merge_upsert(spark, dup, root, "id", mode="mor")
    narrow = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="columns"):
        M.merge_upsert(spark, narrow, root, "id", mode="mor")


def test_mor_merge_pure_insert_batch_masks_nothing(spark, tmp_path):
    """Zone-map targeting (third r13 review): a batch whose keys fall
    beyond every file's range scans no parent file — the commit is a
    pure append with NO new vector entries."""
    root = _table(spark, tmp_path)
    M.merge_upsert(
        spark,
        spark.createDataFrame([(50_000, 1), (50_001, 2)], "id long, v long"),
        root, "id", snapshot_id="m1", mode="mor",
    )
    m1 = M._manifest(root, "m1")
    assert "deletes" not in m1 or m1["deletes"] == {}
    assert set(M._manifest(root, "v1")["files"]) <= set(m1["files"])
    assert M.read_current(spark, root).count() == 1_002


def test_merge_apply_upserts_and_deletes_one_commit(spark, tmp_path):
    """merge_apply (r14): one MOR commit == delete-then-upsert, with
    matched positions masked and only non-delete rows appended."""
    root = _table(spark, tmp_path)
    batch = spark.createDataFrame(
        [(5, -5, False), (100, -100, False), (7_777, 7, False),
         (10, 0, True), (11, 0, True), (99_999, 0, True)],
        "id long, v long, _delete boolean",
    )  # 2 updates + 1 insert + 2 real deletes + 1 absent-key delete
    M.merge_apply(spark, batch, root, "id", snapshot_id="x1")
    got = {r.id: r.v for r in M.read_current(spark, root).collect()}
    assert len(got) == 1_000 - 2 + 1
    assert got[5] == -5 and got[100] == -100 and got[7_777] == 7
    assert 10 not in got and 11 not in got and 99_999 not in got
    assert got[12] == 24  # untouched
    v1, x1 = M._manifest(root, "v1"), M._manifest(root, "x1")
    assert set(v1["files"]) <= set(x1["files"])  # nothing rewritten
    added = sorted(set(x1["files"]) - set(v1["files"]))
    assert len(added) == 1  # batch-sized, file-count-bounded
    # masked = every batch key PRESENT in the parent (4 of 6: the
    # insert 7_777 and the absent-key delete 99_999 match nothing)
    assert sum(e["rows"] for e in x1["deletes"].values()) == 4
    assert M.snapshots(root) == ["v1", "x1"]  # ONE commit
    # replay is exactly-once
    M.merge_apply(spark, batch, root, "id", snapshot_id="x1")
    assert M.snapshots(root) == ["v1", "x1"]


def test_merge_apply_pure_delete_is_mask_only(spark, tmp_path):
    """A pure-delete batch commits vectors + metadata ONLY — zero data
    files appended, not even a 0-row part."""
    root = _table(spark, tmp_path)
    batch = spark.createDataFrame(
        [(3, 0, True), (700, 0, True)], "id long, v long, _delete boolean"
    )
    M.merge_apply(spark, batch, root, "id", snapshot_id="x1")
    v1, x1 = M._manifest(root, "v1"), M._manifest(root, "x1")
    assert x1["files"] == v1["files"]  # no data file added or removed
    assert sum(e["rows"] for e in x1["deletes"].values()) == 2
    got = sorted(r.id for r in M.read_current(spark, root).collect())
    assert len(got) == 998 and 3 not in got and 700 not in got


def test_merge_apply_guards_and_noop(spark, tmp_path):
    root = _table(spark, tmp_path)
    with pytest.raises(ValueError, match="flag column"):
        M.merge_apply(
            spark, spark.createDataFrame([(1, 2)], "id long, v long"),
            root, "id",
        )
    with pytest.raises(ValueError, match="BOOLEAN"):
        M.merge_apply(
            spark,
            spark.createDataFrame([(1, 2, 1)],
                                  "id long, v long, _delete long"),
            root, "id",
        )
    with pytest.raises(ValueError, match="non-NULL"):
        M.merge_apply(
            spark,
            spark.createDataFrame([(1, 2, None)],
                                  "id long, v long, _delete boolean"),
            root, "id",
        )
    # empty batch: documented no-op, no commit
    empty = spark.createDataFrame([], "id long, v long, _delete boolean")
    assert M.merge_apply(spark, empty, root, "id") == "v1"
    assert M.snapshots(root) == ["v1"]


def test_merge_apply_net_zero_batch_commits_nothing(spark, tmp_path):
    """Fourth r14 review: a batch that nets to nothing — absent-key
    deletes only, or an at-least-once replay whose keys are already
    gone — must return the parent and commit NOTHING (a zero-change
    snapshot per replay would grow the lineage unboundedly)."""
    root = _table(spark, tmp_path)
    ghosts = spark.createDataFrame(
        [(77_777, 0, True), (88_888, 0, True)],
        "id long, v long, _delete boolean",
    )
    assert M.merge_apply(spark, ghosts, root, "id") == "v1"
    assert M.snapshots(root) == ["v1"]
    # tokenless replay of an already-applied delete also nets to zero
    real = spark.createDataFrame([(3, 0, True)],
                                 "id long, v long, _delete boolean")
    M.merge_apply(spark, real, root, "id", snapshot_id="x1")
    assert M.merge_apply(spark, real, root, "id") == "x1"  # no new commit
    assert M.snapshots(root) == ["v1", "x1"]


def test_mor_vectors_are_written_in_file_position_order(spark, tmp_path):
    """A deletion-vector sidecar's rows are in (f, pos) order, so the
    same commit writes the same bytes whatever order the shuffle
    delivered them in. Later files are larger here, so the scan's tasks
    (largest split first) run in reverse file order and an unsorted
    write would put a higher-named file's positions first."""
    import pyarrow.parquet as pq

    root = str(tmp_path / "tbl")
    base = spark.range(0, 4_000, 1, 8).select(
        "id", F.expr("repeat('x', CAST(id DIV 20 AS INT))").alias("pad")
    )
    M.publish(base, root, snapshot_id="v1", stats_cols=["id"])
    assert len(M._manifest(root, "v1")["files"]) == 8
    M.delete_where(spark, root, "id % 7 = 0", mode="mor", snapshot_id="d1")
    d1 = M._manifest(root, "d1")
    sidecars = {p for e in d1["deletes"].values() for p in e["dv"]}
    assert len(sidecars) > 1
    rows = 0
    for p in sorted(sidecars):
        t = pq.read_table(os.path.join(root, p)).to_pydict()
        got = list(zip(t["f"], t["pos"]))
        assert got == sorted(got), p
        rows += len(got)
    assert rows == len(range(0, 4_000, 7))


def test_same_commits_write_the_same_files(spark, tmp_path):
    """Staged files carry no per-write job id: the same frame published
    under the same snapshot id into two fresh roots, then the same MOR
    delete, lists the same files, and every deletion-vector sidecar
    (whose rows name the data files) is byte-identical."""
    base = spark.range(0, 2_000, 1, 4).select("id", (F.col("id") * 3).alias("v"))
    trees = []
    for name in ("a", "b"):
        root = str(tmp_path / name)
        M.publish(base, root, snapshot_id="v1", stats_cols=["id"])
        M.delete_where(spark, root, "id % 11 = 0", mode="mor", snapshot_id="d1")
        d1 = M._manifest(root, "d1")
        sidecars = sorted({p for e in d1["deletes"].values() for p in e["dv"]})
        assert sidecars and all(os.path.basename(p).startswith("dv-part-") for p in sidecars)
        trees.append((root, d1["files"], sidecars))
    (ra, files_a, dv_a), (rb, files_b, dv_b) = trees
    assert files_a == files_b and dv_a == dv_b
    for p in dv_a:
        with open(os.path.join(ra, p), "rb") as fa, open(os.path.join(rb, p), "rb") as fb:
            assert fa.read() == fb.read(), p
