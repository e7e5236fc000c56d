"""The row-level DML core of ``sinks/manifest.py``: every verb hands its
validated edit to one copy-on-write or one merge-on-read writer, and
both writers share one no-op rule — nothing matched and nothing
appended commits nothing and writes nothing under ``data/``."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from db_loader_spark.sinks import manifest as M

MANIFEST = Path(M.__file__)


def _table(spark, tmp_path, stats: bool, n=200, files=4):
    root = str(tmp_path / "tbl")
    base = spark.range(n).select("id", (F.col("id") * 2).alias("v"))
    M.publish(
        base.repartitionByRange(files, "id"), root, snapshot_id="v1",
        stats_cols=["id"] if stats else None,
    )
    return root


@pytest.mark.parametrize("mode", ["cow", "mor"])
@pytest.mark.parametrize("token", [None, "m1"])
@pytest.mark.parametrize("stats", [True, False])
def test_empty_merge_upsert_batch_commits_nothing(
    spark, tmp_path, mode, token, stats
):
    root = _table(spark, tmp_path, stats)
    empty = spark.createDataFrame([], "id long, v long")
    out = M.merge_upsert(
        spark, empty, root, "id", snapshot_id=token, mode=mode
    )
    assert out == "v1"
    assert M.snapshots(root) == ["v1"]
    assert os.listdir(os.path.join(root, "data")) == ["v1"]
    assert M.read_current(spark, root).count() == 200


def test_empty_merge_upsert_on_empty_table_still_publishes(spark, tmp_path):
    root = str(tmp_path / "tbl")
    empty = spark.createDataFrame([], "id long, v long")
    assert M.merge_upsert(spark, empty, root, "id", snapshot_id="m1") == "m1"
    assert M.snapshots(root) == ["m1"]


def test_merge_apply_contract_errors_name_merge_apply(spark, tmp_path):
    root = _table(spark, tmp_path, stats=True)
    dup = spark.createDataFrame(
        [(1, 0, False), (1, 5, True)], "id long, v long, _delete boolean"
    )
    with pytest.raises(ValueError, match="merge_apply") as err:
        M.merge_apply(spark, dup, root, "id")
    assert "duplicate" in str(err.value)
    assert "merge_upsert" not in str(err.value)
    assert M.snapshots(root) == ["v1"]


@pytest.mark.parametrize("verb", ["merge_upsert", "merge_apply"])
def test_null_merge_key_is_refused_as_null(spark, tmp_path, verb):
    """A NULL key gets its own error naming the verb, not the
    duplicate-key error (countDistinct skips NULL)."""
    root = _table(spark, tmp_path, stats=True)
    if verb == "merge_upsert":
        batch = spark.createDataFrame([(None, 5)], "id long, v long")
    else:
        batch = spark.createDataFrame(
            [(None, 5, False)], "id long, v long, _delete boolean"
        )
    with pytest.raises(ValueError, match=f"^{verb}.*NULL 'id'") as err:
        getattr(M, verb)(spark, batch, root, "id")
    assert "duplicate" not in str(err.value)
    assert M.snapshots(root) == ["v1"]


def test_mor_delete_vectors_are_named_dv(spark, tmp_path):
    """Readers find vectors by the paths the manifest records, so the
    mask-only commit shares the mask-and-append commit's dv- naming."""
    root = _table(spark, tmp_path, stats=True)
    M.delete_where(spark, root, "id % 7 = 3", snapshot_id="d1", mode="mor")
    dels = M._manifest(root, "d1")["deletes"]
    paths = [p for e in dels.values() for p in e["dv"]]
    assert paths and all(
        os.path.basename(p).startswith("dv-")
        and os.path.exists(os.path.join(root, p))
        for p in paths
    )
    assert M._manifest(root, "d1")["files"] == M._manifest(root, "v1")["files"]
    got = sorted(r.id for r in M.read_current(spark, root).collect())
    assert got == [i for i in range(200) if i % 7 != 3]


def _tree():
    return ast.parse(MANIFEST.read_text())


def _callers(tree, name: str) -> list[str]:
    """Top-level functions whose body calls ``name``."""
    out = []
    for fn in tree.body:
        if isinstance(fn, ast.FunctionDef) and any(
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Name)
            and n.func.id == name
            for n in ast.walk(fn)
        ):
            out.append(fn.name)
    return out


def test_no_pinned_dml_variants():
    names = [
        n.name for n in ast.walk(_tree()) if isinstance(n, ast.FunctionDef)
    ]
    assert [n for n in names if n.endswith("_pinned")] == []


def test_one_copy_on_write_publish():
    calls = [
        n for n in ast.walk(_tree())
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Name)
        and n.func.id == "publish"
        and any(k.arg == "_inherit_files" for k in n.keywords)
    ]
    assert len(calls) == 1


def test_dml_reaches_commit_staged_only_through_the_mor_tail():
    non_dml = {"publish", "restore_snapshot", "evolve_schema"}
    dml = set(_callers(_tree(), "_commit_staged")) - non_dml
    assert dml == {"_mor_mask_append_commit"}


def test_one_snapshot_id_formula():
    assert MANIFEST.read_text().count("time.time() * 1000") == 1


def test_one_token_adjudicator():
    """The replay-token rule lives in ``_replayed``: only it asks
    whether a token's files are live, only it and restore's target
    check walk the lineage for a snapshot, and ``_commit_staged`` is
    the one loop over the pointer-race budget."""
    tree = _tree()
    assert _callers(tree, "_prefix_live") == ["_replayed"]
    assert sorted(_callers(tree, "_committed_in_lineage")) == [
        "_replayed", "restore_snapshot",
    ]
    loops = [
        fn.name for fn in tree.body
        if isinstance(fn, ast.FunctionDef)
        and "range(_COMMIT_RETRIES)" in ast.unparse(fn)
    ]
    assert loops == ["_commit_staged"]
