"""``tables.replica``: the one way to stage an x-fold copy of the sf
tables, and ``scripts/probe.py --x``, the sweep that runs keys on it."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from db_loader_spark.tables import REPLICA_STRIDE, TABLE_NAMES, load_table, replica
from db_loader_spark.trace import trace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEY_COLS = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


@pytest.fixture(scope="module")
def doubled(spark, sf_dir):
    return replica(spark, sf_dir, 2)


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_each_table_is_copied_x_times(spark, sf_dir, doubled, name):
    copies = 1 if name in ("nation", "region") else 2
    assert (
        load_table(spark, doubled, name).count()
        == copies * load_table(spark, sf_dir, name).count()
    )


@pytest.mark.parametrize("name", sorted(KEY_COLS))
def test_copies_have_disjoint_keys(spark, doubled, name):
    col = KEY_COLS[name]
    keys = [r[0] for r in load_table(spark, doubled, name).select(col).distinct().collect()]
    first = {k for k in keys if k < REPLICA_STRIDE}
    second = {k - REPLICA_STRIDE for k in keys if k >= REPLICA_STRIDE}
    assert first and first == second  # copy 1 is copy 0 shifted, so never equal


@pytest.mark.parametrize("name,col", [("documents", "text"), ("embeddings", "embedding")])
def test_copies_are_not_duplicates(spark, sf_dir, doubled, name, col):
    """Exact-duplicate texts or vectors across copies would give dedup
    and ANN keys pairs that grow with x squared."""

    def distinct(d):
        return load_table(spark, d, name).select(col).distinct().count()

    assert distinct(doubled) == 2 * distinct(sf_dir)


@pytest.mark.parametrize(
    "left,right,on",
    [
        ("lineitem", "orders", ("l_orderkey", "o_orderkey")),
        ("orders", "customer", ("o_custkey", "c_custkey")),
        ("lineitem", "part", ("l_partkey", "p_partkey")),
    ],
)
def test_foreign_key_joins_stay_inside_a_copy(spark, sf_dir, doubled, left, right, on):
    def joined(d):
        a, b = load_table(spark, d, left), load_table(spark, d, right)
        return a.join(b, a[on[0]] == b[on[1]]).count()

    base = joined(sf_dir)
    assert base > 0 and joined(doubled) == 2 * base


def test_second_call_runs_no_job(spark, sf_dir, doubled):
    with trace(spark) as traced:
        assert replica(spark, sf_dir, 2) == doubled
    assert traced["jobs"] == 0, traced


def test_probe_sweeps_each_replica(tmp_path, sf_dir):
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "scripts", "probe.py"),
            "a2_max_id",
            "--sf",
            sf_dir,
            "--x",
            "1,2",
        ],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [json.loads(line) for line in out.stdout.splitlines()]
    assert [(line["key"], line["x"]) for line in lines] == [("a2_max_id", 1), ("a2_max_id", 2)]
    assert all(line["warm_s"] > 0 and line["jobs"] > 0 for line in lines)
