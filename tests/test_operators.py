"""Unit + property tests for the core operators (J1/J2/P14, ids, EDN)."""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from db_loader_spark.operators.sessionize import (
    merge_continuations,
    route_sections,
    seq_split,
)
from db_loader_spark.sources.edn_index import parse_edn


@pytest.fixture(scope="module")
def spark_global(spark):
    """Module-scoped alias — hypothesis forbids function-scoped fixtures."""
    return spark


def _lines_df(spark, lines: list[str], file: str = "f1"):
    return spark.createDataFrame(
        [(file, i, ln) for i, ln in enumerate(lines)],
        "file string, line_no long, line string",
    )


def _py_seq_split(lines: list[str], delim: str = r";+$") -> list[list[str]]:
    """Pure-Python reference for J1 (independent reimplementation)."""
    groups: list[list[str]] = [[]]
    for ln in lines:
        if re.search(delim, ln):
            groups.append([])
        else:
            groups[-1].append(ln)
    return groups


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.sampled_from(["a = 1", "b: 2", ";;;;", "noise", ";;", "x = nil"]),
        min_size=0,
        max_size=30,
    )
)
def test_seq_split_matches_python_reference(spark_global, data):
    spark = spark_global

    df = _lines_df(spark, data)
    got = seq_split(df).orderBy("line_no").collect()
    expected = _py_seq_split(data)
    # section_id of each surviving line must match the python grouping
    exp_pairs = [
        (ln, sec)
        for sec, group in enumerate(expected)
        for ln in group
    ]
    got_pairs = [(r.line, r.section_id) for r in got]
    assert got_pairs == exp_pairs


def test_route_sections(spark):
    lines = [
        "h1 = a",
        ";;;;",
        "-*- gen 0",
        "k: v",
        ";;;;",
        "middle noise",
        ";;;;",
        "SUCCESS at generation 0",
    ]
    df = seq_split(_lines_df(spark, lines))
    routed = {
        (r.line): r.section_kind for r in route_sections(df).collect()
    }
    assert routed["h1 = a"] == "header"
    assert routed["-*- gen 0"] == "generation"
    assert routed["k: v"] == "generation"
    assert routed["middle noise"] == "noise"
    assert routed["SUCCESS at generation 0"] == "summary"


def test_merge_continuations(spark):
    lines = ["orphan continuation", "a: 1", "cont one", "cont two", "b: 2"]
    df = _lines_df(spark, lines)
    merged = merge_continuations(df, anchor=F.col("line").contains(":"))
    got = {r.line_no: r.line for r in merged.collect()}
    assert got == {1: "a: 1 cont one cont two", 4: "b: 2"}


def test_assign_file_ids_modes(spark):
    from db_loader_spark.operators.ids import assign_file_ids

    df = spark.createDataFrame(
        [("fB", 0, "x"), ("fA", 0, "y"), ("fA", 1, "z")],
        "file string, line_no long, line string",
    )
    dense = assign_file_ids(df, mode="dense", base_id=10)
    ids = {r.file: r.id for r in dense.collect()}
    assert ids == {"fA": 11, "fB": 12}
    hashed = assign_file_ids(df, mode="hash")
    hids = {r.file: r.id for r in hashed.collect()}
    assert len(set(hids.values())) == 2 and all(v >= 0 for v in hids.values())


def test_parse_edn():
    data = parse_edn(
        '{:command-maps [{:uuid "u1" :argmap {:k 50 :flag true :none nil}}] '
        ':n 3 :f 1.5 :v [1 2 "s"] :sym bare ; comment\n}'
    )
    assert data["n"] == 3 and data["f"] == 1.5
    assert data["v"] == [1, 2, "s"]
    assert data["sym"] == "bare"
    cm = data["command-maps"][0]
    assert cm["uuid"] == "u1"
    assert cm["argmap"] == {"k": 50, "flag": True, "none": None}


def test_pii_redaction_adversarial(spark):
    """PII patterns on strings the synthetic corpus lacks: real emails,
    phones, IPv4s, plus near-misses that must NOT match."""
    from db_loader_spark.functions import text as TX

    rows = [
        (0, "mail me at alice.smith+tag@sub.example.co.uk today"),
        (1, "call 555-123-4567 or 555.987.6543 now"),
        (2, "server at 10.0.255.1 and 192.168.1.100"),
        (3, "not-an-email @example.com, version 1.2.3, id 12345678901"),
        (4, None),
        (5, "combo: bob@x.io on 10.1.1.1 dial 800-555-0199"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = df.select(
        "doc_id",
        TX.pii_count(F.col("text"), "email").alias("e"),
        TX.pii_count(F.col("text"), "phone").alias("p"),
        TX.pii_count(F.col("text"), "ipv4").alias("i"),
        TX.redact_pii(F.col("text")).alias("red"),
    )
    got = {r.doc_id: r for r in out.collect()}
    assert (got[0].e, got[0].p, got[0].i) == (1, 0, 0)
    assert "<EMAIL>" in got[0].red and "alice" not in got[0].red
    assert (got[1].e, got[1].p, got[1].i) == (0, 2, 0)
    assert got[1].red.count("<PHONE>") == 2
    assert (got[2].e, got[2].p, got[2].i) == (0, 0, 2)
    # near-misses: "@example.com" has no local part before the space;
    # "1.2.3" is not 4 octets; a bare 11-digit run is not a phone
    assert (got[3].e, got[3].p, got[3].i) == (0, 0, 0)
    assert got[3].red == rows[3][1]
    assert got[4].red == ""  # NULL text redacts to empty, never NULL
    assert (got[5].e, got[5].p, got[5].i) == (1, 1, 1)
    for tok in ("<EMAIL>", "<PHONE>", "<IPV4>"):
        assert tok in got[5].red


# ---- CDC snapshot diff (operators/cdc.py) ----


def test_snapshot_diff_classifies_all_three_ops(spark):
    from db_loader_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, s string, v long"
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "c", 99), (4, "d", 40)], "k long, s string, v long"
    )
    got = {
        (r.change_op, r.k): (r.old_v, r.new_v)
        for r in snapshot_diff(old, new, ["k"], ["s", "v"]).collect()
    }
    # key 2 is unchanged: absent. 1 deleted, 4 inserted, 3 updated.
    assert got == {
        ("delete", 1): (10, None),
        ("insert", 4): (None, 40),
        ("update", 3): (30, 99),
    }


def test_snapshot_diff_is_null_safe(spark):
    """NULL values must neither hide a change (NULL -> 5 is an update)
    nor invent one (NULL -> NULL is unchanged)."""
    from db_loader_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, None), (3, 7)], "k long, v long"
    )
    new = spark.createDataFrame(
        [(1, None), (2, 5), (3, None)], "k long, v long"
    )
    got = {r.k: r.change_op for r in snapshot_diff(old, new, ["k"], ["v"]).collect()}
    assert got == {2: "update", 3: "update"}  # key 1 unchanged


def test_cdc_time_travel_roundtrip(spark, tmp_path):
    """The full lakehouse loop on a scratch root: publish v1, publish
    v2 (lineage parent v1), time-travel both, diff. Old snapshot stays
    readable after the pointer moved — the manifest contract."""
    from db_loader_spark.operators.cdc import snapshot_diff
    from db_loader_spark.sinks import manifest as M

    root = str(tmp_path / "tbl")
    v1 = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    v2 = spark.createDataFrame([(2, 21), (3, 30)], "k long, v long")
    M.publish(v1, root, snapshot_id="s1")
    M.publish(v2, root, snapshot_id="s2")
    assert M.snapshots(root) == ["s1", "s2"]
    assert M.current_snapshot(root) == "s2"
    d = snapshot_diff(
        M.read_snapshot(spark, root, "s1"),
        M.read_snapshot(spark, root, "s2"),
        ["k"],
        ["v"],
    )
    got = {r.k: r.change_op for r in d.collect()}
    assert got == {1: "delete", 2: "update", 3: "insert"}


# ---- Table fingerprint (queries/relational.a_table_fingerprint) ----


def test_fingerprint_is_order_insensitive_and_mergeable(spark):
    """Shard fingerprints SUM (mod p) to the whole-table fingerprint,
    and shuffling row order changes nothing — the two properties that
    make it a replica-verification primitive."""
    from pyspark.sql import functions as F

    MOD = (1 << 61) - 1
    h = "CAST(conv(substring(md5(concat_ws('|', k, s)), 1, 12), 16, 10) AS BIGINT)"

    def fp(df):
        return df.agg(
            F.expr(f"CAST(pmod(SUM(CAST({h} AS DECIMAL(38,0))), {MOD}) AS BIGINT)")
        ).first()[0]

    rows = [(i, f"s{i}") for i in range(500)]
    df = spark.createDataFrame(rows, "k long, s string")
    shuffled = spark.createDataFrame(list(reversed(rows)), "k long, s string")
    a = df.filter(F.col("k") < 250)
    b = df.filter(F.col("k") >= 250)
    whole, merged = fp(df), (fp(a) + fp(b)) % MOD
    assert whole == fp(shuffled)
    assert whole == merged


def test_fingerprint_detects_single_cell_change(spark):
    from pyspark.sql import functions as F

    MOD = (1 << 61) - 1
    h = "CAST(conv(substring(md5(concat_ws('|', k, s)), 1, 12), 16, 10) AS BIGINT)"

    def fp(df):
        return df.agg(
            F.expr(f"CAST(pmod(SUM(CAST({h} AS DECIMAL(38,0))), {MOD}) AS BIGINT)")
        ).first()[0]

    rows = [(i, f"s{i}") for i in range(500)]
    mutated = list(rows)
    mutated[250] = (250, "s250x")
    assert fp(spark.createDataFrame(rows, "k long, s string")) != fp(
        spark.createDataFrame(mutated, "k long, s string")
    )


def test_triangle_count_known_graphs(spark, sf_dir):
    """The oriented wedge count must agree with hand-counted graphs:
    K4 has 4 triangles, a star has none, and adding one chord to the
    star creates exactly the triangles through its two spokes."""
    from db_loader_spark.queries.relational import g_triangle_count  # noqa: F401  (registry parity)
    from pyspark.sql import functions as F

    # replicate the oriented pipeline over an injected edge list by
    # running the same code path the query uses, via a temp view of
    # fabricated "lineitem" rows: order o joins all its parts
    def tri_of(orders):  # orders: list[list[part]]
        rows = [(o, p) for o, parts in enumerate(orders) for p in parts]
        df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
        import tempfile, os
        d = tempfile.mkdtemp(prefix="tri_test_")
        df.write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
        try:
            out = g_triangle_count(spark, d).first()
        finally:
            import shutil
            shutil.rmtree(d, ignore_errors=True)
        return out["n_triangles"]

    assert tri_of([[1, 2, 3, 4]]) == 4  # K4
    assert tri_of([[0, 1], [0, 2], [0, 3], [0, 4]]) == 0  # star, no closure
    # star + chord (1,2): exactly one triangle 0-1-2
    assert tri_of([[0, 1], [0, 2], [0, 3], [1, 2]]) == 1


def test_triangle_count_sizes_its_own_shuffles(spark, sf_dir):
    """``g_triangle_count`` scopes its shuffle width to the lineitem
    bytes, so a session left at Spark's default 200 shuffle partitions
    does not make each of its ~20 jobs run 200 tasks per exchange (about
    2,600 tasks for one warm call at sf0.001 before the scope)."""
    from db_loader_spark.queries.relational import g_triangle_count
    from db_loader_spark.session import scoped_conf
    from db_loader_spark.trace import trace

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "200"}):
        g_triangle_count(spark, sf_dir).unpersist()  # warm
        with trace(spark) as traced:
            df = g_triangle_count(spark, sf_dir)
            df.collect()
        df.unpersist()
    assert traced["tasks"] < 800, traced


def test_pagerank_known_graph_properties(spark):
    """On a star graph the hub must outrank every leaf, leaves must tie
    exactly (symmetry), and total mass must stay ~1 (stochasticity —
    no dangling nodes by construction)."""
    import os
    import shutil
    import tempfile

    from db_loader_spark.queries.relational import g_pagerank

    rows = [(o, p) for o, parts in enumerate([[0, 1], [0, 2], [0, 3], [0, 4]]) for p in parts]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    d = tempfile.mkdtemp(prefix="pr_test_")
    df.write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
    try:
        out = g_pagerank(spark, d)
        got = {r["node"]: r["score_ppm"] for r in out.collect()}
        out.unpersist()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    hub, leaves = got[0], [got[i] for i in (1, 2, 3, 4)]
    assert hub > max(leaves)
    assert len(set(leaves)) == 1  # exact symmetry after rounding
    assert abs(sum(got.values()) / 1_000_000 - 1.0) < 1e-3


def test_semdedup_hot_cell_is_subsplit_and_bounded(spark):
    """SemDeDup's hot-cell guard (queries/similarity._subsplit_cells):
    a manufactured near-duplicate pile-up — one cell holding every row
    — must be re-split on sign bits so no sub-key's self-join pair
    count stays quadratic in the pile size, while under-cap cells pass
    through with their key (plus the degenerate ':' suffix) intact."""
    import random

    from pyspark.sql import functions as F

    from db_loader_spark.queries.similarity import _subsplit_cells

    rng = random.Random(7)
    rows = [
        ("hot", i, [rng.uniform(-1, 1) for _ in range(8)], 1.0)
        for i in range(200)
    ] + [("cold", 1000 + i, [1.0] * 8, 1.0) for i in range(5)]
    lists = spark.createDataFrame(
        rows, "cell string, neighbor_id long, c_vec array<double>, c_nrm double"
    )
    out = _subsplit_cells(lists, cap=16)
    sizes = {r["cell"]: r["n"] for r in
             out.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    hot_keys = [c for c in sizes if c.startswith("hot:")]
    cold_keys = [c for c in sizes if c.startswith("cold:")]
    # 200 > 16 ⇒ 4 sign bits ⇒ up to 16 sub-keys; the pile must split
    assert len(hot_keys) > 1
    assert all(len(c) == len("hot:") + 4 for c in hot_keys)
    # random signs split ~uniformly: worst sub-key far below the pile
    assert max(sizes[c] for c in hot_keys) < 200 / 2
    assert sum(sizes[c] for c in hot_keys) == 200  # nothing dropped
    # under-cap cell: identity key (empty suffix), all rows together
    assert cold_keys == ["cold:"] and sizes["cold:"] == 5


def _drop_pq_caches() -> None:
    """Evict the session PQ/IVF-PQ caches: their lazy book reads list
    the stage's files, which a rebuilt stage replaces."""
    import db_loader_spark.queries.similarity as qs

    for cache in (qs._PQ_INDEX, qs._IVFPQ_INDEX):
        while cache:
            qs._evict_pq_entry(cache.popitem()[1])


def _check_stage_contract(resolve, subdirs: list[str]) -> str:
    """The one stage contract every index artifact takes: the resolve
    returns a stage holding ``subdirs`` and its stamp; a warm resolve
    serves the same directory (no rebuild — a rebuild renames a new
    dir into place, so the inode would change); a removed stage is
    rebuilt at the same path."""
    import os
    import shutil

    stage = resolve()
    for d in subdirs:
        assert os.path.isdir(os.path.join(stage, d)), d
    assert os.path.isfile(os.path.join(stage, "_SOURCE_STAMP"))
    ino = os.stat(stage).st_ino
    assert resolve() == stage
    assert os.stat(stage).st_ino == ino  # warm: served, not rebuilt
    shutil.rmtree(stage)
    assert resolve() == stage  # rebuilt at the same path
    for d in subdirs:
        assert os.path.isdir(os.path.join(stage, d)), d
    _drop_pq_caches()
    return stage


def test_ivf_disk_index_atomic_versioning(spark):
    """The on-disk IVF index installs through staging.build_stage: a
    partial directory at the stage path (an in-place writer's crash
    residue, no stamp) is never served — the next resolve replaces it
    with a complete stamped build."""
    import os
    import shutil

    from db_loader_spark.queries.similarity import _ivf_disk_index
    from db_loader_spark.staging import stage_path

    sf = "/root/testdata/sf0.001"
    stage = stage_path(sf, "ivf_index")
    assert _ivf_disk_index(spark, sf) == stage
    shutil.rmtree(stage)
    os.makedirs(os.path.join(stage, "lists", "cell=crashed"))
    assert _ivf_disk_index(spark, sf) == stage
    assert os.path.isdir(os.path.join(stage, "centroids"))
    assert os.path.isfile(os.path.join(stage, "_SOURCE_STAMP"))
    assert not os.path.exists(os.path.join(stage, "lists", "cell=crashed"))


def test_data_sized_shuffle_restores_on_exception(spark):
    """The conf scope must restore the session's shuffle-partition
    bound even when the wrapped pipeline raises — a leaked low bound
    would silently throttle every later query in the session."""
    import pytest

    from db_loader_spark.session import data_sized_shuffle, scoped_conf

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "64"}):
        with pytest.raises(RuntimeError, match="boom"):
            with data_sized_shuffle(
                spark, "/root/testdata/sf0.001/events.parquet"
            ):
                # a tiny file floors at 8, below the forced 64 ceiling
                assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
                raise RuntimeError("boom")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "64"


def test_subsplit_cells_partitions_rows_exactly(spark):
    """Property of the SemDeDup guard: sub-splitting is a PARTITION of
    the input — every row lands in exactly one sub-key whose prefix is
    its original cell, none dropped, none duplicated — for random cell
    sizes straddling the cap."""
    import random

    from pyspark.sql import functions as F

    from db_loader_spark.queries.similarity import _subsplit_cells

    rng = random.Random(11)
    rows = []
    rid = 0
    expected = {}
    for cell, n in (("a", 3), ("b", 17), ("c", 64), ("d", 1)):
        expected[cell] = n
        for _ in range(n):
            rows.append(
                (cell, rid, [rng.uniform(-1, 1) for _ in range(8)], 1.0)
            )
            rid += 1
    lists = spark.createDataFrame(
        rows, "cell string, neighbor_id long, c_vec array<double>, c_nrm double"
    )
    out = _subsplit_cells(lists, cap=16).collect()
    assert len(out) == len(rows)  # none dropped, none duplicated
    assert len({r["neighbor_id"] for r in out}) == len(rows)
    per_cell = {}
    for r in out:
        base = r["cell"].split(":")[0]
        per_cell[base] = per_cell.get(base, 0) + 1
    assert per_cell == expected  # partition respects original cells


def test_pq_disk_artifact_atomic_versioning(spark):
    """The PQ coded corpus + codebooks take the stage contract."""
    from db_loader_spark.queries.similarity import PQ_M, _pq_disk_artifact
    from db_loader_spark.staging import stage_path

    sf = "/root/testdata/sf0.001"
    stage = _check_stage_contract(
        lambda: _pq_disk_artifact(spark, sf),
        [f"book{s}" for s in range(PQ_M)] + ["codes"],
    )
    assert stage == stage_path(sf, "pq_index")


def test_ivfpq_disk_artifact_atomic_versioning(spark):
    """Same contract for the IVF-PQ residual artifact; its stamp also
    covers the coarse quantizer params (residual codes are meaningless
    against a retrained coarse quantizer)."""
    from db_loader_spark.queries.similarity import PQ_M, _ivfpq_disk_artifact
    from db_loader_spark.staging import stage_path
    from db_loader_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    stage = _check_stage_contract(
        lambda: _ivfpq_disk_artifact(spark, sf, emb),
        [f"book{s}" for s in range(PQ_M)] + ["coded"],
    )
    assert stage == stage_path(sf, "ivfpq_index")
    with open(f"{stage}/_SOURCE_STAMP") as fh:
        assert ":coarse_bits=4:coarse_iters=2:" in fh.read()


def test_pq_artifact_rebuild_is_deterministic(spark):
    """The artifact boundary must not introduce nondeterminism: wiping
    the PQ stage and rebuilding from the same source must reproduce the
    coded corpus row-for-row (the exact-integer trainer contract,
    pinned ACROSS the disk round trip — a drift here would mean serving
    results depend on which process happened to build the artifact)."""
    import os
    import shutil

    from db_loader_spark.queries.similarity import _pq_disk_artifact

    sf = "/root/testdata/sf0.001"
    stage = _pq_disk_artifact(spark, sf)
    codes1 = sorted(
        map(tuple, spark.read.parquet(os.path.join(stage, "codes")).collect())
    )
    shutil.rmtree(stage)  # force a full rebuild
    assert _pq_disk_artifact(spark, sf) == stage
    codes2 = sorted(
        map(tuple, spark.read.parquet(os.path.join(stage, "codes")).collect())
    )
    _drop_pq_caches()
    assert codes1 == codes2


def test_ivf_disk_index_heals_pointer_to_missing_dir(spark):
    """A removed IVF index stage (a racing rebuild's swap window, or a
    temp-dir sweep) costs one rebuild: the next resolve builds the
    index for the current stamp at the same path, never serving
    garbage or raising."""
    from db_loader_spark.queries.similarity import _ivf_disk_index
    from db_loader_spark.staging import stage_path

    sf = "/root/testdata/sf0.001"
    stage = _check_stage_contract(
        lambda: _ivf_disk_index(spark, sf), ["centroids", "lists"]
    )
    assert stage == stage_path(sf, "ivf_index")
