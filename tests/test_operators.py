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


def test_ivf_disk_index_atomic_versioning(spark):
    """The r7 versioned-prefix commit for the on-disk IVF index: the
    pointer names a COMPLETE version; crash residue (a partial version
    dir that never got the pointer flip) is invisible to serving and
    swept by the next successful build once stale (r9: delayed
    vacuum)."""
    import os
    import time

    from db_loader_spark.queries.similarity import _ivf_disk_index

    sf = "/root/testdata/sf0.001"
    vdir = _ivf_disk_index(spark, sf)
    base = os.path.dirname(os.path.dirname(vdir))
    with open(os.path.join(base, "_CURRENT")) as fh:
        assert fh.read() == os.path.basename(vdir)
    assert os.path.isdir(os.path.join(vdir, "centroids"))
    # simulate a crashed rebuild: partial version dir, no pointer flip
    crashed = os.path.join(base, "versions", "deadbeefcrash")
    os.makedirs(os.path.join(crashed, "lists"), exist_ok=True)
    assert _ivf_disk_index(spark, sf) == vdir  # still serves current
    with open(os.path.join(base, "_CURRENT")) as fh:
        assert fh.read() == os.path.basename(vdir)  # pointer untouched
    # a successful (cache-hit) resolve never deletes the current
    # version; the crashed dir is swept only by the next real build —
    # force one by dropping the pointer
    os.remove(os.path.join(base, "_CURRENT"))
    # r9 marker protocol: version dirs age from SUPERSESSION (the
    # _SUPERSEDED_AT a sweep writes on first sight), not build mtime —
    # simulate "observed superseded >1h ago" by writing a stale marker
    with open(os.path.join(crashed, "_SUPERSEDED_AT"), "w") as fh:
        fh.write(str(time.time() - 7200))
    vdir2 = _ivf_disk_index(spark, sf)
    assert vdir2 == vdir  # same stamp → same version id
    assert not os.path.isdir(crashed)  # stale residue swept after flip


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
    """r8 (VERDICT r7 #6): the PQ coded corpus + codebooks get the same
    versioned-prefix + atomic-pointer commit the IVF index got in r7 —
    pointer names a complete version, crash residue invisible, swept
    by the next successful flip once stale (r9: delayed vacuum)."""
    import os
    import time

    from db_loader_spark.queries.similarity import PQ_M, _pq_disk_artifact

    sf = "/root/testdata/sf0.001"
    vdir = _pq_disk_artifact(spark, sf)
    base = os.path.dirname(os.path.dirname(vdir))
    with open(os.path.join(base, "_CURRENT")) as fh:
        assert fh.read() == os.path.basename(vdir)
    for s in range(PQ_M):
        assert os.path.isdir(os.path.join(vdir, f"book{s}"))
    assert os.path.isdir(os.path.join(vdir, "codes"))
    crashed = os.path.join(base, "versions", "deadbeefcrash")
    os.makedirs(os.path.join(crashed, "codes"), exist_ok=True)
    assert _pq_disk_artifact(spark, sf) == vdir  # still serves current
    with open(os.path.join(base, "_CURRENT")) as fh:
        assert fh.read() == os.path.basename(vdir)  # pointer untouched
    os.remove(os.path.join(base, "_CURRENT"))
    with open(os.path.join(crashed, "_SUPERSEDED_AT"), "w") as fh:
        fh.write(str(time.time() - 7200))  # observed superseded >1h ago
    vdir2 = _pq_disk_artifact(spark, sf)
    assert vdir2 == vdir  # same stamp → same version id
    assert not os.path.isdir(crashed)  # stale residue swept after flip


def test_ivfpq_disk_artifact_atomic_versioning(spark):
    """Same protocol for the IVF-PQ residual artifact; its stamp also
    covers the coarse quantizer params (residual codes are meaningless
    against a retrained coarse quantizer)."""
    import os
    import time

    from db_loader_spark.queries.similarity import (
        PQ_M,
        _ivfpq_disk_artifact,
    )
    from db_loader_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    vdir = _ivfpq_disk_artifact(spark, sf, emb)
    base = os.path.dirname(os.path.dirname(vdir))
    with open(os.path.join(base, "_CURRENT")) as fh:
        assert fh.read() == os.path.basename(vdir)
    for s in range(PQ_M):
        assert os.path.isdir(os.path.join(vdir, f"book{s}"))
    assert os.path.isdir(os.path.join(vdir, "coded"))
    crashed = os.path.join(base, "versions", "deadbeefcrash")
    os.makedirs(os.path.join(crashed, "coded"), exist_ok=True)
    assert _ivfpq_disk_artifact(spark, sf, emb) == vdir
    os.remove(os.path.join(base, "_CURRENT"))
    with open(os.path.join(crashed, "_SUPERSEDED_AT"), "w") as fh:
        fh.write(str(time.time() - 7200))  # observed superseded >1h ago
    assert _ivfpq_disk_artifact(spark, sf, emb) == vdir
    assert not os.path.isdir(crashed)


def test_versioned_artifact_concurrent_builder_semantics(tmp_path):
    """r8 hardening of the shared artifact protocol: builders write
    into private scratch prefixes and RENAME into place — exactly one
    lands the version; an existing complete version is adopted without
    rebuilding; a LIVE concurrent builder's scratch dir survives the
    winner's sweep while stale crash residue is reaped."""
    import os
    import time

    from db_loader_spark.queries.similarity import _versioned_artifact

    base = str(tmp_path / "art")
    calls = []

    def build(vdir):
        calls.append(vdir)
        with open(os.path.join(vdir, "payload"), "w") as fh:
            fh.write("x")

    v1 = _versioned_artifact(base, "stamp-a", build)
    assert len(calls) == 1 and os.path.isfile(os.path.join(v1, "payload"))
    assert ".build-" in calls[0] and calls[0] != v1  # built in scratch
    # resolve again: served from _CURRENT, no rebuild
    assert _versioned_artifact(base, "stamp-a", build) == v1
    assert len(calls) == 1
    # pointer lost but version dir complete -> adopt, never rebuild
    os.remove(os.path.join(base, "_CURRENT"))
    assert _versioned_artifact(base, "stamp-a", build) == v1
    assert len(calls) == 1
    # a FRESH concurrent scratch survives the sweep; a stale one is reaped
    vroot = os.path.join(base, "versions")
    live = os.path.join(vroot, ".build-other-live")
    stale = os.path.join(vroot, ".build-other-stale")
    os.makedirs(live)
    os.makedirs(stale)
    old = time.time() - 7200
    os.utime(stale, (old, old))
    _versioned_artifact(base, "stamp-b", build)  # new version, sweeps
    assert os.path.isdir(live)
    assert not os.path.isdir(stale)
    # r9 (VERDICT r8 #3 + review): superseded versions age from
    # SUPERSESSION, not build mtime — the stamp-b flip's sweep saw v1
    # newly superseded and started its clock by writing _SUPERSEDED_AT
    # inside it; a live session's lazy scans of v1 keep their files
    # for an hour from THAT moment, however old the build is.
    assert os.path.isdir(v1)
    marker = os.path.join(v1, "_SUPERSEDED_AT")
    assert os.path.isfile(marker)  # clock started at the flip
    with open(marker, "w") as fh:
        fh.write(str(time.time() - 7200))  # now stale
    # a re-resolve of the CURRENT stamp fast-paths without sweeping —
    # only the next pointer FLIP (a new stamp) runs the vacuum
    _versioned_artifact(base, "stamp-c", build)
    assert not os.path.isdir(v1)  # stale superseded version swept


def test_versioned_artifact_two_stamp_delayed_vacuum(tmp_path):
    """r9 (VERDICT r8 #3 + ADVICE r8): (a) a sentinel-less dir at the
    version path is a crashed partial (pre-r8 in-place writer residue)
    — rebuilt, never adopted as current; (b) the post-flip sweep
    age-gates VERSION dirs like scratch, so a concurrent builder
    resolving a DIFFERENT stamp (corpus re-ship during serving) keeps
    its just-landed version through the other builder's flip."""
    import os
    import time

    from db_loader_spark.queries.similarity import _versioned_artifact

    base = str(tmp_path / "art")
    calls = []

    def build(vdir):
        calls.append(vdir)
        with open(os.path.join(vdir, "payload"), "w") as fh:
            fh.write("x")

    # (a) sentinel written last, inside the atomic rename
    v_a = _versioned_artifact(base, "stamp-a", build)
    assert os.path.isfile(os.path.join(v_a, "_COMPLETE"))
    os.remove(os.path.join(base, "_CURRENT"))
    os.remove(os.path.join(v_a, "_COMPLETE"))  # simulate a partial dir
    assert _versioned_artifact(base, "stamp-a", build) == v_a
    assert len(calls) == 2  # rebuilt — a partial is never adopted
    assert os.path.isfile(os.path.join(v_a, "_COMPLETE"))

    # (b) two builders, two stamps: B lands stamp-b and flips; A then
    # re-flips stamp-a — A's sweep must NOT reap B's fresh version
    v_b = _versioned_artifact(base, "stamp-b", build)
    assert len(calls) == 3
    assert _versioned_artifact(base, "stamp-a", build) == v_a
    assert os.path.isdir(v_b)  # B's just-landed version survives A's flip
    assert _versioned_artifact(base, "stamp-b", build) == v_b
    assert len(calls) == 3  # both adoptions served complete versions
    # re-adoption must clear the retirement clock: v_b was superseded
    # by A's flip (marker written), and flipping BACK to stamp-b must
    # remove it, or v_b's next retirement would inherit the old stamp
    # and reap instantly under a live reader (r9 review)
    assert not os.path.isfile(os.path.join(v_b, "_SUPERSEDED_AT"))
    # delayed vacuum: only once stale-since-supersession is it reaped
    with open(os.path.join(v_b, "_SUPERSEDED_AT"), "w") as fh:
        fh.write(str(time.time() - 7200))
    _versioned_artifact(base, "stamp-a", build)
    assert not os.path.isdir(v_b)

    # (c) the FAST PATH also sheds a marker: a racing different-stamp
    # sweep can mark the dir that ends up current (it re-reads the
    # pointer before sweeping, but the mark-vs-flip window exists) —
    # a plain resolve of the current stamp must clear it, or the
    # version's eventual real retirement would inherit a stale clock
    # and reap instantly under live readers (r9 review #2)
    with open(os.path.join(v_a, "_SUPERSEDED_AT"), "w") as fh:
        fh.write(str(time.time() - 7200))
    assert _versioned_artifact(base, "stamp-a", build) == v_a  # fast path
    assert not os.path.isfile(os.path.join(v_a, "_SUPERSEDED_AT"))


def test_pq_artifact_rebuild_is_deterministic(spark):
    """The artifact boundary must not introduce nondeterminism: wiping
    the versioned PQ artifact and rebuilding from the same source must
    reproduce the coded corpus row-for-row (the exact-integer trainer
    contract, now pinned ACROSS the disk round trip — a drift here
    would mean serving results depend on which process happened to
    build the artifact)."""
    import os
    import shutil

    from db_loader_spark.queries.similarity import _pq_disk_artifact

    sf = "/root/testdata/sf0.001"
    v1 = _pq_disk_artifact(spark, sf)
    codes1 = sorted(
        map(tuple, spark.read.parquet(os.path.join(v1, "codes")).collect())
    )
    base = os.path.dirname(os.path.dirname(v1))
    shutil.rmtree(base)  # wipe versions + pointer: force a full rebuild
    v2 = _pq_disk_artifact(spark, sf)
    codes2 = sorted(
        map(tuple, spark.read.parquet(os.path.join(v2, "codes")).collect())
    )
    assert codes1 == codes2


def test_ivf_disk_index_heals_pointer_to_missing_dir(spark):
    """r10, pinning the documented sweep-race blast radius: if the
    race ever leaves _CURRENT naming a missing version dir, the next
    resolve must not serve garbage or raise — it rebuilds the version
    for the current stamp deterministically and re-flips. One wasted
    build is the whole cost."""
    import os
    import shutil

    from db_loader_spark.queries.similarity import _ivf_disk_index

    sf = "/root/testdata/sf0.001"
    vdir = _ivf_disk_index(spark, sf)
    base = os.path.dirname(os.path.dirname(vdir))
    # the raced end-state: pointer names a dir that no longer exists
    shutil.rmtree(vdir)
    with open(os.path.join(base, "_CURRENT"), "w") as fh:
        fh.write(os.path.basename(vdir))
    vdir2 = _ivf_disk_index(spark, sf)
    assert vdir2 == vdir  # same stamp → same version id, rebuilt
    assert os.path.isdir(os.path.join(vdir2, "centroids"))
    with open(os.path.join(base, "_CURRENT")) as fh:
        assert fh.read() == os.path.basename(vdir2)


def test_versioned_artifact_thread_storm_invariants(tmp_path):
    """r10 stress witness: the scripted interleaving tests above pin
    specific races; this one hammers _versioned_artifact from six
    threads cycling three stamps concurrently and asserts the
    invariants that must hold under ANY interleaving within the 1 h
    vacuum horizon (nothing is reapable in a seconds-long storm, so
    every landed version dir must persist intact): every call returns
    a directory that exists, carries the _COMPLETE sentinel for the
    requested stamp, and contains that stamp's exact deterministic
    payload (no cross-stamp contamination from racing builders); and
    after the storm _CURRENT names an existing complete dir and every
    versions/ entry is either a complete version or .build- scratch."""
    import os
    import threading
    import time as _time

    from db_loader_spark.queries.similarity import _versioned_artifact

    base = str(tmp_path / "art")
    stamps = ["stamp-a", "stamp-b", "stamp-c"]

    def make_build(stamp):
        def build(d):
            # widen the race windows a little; rename still publishes
            # atomically after this returns
            _time.sleep(0.002)
            with open(os.path.join(d, "payload"), "w") as f:
                f.write(f"payload-for-{stamp}")
        return build

    errors: list[str] = []

    def worker(tid):
        # any escape (e.g. the shared-tmp-name flip crash this test
        # originally caught) must FAIL the test, not silently shrink
        # its coverage — hence the blanket except into errors
        try:
            for i in range(15):
                stamp = stamps[(tid + i) % len(stamps)]
                vdir = _versioned_artifact(base, stamp, make_build(stamp))
                with open(os.path.join(vdir, "_COMPLETE")) as f:
                    got_stamp = f.read()
                with open(os.path.join(vdir, "payload")) as f:
                    got_payload = f.read()
                if got_stamp != stamp:
                    errors.append(f"t{tid}/{i}: sentinel {got_stamp!r} != {stamp!r}")
                    return
                if got_payload != f"payload-for-{stamp}":
                    errors.append(f"t{tid}/{i}: cross-stamp payload {got_payload!r}")
                    return
        except Exception as e:  # noqa: BLE001
            errors.append(f"t{tid}: worker crashed: {e!r}")

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert errors == [], errors
    assert all(not t.is_alive() for t in threads)
    with open(os.path.join(base, "_CURRENT")) as f:
        vid = f.read()
    vroot = os.path.join(base, "versions")
    assert os.path.isdir(os.path.join(vroot, vid))
    assert os.path.exists(os.path.join(vroot, vid, "_COMPLETE"))
    for entry in os.listdir(vroot):
        if entry.startswith(".build-"):
            continue  # loser-builder scratch, swept by the 1 h horizon
        assert os.path.exists(
            os.path.join(vroot, entry, "_COMPLETE")
        ), f"incomplete version dir {entry} left published"


def test_reap_claim_restores_dir_under_readopted_pointer(tmp_path, monkeypatch):
    """r11 (the staged ADVICE r9 #2 touch, sweeper side): a reap first
    CLAIMS the stale dir with an atomic rename, then RE-READS the
    pointer — a re-adopter whose flip lands just before the claim is
    detected and the dir restored untouched, so the pointer can never
    settle on a missing dir. The hook lands the re-adopter's flip at
    the worst instant: inside the claim rename itself."""
    import hashlib
    import os
    import shutil
    import time

    from db_loader_spark.queries.similarity import _versioned_artifact

    base = str(tmp_path / "art")
    cur = os.path.join(base, "_CURRENT")

    def make_build(stamp):
        def build(d):
            with open(os.path.join(d, "payload"), "w") as fh:
                fh.write(f"payload-for-{stamp}")

        return build

    vid_a = hashlib.md5(b"stamp-a").hexdigest()[:12]
    v_a = os.path.join(base, "versions", vid_a)
    _versioned_artifact(base, "stamp-a", make_build("stamp-a"))
    _versioned_artifact(base, "stamp-b", make_build("stamp-b"))
    # stamp-b's sweep started v_a's retirement clock; make it hour-stale
    with open(os.path.join(v_a, "_SUPERSEDED_AT"), "w") as fh:
        fh.write(str(time.time() - 7200))

    real_rename = os.rename
    flips = []

    def rename_hook(src, dst, **kw):
        if src == v_a and ".reap-" in str(dst):
            # the re-adopter's flip lands between the sweeper's marker
            # read and its claim
            with open(cur, "w") as fh:
                fh.write(vid_a)
            flips.append(vid_a)
        return real_rename(src, dst, **kw)

    monkeypatch.setattr(os, "rename", rename_hook)
    v_c = _versioned_artifact(base, "stamp-c", make_build("stamp-c"))
    monkeypatch.setattr(os, "rename", real_rename)
    assert flips == [vid_a]  # the race actually fired
    # the re-adopted dir was restored, not reaped, and is intact
    assert os.path.isdir(v_a)
    with open(os.path.join(v_a, "payload")) as fh:
        assert fh.read() == "payload-for-stamp-a"
    # its retirement clock was shed: a later real retirement restarts it
    assert not os.path.isfile(os.path.join(v_a, "_SUPERSEDED_AT"))
    # the pointer names an existing dir (the re-adopter's)
    with open(cur) as fh:
        pointed = fh.read()
    assert pointed == vid_a
    assert os.path.isdir(os.path.join(base, "versions", pointed))
    assert os.path.isdir(v_c)  # the sweeper's own version landed too
    shutil.rmtree(base)


def test_flip_rebuilds_when_concurrent_sweep_reaps_flipped_dir(
    tmp_path, monkeypatch
):
    """r11 (flipper side): a concurrent sweep that read the pointer
    BEFORE our flip can reap the dir we just flipped to (the hour-stale
    re-adoption TOCTOU). The flipper now verifies its dir still exists
    after its own sweep and rebuilds+re-flips — the resolve returns an
    existing dir and the pointer is never left stranded. The hook reaps
    at the worst instant: immediately after the pointer commit."""
    import hashlib
    import os
    import shutil

    from db_loader_spark.queries.similarity import _versioned_artifact

    base = str(tmp_path / "art")
    cur = os.path.join(base, "_CURRENT")
    vid = hashlib.md5(b"stamp-a").hexdigest()[:12]
    vdir = os.path.join(base, "versions", vid)
    calls = []

    def build(d):
        calls.append(d)
        with open(os.path.join(d, "payload"), "w") as fh:
            fh.write("payload-for-stamp-a")

    real_replace = os.replace
    state = {"reaped": False}

    def replace_hook(src, dst, **kw):
        real_replace(src, dst, **kw)
        if str(dst) == cur and not state["reaped"]:
            state["reaped"] = True
            shutil.rmtree(vdir, ignore_errors=True)

    monkeypatch.setattr(os, "replace", replace_hook)
    got = _versioned_artifact(base, "stamp-a", build)
    monkeypatch.setattr(os, "replace", real_replace)
    assert state["reaped"]  # the race actually fired
    assert got == vdir and os.path.isdir(got)
    assert len(calls) == 2  # one wasted build is the whole cost
    with open(os.path.join(got, "payload")) as fh:
        assert fh.read() == "payload-for-stamp-a"
    with open(cur) as fh:
        assert fh.read() == vid


def test_flip_tmp_residue_is_unlinked_and_age_swept(tmp_path, monkeypatch):
    """r11 (ADVICE r10): a crashed flip's writer-unique _CURRENT.tmp-*
    no longer accumulates — exception paths unlink it in a finally,
    and process-crash residue older than the reap horizon is swept by
    the next flip (fresh residue survives: its writer may be mid-flip)."""
    import os
    import time

    from db_loader_spark.queries.similarity import _versioned_artifact

    base = str(tmp_path / "art")

    def build(d):
        with open(os.path.join(d, "payload"), "w") as fh:
            fh.write("x")

    # exception path: os.replace fails once — the tmp must not survive
    real_replace = os.replace
    state = {"failed": False}

    def replace_boom(src, dst, **kw):
        if str(dst).endswith("_CURRENT") and not state["failed"]:
            state["failed"] = True
            raise OSError(28, "simulated ENOSPC")
        return real_replace(src, dst, **kw)

    monkeypatch.setattr(os, "replace", replace_boom)
    try:
        _versioned_artifact(base, "stamp-a", build)
    except OSError:
        pass
    else:  # pragma: no cover
        raise AssertionError("simulated flip failure must propagate")
    monkeypatch.setattr(os, "replace", real_replace)
    assert not [f for f in os.listdir(base) if f.startswith("_CURRENT.tmp-")]

    # crash residue: an aged tmp is swept by the next flip, a fresh
    # one (a concurrent flipper mid-commit) survives
    _versioned_artifact(base, "stamp-a", build)
    old_tmp = os.path.join(base, "_CURRENT.tmp-deadbeef")
    new_tmp = os.path.join(base, "_CURRENT.tmp-cafebabe")
    for p in (old_tmp, new_tmp):
        with open(p, "w") as fh:
            fh.write("junk")
    past = time.time() - 7200
    os.utime(old_tmp, (past, past))
    _versioned_artifact(base, "stamp-b", build)  # a flip runs the sweep
    assert not os.path.exists(old_tmp)
    assert os.path.exists(new_tmp)

    # crashed reap claims age-sweep like scratch dirs
    vroot = os.path.join(base, "versions")
    stale_claim = os.path.join(vroot, "0123456789ab.reap-deadbeef")
    os.makedirs(stale_claim)
    os.utime(stale_claim, (past, past))
    fresh_claim = os.path.join(vroot, "0123456789ab.reap-cafebabe")
    os.makedirs(fresh_claim)
    _versioned_artifact(base, "stamp-c", build)
    assert not os.path.isdir(stale_claim)
    assert os.path.isdir(fresh_claim)


def test_live_reap_claims_look_fresh_to_concurrent_sweeps(
    tmp_path, monkeypatch
):
    """r11 review: os.rename preserves the claimed dir's mtime, which
    for a reap-eligible version equals the >1h-old marker write — so a
    concurrent sweeper's residue branch would read a LIVE claim as
    aged crash debris and rmtree it during the holder's
    claim→pointer-recheck window (re-opening the stranded-pointer race
    from a third side). Claims therefore live inside a BOX directory
    created fresh a moment before the rename — born with a now-mtime
    before any stale content enters it, so there is no instant at
    which a live claim presents a stale top-level mtime. Pin: every
    '.reap-' path that reaches rmtree is younger than the 1 h
    horizon."""
    import os
    import shutil
    import time

    from db_loader_spark.queries.similarity import _versioned_artifact

    base = str(tmp_path / "art")

    def build(d):
        with open(os.path.join(d, "payload"), "w") as fh:
            fh.write("x")

    v_a = _versioned_artifact(base, "stamp-a", build)
    _versioned_artifact(base, "stamp-b", build)  # supersedes A, marks it
    with open(os.path.join(v_a, "_SUPERSEDED_AT"), "w") as fh:
        fh.write(str(time.time() - 7200))
    # the dir itself must LOOK old too (the marker write above bumped
    # the dir mtime; rewind it to the supersession time — the state a
    # real >1h-old version is in)
    past = time.time() - 7200
    os.utime(v_a, (past, past))

    ages_at_rmtree = []
    real_rmtree = shutil.rmtree

    def spy_rmtree(path, *a, **kw):
        if ".reap-" in str(path):
            try:
                ages_at_rmtree.append(time.time() - os.path.getmtime(path))
            except OSError:
                pass
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", spy_rmtree)
    _versioned_artifact(base, "stamp-c", build)  # sweep reaps stale A
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)
    assert not os.path.isdir(v_a)  # the stale version was reaped
    assert ages_at_rmtree, "the reap must go through a claim"
    # the claim was fresh the whole time — no residue sweep could
    # have mistaken it for >1h-old crash debris
    assert all(age < 3600 for age in ages_at_rmtree), ages_at_rmtree
