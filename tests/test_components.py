"""connected_components vs an independent pure-Python union-find.

Random graphs across densities (including empty-edge and fully-merged
regimes) — the iterative Spark fixpoint must agree with union-find on
every node's component label (both canonicalize to the component min).
"""

from __future__ import annotations

import random

import pytest

from db_loader_spark.functions.dedup import connected_components


def _py_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = {v: v for e in edges for v in e}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min id reachable
    return {v: find(v) for v in parent}


def test_components_match_union_find(spark):
    for seed, n, p in [(1, 30, 0.02), (2, 40, 0.08), (3, 25, 0.3), (4, 50, 0.01)]:
        rng = random.Random(seed)
        edges = [
            (i, j)
            for i in range(n)
            for j in range(i + 1, n)
            if rng.random() < p
        ]
        if not edges:
            continue
        expected = _py_components(n, edges)
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r.doc_id: r.component_id
            for r in connected_components(pairs).collect()
        }
        assert got == expected, f"seed={seed}: components diverge"


def test_components_chain_diameter(spark):
    # a long path graph needs diameter-many propagation steps — the
    # worst case for label propagation; must still converge exactly
    edges = [(i, i + 1) for i in range(20)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = connected_components(pairs).collect()
    assert len(got) == 21
    assert {r.component_id for r in got} == {0}


def test_components_log_rounds_on_chain(spark):
    """Pointer jumping must converge a 33-node chain within
    O(log diameter) rounds — one-hop propagation would need 32 and
    raise; this is the iteration-count contract for deep graphs."""
    edges = [(i, i + 1) for i in range(32)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = connected_components(pairs, max_iter=8).collect()
    assert len(got) == 33
    assert {r.component_id for r in got} == {0}


def _persisted_rdd_count(spark) -> int:
    return len([
        i
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if i.numCachedPartitions() > 0
    ])


def test_components_frees_superseded_round_checkpoints(spark):
    """r16 storage bound (guide §5; VERDICT r15 #3): each pointer-
    jumping round frees the PREVIOUS round's localCheckpoint blocks
    once its own checkpoint materializes, so executor storage holds
    O(1) label tables, not O(rounds). The 33-node chain drives ≥4
    rounds; without the explicit free every round frame stays
    persisted for the duration of this test (the ContextCleaner only
    reaps after a JVM GC it has no pressure to run here), which this
    asserts against: at most the RETURNED labels frame's blocks may
    remain (plus nothing else from the loop — edges are unpersisted
    on exit)."""
    edges = [(i, i + 1) for i in range(32)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    before = _persisted_rdd_count(spark)
    got = connected_components(pairs, max_iter=8)
    assert len(got.collect()) == 33
    after = _persisted_rdd_count(spark)
    assert after - before <= 1, (
        f"superseded round checkpoints leaked: {before} persisted RDDs "
        f"before, {after} after (expected at most +1, the final labels)"
    )


@pytest.mark.parametrize(
    "key", ["curation_e2e", "dedup_embedding_components", "dedup_components"]
)
def test_component_keys_free_the_final_checkpoint(spark, sf_dir, key):
    """The returned labels are the last round's local checkpoint: once a
    caller has settled its result, nothing of the fixpoint may still
    hold storage."""
    from db_loader_spark.queries import all_queries, diagnostic_queries
    from db_loader_spark.trace import trace

    spec = {**all_queries(), **diagnostic_queries()}[key]
    with trace(spark) as traced:
        df = spec.spark(spark, sf_dir)
        df.collect()
        df.unpersist()
    assert traced["rdds_held"] == 0, traced


def test_decontaminate_flags_overlap(spark):
    """A corpus doc sharing a 3-gram with the benchmark is flagged with
    the right counts; a disjoint doc is not flagged at all."""
    from db_loader_spark.functions.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated content with no overlap here"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox questions for the eval set")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in decontaminate(corpus, bench, n=3).collect()}
    assert set(rows) == {1}
    r = rows[1]
    # doc 1 has 7 distinct 3-grams; exactly "quick brown fox" matches
    assert r["n_shingles"] == 7 and r["n_hits"] == 1
    assert abs(r["contamination"] - round(1 / 7, 4)) < 1e-9
