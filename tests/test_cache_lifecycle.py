"""Cache-lifetime discipline (VERDICT r4 #2/#3).

The operators that persist shared intermediates (MinHash/SimHash
signatures, the embedding-LSH prepared frame, decontamination's eval
shingles) register them in db_loader_spark.cache; registry wrappers
release them via ``cache.settle_drained(result)`` the moment the
small result is materialized. These tests pin that contract: after the
dedup/ANN registry queries run, the ONLY DataFrame-cache entries alive
are the settled results themselves (caller-owned — unpersisting them
empties the cache) and the IVF serving index (keyed, capped, and
releasable via clear_ivf_cache).
"""

from __future__ import annotations

from db_loader_spark import cache
from db_loader_spark.queries import all_queries

SF = "/root/testdata/sf0.001"


def _cache_manager(spark):
    # CacheManager tracks every df.persist() entry (localCheckpoint data
    # is block-level, GC-reaped by ContextCleaner, and not listed here —
    # which is exactly the split we want to assert on).
    return spark._jsparkSession.sharedState().cacheManager()


def test_registry_queries_release_tracked_caches(spark):
    from db_loader_spark.queries.similarity import clear_ivf_cache

    spark.catalog.clearCache()
    clear_ivf_cache()
    cache.release()

    from db_loader_spark.queries import diagnostic_queries

    reg = {**all_queries(), **diagnostic_queries()}
    results = []
    for name in (
        "dedup_simhash",
        "dedup_minhash_lsh",
        "dedup_embedding_lsh",
        "text_decontaminate",
        "curation_funnel",
        "ann_ivf_topk",
    ):
        df = reg[name].spark(spark, SF)
        assert df.count() >= 0, name
        results.append(df)

    # wrappers drained everything the operators tracked (on this thread)
    assert not cache._tracked()
    # releasing the caller-owned results + the intentional IVF index
    # leaves the cache EMPTY — i.e. nothing anonymous leaked
    for df in results:
        df.unpersist()
    clear_ivf_cache()
    assert _cache_manager(spark).isEmpty()


def test_ivf_index_evicts_beyond_cap(spark):
    """_IVF_INDEX is FIFO-capped: corpus N+1 evicts (and unpersists)
    corpus 1's inverted lists instead of accumulating forever."""
    import db_loader_spark.queries.similarity as qs
    from db_loader_spark.tables import load_table

    qs.clear_ivf_cache()
    emb = load_table(spark, SF, "embeddings")
    handles = []
    for i in range(qs._IVF_INDEX_MAX + 1):
        # distinct pseudo-corpus keys; iters=0 keeps each build cheap
        _, lists = qs._ivf_index(spark, f"{SF}#corpus{i}", emb, n_bits=4, iters=0)
        handles.append(lists)
    try:
        assert len(qs._IVF_INDEX) == qs._IVF_INDEX_MAX
        lvl = handles[0].storageLevel  # evicted: unpersisted
        assert not lvl.useMemory and not lvl.useDisk
        lvl = handles[-1].storageLevel  # newest: still persisted
        assert lvl.useMemory or lvl.useDisk
    finally:
        qs.clear_ivf_cache()


def test_release_escape_hatch(spark):
    """Sessions driving the functions layer directly (no wrapper, no
    settle) can drop everything tracked so far with cache.release()."""
    from db_loader_spark.functions import dedup as D
    from db_loader_spark.tables import load_table

    cache.release()
    docs = load_table(spark, SF, "documents")
    sig = D.simhash_bits(docs)
    pairs = D.simhash_near_pairs(sig)  # tracks the signature frame
    assert pairs.count() >= 0
    assert len(cache._tracked()) == 1
    assert cache.release() == 1
    assert not cache._tracked()


def test_multimodal_embed_ann_plans_without_jobs(spark):
    """A plan-only build of the settling multimodal wrapper persists
    nothing and runs no job: its settle honours ``plan_only``."""
    from db_loader_spark.queries import diagnostic_queries
    from db_loader_spark.trace import trace

    build = diagnostic_queries()["multimodal_embed_ann"].spark
    with cache.plan_only():
        build(spark, SF)  # warm: table schemas
        with trace(spark) as traced:
            build(spark, SF)
    assert traced["jobs"] == 0, traced
    assert not cache._tracked()
