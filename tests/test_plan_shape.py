"""Physical-plan shape assertions — the 100 TB scale contract.

Correctness tests prove the small-SF answer; these prove the PLAN is
the one that survives a 1000-executor, 100 TB deployment: filters and
column pruning reach the parquet scan, small dimensions broadcast
(never sort-merge or nested-loop), aggregates combine map-side, and
shuffle counts stay bounded. A regression here is a performance bug
even when every value still matches.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from db_loader_spark.queries import all_queries

SF = "/root/testdata/sf0.001"


def count_ops(plan: str, op: str) -> int:
    """Count numbered physical operators (ignores plan text quoted inside
    InMemoryRelation's cached-plan dump)."""
    return len(re.findall(rf"^\(\d+\) {op}\b", plan, flags=re.MULTILINE))


@pytest.fixture(scope="module")
def plans(spark):
    from db_loader_spark.queries import diagnostic_queries

    # plan-shape pins apply to demoted diagnostics too (their operator
    # code is still shipped; r8 moved several plan-pinned keys there)
    reg = {**all_queries(), **diagnostic_queries()}

    def plan(name: str) -> str:
        # plan_only: settling wrappers normally persist+materialize the
        # result, which would explain as one InMemoryTableScan and hide
        # the joins/exchanges these tests assert on. The lazy plan built
        # here is exactly the plan the settled path caches and executes.
        # clearCache first: Catalyst substitutes ANY matching cached
        # sub-plan (e.g. a settled result left by an earlier test file)
        # at planning time, which would equally hide the operators.
        from db_loader_spark import cache

        spark.catalog.clearCache()
        cache.release()
        with cache.plan_only():
            df = reg[name].spark(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    return plan


def test_q1_filter_pushdown_and_pruning(plans):
    s = plans("q1_pricing_summary")
    # shipdate predicate reaches the parquet reader
    assert "LessThanOrEqual(l_shipdate" in s
    # only the 7 needed columns are read — never the wide remainder
    assert "l_comment" not in s and "l_shipinstruct" not in s
    # map-side partial aggregation before the shuffle (partial + final)
    assert count_ops(s, "HashAggregate") >= 2


def test_star_joins_broadcast(plans):
    for name in ("q3_segment_revenue", "q5_region_revenue", "jn1_dim_lookup_join"):
        s = plans(name)
        assert "BroadcastHashJoin" in s, f"{name}: dimension join must broadcast"
        assert "SortMergeJoin" not in s, f"{name}: no SMJ for dim-sized sides"
        assert "CartesianProduct" not in s, name


def test_join_scans_prune_columns(plans):
    s = plans("q3_segment_revenue")
    # lineitem scan reads only join key + revenue inputs
    assert "struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in s


def test_ann_joins_are_hash_not_nested_loop(plans):
    for name in ("ann_lsh_topk", "ann_ivf_topk", "ann_bruteforce_topk"):
        s = plans(name)
        assert "CartesianProduct" not in s, f"{name}: bucket join degenerated"
    # the bucketed candidate join is a broadcast hash join on the bucket key
    assert "BroadcastHashJoin" in plans("ann_lsh_topk")


def test_range_join_is_hash_not_nested_loop(plans):
    s = plans("jn_range_join")
    # the bucket trick must keep the interval join a hash/merge join
    assert "BroadcastNestedLoopJoin" not in s and "CartesianProduct" not in s, s
    assert (
        count_ops(s, "SortMergeJoin")
        + count_ops(s, "ShuffledHashJoin")
        + count_ops(s, "BroadcastHashJoin")
        == 1
    )


def _executed_lsh_plan(spark) -> str:
    """The final adaptive plan of ``dedup_minhash_lsh`` at sf0.001,
    after one execution: shuffle stages that adaptive execution reuses
    print as ``ReusedExchange`` there."""
    from db_loader_spark import cache

    spark.catalog.clearCache()
    cache.release()
    with cache.plan_only():
        df = all_queries()["dedup_minhash_lsh"].spark(spark, SF)
    df.collect()
    return df._jdf.queryExecution().executedPlan().executedPlan().toString()


def test_minhash_bounded_shuffles(spark):
    s = _executed_lsh_plan(spark)
    # the round-robin fan-out, the signature groupBy(id) (reused by the
    # join's other side) and the band join's shuffle or broadcast;
    # anything beyond that means a new unplanned shuffle crept in
    exchanges = re.findall(r"^[\s:+-]*(?:Broadcast)?Exchange ", s, flags=re.MULTILINE)
    assert len(exchanges) <= 3, s
    join_at = re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) ", s)
    assert join_at, s
    # each pair comes from its first colliding band: no distinct above the join
    assert "HashAggregate" not in s[: join_at.start()], s


def _lambda_bodies(plan: str) -> list[str]:
    """The text of every ``lambdafunction(...)`` in a plan string."""
    bodies = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, i = 1, m.end()
        while depth and i < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        bodies.append(plan[m.end() : i - 1])
    return bodies


def test_minhash_tokenizes_outside_lambdas(spark):
    """Spark does no common-subexpression elimination inside lambda
    bodies, so a tokenizer call inside a higher-order function's lambda
    re-runs the regex split once per element. The shingle lambdas must
    only see already-split tokens."""
    from db_loader_spark import cache

    with cache.plan_only():
        df = all_queries()["dedup_minhash_lsh"].spark(spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    bodies = _lambda_bodies(plan)
    assert bodies, plan
    assert not [b for b in bodies if "split(" in b], plan


def test_exact_dedup_partial_agg(plans):
    s = plans("dedup_exact")
    # partial (map-side) + final HashAggregate pair, exactly one shuffle
    assert count_ops(s, "HashAggregate") >= 2
    assert count_ops(s, "Exchange") <= 1


def test_simhash_hamming_inside_join(plans):
    """The Hamming threshold must be the band join's residual predicate
    (far pairs die inside the join), not a post-join filter feeding the
    distinct's shuffle; and there must be no nested-loop degeneration."""
    s = plans("dedup_simhash")
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s
    m = re.search(r"SortMergeJoin.*?\n(?:.*\n)*?.*Join condition:.*bit_count", s)
    bm = "bit_count" in s and ("Join condition" in s or "BuildRight" in s)
    assert m or bm, "hamming bit_count not in a join condition"


def test_embedding_lsh_near_pairs_hash_join(plans):
    s = plans("dedup_embedding_lsh")
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s
    # candidate generation is an equi-join on (tbl, bucket)
    assert "SortMergeJoin" in s or "BroadcastHashJoin" in s or "ShuffledHashJoin" in s


def test_sq_rerank_broadcasts_candidates(plans):
    """Both rerank joins are broadcast point-lookups; the surrogate scan
    join is the only corpus-wide operation and must not be nested-loop
    over the corpus (query side broadcast)."""
    s = plans("ann_sq_rerank")
    assert "CartesianProduct" not in s
    assert s.count("BroadcastHashJoin") + s.count("BroadcastNestedLoopJoin") >= 2


def test_ecj_star_dims_broadcast(plans):
    s = plans("ecj_star")
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s


def test_no_python_udfs_in_core_queries(plans):
    # Everything SQL-expressible stays JVM-side (multimodal is the one
    # deliberate mapInPandas surface and is excluded here).
    for name in (
        "q1_pricing_summary",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_embedding_lsh",
        "ann_ivf_topk",
        "ann_sq_rerank",
        "ecj_star",
        "text_quality_score",
        "t_session_window",
    ):
        s = plans(name)
        assert "BatchEvalPython" not in s, f"{name}: row-at-a-time Python UDF"
        assert "ArrowEvalPython" not in s, f"{name}: unexpected pandas UDF"


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-located fact⋈fact: same bucketing on both sides ⇒ the equi-join
    runs with ZERO exchanges — the 100 TB answer to repeated key joins."""
    from pyspark.sql import functions as F

    from db_loader_spark.sinks.ddl import write_bucketed
    from db_loader_spark.tables import load_table

    o = load_table(spark, SF, "orders")
    for t in ("tb_orders_a", "tb_orders_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    write_bucketed(o, "tb_orders_a", "o_orderkey", n_buckets=4)
    write_bucketed(
        o.select("o_orderkey", "o_totalprice"), "tb_orders_b", "o_orderkey", n_buckets=4
    )
    try:
        a = spark.table("tb_orders_a")
        b = spark.table("tb_orders_b").withColumnRenamed("o_totalprice", "tp2")
        j = a.hint("merge").join(b, "o_orderkey")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        s = buf.getvalue()
        assert count_ops(s, "Exchange") == 0, s
        assert j.count() == o.count()
    finally:
        for t in ("tb_orders_a", "tb_orders_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_sessionize_single_window_pass(plans):
    s = plans("j1_sessionize")
    # one Window node over (user, order) then the aggregate — no repeat
    assert count_ops(s, "Window") <= 1
    assert "HashAggregate" in s or "ObjectHashAggregate" in s


def test_decontaminate_broadcast_and_single_corpus_shuffle(plans):
    """Benchmark shingles broadcast; the corpus side shuffles ONCE (the
    per-doc aggregate). shingle_frame's in-array distinct means no
    corpus-wide distinct exchange exists anywhere in the plan."""
    s = plans("text_decontaminate")
    assert count_ops(s, "BroadcastHashJoin") == 1, s
    assert count_ops(s, "SortMergeJoin") == 0
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s
    # exactly: 2× fan_out round-robin (explode skew balance), the small
    # benchmark-side distinct, and the corpus groupBy(id) — a corpus-wide
    # (id, shingle) distinct exchange would push this to 5
    assert count_ops(s, "Exchange") <= 4, s


def test_decontaminate_oversized_eval_degrades_to_shuffle_join(spark):
    """When the MEASURED eval-shingle size exceeds the broadcast limit,
    the hint is omitted and Spark plans a shuffle join — the degraded
    mode the docstring promises. (An unconditional F.broadcast hint
    would instead force the oversized build side onto the driver and
    OOM at scale — VERDICT r4 #1.) autoBroadcastJoinThreshold is
    disabled to model a side too big for ANY broadcast path."""
    from db_loader_spark import cache
    from db_loader_spark.functions.dedup import decontaminate
    from db_loader_spark.session import scoped_conf
    from db_loader_spark.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    is_b = F.expr("substring(md5(CAST(doc_id AS STRING)), 1, 1) = '0'")
    try:
        with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            big = decontaminate(
                docs.filter(~is_b), docs.filter(is_b), broadcast_limit_bytes=0
            )
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                big.explain("formatted")
            s = buf.getvalue()
            assert count_ops(s, "BroadcastHashJoin") == 0, s
            assert (
                count_ops(s, "SortMergeJoin") + count_ops(s, "ShuffledHashJoin") >= 1
            ), s
            # identical answer on both paths (the gate changes the plan only)
            small = decontaminate(docs.filter(~is_b), docs.filter(is_b))
            assert sorted(map(tuple, big.collect())) == sorted(
                map(tuple, small.collect())
            )
    finally:
        cache.release()


def test_shard_assign_pure_scan_projection(plans):
    """Shard ids are assigned scan-side: no join, no window, no sort —
    one aggregate exchange down to N_SHARDS rows is the entire cost."""
    s = plans("curation_shard_assign")
    assert count_ops(s, "Exchange") == 1, s
    for op in ("SortMergeJoin", "BroadcastHashJoin", "Window", "Sort"):
        assert count_ops(s, op) == 0, op


def test_lm_score_joins_stay_hash(plans):
    """The bigram scoring join must never degenerate: equi-keys on
    (bg) and (w1) drive hash/merge joins; count aggregates combine
    map-side before their shuffles."""
    s = plans("text_lm_score")
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s
    assert (
        count_ops(s, "BroadcastHashJoin")
        + count_ops(s, "SortMergeJoin")
        + count_ops(s, "ShuffledHashJoin")
        >= 2
    )
    assert count_ops(s, "HashAggregate") >= 4  # partial+final × count tables


def test_kmv_single_window_no_joins(plans):
    """KMV is distinct → one per-group window → aggregate: no join
    anywhere, and exactly one Window node over the group key."""
    s = plans("text_kmv_vocab")
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert count_ops(s, op) == 0, op
    assert count_ops(s, "Window") == 1


def test_curation_select_no_extra_corpus_shuffle(plans):
    """Selection on top of components: the added window partitions by
    component_id (never a global window) and no nested-loop join."""
    s = plans("curation_select")
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s
    assert count_ops(s, "Window") >= 1


def test_curation_e2e_bounded_exchanges_no_slow_paths(plans):
    """The composed pipeline's scale contract: six stages (exact dedup,
    components+select, decontaminate, quality gate, packing) in ONE
    plan with a bounded shuffle budget — growth here means a stage
    stopped reusing the persisted corpus frame or a drop-list join
    stopped broadcasting. No cartesian/nested-loop joins, no Python
    UDFs, and every window is key-partitioned (component_id / lang),
    never global."""
    s = plans("curation_e2e")
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s
    # measured 28 shuffles + 13 broadcasts under plan_only: the lazy
    # plan DOUBLE-COUNTS stages 1-4 because the r7 block-partitioned
    # packing consumes its token frame twice and plan_only disables
    # the cache.track pin the executed path reuses upstream through
    # (executed: one upstream evaluation + the tiny totals branch).
    # Small headroom for planner jitter, hard stop before runaway.
    assert count_ops(s, "Exchange") <= 30, s
    assert count_ops(s, "BroadcastExchange") >= 3, s
    # component-select window (×2 branches) + block-offsets window +
    # in-block running sum (+ canonical-rank reuse)
    assert 1 <= count_ops(s, "Window") <= 6, s
    _assert_no_per_lang_fact_window(s)


def _assert_no_per_lang_fact_window(plan: str) -> None:
    """The head-language single-reducer guard: every running-sum window
    over per-document token counts must partition by (lang, blk) —
    a window partitioned by lang ALONE may only carry the per-block
    offset aggregation (sum of blk_tok over the block-count frame),
    never a per-document sum."""
    for m in re.finditer(r"sum\((n_tok|blk_tok)[^\n]*windowspecdefinition\(([^)]*)\)", plan):
        col, spec = m.group(1), m.group(2)
        if col == "n_tok":
            assert "blk#" in spec, f"per-document window not block-bounded: {spec}"


def test_pack_bins_block_partitioned_prefix_sum(plans):
    """text_pack_bins' scale contract (VERDICT r6 #1): the fact-side
    running sum partitions by (lang, blk) — every sort bounded by
    PACK_BLOCK rows regardless of language skew — and the per-block
    offsets join broadcasts. A window over the fact partitioned by
    lang alone is the head-language single-reducer regression."""
    s = plans("text_pack_bins")
    _assert_no_per_lang_fact_window(s)
    assert count_ops(s, "Window") == 2, s
    assert count_ops(s, "BroadcastExchange") >= 1, s
    assert "CartesianProduct" not in s and "BatchEvalPython" not in s


def test_semantic_dedup_cell_join_is_hash(plans):
    """SemDeDup's within-cluster pair generation must be a real hash
    join on the cell key — Σ_cell n_c² candidates, never an all-pairs
    nested loop over the corpus. (The centroid-assignment crossJoin
    inside the shared index build is the documented broadcast-scalar
    exception — whitelisted in the registry-wide sweep, and usually
    hidden here behind the persisted lists frame.)"""
    s = plans("dedup_semantic")
    assert "CartesianProduct" not in s
    assert (
        count_ops(s, "SortMergeJoin")
        + count_ops(s, "ShuffledHashJoin")
        + count_ops(s, "BroadcastHashJoin")
        >= 1
    )
    # map-side partial aggregation for the per-duplicate min/count
    assert count_ops(s, "HashAggregate") >= 2


def test_bpe_tokenize_dictionary_join_broadcasts(plans):
    """Applying the trained tokenizer is a broadcast dictionary join on
    word (vocab is Zipf-bounded); the corpus side must never shuffle
    for the join itself."""
    s = plans("text_bpe_tokenize")
    assert count_ops(s, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in s and "CartesianProduct" not in s
    assert "BatchEvalPython" not in s


def test_ivf_disk_serving_prunes_cell_partitions(plans):
    """The on-disk IVF serving scan must prune unprobed cell
    DIRECTORIES at planning time (PartitionFilters on the hive cell
    key) — the whole point of materializing the index partitioned by
    cell — and rescore through a broadcast join, never a nested loop
    over the lists table."""
    s = plans("ann_ivf_disk_topk")
    m = re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*(INSET|IN \()", s)
    assert m, "lists scan is not partition-pruned by probed cells"
    assert count_ops(s, "BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in s


def test_registry_wide_no_unplanned_slow_paths(spark):
    """EVERY registry query (not a hand-picked sample) planned and
    scanned for the three slow-path red flags: CartesianProduct,
    BroadcastNestedLoopJoin, and row-at-a-time Python UDFs. The BNLJ
    whitelist is the set of DELIBERATE broadcast-scalar/theta joins —
    each broadcasts a side that is tiny by construction (a scalar
    doc-count, a k-row query set, a dim table, centroids) where a
    nested-loop over a broadcast IS the right plan. Anything new
    showing a flag fails here by name."""
    import re

    from db_loader_spark import cache

    deliberate_bnlj = {
        "text_tfidf_topterms",   # broadcast scalar corpus doc-count
        "ann_recall",            # broadcast k-row query set vs arms
        "ann_sq_rerank",         # broadcast candidate set for rerank
        "ann_bruteforce_topk",   # broadcast query rows vs corpus
        "ann_ivf_topk",          # broadcast probed centroid ids
        "dedup_semantic",        # broadcast centroids in the shared index
                                 # build (shows only when the sweep's
                                 # clearCache forces an index rebuild)
        "ann_ivf_disk_topk",     # broadcast packed centroids for probe
                                 # selection (the serving-side argmin)
        "text_bm25_topk",        # broadcast 1-row corpus scalars (N, avgdl)
        "curation_dsir_weight",  # broadcast 1-row LM totals (n_tgt/n_bg/V)
        # (dedup_embedding_cosine left the registry for the pytest-only
        # diagnostics tier in r6 — the sweep no longer plans it)
        "multimodal_embed_ann",  # broadcast query rows (brute-force arm)
        "jn2_contains_join",     # contains theta-join, dim-sized side
        "a7_id_assignment",      # broadcast max-id scalar over dim delta
        "a_histogram",           # broadcast 1-row min/max bounds scalar
        "ann_pq_topk",           # broadcast codebooks (queries ×
                                 # 2^PQ_NBITS distance tables) + the
                                 # sub-trainer's packed-centroid argmin
        "ann_ivfpq_topk",        # same class: broadcast packed coarse
                                 # centroids (probe) + residual
                                 # codebook distance tables
    }
    reg = all_queries()
    offenders = {}
    for name, spec in reg.items():
        if name.startswith("t_stream"):
            continue  # wrappers execute real streams at build time
        spark.catalog.clearCache()
        cache.release()
        with cache.plan_only():
            df = spec.spark(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        s = buf.getvalue()
        flags = []
        if re.search(r"^\(\d+\) CartesianProduct", s, re.M):
            flags.append("cartesian")
        if (
            re.search(r"^\(\d+\) BroadcastNestedLoopJoin", s, re.M)
            and name not in deliberate_bnlj
        ):
            flags.append("bnlj")
        if "BatchEvalPython" in s:
            flags.append("py-udf")
        if flags:
            offenders[name] = flags
    assert not offenders, offenders


def test_fuzzy_join_blocks_are_hash_joined(plans):
    """The levenshtein residual must stay INSIDE a hash join on the
    blocking prefix — never a nested-loop over all name pairs."""
    s = plans("jn_fuzzy_join")
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s, s
    assert "levenshtein" in s  # residual evaluated in-join, post-block


def test_bloom_probe_broadcasts_filter_words(plans):
    """The 2048-row filter must reach the probe side as a broadcast —
    the whole point is that the corpus never shuffles to meet the
    batch."""
    s = plans("dedup_bloom_prefilter")
    assert "BroadcastHashJoin" in s, s
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s, s


def test_moving_avg_single_user_shuffle(plans):
    """One exchange on user_id; the ROWS frame is evaluated in the
    sorted partition, never via a self-join."""
    s = plans("w_moving_avg")
    assert s.count("Exchange") <= 2, s  # hash partition (+AQE read)
    assert "Join" not in s, s


def test_cdc_diff_single_full_outer_join(plans):
    """One co-partitioned full-outer join on the key — never a nested
    loop, and no second join sneaking in via the change classifier."""
    s = plans("cdc_snapshot_diff")
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s, s
    # formatted explain prints each node once in the tree and once in
    # the detail section; count tree nodes (they carry the "(n)" id)
    n_joins = sum(
        s.count(f"{j} FullOuter (") for j in ("SortMergeJoin", "ShuffledHashJoin")
    )
    assert n_joins == 1, s


def test_triangle_count_joins_all_broadcast(plans):
    """Under the measured gate every join in the triangle pipeline —
    two degree annotations and ONE adjacency probe (r15: the probe
    edge list is derived by exploding the adjacency itself, so the
    second adjacency join is gone) — broadcasts at this scale; the
    big oriented-edge frame never re-shuffles, and nothing
    degenerates to a nested loop. Count basis: TREE nodes only (the
    detail section prints each node a second time), and plan_only
    expands the uncached ``adj`` subtree, with its two degree joins,
    under both sides of the probe join, so the 3 logical joins appear
    as 2 + 2 + 1 = 5 tree nodes — an exact pin, so a shape change (a
    dropped broadcast, a re-duplicated probe) fails loudly instead of
    hiding inside a >=."""
    s = plans("g_triangle_count")
    tree_joins = s.count("BroadcastHashJoin Inner BuildRight (")
    assert tree_joins == 5, f"{tree_joins} tree BroadcastHashJoin nodes:\n{s}"
    assert "SortMergeJoin" not in s, s
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s, s


def test_parse_suite_scans_are_pruned_and_single(plans):
    """The r8 parser merge must keep the standalone keys' plan shape:
    six FileScans (events props ×2 for p1/p7 + events ts, part,
    documents lang + source — p7's two output rows explode from ONE
    aggregate, not a second events scan), each reading exactly ONE
    column (pruning pin), all JVM-side."""
    import re

    s = plans("p_parse_suite")
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", s)
    assert len(scans) == 6, f"expected 6 scans, got {len(scans)}: {scans}"
    for cols in scans:
        assert "," not in cols, f"scan reads more than one column: {cols}"


def test_pagerank_iterations_reuse_contrib_partitioning(spark):
    """The r15 exchange elimination: when the score side broadcasts,
    every power-iteration groupBy(dst) must REUSE the contrib frame's
    one-time hashpartitioning(dst) — partial+final HashAggregate fused
    directly on the BroadcastHashJoin, zero per-iteration Exchange.
    Pinned on the micro-shape (the Spark behavior the optimization
    relies on: output partitioning propagating through the join and
    the groupBy alias), so a Spark upgrade that stops propagating
    partitioning through aliased Projects fails loudly here rather
    than silently re-shuffling 2m rows per iteration."""
    from pyspark.sql import functions as F

    contrib = (
        spark.range(0, 1000)
        .select(
            (F.col("id") % 97).alias("src"),
            (F.col("id") % 89).alias("dst"),
            F.lit(0.5).alias("w"),
        )
        .repartition("dst")
    )
    scores = spark.range(0, 97).select(
        F.col("id").alias("src"), F.lit(1.0).alias("score")
    )
    out = (
        contrib.join(F.broadcast(scores), "src")
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum(F.col("score") * F.col("w")).alias("score"))
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the only exchange is the repartition("dst") itself; the aggregate
    # must not add an ENSURE_REQUIREMENTS re-shuffle (toString prints
    # the Final and Initial plans — assert on the property, not a count)
    assert "REPARTITION_BY_COL" in plan, plan
    assert "ENSURE_REQUIREMENTS" not in plan, plan


CLOJUSH_LOG = """\
Clojush version = 1.2
problem-name = demo
;;;;;;;;;;
;; -*- Report at generation 0
f: 7
;;;;;;;;;;
SUCCESS at generation 0
"""


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_clojush_load_one_exchange_then_checkpoint(spark, tmp_path):
    """The CLI's Clojush load: each table's plan holds exactly one
    Exchange (the per-file hash partitioning every window reuses) before
    the shared checkpoint, and none after it — the four writes are then
    single-stage jobs over the checkpoint blocks."""
    from db_loader_spark.cache import free_local_checkpoint
    from db_loader_spark.plans.clojush import parse_clojush_logs

    (tmp_path / "run_u1.log").write_text(CLOJUSH_LOG)
    path = str(tmp_path / "*.log")
    lazy = parse_clojush_logs(spark, path, problem_map={"demo": "1"})
    for name, df in lazy.items():
        assert count_ops(_formatted(df), "Exchange") == 1, name
    tables = parse_clojush_logs(spark, path, problem_map={"demo": "1"}, persist_shared=True)
    shared = tables.pop("_shared")
    try:
        for name, df in tables.items():
            assert count_ops(_formatted(df), "Exchange") == 0, name
        assert [r.problem_id for r in tables["experiments"].collect()] == ["1"]
    finally:
        free_local_checkpoint(shared)


def test_clojush_dimension_frames_are_local_relations(spark, tmp_path):
    """Driver-side dimension rows (the problem map, the EDN sidecar
    index) plan as LocalRelations held in the JVM — not as Python-RDD
    scans — even with Arrow off, as on a vanilla session."""
    from db_loader_spark.plans.clojush import parse_clojush_logs
    from db_loader_spark.sources.edn_index import read_edn_index
    from db_loader_spark.session import scoped_conf

    (tmp_path / "run_u1.log").write_text(CLOJUSH_LOG)
    (tmp_path / "index.clj").write_text('{:command-maps [{:uuid "u1" :argmap {:a 1}}]}')
    with scoped_conf(spark, {"spark.sql.execution.arrow.pyspark.enabled": "false"}):
        index = read_edn_index(spark, str(tmp_path / "index.clj"))
        experiments = parse_clojush_logs(
            spark, str(tmp_path / "*.log"), problem_map={"demo": "1"}
        )["experiments"]
        for df in (index, experiments):
            plan = df._jdf.queryExecution().analyzed().toString()
            assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
        assert [tuple(r) for r in index.collect()] == [("u1", "a", "1")]
