"""Query registry: every operator from SURVEY.md §2 as a named query.

Each entry pairs a Spark implementation (``(spark, sf_dir) -> DataFrame``)
with an equivalent ANSI-SQL oracle for DuckDB (or ``None`` for genuinely
non-SQL-expressible operators, which get a weaker rows-only check).

Determinism rules (the driver hash-compares values order-insensitively):
- every computed column is aliased identically in Spark and oracle SQL;
- floating-point aggregates are ROUNDed (2-4 dp) on BOTH sides so
  FP summation order can't flip the hash;
- no raw timestamp outputs — always formatted strings or dates;
- DuckDB ``SUM(int)`` returns HUGEINT → always CAST to BIGINT in oracles
  to match Spark's LongType.

Robustness rule (r9, learned the hard way): the driver runs oracles on
a DEFAULT DuckDB connection (no memory limit, threads = n_cpus), and a
single oracle whose plan explodes there can kill the whole harness
process and zero the round's artifact. Any CTE referenced more than
once MUST be ``AS MATERIALIZED`` (DuckDB re-inlines otherwise), and
every new/changed oracle must pass ``scripts/oracle_cost.py`` —
default-config, fresh-subprocess — before it ships.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    """A named query: Spark impl + DuckDB oracle SQL (None = rows-only)."""

    spark: SparkQuery
    oracle: str | None
    doc: str = ""


def settle(result: DataFrame, *stages: DataFrame) -> DataFrame:
    """Cache-lifetime discipline for multi-stage queries: eagerly
    materialize a SMALL result while the staged caches are hot, then
    unpersist the corpus-sized intermediates before returning.

    Queries that persist big intermediates (funnel stages, encoder
    output) would otherwise pin MEMORY_AND_DISK blocks for the whole
    session — in a driver run executing 70+ queries those leaks
    accumulate and skew later timings. After ``settle`` the only block
    still pinned is the result itself (a few rows), and the caller's
    later ``.collect()`` reads that tiny cache instead of recomputing
    the released stages. Only use on results that are small by
    construction (counts, top-k); never on fact-sized frames.
    """
    out = result.persist()
    out.count()  # one cheap job: stages are hot, result is tiny
    for s in stages:
        s.unpersist()
    return out


def diagnostic_queries() -> dict[str, QuerySpec]:
    """Verifier/diagnostic specs value-checked by pytest
    (tests/test_oracle_queries.py) but NOT shipped in the driver
    registry — the r6 consolidation (VERDICT r5 #8): deliberately
    quadratic small-data verifiers (all-pairs Jaccard/cosine) and the
    LSH bucket-sizing diagnostic keep their DuckDB oracles locally
    without occupying rotation slots the scale-path operators need.
    r7 added the sibling-redundant demotions (ann_recall, the BMP
    codec arm, multimodal_embed_ann, a_quantiles); r8 executed the
    planned shrink to the 100-key steady state (VERDICT r7 #2): ten
    more sibling-redundant demotions (dedup_minhash_tuned,
    dedup_components, dedup_embedding_lsh, ann_lsh_multiprobe, the
    PNG/WAV codec arms, text_bpe_token_count, a_stratified_sample,
    t_tumbling_counts, curation_select — each with its windowed-
    sibling argument at the demotion site) plus the six single-
    expression parser keys merged into the windowed p_parse_suite
    (their full distributions stay under the external hash; the
    standalone oracles live on here)."""
    from db_loader_spark.queries import (
        curation,
        dedup,
        eventops,
        logshape,
        multimodal,
        relational,
        similarity,
        textops,
    )

    merged: dict[str, QuerySpec] = {}
    for mod in (
        similarity,
        dedup,
        multimodal,
        relational,
        textops,
        eventops,
        curation,
        logshape,
    ):
        for name, spec in getattr(mod, "DIAGNOSTICS", {}).items():
            if name in merged:
                raise ValueError(f"duplicate diagnostic name {name!r}")
            merged[name] = spec
    return merged


# DRIVER_WINDOW_SIZE entries of WINDOW are exactly what the external
# driver value-checks; test_registry_integrity pins len(WINDOW) == 50
# so a miscounted edit can't silently shift which keys get witnessed.
DRIVER_WINDOW_SIZE = 50

# ROUND-16 WINDOW: CORRECTNESS_r15 landed non-empty and 50/50 GREEN
# (verified at round start), so this window fronts that run's
# complement — exactly the r14 window (r15 had zero re-entries and
# zero displacements, so the complement was pure) — PLUS six rule-2
# re-entries for the r16 optimization round's touched lineages:
#   curation_e2e (sizing-pass overlap + CC fused round + checkpoint
#     debris release), dedup_embedding_components (CC internals),
#   text_bpe_tokenize (bpe_train loop internals), g_pagerank
#     (data-sized dst clustering), e2e_cli_ingest (CSV write pool
#     thread-target form), text_decontaminate (decontaminate's
#     prepared= refactor).
# (text_bpe_train and ecj_star are also touched but sit in the
# complement already; dedup_components is diagnostics-tier.)
# Six displacements, each with its sibling witness IN this window:
#   a2_max_id (metadata MIN/MAX pushdown; also executed as the warmup
#     of every bench/oracle session) — siblings a4/a6/a7 stay;
#   a3_filtered_count — same filtered-aggregate family as
#     a1_distinct_pairs / a4_count_distinct / a6_run_summary;
#   q1_pricing_summary — scan-agg family witnessed by
#     q3_segment_revenue / q10_returned_items / q_top_customers;
#   w_moving_avg — bounded-frame window family: w_event_gap /
#     w_topk_per_group stay;
#   text_quality_score — its exact expression (quality_score_of)
#     executes INSIDE the re-entered curation_e2e's hash this round;
#     text_repetition / text_lang_id stay;
#   curation_shard_assign — md5-bucket assignment idiom witnessed by
#     curation_dsir_weight / curation_source_cap and inside
#     curation_e2e's split stage.
# All six displaced keys carry r14 green rows and MUST front the r17
# window (rule-1-oldest by construction — see the prep note below).
#
# RULE-2 RE-ENTRIES for the shared drain (streaming/run.py: one conf
# scope, run dir, availableNow drain and epoch publish behind every
# t_stream_* key) and session.scoped_conf (now behind
# data_sized_shuffle): the four stream keys outside the window
# (t_stream_mview, t_stream_sessions, t_stream_lakehouse,
# t_stream_ann_index) and curation_funnel (data_sized_shuffle) enter.
# The other nine touched keys (t_stream_rollup/dedup/signatures/join,
# e2e_cli_ingest, text_decontaminate, curation_e2e,
# dedup_embedding_components, g_pagerank) are in the window already.
# Five untouched keys with r16 green rows make room, each with
# siblings that stay:
#   a1_distinct_pairs — a4_count_distinct / a6_run_summary /
#     a7_id_assignment;
#   p10_find_first — p9_summary_parse / p14_continuation_merge /
#     p_json_props;
#   q_top_customers — q3_segment_revenue / q10_returned_items;
#   jn_range_join — jn_asof_join / jn5_sidecar_join;
#   ann_lsh_topk — ann_sq_rerank / ann_ivf_topk.
# None of the six r16-displaced keys is involved.
#
# RULE-2 CHECK for the shingle/LSH change (shingles() tokenizes once
# per row; lsh_candidate_pairs emits each pair from its first
# colliding band and persists the signature only on the tuned path):
# every registry key in that lineage — dedup_minhash_lsh,
# curation_funnel, curation_e2e, text_decontaminate,
# t_stream_signatures — is in the window already, and
# dedup_ngram_jaccard / dedup_minhash_tuned / dedup_components are
# diagnostics-tier (value-checked in tests/test_oracle_queries.py),
# so no key re-enters for it.
# FRONTING THE ELEVEN DISPLACED KEYS: the six r16 displacements
# (a2_max_id, a3_filtered_count, q1_pricing_summary, w_moving_avg,
# text_quality_score, curation_shard_assign) and the five displaced
# by the shared-drain re-entries above (a1_distinct_pairs,
# p10_find_first, q_top_customers, jn_range_join, ann_lsh_topk) all
# enter. Eleven untouched keys with r16 green rows make room, each
# family keeping members in the window:
#   a4_count_distinct / a6_run_summary / a7_id_assignment — a1 / a2 /
#     a3 enter (filtered, distinct and metadata aggregates);
#   q3_segment_revenue / q10_returned_items — q1_pricing_summary /
#     q_top_customers enter (scan-agg and join-agg);
#   w_event_gap — w_topk_per_group stays, w_moving_avg enters;
#   text_repetition — text_lang_id stays, text_quality_score enters;
#   curation_source_cap — curation_dsir_weight stays,
#     curation_shard_assign enters;
#   p14_continuation_merge — p9_summary_parse / p_json_props stay,
#     p10_find_first enters;
#   jn_asof_join — jn5_sidecar_join stays, jn_range_join enters;
#   ann_sq_rerank — ann_ivf_topk stays, ann_lsh_topk enters.
# These eleven carry r16 green rows and front the next rotation.
#
# RULE-2 RE-ENTRIES for the single stage install protocol (every
# staged layout, the three on-disk ANN index artifacts and the
# stamp-keyed session index caches now go through staging.py): the
# touched keys outside the window enter — ann_ivf_disk_topk,
# ann_pq_topk, ann_ivfpq_topk, dedup_semantic (the IVF cache key),
# cdc_snapshot_diff, t_snapshot_incremental, t_snapshot_upsert,
# scan_manifest_pruned. ann_ivf_topk, e2e_cli_ingest and the eight
# t_stream_* keys are in the window already; t_mor_delete_update,
# t_commit_log_fold, t_replica_sync(_evolve) and ann_recall are
# diagnostics-tier. FRONTING THE ELEVEN DISPLACED KEYS above:
# a4_count_distinct, a6_run_summary, a7_id_assignment,
# q3_segment_revenue, q10_returned_items, w_event_gap,
# text_repetition, curation_source_cap, p14_continuation_merge,
# jn_asof_join and ann_sq_rerank enter. Nineteen untouched keys make
# room, each family keeping members in the window: the eleven that
# came in for them (a1_distinct_pairs, a2_max_id, a3_filtered_count,
# q1_pricing_summary, q_top_customers, w_moving_avg,
# text_quality_score, curation_shard_assign, p10_find_first,
# jn_range_join, ann_lsh_topk — each swaps with its sibling), plus
#   text_fingerprint / text_tfidf_topterms / text_repeated_passages —
#     text_pii_scrub, text_kmv_vocab, text_repetition stay;
#   set_ops — rollup_revenue / eav_pivot stay;
#   j2_section_routing — j1_sessionize stays;
#   p9_summary_parse — p14_continuation_merge / p_json_props stay;
#   a_outlier_filter — a4/a6/a7 enter;
#   dedup_simhash — dedup_minhash_lsh stays.
# These nineteen front the next rotation.
#
# RULE-2 RE-ENTRIES for the SQL-text plan builders (MinHash/LSH:
# shingles, minhash_signatures, _banded and the shared band join;
# Clojush: read_log_lines/number_lines, assign_file_ids, seq_split,
# route_sections, parse_clojush_lines) and the load_table schema memo
# (tables._read_parquet): j2_section_routing and p9_summary_parse
# enter. dedup_minhash_lsh, text_decontaminate, curation_funnel,
# curation_e2e, t_stream_signatures, e2e_cli_ingest and ecj_star are
# in the window already; dedup_minhash_tuned, dedup_components and
# dedup_ngram_jaccard are diagnostics-tier. load_table is in nearly
# every lineage, so its evidence is the full-registry check_oracle
# sweep at both SFs, not window slots.
# FRONTING THE NINETEEN DISPLACED KEYS above: all nineteen enter
# (j2_section_routing and p9_summary_parse among them). Nineteen
# untouched keys with r16 green rows make room, each family keeping
# members in the window:
#   a4_count_distinct / a6_run_summary / a7_id_assignment — a1 / a2 /
#     a3 / a_outlier_filter enter;
#   q3_segment_revenue / q10_returned_items — q1_pricing_summary /
#     q_top_customers enter;
#   w_event_gap — w_moving_avg enters, w_topk_per_group stays;
#   text_repetition / text_chunk / text_kmv_vocab / text_pii_scrub /
#     text_bpe_tokenize — text_fingerprint, text_tfidf_topterms,
#     text_repeated_passages and text_quality_score enter,
#     text_lang_id and text_bpe_train stay;
#   curation_source_cap — curation_shard_assign enters,
#     curation_dsir_weight stays;
#   p14_continuation_merge / p_json_props — p9 / p10 enter;
#   j1_sessionize — j2_section_routing enters;
#   jn_asof_join — jn_range_join enters, jn5_sidecar_join stays;
#   ann_sq_rerank — ann_lsh_topk enters;
#   rollup_revenue / eav_pivot — set_ops enters.
# Keys touched since CORRECTNESS_r16 with no driver row since (the
# staged layouts, the shared drain's t_stream_* keys, curation_funnel,
# dedup_embedding_components, g_pagerank, ann_ivf_topk) all stay.
# These nineteen front the next rotation.
#
# HARNESS INSURANCE (VERDICT r8 #4, carried): ordered CHEAPEST FIRST
# by measured per-key sweep cost at sf0.01 (Spark + DuckDB oracle
# wall time, scripts/window_cost.py on a 4-core box after the
# rotation above: 140.1s/50 keys, 50/50 OK) — a
# wall-clock-capped prefix run lands the maximum number of rows.
# Ordering is evidence-neutral (driver checks set membership of the
# first 50).
WINDOW = [
    "a2_max_id",  # 0.17s
    "text_fingerprint",  # 0.18s
    "a3_filtered_count",  # 0.19s
    "p10_find_first",  # 0.23s
    "a1_distinct_pairs",  # 0.24s
    "text_quality_score",  # 0.29s
    "q_top_customers",  # 0.34s
    "w_moving_avg",  # 0.36s
    "p9_summary_parse",  # 0.36s
    "curation_shard_assign",  # 0.43s
    "jn_range_join",  # 0.57s
    "set_ops",  # 0.60s
    "q1_pricing_summary",  # 0.63s
    "j2_section_routing",  # 0.64s
    "t_snapshot_upsert",  # 0.65s
    "text_lang_id",  # 0.65s
    "text_repeated_passages",  # 0.93s
    "text_tfidf_topterms",  # 1.00s
    "w_topk_per_group",  # 1.11s
    "a_outlier_filter",  # 1.16s
    "jn5_sidecar_join",  # 1.90s
    "dedup_simhash",  # 1.93s
    "t_snapshot_incremental",  # 1.95s
    "ann_lsh_topk",  # 1.96s
    "scan_manifest_pruned",  # 2.23s
    "dedup_minhash_lsh",  # 2.37s
    "t_stream_rollup",  # 2.46s
    "ann_ivf_topk",  # 2.62s
    "cdc_snapshot_diff",  # 2.65s
    "t_stream_lakehouse",  # 3.10s
    "ecj_star",  # 3.36s
    "multimodal_decode_jpeg",  # 3.47s
    "t_stream_dedup",  # 3.75s
    "e2e_cli_ingest",  # 3.78s
    "text_decontaminate",  # 3.79s
    "ann_pq_topk",  # 3.79s
    "dedup_embedding_components",  # 4.02s
    "curation_funnel",  # 4.04s
    "t_stream_signatures",  # 4.07s
    "ann_ivf_disk_topk",  # 4.59s
    "t_stream_mview",  # 4.59s
    "curation_dsir_weight",  # 4.74s
    "text_bpe_train",  # 4.93s
    "ann_ivfpq_topk",  # 5.01s
    "dedup_semantic",  # 5.47s
    "g_pagerank",  # 5.86s
    "t_stream_join",  # 6.03s
    "t_stream_ann_index",  # 8.61s
    "curation_e2e",  # 10.30s
    "t_stream_sessions",  # 12.02s
]

# WINDOW-OVERFLOW QUEUE (policy, r6): brand-new keys beyond window
# capacity queue HERE, in positions 51+, and MUST front the next
# round's window (rule-1-oldest by construction: no driver evidence
# yet). A queued key ships only with full local value verification at
# BOTH SFs recorded in the round notes. r7 adds SIX new keys against
# FOUR demotions (net +2, registry 115 ≤ 120): e2e_cli_ingest is
# windowed directly under rule 2; the five below are queued.
# r8: the queue is EMPTY — every previously-queued key is windowed
# above, and the steady-state shrink landed (see below), so the
# registry's 100 keys now fit the 50-slot / two-round cadence with no
# overflow. New keys in future rounds either take a freed slot
# (paired demotion) or queue here and front the next window.
NEXT_UP: list[str] = []
# STEADY-STATE LEDGER (r8). Registry = 100 keys = the 50-slot window
# cycling every key within 2 rounds, exactly the capacity bound the
# r7 note computed. Paid for by TEN sibling-redundant demotions
# (dedup_minhash_tuned, dedup_components, dedup_embedding_lsh,
# ann_lsh_multiprobe, multimodal_decode_png, multimodal_decode_wav,
# text_bpe_token_count, a_stratified_sample, t_tumbling_counts,
# curation_select — each justified at its DIAGNOSTICS site, all value
# checks retained in pytest) plus the SIX single-expression parser
# keys (p1/p5/p7/p13/p16/p18) merged into p_parse_suite, which hashes
# every parser's full distribution in one tagged union frame — merge,
# not demotion: external evidence is preserved. Net new keys this
# round: 1 (the suite) against 16 removed.
#
# R12 ROTATION EXECUTED (this window): CORRECTNESS_r11 landed 50/50
# green, so the r11 prep note ran verbatim — the r10 cohort fronted,
# re-measured at r12 start, three rule-2 re-entries against three
# sibling-witnessed displacements (documented at the window header).
#
# STAGED TOUCHES LEDGER (r12): the round's engine changes and their
# witnesses — (1) manifest pointer protocol rewritten to a
# generation-log CAS (os.link conditional create = local conditional
# PUT; VERDICT r11 #3): multi-writer commits now in-contract,
# appends retry on fresh parents, merge/compact pin the parent their
# content derived from; witnessed by the re-entered t_snapshot_upsert
# + t_stream_lakehouse, a cross-process commit storm, and reworked
# recovery tests. (2) text_kmv_vocab oracle NULL-token mirror
# (ADVICE r11 #1) — re-entered. (3) the index-artifact settle error
# made diagnosable (ADVICE r11 #3) — message-only, on a path no
# registry value traverses; pytest-witnessed. (4) streaming
# state-bound witness (VERDICT r11 #7) — test-only, no slot.
#
# R13 ROTATION EXECUTED (this window): CORRECTNESS_r12 landed 50/50
# green, so the r12 prep note ran verbatim — the complement fronted
# (incl. the three r12-displaced keys), re-measured at r13 start
# (window_cost.py --complement, 75.7s/50, 50/50 OK), two rule-2
# re-entries against two sibling-witnessed displacements (window
# header).
#
# STAGED TOUCHES LEDGER (r13): the round's engine changes and their
# witnesses — (1) ADVICE r12 all closed: _NO_PARENT empty-table merge
# derivation pin (lost-update window), _relax_type_json recursive
# nullability on recorded schemas, parent-order column recording on
# the no-touched-file merge path; witnessed by the re-entered
# t_snapshot_upsert + t_stream_lakehouse plus the in-window
# scan_manifest_pruned / t_snapshot_incremental / cdc_snapshot_diff
# (every registry-reachable manifest path is inside this window).
# (2) merge-on-read DELETE (deletion vectors, VERDICT r12 #3):
# delete_where(mode="mor") + _apply_deletes in the read paths; the
# read path is in the SAME five in-window keys' lineage (their tables
# carry no vectors, so values are unchanged — verified by the full
# sweeps); the MOR semantics themselves are pytest-tier per the
# verdict's explicit no-slot alternative (tests/test_mor_delete.py:
# MOR read == COW read oracle, 24 tests + 9-writer storm; r14
# widens it to 10 writers / 7 verbs with the MOR update) PLUS a
# DuckDB-oracle diagnostic (t_mor_delete_update — MOR delete + COW
# update read with live vectors, value-checked in
# tests/test_oracle_queries.py, diagnostics tier 26 specs at r13;
# 27 from r14, t_commit_log_fold).
# (3) update_where — new surface, no registry key; pytest-tier
# (race/replay/no-op suite mirroring DELETE, per VERDICT r12 #7) plus
# the same oracle diagnostic.
# (4) commit-log consumer (VERDICT r12 #4) — new module
# streaming/commit_log.py, no registry key (pytest-tier per the
# verdict's "or pytest-tier if no slot frees"): stream-consumed
# commits == batch manifest diffs across append/MOR/merge/COW/
# OPTIMIZE/RESTORE in tests/test_commit_log.py.
# (5) bench scan_units sidecar field (VERDICT r12 #6) — bench-only.
# (6) merge_upsert gained mode="mor" (mask + append) and the shared
# _merge_contract_checks refactor — t_snapshot_upsert (the COW merge
# path's registry key) is IN this window as a rule-2 re-entry and the
# MOR arm is pinned ≡ COW by pytest + raced in the 9-writer storm.
#
# R13 WINDOW PREP (historical, executed above): the 50 keys NOT in
# the r12 window are the r11 window
# minus the three re-entered keys plus the three displaced ones
# (q5_region_revenue / text_bpe_tokenize / w_running_sum — r10
# evidence, so they are the rule-1-oldest members and MUST front
# r13). If CORRECTNESS_r12 lands non-empty, r13 fronts that
# complement, re-measured by scripts/window_cost.py --complement and
# ordered cheapest-first with the three displaced keys FIRST among
# equals. Rule-2 touches of r13 whose keys sit in THIS window
# re-enter, displacing the most sibling-witnessed members of the r13
# cohort (document at the site). CONTINGENCY, unchanged: if
# CORRECTNESS_r12 comes back empty/unreadable, re-front THIS window —
# never rotate past a window with zero external rows.
#
# PROVISIONAL R13 ORDERING (pre-measured at r12 close,
# `window_cost.py --complement` at sf0.01, idle box, 99.1 s total,
# 50/50 OK — RE-MEASURE at r13 start per the prep note; warm-stage
# figures. The three displaced keys — q5_region_revenue,
# text_bpe_tokenize, w_running_sum — must front AMONG EQUALS, i.e.
# keep cost order but break ties toward them):
# a_hash_sample 0.33 / scan_manifest_pruned 0.35 / dedup_exact 0.35 /
# w_moving_avg 0.36 / curation_weighted_sample 0.36 /
# multimodal_frame_sample 0.41 / a_salted_agg 0.46 / a_histogram 0.46
# / w_running_sum 0.47 / t_sliding_counts 0.50 / a_moments 0.52 /
# t_session_window 0.57 / jn_fuzzy_join 0.57 / q1_pricing_summary
# 0.59 / cdc_snapshot_diff 0.60 / jn1_dim_lookup_join 0.62 /
# a_hll_distinct 0.64 / jn7_fk_validation 0.67 /
# jn4_anti_join_idempotence 0.67 / t_snapshot_incremental 0.77 /
# text_cms_topk 0.78 / a_profile_stats 0.84 / q5_region_revenue 0.89
# / a_table_fingerprint 0.96 / text_bpe_pack 0.98 / text_lm_score
# 1.05 / t_sliding_hll 1.06 / text_pack_bins 1.08 / text_bm25_topk
# 1.10 / p_parse_suite 1.27 / a_quantile_sketch 1.33 /
# dedup_bloom_prefilter 1.44 / text_decontaminate 1.47 /
# ann_bruteforce_topk 2.01 / jn2_contains_join 2.03 /
# multimodal_features 2.06 / t_stream_ann_index 2.85 / t_stream_mview
# 3.12 / ann_ivf_disk_topk 3.29 / ann_pq_topk 3.63 / g_triangle_count
# 4.13 / dedup_embedding_components 4.28 / text_bpe_tokenize 4.69 /
# g_pagerank 4.73 / curation_funnel 4.85 / e2e_cli_ingest 4.95 /
# ann_ivfpq_topk 5.36 / dedup_semantic 6.66 / curation_e2e 7.61 /
# t_stream_sessions 8.39
#
# R14 ROTATION EXECUTED (this window): CORRECTNESS_r13 landed 50/50
# green, so the r13 prep note ran verbatim — the complement fronted
# (incl. the two r13-displaced keys w_moving_avg /
# q1_pricing_summary), re-measured at r14 start (window_cost.py
# --complement, 55.4s/50, 50/50 OK), ZERO rule-2 re-entries and
# therefore zero displacements: the invariant is whole again.
#
# STAGED TOUCHES LEDGER (r14): the round's engine changes and their
# witnesses — every change is on a path no registry value traverses
# (the r12 precedent: pytest-witnessed, no slot), verified by the
# full both-SF sweeps at round close:
# (1) _dv_anti_join large-mask prefilter switched from an isin
#     literal to a broadcast semi-join past a threshold (ADVICE r13
#     #2) — _apply_deletes returns DV-free scans untouched
#     (manifest.py) and no registry table carries deletion vectors,
#     so no registry plan contains the changed expression;
#     pytest-witnessed (tests/test_mor_delete.py + a dedicated
#     large-mask branch pin).
# (2) read_event_mor_deleted parent-scope fix (ADVICE r13 #3) —
#     streaming/commit_log.py has no registry key (pytest-tier per
#     VERDICT r12 #4 / r13 Missing #3's diagnostic).
# (3) update_where(mode="mor") — new MOR arm on existing
#     _merge_mor_pinned machinery (VERDICT r13 #4); the COW arm and
#     all shared helpers it rides (_key_touched_files,
#     _collect_dv_assoc) are MOR-only lineage with no registry key;
#     pytest-witnessed (race/replay/no-op + 10-verb storm) plus the
#     t_mor_delete_update oracle diagnostic now covering MOR UPDATE.
# (4) row-level change feed (VERDICT r13 #2) — new composition in
#     streaming/commit_log.py / manifest_source.py; no registry key;
#     pytest pin (checkpointed stream over a multi-verb history
#     emits per-commit snapshot_diff rows exactly once).
# (5) commit-log walk oracle-graded (VERDICT r13 #3) — new
#     diagnostics-tier spec (27th), value-checked against DuckDB in
#     tests/test_oracle_queries.py; diagnostics occupy no slot.
# (6) bench DV scan-unit witness (VERDICT r13 #7) — bench-only.
# (7) read_table_changes — batch twin of the feed; same no-registry
#     lineage as (4); pytest-pinned against per-commit snapshot_diff.
# (8) FIVE independent code-review passes fixed twenty-six findings
#     in the NEW r14 surfaces (two stream-wedge classes: zero-change
#     commits splitting the chain, and a stale head candidate's walk
#     crossing the vacuum horizon; MOR update/merge appended-file-
#     count bounds via _sized_batch; shared _mor_mask_append_commit
#     tail; feed manifest I/O to one JSON per commit via poll_full +
#     a walk-read cache; typed truncation errors; export/doc gaps) —
#     all inside the MOR/feed lineage that no registry value
#     traverses; pytest-witnessed (two wedge regressions, file-count
#     pins). Pass 4 (over the merge_apply diff): net-zero batches
#     commit NOTHING (lineage growth under at-least-once replay),
#     apply_table_changes' None-when-no-commit return contract,
#     _mor_mask_hits extraction, verb-correct contract errors, one
#     probe job instead of two. Pass 5 (clog diagnostics): shared
#     stage-path derivation, lazy source staging, dead import.
#     NOTE for r15: consolidate the
#     remaining inline stats-cols derivations onto _stats_cols while
#     t_snapshot_upsert is in-window (deferred to keep zero
#     re-entries).
# (9) model-based randomized DML sequences (tests/test_dml_model.py)
#     — test-only; pins the verb algebra against a Python model and
#     the changelog fold end-to-end.
# (10) merge_apply (MERGE with deletes in one MOR commit) +
#     apply_table_changes (CDF fold -> replica sync) — new verbs on
#     the same non-registry MOR lineage; pytest-witnessed (one-commit
#     semantics, pure-delete mask-only, guards, replica ≡ source
#     across sync rounds, 11-writer storm, model sequences) AND
#     DuckDB-graded end-to-end by the 28th diagnostic t_replica_sync
#     (replica synced purely through the feed == DuckDB recomputing
#     the source history from raw parquet).
#
# R15 ROTATION EXECUTED (this window): CORRECTNESS_r14 landed 50/50
# green, so the r14 prep note ran verbatim — the pure complement
# (= the r13 window) fronted, re-measured at r15 start
# (window_cost.py --complement, 91.8s/50, 50/50 OK), ZERO rule-2
# re-entries needed: every r15 registry-lineage change (_stats_cols
# consolidation) has all five of its manifest witnesses inside this
# window already (see the window header).
#
# STAGED TOUCHES LEDGER (r15): the round's engine changes and their
# witnesses —
# (1) _stats_cols consolidation (VERDICT r14 #2): the inline
#     stats-cols derivations in the manifest write paths collapsed
#     onto the shared helper; witnessed in-window by
#     t_snapshot_upsert / t_stream_lakehouse / scan_manifest_pruned /
#     t_snapshot_incremental / cdc_snapshot_diff (all five in this
#     window by construction) plus the manifest pytest suite.
# (2) ADVICE r14 all closed in streaming/commit_log.py (no registry
#     key; pytest-tier per the r12 precedent): merge_apply explicit
#     no-op signal (committed flag) instead of head-inference;
#     hop-cap exhaustion raises a distinct CommitLogTruncated-style
#     diagnosis, not 'corrupted batch'; read_table_changes unions
#     per-commit frames in a balanced tree with the plan-depth note.
# (3) change feed across schema evolution (VERDICT r14 #3):
#     read_table_changes / start_row_change_feed over a
#     merge_schema=True history backfill NULL for pre-evolution
#     commits (Delta-CDF semantics); regression pytest + the widened
#     t_replica_sync diagnostic replaying an evolving history.
# (4) batch DataSource face for manifest tables (VERDICT r14 #5):
#     spark.read.format('manifest') serves read_snapshot/read_pruned
#     (+ time travel); CDF rows gain _commit_timestamp; pytest pins
#     format read ≡ function read. No registry key (the function
#     faces keep theirs — scan_manifest_pruned is in-window anyway).
# (5) dedup_minhash_lsh adjudication (VERDICT r14 #4): clean paired
#     timing at sf0.1, result recorded in README watch row.
# (6) timestamp time travel + DESCRIBE HISTORY (late-round, after the
#     first battery): snapshot_as_of / history() in sinks/manifest.py
#     (ADDITIVE — no existing function's body changed) and the
#     format's timestampAsOf option in manifest_source.py — no
#     registry key traverses either (scan_manifest_pruned rides
#     read_pruned, unchanged); pytest-witnessed (time-travel pins on
#     both faces, the µs round-trip edge, cycle/horizon contracts,
#     the randomized format≡function history pin) per the r12
#     precedent, with a fourth review pass fixing four findings
#     (concurrent-vacuum crash window, double manifest reads, cycle
#     misdiagnosed as horizon).
# (7) vacuum(dry_run=True) (late-round): preview-only branch on the
#     new parameter; the mutating path is unchanged apart from the
#     guard; no caller inside the engine; pytest-witnessed (preview ==
#     real removals, dry run touches nothing) with the full manifest
#     suite green.
#
# R16 ROTATION EXECUTED (this window): CORRECTNESS_r15 landed 50/50
# green, so the r15 prep note ran verbatim — the complement (= the
# r14 window) fronted with six rule-2 re-entries against six
# sibling-witnessed displacements (documented at the window header).
#
# STAGED TOUCHES LEDGER (r16, optimization round 2): every change is
# perf-shape only (no semantics; all oracle hashes green both SFs) —
# (1) CC/BPE fixpoint loops free superseded localCheckpoint blocks
#     (cache.free_local_checkpoint; VERDICT r15 #3) — witnessed by
#     the re-entered curation_e2e / dedup_embedding_components /
#     text_bpe_tokenize + in-window text_bpe_train;
# (2) decontaminate sizing pass split out (eval_shingle_side /
#     prepared=) and overlapped with the CC rounds in curation_e2e
#     (guide §2.6) — witnessed by the re-entered curation_e2e +
#     text_decontaminate;
# (3) connected-components round 1 fused into label initialization
#     (least(src, min(dst)); one full join round gone per fixpoint) —
#     same witnesses as (1);
# (4) g_pagerank's contrib dst-clustering sized by edge volume
#     (session.sized_partitions; VERDICT r15 #5) — re-entered;
# (5) ecj_star's duplicated parse chain folded via lazy
#     localCheckpoint (re-opened r15 negative with a noop-sink A/B,
#     scripts/ecj_scale.py) — in-window;
# (6) CLI CSV write pool thread target made session-aware (ADVICE
#     r15) — witnessed by the re-entered e2e_cli_ingest;
# (7) bench additions only: scaled data-path witness rows
#     g_pagerank_x8 / curation_e2e_x4 (VERDICT r15 #6), no registry
#     surface.
#
# R17 WINDOW PREP: the 50 keys NOT in this window are the r15 window
# minus the six re-entered keys plus the six displaced ones
# (a2_max_id, a3_filtered_count, q1_pricing_summary, w_moving_avg,
# text_quality_score, curation_shard_assign — r14 evidence, so they
# are the rule-1-oldest members and MUST front r17). If
# CORRECTNESS_r16 lands non-empty, r17 fronts that complement,
# re-measured by scripts/window_cost.py --complement at round start
# and ordered cheapest-first with the six displaced keys FIRST among
# equals. Rule-2 touches of r17 whose keys sit in THIS window
# re-enter, displacing the most sibling-witnessed members of the r17
# cohort (document at the site). CONTINGENCY, unchanged: if
# CORRECTNESS_r16 comes back empty/unreadable, re-front THIS window —
# never rotate past a window with zero external rows.


def all_queries() -> dict[str, QuerySpec]:
    """Union of every module's registry, insertion-ordered by theme."""
    from db_loader_spark.queries import (
        curation,
        dedup,
        ecj,
        eventops,
        logshape,
        multimodal,
        relational,
        similarity,
        streamingq,
        textops,
    )

    # ROTATION POLICY (deliberate, two-round cadence). The correctness
    # driver value-checks only the FIRST 50 registry entries in insertion
    # order; the registry holds more than 50 keys, so each round the
    # order is rotated by two rules, applied in priority order:
    #   1. Keys with the OLDEST driver evidence go first — no key may go
    #      two consecutive rounds without a green row.
    #   2. TOUCHED-KEY RULE (hard, added r5 after the r4 verdict showed
    #      perf commits landing after their keys rotated out): any key
    #      whose implementation changed this round — its wrapper, the
    #      operator functions it calls, or a shared helper in its lineage
    #      — MUST be inside this round's window. A change is witnessed by
    #      the external value-check the same round it lands, never only
    #      by local pytest.
    # Keys that rotate out are always re-verified locally against their
    # DuckDB oracles (scripts/check_oracle.py, both SFs) before shipping.
    # Since r6 the window is the EXPLICIT list below (module order was
    # the r5 mechanism; a named list keeps rule 2 auditable per-key).
    #
    # The round-8 window composition and the evidence triage it
    # implements are documented at the WINDOW list above (the empty
    # CORRECTNESS_r07 artifact forced re-fronting the unwitnessed
    # cohorts; never-witnessed keys won the slots).
    window = WINDOW
    next_up = NEXT_UP
    merged: dict[str, QuerySpec] = {}
    for mod in (
        similarity,
        dedup,
        multimodal,
        relational,
        streamingq,
        textops,
        curation,
        eventops,
        ecj,
        logshape,
    ):
        for name, spec in mod.QUERIES.items():
            if name in merged:
                raise ValueError(f"duplicate query name {name!r}")
            merged[name] = spec
    fronted = window + next_up
    missing = [k for k in fronted if k not in merged]
    if missing:
        raise ValueError(f"window names not in registry: {missing}")
    if len(fronted) != len(set(fronted)):
        raise ValueError("duplicate names in window/next_up")
    ordered = {k: merged[k] for k in fronted}
    ordered.update((k, v) for k, v in merged.items() if k not in ordered)
    return ordered
