"""Query registry: every operator from SURVEY.md §2 as a named query.

Each entry pairs a Spark implementation (``(spark, sf_dir) -> DataFrame``)
with an equivalent ANSI-SQL oracle for DuckDB.

Determinism rules (the driver hash-compares values order-insensitively):
- every computed column is aliased identically in Spark and oracle SQL;
- floating-point aggregates are ROUNDed (2-4 dp) on BOTH sides so
  FP summation order can't flip the hash;
- no raw timestamp outputs — always formatted strings or dates;
- DuckDB ``SUM(int)`` returns HUGEINT → always CAST to BIGINT in oracles
  to match Spark's LongType.

Robustness rule: the driver runs oracles on
a DEFAULT DuckDB connection (no memory limit, threads = n_cpus), and a
single oracle whose plan explodes there can kill the whole harness
process and zero the round's artifact. Any CTE referenced more than
once MUST be ``AS MATERIALIZED`` (DuckDB re-inlines otherwise), and
every new/changed oracle must pass ``scripts/oracle_cost.py`` —
default-config, fresh-subprocess — before it ships.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    """A named query: Spark impl + DuckDB oracle SQL."""

    spark: SparkQuery
    oracle: str
    doc: str = ""


def diagnostic_queries() -> dict[str, QuerySpec]:
    """Verifier and diagnostic specs, value-checked against their DuckDB
    oracles by pytest (tests/test_oracle_queries.py) but kept out of the
    driver registry: deliberately quadratic small-data verifiers
    (all-pairs Jaccard and cosine), sizing diagnostics, and keys whose
    operator a registry sibling already witnesses. Outside the registry
    they take none of the driver window's slots."""
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


GREEN = ("rows_match", "schema_match", "hash_match")

# The external driver value-checks the first DRIVER_WINDOW_SIZE keys of
# all_queries(), which are WINDOW. The list is derive_window()'s output,
# pasted by hand so each round's window can be read here; a test pins
# the equality. Re-run scripts/driver_sim.py when its sweep artifact or
# a CORRECTNESS file changes, and paste what it prints.
DRIVER_WINDOW_SIZE = 50
WINDOW = [
    "a3_filtered_count",  # 0.19s
    "a_hash_sample",  # 0.25s
    "dedup_exact",  # 0.31s
    "a2_max_id",  # 0.32s
    "w_running_sum",  # 0.36s
    "a_histogram",  # 0.38s
    "curation_weighted_sample",  # 0.40s
    "text_quality_score",  # 0.41s
    "multimodal_frame_sample",  # 0.42s
    "q5_region_revenue",  # 0.44s
    "a_moments",  # 0.44s
    "t_sliding_counts",  # 0.47s
    "jn2_contains_join",  # 0.48s
    "jn4_anti_join_idempotence",  # 0.48s
    "jn7_fk_validation",  # 0.50s
    "jn_fuzzy_join",  # 0.50s
    "q1_pricing_summary",  # 0.51s
    "a_salted_agg",  # 0.55s
    "jn1_dim_lookup_join",  # 0.56s
    "text_cms_topk",  # 0.58s
    "t_session_window",  # 0.61s
    "a_table_fingerprint",  # 0.63s
    "w_moving_avg",  # 0.64s
    "a_hll_distinct",  # 0.64s
    "p_parse_suite",  # 0.77s
    "a_profile_stats",  # 0.84s
    "scan_manifest_pruned",  # 0.94s
    "text_lm_score",  # 0.95s
    "cdc_snapshot_diff",  # 1.09s
    "dedup_bloom_prefilter",  # 1.11s
    "a_quantile_sketch",  # 1.16s
    "text_bm25_topk",  # 1.21s
    "t_sliding_hll",  # 1.23s
    "t_snapshot_incremental",  # 1.29s
    "ann_bruteforce_topk",  # 1.33s
    "multimodal_features",  # 1.51s
    "t_snapshot_upsert",  # 1.79s
    "t_stream_lakehouse",  # 1.83s
    "t_stream_ann_index",  # 1.88s
    "curation_shard_assign",  # 2.01s
    "t_stream_mview",  # 2.10s
    "text_pack_bins",  # 2.22s
    "text_bpe_pack",  # 2.58s
    "curation_funnel",  # 2.72s
    "ann_ivf_disk_topk",  # 2.94s
    "g_triangle_count",  # 3.63s
    "dedup_semantic",  # 4.60s
    "ann_pq_topk",  # 6.23s
    "t_stream_sessions",  # 6.85s
    "ann_ivfpq_topk",  # 10.91s
]

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SWEEP = os.path.join("bench_history", "driver_sim_sf0.01.json")


def derive_window(
    repo: str = REPO, keys: list[str] | None = None
) -> tuple[list[str], list[str]]:
    """The window the evidence in ``repo`` calls for, and the names of
    the CORRECTNESS artifacts it ignored.

    Every registry key (``keys``; by default in the order the modules
    register them) ranks by the newest external
    ``CORRECTNESS_r<N>.json`` whose row for it is green on all three
    flags. A key with no green row ranks first, ties keep registry
    order, and the first DRIVER_WINDOW_SIZE keys form the window, so
    the keys with the oldest external evidence are checked next. An
    empty or unreadable artifact is no evidence.

    Inside the window the keys run cheapest-first by their seconds in
    the committed driver-conditions sweep (``SWEEP``): a harness that
    dies partway has still landed the most rows. The repo's own sweeps
    gate changes but are not evidence here: they cover every key, so
    counted as evidence they would tie all of them."""
    keys = list(_registered()) if keys is None else keys
    newest: dict[str, int] = {}
    ignored = []
    for name in sorted(os.listdir(repo)):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", name)
        if not m:
            continue
        try:
            with open(os.path.join(repo, name)) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            rows = None
        if not isinstance(rows, dict) or not rows:
            ignored.append(name)
            continue
        for key, row in rows.items():
            if all(row.get(flag) is True for flag in GREEN):
                newest[key] = max(newest.get(key, 0), int(m.group(1)))
    window = sorted(keys, key=lambda k: newest.get(k, 0))[:DRIVER_WINDOW_SIZE]
    with open(os.path.join(repo, SWEEP)) as fh:
        seconds = {key: row["s"] for key, row in json.load(fh).items()}
    return sorted(window, key=seconds.__getitem__), ignored


def _registered() -> dict[str, QuerySpec]:
    """Every module's registry, in the order the modules register their
    keys."""
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
    return merged


def all_queries() -> dict[str, QuerySpec]:
    """The registry, ``WINDOW`` first: the order the external driver
    reads."""
    merged = _registered()
    missing = [k for k in WINDOW if k not in merged]
    if missing:
        raise ValueError(f"window names not in registry: {missing}")
    if len(WINDOW) != len(set(WINDOW)):
        raise ValueError("duplicate names in WINDOW")
    return {**{k: merged[k] for k in WINDOW}, **merged}
