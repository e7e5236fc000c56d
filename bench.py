#!/usr/bin/env python
"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints the FULL result JSON on an early line (and to bench_full.json),
then a compact schema-complete summary as the FINAL line (≤1500 chars
— the external driver tail-captures ~2000 chars and parses the JSON
it finds there; the full line outgrew that in r6-r8):
  {"metric": "...", "value": N, "unit": "sec", "queries": {top-10},
   "n_queries": N, "noise_band": ..., "full": "bench_full.json", "sf": ...}

Headline set = the scan/join/agg/window/dedup/ANN paths a 100 TB
deployment exercises, excluding the deliberately quadratic verifiers
(all-pairs jaccard/cosine) which are oracle-only at small SF.

HISTORY PROTOCOL (r12, VERDICT r11 #2): bench_full.json is scratch
(gitignored, overwritten by every run), so full per-query history was
unauditable from artifacts — only the top-10 compact rows survived in
BENCH_rNN.json. Now each round ARCHIVES into bench_history/ (tracked):
at round START, the on-disk bench_full.json is the PREVIOUS round's
driver run (the driver benches after the builder's last commit) —
copy it to bench_history/bench_full_r{N-1}.json with a _provenance
note; at round CLOSE, archive the builder's final run as
bench_full_r{N}_builder.json. Driver-run vs builder-run provenance
matters: compare in-suite to in-suite and same-provenance to
same-provenance (builder and driver runs see different box weather).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from db_loader_spark.queries import all_queries
from db_loader_spark.session import get_spark, scoped_conf
from db_loader_spark.staging import (
    build_stage,
    mark_current,
    source_stamp,
    stage_current,
    stage_path,
)
from db_loader_spark.tables import replica
from db_loader_spark.trace import trace

HEADLINE = [
    "q1_pricing_summary",
    "q3_segment_revenue",
    "q5_region_revenue",
    "q_top_customers",
    "j1_sessionize",
    "w_topk_per_group",
    "eav_pivot",
    "jn1_dim_lookup_join",
    "jn4_anti_join_idempotence",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    # r8: dedup_embedding_lsh demoted (its pair stage runs inside the
    # components key, which replaces its row here)
    "dedup_embedding_components",
    "ecj_star",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_sq_rerank",
    "t_session_window",
    "t_stream_rollup",
    "w_event_gap",
    "q10_returned_items",
    "text_quality_score",
    "text_repetition",
    "text_decontaminate",
    "text_lm_score",
    "curation_shard_assign",
    # round 6: the composed pipeline, the streaming dedup index, the
    # heaviest mapInPandas codec, the per-source quota window, the
    # passage-coverage dedup axis, and the multi-probe ANN arm
    "curation_e2e",
    "t_stream_signatures",
    "multimodal_decode_jpeg",
    "curation_source_cap",
    "text_repeated_passages",
    # round 6b: stream-stream interval join, SemDeDup over the shared
    # IVF index, the distributed BPE trainer (16 merge rounds), and
    # the partition-pruned on-disk IVF serving path
    "t_stream_join",
    "dedup_semantic",
    "text_bpe_train",
    "ann_ivf_disk_topk",
    "t_stream_mview",  # update-mode output (rollup=complete, join=append)
    "t_sliding_counts",  # sliding-window assignment (tumbling = step=width)
    "t_sliding_hll",  # sliding distinct via HLL register-shard merge
    # round 6c: blocked record linkage, the membership sketch the
    # ingest path prefilters with, and the bounded-frame window
    "jn_fuzzy_join",
    "dedup_bloom_prefilter",
    "w_moving_avg",
    "t_stream_sessions",  # custom stateful operator, full-flush drain
    "cdc_snapshot_diff",  # manifest publish -> time travel -> row delta
    "a_profile_stats",  # one-pass N-column profile
    "a_table_fingerprint",  # order-insensitive integrity checksum
    "a_quantile_sketch",  # stored bottom-k mergeable quantile sketch
    "a_moments",  # one-pass stddev + Pearson corr per group
    "t_snapshot_incremental",  # delta-only agg over append commits
    "t_snapshot_upsert",  # copy-on-write MERGE commit + merged-state agg
    "g_triangle_count",  # degree-oriented wedge counting
    "g_pagerank",  # 6-round power iteration, one lazy linear plan
    # round 7: the E1 CLI front door end-to-end (glob dispatch, gz
    # text source, seq-split, routing, k/v parse, CSV append)
    "e2e_cli_ingest",
    "text_pack_bins",  # block-partitioned packing prefix sum
    "t_stream_lakehouse",  # micro-batches as manifest append commits
    "t_stream_ann_index",  # incremental IVF assignment vs fixed quantizer
    "ann_pq_topk",  # PQ-ADC coded-corpus scan + exact rerank
    "ann_ivfpq_topk",  # IVF-PQ: probed cells, residual codes, ADC
    # round 8: the merged parser suite (six single-expression parsers,
    # one tagged union frame)
    "p_parse_suite",
]

# Bench-honesty cache resets (the r5 dedup-unpersist lesson): rows
# whose MEANING is the build itself must not serve a session cache.
# text_bpe_train prices TRAINING, so the trained-vocab cache is
# cleared before every timed run. The IVF rows deliberately keep
# their index cache: they price SERVING from an index built once per
# corpus (the deployment shape, documented in queries/similarity.py);
# dedup_semantic likewise prices the within-cell join over the shared
# index, and ann_ivf_disk_topk the partition-pruned disk probe.


def _reset_bpe_cache() -> None:
    from db_loader_spark.queries.textops import _BPE_TRAINED

    _BPE_TRAINED.clear()


RESET_BEFORE_TIMING = {"text_bpe_train": _reset_bpe_cache}

# r8 methodology (VERDICT r7 #4: round-over-round claims under ~20%
# were inside measurement noise and unadjudicable): every timed row is
# now the MEDIAN of N_TIMED runs, and the per-row relative spread
# ((max-min)/median) ships in the JSON as `queries_spread`, with the
# suite-level median spread as `noise_band`. A round-over-round delta
# smaller than the noise band is environment, not code.
N_TIMED = 3

# Soft wall-clock budget for the WHOLE bench process (r10): the suite's
# wall is ~4x its summed medians (warm + N_TIMED samples + GC per row),
# and session weather alone moves medians +/-20% — a bad-weather run
# can cross the harness's capture window and lose the entire artifact
# (the BENCH_r06-r08 null-parse class, in timeout form). Rather than
# shed ROWS (which changes the artifact's shape), the headline loop
# sheds SAMPLES when the PROJECTED final wall (elapsed + average row
# wall so far x remaining rows) exceeds the budget minus a tail
# reserve for the layout micro-benches: over that line, new rows take
# 2 timed runs; past the BUDGET ITSELF, 1 (r11, ADVICE r10 — the old
# 1-sample boundary at room*1.2 = 864 s sat above the 780 s budget it
# insures against). Projection — not elapsed fractions — so a
# healthy-weather run NEVER degrades (r9's measured ~620 s wall, all
# driver benches rc=0, projects under the 780 s default and keeps
# full 3-sample comparability), while a doomed run sheds early enough
# to land. The projection re-evaluates per row, so cheap-tail runs
# re-promote themselves. Degraded rows keep honest per-row spreads
# but are EXCLUDED from the suite noise band, and the JSON reports
# how many rows degraded so a cross-round band comparison knows its
# basis. HEADLINE's expensive streaming rows sit late in the list, so
# the uniform-average projection under-estimates slightly — the tail
# reserve and the (room, budget] 2-sample band absorb that, and the
# budget is soft by design (the harness cap is not exact either).
BENCH_BUDGET_S = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "780"))
# layout micro-benches + the two scaled data-path witnesses (r16,
# ~50 s at 2 samples each) + JSON emission after the headline loop
TAIL_RESERVE_S = 120.0


def _samples_for_projection(
    projected_s: float, budget_s: float = BENCH_BUDGET_S
) -> int:
    if budget_s <= 0:  # no-deadline sentinel for a misconfigured env
        return N_TIMED
    room = budget_s - TAIL_RESERVE_S
    if projected_s <= room:
        return N_TIMED
    # The 1-sample tier anchors at the BUDGET itself (r11, ADVICE r10):
    # the old room*1.2 boundary sat ABOVE the budget (864 s vs 780), so
    # a run already projected past the number the shedding insures
    # against still kept 2 samples. Now any projection over the budget
    # drops to 1; the 2-sample band is exactly (room, budget].
    return 2 if projected_s <= budget_s else 1


def _timed_runs(
    spark, fn, reset=None, cleanup=None, n: int = N_TIMED
) -> tuple[float, float, dict]:
    """Median and relative spread of ``n`` timed executions of ``fn``,
    and the ``trace.trace`` of all of them (its ``runs`` field says how
    many).

    ``reset`` runs BEFORE the clock starts and ``cleanup`` (given
    ``fn``'s return value) AFTER it stops, so neither taxes the row.

    Sub-second rows get two extra samples: they carry most of the
    suite's relative spread (one scheduler hiccup is a large fraction
    of a 0.1 s row), and two more runs tighten their median at
    negligible absolute cost exactly where single samples distort
    most."""
    runs = []

    def one() -> None:
        if reset is not None:
            reset()
        t0 = time.perf_counter()
        out = fn()
        runs.append(time.perf_counter() - t0)
        if cleanup is not None:
            cleanup(out)

    with trace(spark) as traced:
        for _ in range(n):
            one()
        # the sub-second top-up only applies at full sample count: a
        # deadline-degraded row must not win back the samples the budget
        # shed (and a 1-sample "median" has no meaningful range anyway)
        if n >= N_TIMED and sorted(runs)[len(runs) // 2] < 0.5:
            one()
            one()
    traced["runs"] = len(runs)
    runs.sort()
    # lower-middle median: identical for odd counts; for a deadline-
    # degraded 2-sample row it takes the MIN rather than the max, which
    # would bias degraded rows slow relative to their full-sample history
    med = runs[(len(runs) - 1) // 2]
    if len(runs) > n:
        # adaptive rows: the FULL range grows with sample count by
        # construction (a 5-sample max-min reads wider than a 3-sample
        # one on identical noise), which would make the band
        # incomparable across row types. Trim one extreme per side so
        # the reported spread is the middle-3 range — the same
        # statistic the 3-sample rows report — while the median keeps
        # the benefit of all 5 samples.
        spread = (runs[-2] - runs[1]) / med if med > 0 else 0.0
    else:
        spread = (runs[-1] - runs[0]) / med if med > 0 else 0.0
    return round(med, 4), round(spread, 3), traced


def _stage(path: str, stamp: str, build) -> str:
    """Install a derived layout through ``staging.build_stage`` (keyed on
    the source stamp, so a re-shipped table rebuilds it), logging each
    rebuild to stderr. Layout builds are one-time setup, never timed."""
    if not stage_current(path, stamp):
        print(f"[bench] staging {os.path.basename(path)}", file=sys.stderr, flush=True)
    return build_stage(path, stamp, build)


def _events_stamp(sf_dir: str) -> str:
    return source_stamp(os.path.join(sf_dir, "events.parquet"))


# Scale-invariant witnesses for the layout A/B pairs (VERDICT r12 #6):
# at sf0.1 several pairs sit inside the wall-clock noise band, so the
# sidecar records what each layout actually SCANS — file counts/bytes
# for file-level pruning, matching row groups for footer-stat skipping.
# These are deterministic properties of the layout, not weather.
SCAN_UNITS: dict[str, dict] = {}
# Where each row's timed runs went: the ``trace.trace`` of all of a
# row's samples (jobs, SQL executions, driver gap, py4j commands, ...).
TRACES: dict[str, dict] = {}


def _file_units(df) -> dict:
    """{files, mb} of the static scan set (file-level pruning pairs)."""
    from urllib.parse import unquote, urlparse

    paths = [unquote(urlparse(u).path) for u in df.inputFiles()]
    return {
        "files": len(paths),
        "mb": round(sum(os.path.getsize(p) for p in paths) / 1e6, 2),
    }


def _rowgroup_units(path: str, col: str, lo, hi) -> dict:
    """{rg_match, rg_total}: row groups whose footer [min, max] for
    ``col`` can intersect [lo, hi] — the groups a pushed predicate
    must read; the rest skip. hi=None means unbounded above."""
    import pyarrow.parquet as pq

    match = total = 0
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            total += 1
            s = md.row_group(rg).column(idx[col]).statistics
            if s is None or not s.has_min_max:
                match += 1  # no stats: the group must be read
            elif (hi is None or s.min <= hi) and s.max >= lo:
                match += 1
    return {"rg_match": match, "rg_total": total}


def _time_agg_variants(spark, variants, timings, spreads) -> None:
    """Median-of-N timing of the same slice aggregate over layout
    variants (the shared methodology: warm, GC, N timed runs)."""
    from pyspark.sql import functions as F

    for name, df in variants.items():
        SCAN_UNITS[name] = _file_units(df)
        agg = df.groupBy("event_type").agg(F.round(F.sum("value"), 2).alias("v"))
        agg.count()  # warm
        spark._jvm.System.gc()
        timings[name], spreads[name], TRACES[name] = _timed_runs(spark, lambda: agg.count())


def _bucketed_fact_tables(spark, sf_dir: str):
    """Materialize orders/lineitem bucketed+sorted by orderkey (the
    co-located fact layout, sinks/ddl.write_bucketed) and return them.

    One-time setup cost, excluded from the timings — at deployment the
    bucketed layout is the table's storage format, not per-query work.
    """
    import shutil
    from urllib.parse import urlparse

    from db_loader_spark.sinks.ddl import write_bucketed
    from db_loader_spark.tables import load_table

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    out = {}
    for tbl, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        name = f"bench_{tbl}_bucketed"
        loc = os.path.join(warehouse, name)
        stamp = source_stamp(os.path.join(sf_dir, f"{tbl}.parquet"))
        if not stage_current(loc, stamp):
            # saveAsTable writes where the catalog says, so this layout
            # cannot be renamed into place: it is dropped and rebuilt.
            # Clear the location too, or saveAsTable dies with
            # LOCATION_ALREADY_EXISTS.
            print(f"[bench] staging {name}", file=sys.stderr, flush=True)
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(loc, ignore_errors=True)
            write_bucketed(load_table(spark, sf_dir, tbl), name, key, n_buckets=32)
            mark_current(loc, stamp)
        elif not spark.catalog.tableExists(name):
            # the default in-memory catalog forgets tables between
            # sessions while their files persist: register them again
            cols = spark.read.parquet(loc).schema.toDDL()
            spark.sql(
                f"CREATE TABLE {name} ({cols}) USING parquet CLUSTERED BY ({key})"
                f" SORTED BY ({key}) INTO 32 BUCKETS LOCATION '{loc}'"
            )
        out[tbl] = spark.table(name)
    return out


def _bench_bucketed(spark, sf_dir: str, timings, spreads) -> None:
    """q3/q10 with the orderkey fact⋈fact join as a real shuffle join vs
    the bucketed co-located layout (zero exchange on either fact side —
    proven by tests/test_plan_shape.py::test_bucketed_join_has_no_shuffle).

    Auto-broadcast is disabled for these four measurements: at bench SF
    Spark broadcasts the filtered orders side, which hides the join
    bucketing exists to remove — at 100 TB neither fact side broadcasts,
    so shuffle-vs-bucketed under forced SMJ is the faithful small-scale
    model. The explicit dim broadcasts (customer/nation) stay broadcast,
    exactly as they would at scale."""
    from db_loader_spark.queries.relational import q10_core, q3_core
    from db_loader_spark.tables import load_table

    facts = _bucketed_fact_tables(spark, sf_dir)
    plain = {t: load_table(spark, sf_dir, t) for t in ("orders", "lineitem")}
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    variants = {
        "q3_shuffle": lambda: q3_core(cust, plain["orders"], plain["lineitem"]),
        "q3_bucketed": lambda: q3_core(cust, facts["orders"], facts["lineitem"]),
        "q10_shuffle": lambda: q10_core(
            plain["lineitem"], plain["orders"], cust, nat
        ),
        "q10_bucketed": lambda: q10_core(
            facts["lineitem"], facts["orders"], cust, nat
        ),
    }
    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        for name, make in variants.items():
            make().count()  # warm codegen
            spark._jvm.System.gc()  # same GC discipline as the main loop
            timings[name], spreads[name], TRACES[name] = _timed_runs(spark, lambda: make().count())


def _bench_partitioned(spark, sf_dir: str, timings, spreads) -> None:
    """A 3-day time-slice aggregate over events: plain single-file scan
    (row-level ts filter only) vs the date-partitioned layout with
    partition bounds (sinks/ddl.write_partitioned + pruned_time_filter,
    pruning proven by tests/test_partitioned_layout.py). Layout write is
    one-time setup, excluded — at deployment partitioning is the
    table's storage format. At bench SF the whole table is one small
    file so the delta is modest; at 100 TB the pruned scan reads ~10%
    of a 30-day table and ~0.3% of a multi-year one."""
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from db_loader_spark.sinks.ddl import pruned_time_filter, write_partitioned
    from db_loader_spark.tables import load_table

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    path = _stage(
        os.path.join(warehouse, "bench_events_by_date"),
        _events_stamp(sf_dir),
        lambda scratch: write_partitioned(
            load_table(spark, sf_dir, "events"), scratch, F.to_date("ts"), "event_date"
        ),
    )
    start, end = "2024-01-10", "2024-01-13"
    plain = load_table(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit(start)) & (F.col("ts") < F.lit(end))
    )
    layout = spark.read.parquet(path)
    # unpruned = SAME 30-dir layout, ts predicate only (reads every
    # partition); pruned adds the partition bounds (reads 4 dirs). This
    # is the apples-to-apples pruning delta — ev_slice_full (the
    # original single-file table) is the layout-choice baseline.
    unpruned = layout.filter((F.col("ts") >= F.lit(start)) & (F.col("ts") < F.lit(end)))
    part = pruned_time_filter(layout, "ts", start, end)
    variants = {
        "ev_slice_full": plain,
        "ev_slice_unpruned": unpruned,
        "ev_slice_pruned": part,
    }
    _time_agg_variants(spark, variants, timings, spreads)
    # inputFiles() lists the relation's WHOLE file index — partition
    # filters prune at planning, not listing — so the pruned variant's
    # honest static witness is the matching partition DIRECTORIES
    # (event_date ∈ [start, end)), computed from the layout itself
    n_files, n_bytes, n_dirs, total_dirs = 0, 0, 0, 0
    for d in os.listdir(path):
        if not d.startswith("event_date="):
            continue
        total_dirs += 1
        # pruned_time_filter's partition bound is INCLUSIVE both ends
        # (a ts just under end can live in date(end)'s partition) —
        # the witness must count the same dirs the query scans
        # (second r13 review: the half-open bound under-reported)
        if start <= d.split("=", 1)[1] <= end:
            n_dirs += 1
            for f in os.listdir(os.path.join(path, d)):
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(path, d, f))
    SCAN_UNITS["ev_slice_pruned"] = {
        "files": n_files,
        "mb": round(n_bytes / 1e6, 2),
        "dirs": f"{n_dirs}/{total_dirs}",
    }


def _bench_compaction(spark, sf_dir: str, timings, spreads) -> None:
    """The same 3-day slice aggregate over a deliberately SHATTERED
    events table (~1,000 tiny files — the debris an availableNow
    micro-batch ingest leaves) vs its compact_parquet rewrite. The
    data volume is identical; the delta is pure per-file overhead
    (listing, footer reads, task setup) — the cost compaction exists
    to remove, now measured instead of asserted (VERDICT r4 #7).
    Layout writes are one-time setup, source-stamped like the other
    derived layouts."""
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from db_loader_spark.sinks.ddl import compact_parquet
    from db_loader_spark.tables import load_table

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    stamp = _events_stamp(sf_dir)
    shat = _stage(
        os.path.join(warehouse, "bench_events_shattered"),
        stamp,
        lambda scratch: load_table(spark, sf_dir, "events")
        .repartition(1000)
        .write.mode("overwrite")
        .parquet(scratch),
    )
    comp = _stage(
        os.path.join(warehouse, "bench_events_compacted"),
        stamp,
        lambda scratch: compact_parquet(spark, shat, scratch, target_mb=128),
    )
    start, end = "2024-01-10", "2024-01-13"

    def slice_of(path: str):
        df = spark.read.parquet(path)
        return df.filter((F.col("ts") >= F.lit(start)) & (F.col("ts") < F.lit(end)))

    _time_agg_variants(
        spark,
        {"ev_slice_shattered": slice_of(shat), "ev_slice_compacted": slice_of(comp)},
        timings,
        spreads,
    )


def _bench_sorted(spark, sf_dir: str, timings, spreads) -> None:
    """A selective user_id slice over the SAME bytes in two layouts:
    range-clustered (sinks/ddl.write_sorted — row-group min/max stats
    become disjoint, so the pushed predicate skips whole groups) vs the
    natural unsorted layout (every group spans the full domain; nothing
    skips). Both written with 128 KB row groups so the bench table
    holds many groups — production uses the 128 MB default and the
    same ratio holds. Clustering is the layout decision for whatever
    column dominates the predicates; footer-stat disjointness is
    behaviorally pinned in tests/test_partitioned_layout.py.

    The ev_value2_* pair extends this to TWO predicate columns: the
    same selective `value` slice over the 1-D user_id-sorted layout
    (whose value stats span the domain in every group — nothing skips)
    vs the Z-ORDERED (user_id, value) layout (row groups cover small
    rectangles; EITHER predicate skips ~3/4 of groups — footer
    coverage pinned in tests/test_partitioned_layout.py). 1-D keeps
    `ev_value_*` as its own-column best case; Z-order is the layout
    when two columns genuinely share the workload."""
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from db_loader_spark.sinks.ddl import write_sorted, write_zordered
    from db_loader_spark.tables import load_table

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    stamp = _events_stamp(sf_dir)
    ev = load_table(spark, sf_dir, "events")
    srt = _stage(
        os.path.join(warehouse, "bench_events_sorted"),
        stamp,
        lambda scratch: write_sorted(
            ev, scratch, "user_id", row_group_bytes=128 * 1024
        ),
    )
    uns = _stage(
        os.path.join(warehouse, "bench_events_unsorted"),
        stamp,
        lambda scratch: ev.write.option("parquet.block.size", 128 * 1024)
        .mode("overwrite")
        .parquet(scratch),
    )
    zrd = _stage(
        os.path.join(warehouse, "bench_events_zordered"),
        stamp,
        lambda scratch: write_zordered(
            ev, scratch, "user_id", "value", row_group_bytes=128 * 1024
        ),
    )

    def slice_of(path: str):
        df = spark.read.parquet(path)
        return df.filter((F.col("user_id") >= 10) & (F.col("user_id") < 15))

    def value_slice_of(path: str):
        # selective tail slice (~top few % of the skewed value domain)
        df = spark.read.parquet(path)
        return df.filter(F.col("value") >= 400)

    _time_agg_variants(
        spark,
        {
            "ev_value_sorted": slice_of(srt),
            "ev_value_unsorted": slice_of(uns),
            "ev_value2_sorted1d": value_slice_of(srt),
            "ev_value2_zorder": value_slice_of(zrd),
        },
        timings,
        spreads,
    )
    # footer-stat pairs scan the SAME files; the honest unit is row
    # groups a pushed predicate must read (VERDICT r12 #6)
    SCAN_UNITS["ev_value_sorted"] = _rowgroup_units(srt, "user_id", 10, 15)
    SCAN_UNITS["ev_value_unsorted"] = _rowgroup_units(uns, "user_id", 10, 15)
    SCAN_UNITS["ev_value2_sorted1d"] = _rowgroup_units(srt, "value", 400, None)
    SCAN_UNITS["ev_value2_zorder"] = _rowgroup_units(zrd, "value", 400, None)


def _bench_runtime_filters(spark, sf_dir: str, timings, spreads) -> None:
    """Join-driven pruning pairs over the derived layouts — the
    completion of the literal-bound layout benches: a star query whose
    selective predicate lives on the DIMENSION.

    ev_join_dpp_on/off: the 3-day slice expressed as a date-dim join
    over the partitioned layout, with dynamic partition pruning enabled
    vs disabled — on, the fact scan receives a runtime
    dynamicpruningexpression and lists 4 of 30 date dirs; off, it scans
    all 30 (plan pinned in tests/test_partitioned_layout.py).

    ev_join_bloom_on/off: a 1-in-20-users dim join under forced
    shuffle join (neither fact side broadcasts at 100 TB), with the
    runtime bloom filter enabled vs disabled — on, the fact side is
    semi-filtered BEFORE its exchange (~5% of rows shuffle instead of
    100%). Honest local reading: ON measures SLOWER here (≈0.54 s vs
    0.31 s at sf0.1) — the bloom build is an extra subquery stage and
    the 'saved' shuffle of a one-file table costs ~nothing locally, so
    the overhead dominates. What scales is the shuffle-volume term the
    local run can't see: at 100 TB the un-filtered arm shuffles the
    whole fact table across the cluster network while the bloom arm
    ships ~5%, and the build cost stays dim-sized. Same honest-pair
    framing as the salted-vs-AQE rows (operators/skew.py): the pair
    documents when the knob pays, not that it always does."""
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from db_loader_spark.sinks.ddl import slice_tag_dim
    from db_loader_spark.tables import load_table

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    fact_path = os.path.join(warehouse, "bench_events_by_date")  # _bench_partitioned built it
    stamp = _events_stamp(sf_dir)
    fact = spark.read.parquet(fact_path)
    start, end = "2024-01-10", "2024-01-13"
    ddim_path = _stage(
        os.path.join(warehouse, "bench_date_dim"),
        stamp,
        lambda scratch: slice_tag_dim(
            fact,
            F.col("event_date"),
            "event_date",
            (F.col("event_date") >= F.lit(start)) & (F.col("event_date") < F.lit(end)),
        ).write.mode("overwrite").parquet(scratch),
    )
    udim_path = _stage(
        os.path.join(warehouse, "bench_user_dim"),
        stamp,
        lambda scratch: slice_tag_dim(
            load_table(spark, sf_dir, "events"),
            F.col("user_id"),
            "user_id",
            F.col("user_id") % 20 == 0,
        ).write.mode("overwrite").parquet(scratch),
    )

    def dpp_query():
        dim = spark.read.parquet(ddim_path).filter(F.col("tag") == "pick")
        return (
            fact.join(dim, "event_date")
            .groupBy("event_type")
            .agg(F.round(F.sum("value"), 2).alias("v"))
        )

    def bloom_query():
        ev = load_table(spark, sf_dir, "events")
        dim = spark.read.parquet(udim_path).filter(F.col("tag") == "pick")
        return (
            ev.join(dim, "user_id")
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
        )

    arms = [
        ("ev_join_dpp_on", dpp_query, {}),
        (
            "ev_join_dpp_off",
            dpp_query,
            {"spark.sql.optimizer.dynamicPartitionPruning.enabled": "false"},
        ),
        (
            "ev_join_bloom_on",
            bloom_query,
            {
                "spark.sql.autoBroadcastJoinThreshold": "-1",
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            },
        ),
        (
            "ev_join_bloom_off",
            bloom_query,
            {
                "spark.sql.autoBroadcastJoinThreshold": "-1",
                "spark.sql.optimizer.runtime.bloomFilter.enabled": "false",
            },
        ),
    ]
    for name, make, confs in arms:
        with scoped_conf(spark, confs):
            make().count()  # warm
            spark._jvm.System.gc()
            timings[name], spreads[name], TRACES[name] = _timed_runs(spark, lambda: make().count())


def _bench_manifest_zonemap(spark, sf_dir: str, timings, spreads) -> None:
    """File-level data skipping through the manifest's zone maps
    (sinks/manifest.read_pruned) vs the same snapshot scanned from the
    full file list with only the row-level residual filter. Identical
    bytes, identical result; the delta is the files that never became
    tasks (here 15 of 16; at 100 TB, millions). Staging the
    range-clustered manifest table is one-time layout work, stamped
    like the other derived layouts (the query wrapper shares it)."""
    from pyspark.sql import functions as F

    from db_loader_spark.queries.relational import _zonemap_root
    from db_loader_spark.sinks import manifest as M

    from db_loader_spark.streaming.manifest_source import (
        register_manifest_table,
    )

    root = _zonemap_root(spark, sf_dir)
    residual = F.col("cents").between(3000, 3500)
    register_manifest_table(spark)
    variants = {
        "ev_manifest_unpruned": M.read_current(spark, root).filter(residual),
        "ev_manifest_pruned": M.read_pruned(spark, root, "cents", 3000, 3500),
        # the batch 'manifest' FORMAT face (r15): identical kept-file
        # set and result as read_pruned, but the data pays one Arrow
        # hop through the Python DataSource — this row is the measured
        # price of the interop face vs the JVM-native function face
        "ev_manifest_format": (
            spark.read.format("manifest").option("path", root)
            .option("pruneCol", "cents").option("pruneLower", "3000")
            .option("pruneUpper", "3500").load()
        ),
    }
    for name, df in variants.items():
        # the format frame has no JVM file-scan node (inputFiles is
        # empty); its kept set is read_pruned's by construction —
        # reuse the already-computed units so the pruning witness
        # stays paired without re-listing the scan
        SCAN_UNITS[name] = (
            dict(SCAN_UNITS["ev_manifest_pruned"])
            if name == "ev_manifest_format"
            else _file_units(df)
        )
        agg = df.groupBy("event_type").agg(F.sum("cents").alias("s"))
        agg.count()  # warm
        spark._jvm.System.gc()
        timings[name], spreads[name], TRACES[name] = _timed_runs(spark, lambda: agg.count())


def _bench_mor_read(spark, sf_dir: str, timings, spreads) -> None:
    """The merge-on-read READ-side price and the purge's payoff as an
    A/B pair (VERDICT r13 #7): the SAME logical table aggregated with
    its deletion vectors LIVE (every reader pays the (file, pos)
    anti-join) vs after ``purge_deletes`` materialized the mask
    (vectors gone, plain scan). Results are value-identical by the
    purge contract; the timing delta is the anti-join, and the
    scan_units row makes the state deterministic across rounds:
    masked_rows / dv_files / dv_mb for the masked arm, zeros after
    the purge. Staged once per source stamp like the other layouts —
    a scattered delete (~1/37 of rows, touching every file) is the
    shape where vectors accumulate in practice."""
    from pyspark.sql import functions as F

    from db_loader_spark.sinks import manifest as M
    from db_loader_spark.tables import load_table

    root = stage_path(sf_dir, "morbench")
    stamp = _events_stamp(sf_dir) + ":v1"

    def build(scratch: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            "user_id",
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
        )
        M.publish(
            ev.repartitionByRange(16, F.col("cents")),
            scratch, snapshot_id="v1", stats_cols=["cents"],
        )
        M.delete_where(
            spark, scratch, "cents % 37 = 0", mode="mor", snapshot_id="d1"
        )
        M.purge_deletes(spark, scratch, snapshot_id="p1")

    _stage(root, stamp, build)

    def units(sid: str) -> dict:
        man = M._manifest(root, sid)
        dels = man.get("deletes") or {}
        dv = sorted({p for e in dels.values() for p in e["dv"]})
        return {
            "files": len(man["files"]),
            "mb": round(sum(
                os.path.getsize(os.path.join(root, f))
                for f in man["files"]
            ) / 1e6, 2),
            "masked_rows": sum(e["rows"] for e in dels.values()),
            "dv_files": len(dv),
            "dv_mb": round(sum(
                os.path.getsize(os.path.join(root, p)) for p in dv
            ) / 1e6, 3),
        }

    variants = {
        "ev_mor_masked_read": "d1",  # vectors live: anti-join on read
        "ev_mor_purged_read": "p1",  # mask materialized: plain scan
    }
    for name, sid in variants.items():
        SCAN_UNITS[name] = units(sid)
        df = M.read_snapshot(spark, root, sid)
        agg = df.groupBy("event_type").agg(F.sum("cents").alias("s"))
        agg.count()  # warm
        spark._jvm.System.gc()
        timings[name], spreads[name], TRACES[name] = _timed_runs(spark, lambda: agg.count())


SCALED_WITNESSES = ("g_pagerank_x8", "curation_e2e_x4")


def _totals(timings: dict) -> tuple[float, float]:
    """(headline value, ``scaled_witnesses_total``). The scaled
    data-path witnesses run on replicas several times the sf size, so
    they are summed apart: the headline value is the sf-sized rows
    only, comparable with runs that predate or skip the witnesses."""
    head = sum(v for k, v in timings.items() if k not in SCALED_WITNESSES)
    scaled = sum(v for k, v in timings.items() if k in SCALED_WITNESSES)
    return round(head, 4), round(scaled, 4)


def _bench_scaled_datapath(spark, sf_dir: str, timings, spreads) -> None:
    """Data-path witnesses above the bench SF: the registry
    implementations of g_pagerank and curation_e2e over replicas of
    their input tables (``tables.replica``), where the data path is a
    measurable fraction of the wall — lineitem ×8 (eight disjoint
    copies of the co-occurrence graph) and documents ×4 (the replica
    token in the text keeps the copies from collapsing in exact dedup,
    so they reach the MinHash/CC stages as near-duplicates).

    Staging is source-stamped and untimed, like every staged layout
    here. The two rows run 2 samples each and are summed apart from
    the headline (``_totals``); TAIL_RESERVE_S covers their wall."""
    roots = {
        "g_pagerank": replica(spark, sf_dir, 8, tables=("lineitem",)),
        "curation_e2e": replica(spark, sf_dir, 4, tables=("documents",)),
    }
    registry = all_queries()
    for name, key in zip(SCALED_WITNESSES, ("g_pagerank", "curation_e2e")):
        spec, root = registry[key], roots[key]
        warm = spec.spark(spark, root)
        warm.count()
        warm.unpersist()
        spark._jvm.System.gc()

        def run_once(spec=spec, root=root):
            df = spec.spark(spark, root)
            assert df.count() >= 0
            return df

        timings[name], spreads[name], TRACES[name] = _timed_runs(
            spark, run_once, cleanup=lambda df: df.unpersist(), n=2
        )
        print(
            f"[bench] {name} med={timings[name]}s",
            file=sys.stderr,
            flush=True,
        )


def main() -> None:
    t_start = time.monotonic()  # budget clock covers Spark startup too
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark("bench")
    registry = all_queries()

    # Warm the JVM/codegen once so timings measure the plan, not startup.
    registry["a2_max_id"].spark(spark, sf_dir).collect()

    # Steady-state methodology: one warm run (pays one-time Janino
    # whole-stage-codegen compilation, which at deployment scale
    # amortizes to zero over billions of rows), then N_TIMED timed runs
    # reporting the MEDIAN and the relative spread (r8; VERDICT r7 #4)
    # — the median rejects the occasional multi-second GC outlier like
    # the old min-of-2 did, and the spread makes round-over-round
    # deltas adjudicable against a recorded noise band.
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    full_sample_rows: set[str] = set()
    degraded_rows = 0
    t_head = time.monotonic()
    rows_done = 0
    for name in HEADLINE:
        spec = registry[name]
        now = time.monotonic()
        if rows_done:
            avg_row = (now - t_head) / rows_done
            projected = (now - t_start) + avg_row * (len(HEADLINE) - rows_done)
        else:
            projected = 0.0  # first row: no basis yet, run full
        n_samples = _samples_for_projection(projected)
        if n_samples == N_TIMED:
            full_sample_rows.add(name)
        else:
            degraded_rows += 1
        # Settling wrappers persist their small result and CacheManager
        # dedups identical plans — without the unpersist between runs,
        # the second run would read the first run's cache and time an
        # InMemoryTableScan instead of the plan. Unpersist is a no-op
        # for non-settled queries.
        t_warm = time.perf_counter()
        warm = spec.spark(spark, sf_dir)
        warm.count()  # warm: compile + fill codegen cache
        warm.unpersist()
        warm_s = time.perf_counter() - t_warm
        # A long single-JVM bench accumulates driver garbage (plan trees,
        # codegen classes, listener events) and successive queries start
        # absorbing multi-second GC pauses — fresh-session 0.2s queries
        # read as 2s+ by entry 20. Collect between queries so each
        # timing measures the plan, not the previous queries' garbage.
        t_gc = time.perf_counter()
        spark._jvm.System.gc()
        gc_s = time.perf_counter() - t_gc

        def run_once(spec=spec):
            df = spec.spark(spark, sf_dir)  # settled queries compute here
            assert df.count() >= 0  # full plan
            return df

        t_row = time.perf_counter()
        timings[name], spreads[name], TRACES[name] = _timed_runs(
            spark,
            run_once,
            reset=RESET_BEFORE_TIMING.get(name),
            cleanup=lambda df: df.unpersist(),
            n=n_samples,
        )
        # stderr progress (the driver parses stdout only): median vs
        # full row wall — warm run + all samples — so a bench that
        # nears the harness's timeout shows WHERE the wall went.
        print(
            f"[bench] {name} med={timings[name]}s row_wall={time.perf_counter() - t_row:.1f}s"
            f" warm={warm_s:.1f}s gc={gc_s:.1f}s n={n_samples}"
            f" elapsed={time.monotonic() - t_start:.0f}s proj={projected:.0f}s",
            file=sys.stderr,
            flush=True,
        )
        rows_done += 1

    # Release the session-scoped IVF serving cache before the layout
    # benches: its persisted inverted lists are an index for the ANN
    # queries, not something the join-layout measurements should pay
    # memory pressure for.
    from db_loader_spark.queries.similarity import clear_ivf_cache

    clear_ivf_cache()
    _bench_bucketed(spark, sf_dir, timings, spreads)
    _bench_partitioned(spark, sf_dir, timings, spreads)
    _bench_compaction(spark, sf_dir, timings, spreads)
    _bench_sorted(spark, sf_dir, timings, spreads)
    _bench_runtime_filters(spark, sf_dir, timings, spreads)
    _bench_manifest_zonemap(spark, sf_dir, timings, spreads)
    _bench_mor_read(spark, sf_dir, timings, spreads)
    _bench_scaled_datapath(spark, sf_dir, timings, spreads)

    total, scaled_total = _totals(timings)
    # the layout micro-bench rows (everything added after the headline
    # loop) always run at full sample count; deadline-degraded headline
    # rows are excluded from the suite band — a 1-sample "spread" of
    # 0.0 would read as phantom stability and shrink the band
    headline_set = set(HEADLINE)
    # the scaled data-path witnesses run 2 samples by design (their
    # docstring) — keep them out of the band like degraded rows
    full_sample_rows.update(
        k for k in spreads if k not in headline_set and k not in SCALED_WITNESSES
    )
    band = sorted(v for k, v in spreads.items() if k in full_sample_rows)
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "scaled_witnesses_total": scaled_total,
        "queries": timings,
        # per-row relative spread ((max-min)/median over N_TIMED
        # runs) and the suite-level median spread: a round-over-
        # round delta inside the band is environment, not code
        "queries_spread": spreads,
        "noise_band": band[len(band) // 2] if band else 0.0,
        "n_timed": N_TIMED,
        # rows that the soft deadline timed with <N_TIMED samples (and
        # excluded from the band); 0 on a healthy-weather run
        "degraded_rows": degraded_rows,
        # scale-invariant layout witnesses (VERDICT r12 #6): what each
        # A/B variant actually scans — files/MB for file-level pruning,
        # matching row groups for footer-stat skipping. Deterministic
        # layout properties; compare THESE across rounds, not the
        # sub-noise wall-clock of the cheap pairs.
        "scan_units": SCAN_UNITS,
        "trace": TRACES,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # The external driver captures only the LAST ~2000 chars of stdout
    # and parses the JSON line found there. The full per-query dict
    # grew past that (4,301 chars by r8), which silently voided the
    # bench artifact for three rounds (BENCH_r06/07/08 all parsed:
    # null — VERDICT r8 #2). So: the FULL result goes to a sidecar
    # file and an EARLY stdout line, and the FINAL line is a compact,
    # schema-complete summary (total + noise band + the top-cost rows)
    # guaranteed to fit the tail capture.
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_full.json"
    )
    with open(sidecar, "w") as fh:
        json.dump(full, fh)
    print(json.dumps(full))  # full detail, early line
    top = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "scaled_witnesses_total": scaled_total,
        "queries": top,  # 10 most expensive medians; full set in sidecar
        "n_queries": len(timings),
        "noise_band": full["noise_band"],
        "n_timed": N_TIMED,
        "degraded_rows": degraded_rows,
        "full": "bench_full.json",
        "sf": full["sf"],
    }
    # The final line MUST print no matter what: dying here (an assert)
    # would discard the whole ~10-minute run and recreate the exact
    # null-artifact failure this block fixes. If names/values ever grow
    # the line past the tail budget, shed top-10 entries until it fits
    # — the full dict is already on the sidecar and the early line.
    line = json.dumps(compact, separators=(",", ":"))
    while len(line) > 1500 and compact["queries"]:
        compact["queries"].popitem()
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
