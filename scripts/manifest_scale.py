#!/usr/bin/env python
"""1x/4x/16x sweep for the manifest table layout (SCALE.md evidence).

The r6 manifest subsystem (sinks/manifest.py) shipped with design
arguments but no measured slopes; this sweep measures the claims on a
synthetic orders-shaped table whose ROW COUNT scales while the CDC
batch and the pruned-read range stay FIXED:

  - publish (base snapshot, range-partitioned, zone maps): ~linear in n
    (it writes the data; the footer walk is per-file, file count grows
    with n at constant file size).
  - merge_upsert of a FIXED, key-localized CDC batch: ~flat wall — the
    copy-on-write claim. Zone maps bound the rewrite to the files
    containing batch keys; everything else carries by reference. If
    this slope tracks n, file targeting is broken.
  - read_pruned over a FIXED key range: ~flat — file skipping means
    the scan is sized to the range, not the table.
  - append + read_added fold: ~flat in parent size (delta-sized scan).
  - snapshot_diff base vs merged: ~linear (full-outer join over n).

Deterministic hash-based data (no RNG state), same methodology as
graph_scale.py / decontam_scale.py.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from db_loader_spark.session import get_spark
from db_loader_spark.sinks import manifest as M

BASE_ROWS = 200_000
FILES_PER_SCALE = 16  # files grow with data → constant file size
BATCH_KEYS = 1_000  # fixed CDC batch, localized to the low key range
PRUNE_LO, PRUNE_HI = 1_000, 3_000  # fixed pruned-read range


def synth(spark, scale: int):
    # one contiguous key range per partition, fixed by n and the file
    # count alone: the base's file boundaries (and so every touched set
    # and committed byte after them) cannot depend on the session's
    # history, as a sampled repartitionByRange's would
    n = BASE_ROWS * scale
    return spark.range(0, n, 1, FILES_PER_SCALE * scale).select(
        F.col("id").alias("k"),
        F.expr("concat('P', pmod(hash(concat('pr:', id)), 5))").alias("pr"),
        F.expr("CAST(pmod(hash(concat('c:', id)), 100000) AS BIGINT)").alias(
            "cents"
        ),
    )


def timed(label: str, fn) -> None:
    t0 = time.perf_counter()
    out = fn()
    print(f"{label}: {time.perf_counter() - t0:.2f}s {out}", flush=True)


def sweep(spark, scale: int) -> None:
    root = tempfile.mkdtemp(prefix=f"manifest_scale_{scale}x_")
    shutil.rmtree(root, ignore_errors=True)

    def staged_bytes(sid: str) -> str:
        # the scale-invariant witness: bytes this commit physically
        # wrote, from its own data/<sid> prefix
        d = os.path.join(root, "data", sid)
        total = sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )
        return f"[committed {total / 1e6:.2f} MB, {total} B]"

    base = synth(spark, scale)
    n = BASE_ROWS * scale
    timed(
        f"publish {scale}x",
        lambda: M.publish(
            base,
            root,
            snapshot_id="base",
            stats_cols=["k"],
        ),
    )
    # fixed-size, key-localized CDC batch: updates in [0, BATCH_KEYS),
    # plus a handful of inserts beyond the key range
    upd = base.filter(F.col("k") < BATCH_KEYS).select(
        "k", "pr", (F.col("cents") + 500).alias("cents")
    )
    ins = spark.range(50).select(
        (F.col("id") + 10 * n).alias("k"),
        F.lit("INS").alias("pr"),
        F.lit(1).cast("long").alias("cents"),
    )
    timed(
        f"merge_upsert {scale}x (fixed {BATCH_KEYS}-key batch)",
        lambda: M.merge_upsert(
            spark, upd.unionByName(ins), root, "k", snapshot_id="merged"
        )
        + " " + staged_bytes("merged"),
    )
    timed(
        f"read_pruned {scale}x (fixed range)",
        lambda: M.read_pruned(spark, root, "k", PRUNE_LO, PRUNE_HI).count(),
    )
    delta = spark.range(10_000).select(
        (F.col("id") + 20 * n).alias("k"),
        F.lit("APP").alias("pr"),
        F.lit(2).cast("long").alias("cents"),
    )
    timed(
        f"append {scale}x (fixed 10k delta)",
        lambda: M.publish(
            delta, root, snapshot_id="appended", append=True, stats_cols=["k"]
        ),
    )
    timed(
        f"read_added {scale}x (delta-only scan)",
        lambda: M.read_added(spark, root, "merged", "appended").count(),
    )
    # r12b DML: a fixed key-localized DELETE should stay ~flat (the
    # touched-file scan rides zone-map/row-group pushdown; the rewrite
    # is sized to the matched slice), and RESTORE must be ~flat at
    # metadata cost (one manifest write + one pointer CAS, zero data).
    timed(
        f"delete_where {scale}x (fixed key-range predicate)",
        lambda: M.delete_where(
            spark,
            root,
            f"k >= {PRUNE_LO} AND k < {PRUNE_HI}",
            snapshot_id="deleted",
        )
        + " " + staged_bytes("deleted"),
    )
    timed(
        f"restore {scale}x (metadata-only rollback)",
        lambda: M.restore_snapshot(root, "appended", snapshot_id="restored"),
    )
    # r13 MOR vs COW on a SCATTERED delete: the same fixed number of
    # matched rows spread uniformly across the keyspace touches ~every
    # file. COW's commit cost tracks the TOUCHED FILES (≈ the table:
    # its slope should track n — the honest physics the r12 docstring
    # conceded); MOR's tracks the MATCHED ROWS (fixed here, so ~flat
    # apart from the predicate scan). The read-back after MOR prices
    # the anti-join readers pay until OPTIMIZE absorbs the vectors.
    scattered = f"pmod(hash(concat('s:', k)), {n}) < 2000"  # ~2000 rows, all files

    timed(
        f"delete_where COW {scale}x (scattered ~2000 rows)",
        lambda: M.delete_where(
            spark, root, scattered, snapshot_id="cow-scat", mode="cow"
        )
        + " " + staged_bytes("cow-scat"),
    )
    M.restore_snapshot(root, "restored", snapshot_id="unscat")
    timed(
        f"delete_where MOR {scale}x (same scattered rows)",
        lambda: M.delete_where(
            spark, root, scattered, snapshot_id="mor-scat", mode="mor"
        )
        + " " + staged_bytes("mor-scat"),
    )
    timed(
        f"read after MOR {scale}x (vector anti-join)",
        lambda: M.read_current(spark, root).count(),
    )
    # r13b MOR MERGE: a fixed SCATTERED-key CDC batch (~1000 keys
    # spread across every file). COW's rewrite tracks the touched
    # files (≈ the table for scattered keys); MOR masks + appends, so
    # its committed bytes track the BATCH.
    M.restore_snapshot(root, "restored", snapshot_id="unscat2")
    cdc = base.filter(
        F.expr(f"pmod(hash(concat('m:', k)), {n}) < 1000")
    ).select("k", "pr", (F.col("cents") + 7).alias("cents"))
    timed(
        f"merge COW {scale}x (scattered ~1000-key batch)",
        lambda: M.merge_upsert(
            spark, cdc, root, "k", snapshot_id="cow-mrg"
        )
        + " " + staged_bytes("cow-mrg"),
    )
    M.restore_snapshot(root, "unscat2", snapshot_id="unscat3")
    timed(
        f"merge MOR {scale}x (same batch)",
        lambda: M.merge_upsert(
            spark, cdc, root, "k", snapshot_id="mor-mrg", mode="mor"
        )
        + " " + staged_bytes("mor-mrg"),
    )
    # r14 MOR UPDATE: the same scattered-row shape as the delete pair
    # — a fixed ~2000 matched rows across every file. COW rewrites the
    # touched files (≈ the table); MOR masks the positions and appends
    # the updated rows, so its committed bytes track the matched rows.
    M.restore_snapshot(root, "restored", snapshot_id="unscat4")
    timed(
        f"update_where COW {scale}x (scattered ~2000 rows)",
        lambda: M.update_where(
            spark, root, scattered, {"cents": "cents + 1"},
            snapshot_id="cow-upd", mode="cow",
        )
        + " " + staged_bytes("cow-upd"),
    )
    M.restore_snapshot(root, "unscat4", snapshot_id="unscat5")
    timed(
        f"update_where MOR {scale}x (same rows)",
        lambda: M.update_where(
            spark, root, scattered, {"cents": "cents + 1"},
            snapshot_id="mor-upd", mode="mor",
        )
        + " " + staged_bytes("mor-upd"),
    )
    timed(
        f"snapshot_diff {scale}x (full-outer over n)",
        lambda: __import__(
            "db_loader_spark.operators.cdc", fromlist=["snapshot_diff"]
        )
        .snapshot_diff(
            M.read_snapshot(spark, root, "base"),
            M.read_snapshot(spark, root, "merged"),
            ["k"],
            ["cents"],
        )
        .groupBy("change_op")
        .count()
        .collect(),
    )
    shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    spark = get_spark("manifest-scale")
    spark.range(1).count()
    sweep(spark, 1)  # warm pass: codegen + committer warmup
    print("--- warm done, measured passes follow ---", flush=True)
    for scale in (1, 4, 16):
        spark._jvm.System.gc()
        sweep(spark, scale)


if __name__ == "__main__":
    main()
