#!/usr/bin/env python
"""Head-language skew sweep for the packing prefix sum (SCALE.md
evidence for the r7 rewrite, VERDICT r6 #1).

Synthetic corpus with web-shape language mass (90% of documents in one
language) at 1x/4x/16x rows. Two formulations of the SAME bin
assignment, value-asserted equal on every run:

  - single-window: Window.partitionBy(lang).orderBy(doc_id) — the r6
    shape; the head language's documents all sort in ONE task.
  - blocked (pack_doc_bins): per-(lang, 4096-doc block) windows + a
    tiny offsets frame — every sort bounded by the block width.

The interesting number is the SLOPE: the single-window wall grows with
the head language's total mass (one reducer does it all — on a real
cluster that is the whole pipeline's critical path; local[32] already
shows the serialization), while the blocked wall tracks corpus/cores.
Deterministic hash-based data (no RNG state).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from db_loader_spark.queries.textops import PACK_BUDGET, pack_doc_bins
from db_loader_spark.session import get_spark

BASE_DOCS = 1_000_000  # narrow rows (id, lang, n_tok): in-memory synth


def synth(spark, scale: int):
    n = BASE_DOCS * scale
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        # 90/5/5 language mass — the web-corpus shape
        F.expr(
            "CASE WHEN pmod(hash(concat('l:', id)), 20) < 18 THEN 'en'"
            " WHEN pmod(hash(concat('l:', id)), 20) = 18 THEN 'de'"
            " ELSE 'fr' END"
        ).alias("lang"),
        F.expr("CAST(pmod(hash(concat('t:', id)), 900) + 1 AS INT)").alias(
            "n_tok"
        ),
    )


def single_window_bins(toksed, budget):
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return toksed.withColumn(
        "bin_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / budget).cast("long"),
    )


def report(packed):
    return packed.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )


def fingerprint(df):
    # order-insensitive checksum of the full bin report
    return df.agg(
        F.sum(
            F.xxhash64("lang", "bin_id", "n_docs", "total_tokens").cast(
                "decimal(38,0)"
            )
        ).alias("h")
    ).first()["h"]


def main() -> None:
    from db_loader_spark import cache

    spark = get_spark("pack-scale")
    spark.range(1).count()
    warm = synth(spark, 1)
    report(pack_doc_bins(warm, PACK_BUDGET)).count()
    cache.release()
    report(single_window_bins(warm, PACK_BUDGET)).count()
    print("--- warm done, measured passes follow ---", flush=True)
    for scale in (1, 4, 16):
        d = synth(spark, scale).persist()
        d.count()  # synth cost out of both timings
        spark._jvm.System.gc()
        t0 = time.perf_counter()
        h_single = fingerprint(report(single_window_bins(d, PACK_BUDGET)))
        t_single = time.perf_counter() - t0
        spark._jvm.System.gc()
        t0 = time.perf_counter()
        h_blocked = fingerprint(report(pack_doc_bins(d, PACK_BUDGET)))
        t_blocked = time.perf_counter() - t0
        cache.release()
        d.unpersist()
        assert h_single == h_blocked, "formulations diverged"
        print(
            f"pack {scale}x ({BASE_DOCS * scale} docs, 90% head-lang):"
            f" single-window {t_single:.2f}s, blocked {t_blocked:.2f}s"
            f" ({t_single / t_blocked:.2f}x), checksums equal",
            flush=True,
        )


if __name__ == "__main__":
    main()
