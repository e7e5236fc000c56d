#!/usr/bin/env python
"""Decontamination 1×/4×/16× corpus sweep (SCALE.md evidence).

Same synthetic-corpus methodology as the r2 dedup sweep: seeded
Zipf-ish token docs generated Spark-side (hash-based, deterministic,
no RNG state), corpus sizes 5k/20k/80k. The BENCHMARK set is fixed at
500 docs; 1% of corpus docs verbatim-copy a benchmark doc so the
contamination path has real hits at every scale.

What the sweep must show for the 100 TB story:
  - wall time grows ~linearly with corpus size (the corpus side is one
    explode + one broadcast-join + one groupBy(id) shuffle);
  - the BROADCAST side (distinct eval shingles + its estimated bytes,
    the measured gate input) is CONSTANT across corpus scales — the
    join never reshuffles the corpus no matter how big it gets.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from db_loader_spark import cache
from db_loader_spark.functions.dedup import decontaminate, shingle_frame
from db_loader_spark.session import get_spark

VOCAB = 5_000
DOC_TOKENS = 30
N_BENCH = 500


def synth_docs(spark, n: int, seed: str, id_offset: int = 0):
    """n seeded docs of DOC_TOKENS Zipf-ish tokens (u^3 rank skew)."""
    tok = (
        "transform(sequence(1, {m}), "
        "j -> concat('t', CAST(FLOOR({v} * pow(pmod(hash(concat('{s}', id, '#', j)), 10000) / 10000.0, 3)) AS INT)))"
    ).format(m=DOC_TOKENS, v=VOCAB, s=seed)
    return spark.range(n).select(
        (F.col("id") + id_offset).alias("doc_id"),
        F.concat_ws(" ", F.expr(tok)).alias("text"),
    )


def main() -> None:
    spark = get_spark("decontam-scale")
    bench = synth_docs(spark, N_BENCH, "bench", id_offset=10_000_000).persist()
    bench.count()

    bench_sh = (
        shingle_frame(bench, "doc_id", "text", 3).select("shingle").distinct()
    )
    stats = bench_sh.agg(
        F.count("*").alias("n"), F.sum(F.length("shingle")).alias("chars")
    ).first()
    print(
        f"benchmark: {N_BENCH} docs, {stats['n']} distinct shingles, "
        f"est broadcast bytes = {2 * stats['chars'] + 48 * stats['n']}"
    )

    for n in (5_000, 20_000, 80_000):
        corpus = synth_docs(spark, n, "corp")
        # 1% verbatim benchmark copies → real contamination hits
        copies = bench.limit(n // 100).select(
            (F.col("doc_id") - 10_000_000 + 20_000_000).alias("doc_id"), "text"
        )
        corpus = corpus.unionByName(copies).persist()
        corpus.count()
        spark._jvm.System.gc()
        best, flagged = float("inf"), -1
        for _ in range(2):
            t0 = time.perf_counter()
            out = decontaminate(corpus, bench, n=3)
            flagged = out.count()
            best = min(best, time.perf_counter() - t0)
            out.unpersist()
            cache.release()
        corpus.unpersist()
        print(f"n={n:6d}  wall={best:6.2f} s  flagged={flagged}")


if __name__ == "__main__":
    main()
