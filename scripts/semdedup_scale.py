#!/usr/bin/env python
"""Hot-cell sweep for SemDeDup's sub-split guard (SCALE.md evidence
for the r7 `_subsplit_cells` fix, VERDICT r6 #3).

Manufactured worst case: a near-duplicate pile-up concentrating a
growing share of the corpus in ONE trained cell (cluster-perturbed
vectors, so sign bits vary while cosine stays high — the shape the
operator exists to find). The within-cell pair join is timed twice:

  - uncapped (r6 shape): candidate pairs = n_hot²/2 on one join key;
  - capped (r7): cells above SEM_CELL_CAP re-split on sign bits —
    pair work drops to Σ subcell², spread over distinct keys.

The capped path must also produce a SUPERSET-equal dup verdict for
truly identical vectors (identical rows share all sign bits, so they
always co-assign); the sweep asserts the identical-pair count match.
Deterministic hash-based data (no RNG state).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from db_loader_spark.functions import similarity as S
from db_loader_spark.queries.similarity import _subsplit_cells
from db_loader_spark.session import get_spark

DIM = 64


def synth_lists(spark, n_hot: int):
    """One hot cell of n_hot sign-varying vectors + a cold tail."""
    base = spark.range(n_hot).select(
        F.lit("hot").alias("cell"),
        F.col("id").alias("neighbor_id"),
        F.expr(
            "transform(sequence(1, %d), j ->"
            " CAST(pmod(hash(concat('v:', id, '#', j)), 2001) - 1000 AS DOUBLE)"
            " / 1000)" % DIM
        ).alias("c_vec"),
    )
    cold = spark.range(500).select(
        F.concat(F.lit("c"), (F.col("id") % 50).cast("string")).alias("cell"),
        (F.col("id") + 10_000_000).alias("neighbor_id"),
        F.expr(
            "transform(sequence(1, %d), j ->"
            " CAST(pmod(hash(concat('w:', id, '#', j)), 2001) - 1000 AS DOUBLE)"
            " / 1000)" % DIM
        ).alias("c_vec"),
    )
    # 50 EXACT-duplicate pairs planted in the hot cell (ids 1e6+k and
    # 1e6+k+50 share one vector): identical vectors share all sign
    # bits, so the capped path must find every one of these pairs —
    # the recall-of-true-dups assertion in main().
    dup = spark.range(100).select(
        F.lit("hot").alias("cell"),
        (F.col("id") + 1_000_000).alias("neighbor_id"),
        F.expr(
            "transform(sequence(1, %d), j ->"
            " CAST(pmod(hash(concat('D:', pmod(id, 50), '#', j)), 2001) - 1000"
            " AS DOUBLE) / 1000)" % DIM
        ).alias("c_vec"),
    )
    return base.unionByName(cold).unionByName(dup).withColumn(
        "c_nrm", F.sqrt(F.aggregate("c_vec", F.lit(0.0), lambda a, x: a + x * x))
    )


def pair_count(lists) -> tuple[int, float]:
    a = lists.select(
        "cell",
        F.col("neighbor_id").alias("id_a"),
        F.col("c_vec").alias("vec_a_"),
        F.col("c_nrm").alias("nrm_a"),
    )
    b = lists.select(
        "cell",
        F.col("neighbor_id").alias("id_b"),
        F.col("c_vec").alias("vec_b_"),
        F.col("c_nrm").alias("nrm_b"),
    )
    cos = S.cosine_expr("vec_a_", "vec_b_", "nrm_a", "nrm_b")
    t0 = time.perf_counter()
    n = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(cos, 3) >= 0.4)
        .count()
    )
    return n, time.perf_counter() - t0


def main() -> None:
    spark = get_spark("semdedup-scale")
    spark.range(1).count()
    warm = synth_lists(spark, 500).persist()
    pair_count(warm)
    pair_count(_subsplit_cells(warm, 64))
    warm.unpersist()
    print("--- warm done, measured passes follow ---", flush=True)
    for n_hot in (2_000, 4_000, 8_000):
        lists = synth_lists(spark, n_hot).persist()
        lists.count()
        spark._jvm.System.gc()
        n_flat, t_flat = pair_count(lists)
        spark._jvm.System.gc()
        split = _subsplit_cells(lists).persist()
        split.count()
        n_split, t_split = pair_count(split)
        # recall of TRUE duplicates: identical vectors share sign bits,
        # so all 50 planted exact-dup pairs must survive the sub-split
        a = split.filter(F.col("neighbor_id") >= 1_000_000).select(
            "cell", F.col("neighbor_id").alias("id_a"), F.col("c_vec").alias("va")
        )
        b = split.filter(F.col("neighbor_id") >= 1_000_000).select(
            "cell", F.col("neighbor_id").alias("id_b"), F.col("c_vec").alias("vb")
        )
        n_dup = (
            a.join(b, "cell")
            .filter((F.col("id_b") - F.col("id_a")) == 50)
            .filter(F.col("va") == F.col("vb"))
            .count()
        )
        assert n_dup == 50, f"capped path lost true duplicates: {n_dup}/50"
        sub = split.filter(F.col("cell").startswith("hot:")).groupBy("cell").count()
        max_sub = sub.agg(F.max("count")).first()[0]
        print(
            f"semdedup hot={n_hot}: uncapped {t_flat:.2f}s ({n_flat} pairs),"
            f" capped {t_split:.2f}s ({n_split} pairs),"
            f" max subcell {max_sub} (was {n_hot})",
            flush=True,
        )
        split.unpersist()
        lists.unpersist()


if __name__ == "__main__":
    main()
