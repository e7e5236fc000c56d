#!/usr/bin/env python
"""Join-skew head-to-head: AQE skew split vs manual salting vs nothing.

Synthesizes a fact⋈dim join where ~90% of fact rows share one key
(the power-law hot key), forces a shuffle join (no broadcast), and
times four arms:

  plain_skewed    skewJoin off  — the hot partition serializes
  aqe_skewed      skewJoin on   — AQE splits it (plan shows skew=true)
  salted_skewed   skewJoin off  — operators.skew.salted_join
  plain/salted_balanced — the same arms on UNskewed data: the salting
                  tax you pay when skew never existed

Skew thresholds are scaled to the local data size (16m/8m vs the
256m/64m production defaults) — same mechanism, smaller trip wire.
Results land in SCALE.md.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from db_loader_spark.operators.skew import salted_join
from db_loader_spark.session import get_spark, scoped_conf

N = 2_000_000
N_KEYS = 200


def build(spark, skewed: bool):
    if skewed:
        key = (
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % N_KEYS)
            .alias("k")
        )
    else:
        key = (F.col("id") % N_KEYS).alias("k")
    fact = spark.range(N).select(
        key, F.sha2(F.col("id").cast("string"), 256).alias("payload")
    )
    dim = spark.range(N_KEYS).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    return fact, dim


def timed(spark, make, runs: int = 2) -> float:
    make().count()  # warm
    spark._jvm.System.gc()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        assert make().count() >= 0
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


# Force a shuffle join and scale the skew trip wire to the local data.
SKEW_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
}


def main() -> None:
    spark = get_spark("skew-exp")

    def skew_join(on: bool):
        return scoped_conf(spark, {"spark.sql.adaptive.skewJoin.enabled": str(on).lower()})

    out = {}
    with scoped_conf(spark, SKEW_CONFS):
        for label, skewed in (("skewed", True), ("balanced", False)):
            fact, dim = build(spark, skewed)
            with skew_join(False):
                out[f"plain_{label}"] = timed(
                    spark, lambda: fact.join(dim, "k").select(F.sum("v"))
                )
                out[f"salted_{label}"] = timed(
                    spark, lambda: salted_join(fact, dim, "k", n_salts=16).select(F.sum("v"))
                )
            with skew_join(True):
                out[f"aqe_{label}"] = timed(
                    spark, lambda: fact.join(dim, "k").select(F.sum("v"))
                )

        # plan evidence: the skewed AQE arm actually split
        fact, dim = build(spark, skewed=True)
        j = fact.join(dim, "k")
        buf = io.StringIO()
        with skew_join(True):
            j.collect()
            with contextlib.redirect_stdout(buf):
                j.explain()
    print("skew=true in final plan:", "skew=true" in buf.getvalue())
    for k, v in out.items():
        print(f"{k:18s} {v:.3f} s")

if __name__ == "__main__":
    main()
