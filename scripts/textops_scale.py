#!/usr/bin/env python
"""LM-score + KMV 1×/4×/16× corpus sweep (SCALE.md evidence).

Same seeded synthetic corpora as the decontamination sweep
(scripts/decontam_scale.py). What the curves must show:

  - text_lm_score: wall grows ~linearly; the count tables it joins
    against stay Zipf-bounded (vocab/bigram cardinality printed per
    scale — they grow sublinearly, which is what keeps the scoring
    join's build sides small relative to the corpus).
  - text_kmv_vocab: the sketch is flat-cost on top of the distinct —
    and its estimate tracks the true (growing) vocabulary.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from db_loader_spark.functions.sketch import kmv_distinct
from db_loader_spark.queries.textops import lm_score_of
from db_loader_spark.session import get_spark

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from decontam_scale import synth_docs  # noqa: E402


def timed(make, spark) -> tuple[float, int]:
    make().count()
    spark._jvm.System.gc()
    best, rows = float("inf"), -1
    for _ in range(2):
        t0 = time.perf_counter()
        rows = make().count()
        best = min(best, time.perf_counter() - t0)
    return round(best, 2), rows


def main() -> None:
    spark = get_spark("textops-scale")
    for n in (5_000, 20_000, 80_000):
        docs = synth_docs(spark, n, "corp").withColumn("lang", F.lit("xx")).persist()
        docs.count()
        uni = docs.select(F.explode(F.split("text", " ")).alias("w")).distinct().count()
        lm_t, lm_rows = timed(lambda: lm_score_of(docs), spark)
        kmv_t, _ = timed(
            lambda: kmv_distinct(
                docs.select("lang", F.explode(F.split("text", " ")).alias("tok")),
                "lang",
                "tok",
                k=64,
            ),
            spark,
        )
        est = kmv_distinct(
            docs.select("lang", F.explode(F.split("text", " ")).alias("tok")),
            "lang",
            "tok",
            k=64,
        ).first()
        docs.unpersist()
        print(
            f"n={n:6d}  vocab={uni:6d}  lm_wall={lm_t:5.2f}s rows={lm_rows}  "
            f"kmv_wall={kmv_t:5.2f}s est={est['kmv_estimate']} rel_err={est['rel_err']}"
        )


if __name__ == "__main__":
    main()
