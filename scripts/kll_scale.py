#!/usr/bin/env python
"""sf0.01 -> sf0.1 (10x rows) throughput + accuracy probe for the
deterministic KLL-style compaction sketch (SCALE.md evidence).

Same grain as the registry's a_quantile_sketch key (events table:
group=event_type, value=integer cents, key=event_id) so the two
quantile-sketch members are compared on identical input:

  - wall: kll_group_quantiles (two-level shard->merge, k=128, 8
    shards) vs the stored bottom-k quantile_sketch on the same frame,
    at both SFs. The claim to check is ~linear scaling: stage 1 is
    one shuffle + per-shard local sort, stage 2 moves only sketches.
  - accuracy: worst rank error across groups/quantiles at sf0.1,
    measured against each group's fully-sorted values (rank-interval
    distance, so duplicated values are not penalized). KLL's
    O(polylog/k) bound should beat bottom-k's O(sqrt(q(1-q)/k))
    sampling error at the median for equal k.

Run on an idle box; two timed passes each, report both.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from db_loader_spark.functions.sketch import kll_group_quantiles, quantile_sketch
from db_loader_spark.session import get_spark

QS = (0.25, 0.5, 0.9, 0.99)


def events_frame(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            "event_type",
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
            "event_id",
        )
    )


def rank_err(sorted_vals, v, q):
    """Distance from q to the rank-interval [lo, hi] that value v
    occupies in the sorted list (duplicates make it an interval; a
    value whose interval covers q has zero error)."""
    import bisect

    n = len(sorted_vals)
    lo = bisect.bisect_left(sorted_vals, v) / n
    hi = bisect.bisect_right(sorted_vals, v) / n
    return max(lo - q, q - hi, 0.0)


def main():
    spark = get_spark("kll-scale")
    for sf_dir in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        e = events_frame(spark, sf_dir).cache()
        n = e.count()  # materialize cache so timings exclude the scan
        for tag, fn in (
            ("kll", lambda: kll_group_quantiles(e, "event_type", "cents", "event_id", quantiles=QS)),
            ("bottomk", lambda: quantile_sketch(e, "event_type", "cents", "event_id")),
        ):
            walls = []
            for _ in range(2):
                t0 = time.monotonic()
                fn().collect()
                walls.append(round(time.monotonic() - t0, 2))
            print(f"{sf_dir.split('/')[-1]} rows={n} {tag}: walls={walls}", flush=True)
        if sf_dir.endswith("sf0.1"):
            # accuracy: worst rank error across groups x quantiles
            est = {
                r["event_type"]: [r[f"p{round(q * 100)}_est"] for q in QS]
                for r in kll_group_quantiles(
                    e, "event_type", "cents", "event_id", quantiles=QS
                ).collect()
            }
            worst = 0.0
            for grp, vals in est.items():
                srt = [
                    r["cents"]
                    for r in e.filter(F.col("event_type") == grp)
                    .orderBy("cents")
                    .select("cents")
                    .collect()
                ]
                for q, v in zip(QS, vals):
                    worst = max(worst, rank_err(srt, v, q))
            print(f"sf0.1 kll worst rank error (k=128): {worst:.4f}", flush=True)
        e.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
