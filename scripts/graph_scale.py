#!/usr/bin/env python
"""1x/4x/16x sweep for the graph operators (SCALE.md evidence).

Synthetic co-purchase data with BOTH orders and the part vocabulary
scaled linearly (the TPC-H shape: dims grow with the fact table), so
average degree stays ~constant and edge count grows ~linearly. The
claims to measure, not assume:

  - g_triangle_count: edge build + orientation + adjacency intersect
    are all ~linear in m at constant degree; wall should scale ~n.
  - g_pagerank: the lazy 6-round join chain is 6 scans of the cached
    contribution list; wall should scale ~n with a fixed per-round
    constant.

Deterministic hash-based data (no RNG state), same methodology as
decontam_scale.py / newops_scale.py.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from db_loader_spark.queries.relational import g_pagerank, g_triangle_count
from db_loader_spark.session import get_spark

BASE_ORDERS = 15_000
BASE_PARTS = 2_000
PARTS_PER_ORDER = 4


def synth_dir(spark, scale: int) -> str:
    d = tempfile.mkdtemp(prefix=f"graph_scale_{scale}x_")
    n_orders, n_parts = BASE_ORDERS * scale, BASE_PARTS * scale
    li = (
        spark.range(n_orders)
        .select(
            F.col("id").alias("l_orderkey"),
            F.explode(F.expr(f"sequence(1, {PARTS_PER_ORDER})")).alias("j"),
        )
        .select(
            "l_orderkey",
            F.expr(
                f"pmod(hash(concat('gs:', l_orderkey, '#', j)), {n_parts})"
            ).alias("l_partkey"),
        )
    )
    li.write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
    return d


def timed(label: str, fn) -> None:
    t0 = time.perf_counter()
    out = fn()
    print(f"{label}: {time.perf_counter() - t0:.2f}s {out}")


def main() -> None:
    spark = get_spark("graph-scale")
    spark.range(1).count()
    warm = synth_dir(spark, 1)  # codegen warm on the small shape
    g_triangle_count(spark, warm).unpersist()
    g_pagerank(spark, warm).unpersist()
    shutil.rmtree(warm, ignore_errors=True)
    for scale in (1, 4, 16):
        d = synth_dir(spark, scale)
        spark._jvm.System.gc()
        timed(
            f"triangles {scale}x",
            lambda: (lambda df: (df.collect()[0].asDict(), df.unpersist())[0])(
                g_triangle_count(spark, d)
            ),
        )
        spark._jvm.System.gc()
        timed(
            f"pagerank {scale}x",
            lambda: (lambda df: (f"top={df.collect()[0]['node']}", df.unpersist())[0])(
                g_pagerank(spark, d)
            ),
        )
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
