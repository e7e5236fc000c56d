#!/usr/bin/env python
"""1x/4x/16x sweep for the watermarked stream-stream interval join
(SCALE.md evidence for queries/streamingq.t_stream_join).

Synthetic orders/lineitem pairs with the registry key's exact shape —
equi-join on orderkey plus a [0, 60]-day ship-date interval — run
through the REAL wrapper (staged shards, one file per micro-batch,
foreachBatch epoch publish). Claims to measure, not assume:

  - wall ~linear in rows: the symmetric hash join does per-row state
    insert + probe; micro-batch machinery is a constant.
  - the join never degenerates into a cross product: matches grow
    linearly (each order has a bounded number of in-interval items).

State-boundedness is a watermark property measured separately in
tests/test_stream_outer_join.py; this sweep pins the throughput slope.
Deterministic hash-based data, same methodology as graph_scale.py.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from db_loader_spark.queries.streamingq import t_stream_join
from db_loader_spark.session import get_spark

BASE_ORDERS = 10_000
ITEMS_PER_ORDER = 4


def synth_dir(spark, scale: int) -> str:
    d = tempfile.mkdtemp(prefix=f"stream_scale_{scale}x_")
    n = BASE_ORDERS * scale
    orders = spark.range(n).select(
        F.col("id").alias("o_orderkey"),
        F.expr("concat('P', pmod(hash(concat('p:', id)), 5))").alias(
            "o_orderpriority"
        ),
        F.expr(
            "date_add(date '1995-01-01', CAST(pmod(hash(concat('d:', id)), 2000) AS INT))"
        ).alias("o_orderdate"),
    )
    items = (
        spark.range(n)
        .select(
            F.col("id").alias("l_orderkey"),
            F.explode(F.expr(f"sequence(1, {ITEMS_PER_ORDER})")).alias("j"),
        )
        .select(
            "l_orderkey",
            # ship 0-89 days after order: ~2/3 land inside the 60-day
            # interval bound, same selectivity shape as the registry key
            F.expr(
                "date_add(date_add(date '1995-01-01',"
                " CAST(pmod(hash(concat('d:', l_orderkey)), 2000) AS INT)),"
                " CAST(pmod(hash(concat('s:', l_orderkey, '#', j)), 90) AS INT))"
            ).alias("l_shipdate"),
            F.expr(
                "CAST(pmod(hash(concat('e:', l_orderkey, '#', j)), 10000) AS DOUBLE) / 100"
            ).alias("l_extendedprice"),
            F.expr(
                "CAST(pmod(hash(concat('x:', l_orderkey, '#', j)), 10) AS DOUBLE) / 100"
            ).alias("l_discount"),
        )
    )
    orders.write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
    items.write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
    return d


def main() -> None:
    spark = get_spark("stream-scale")
    spark.range(1).count()
    warm = synth_dir(spark, 1)
    t_stream_join(spark, warm).count()  # codegen + state-store warmup
    shutil.rmtree(warm, ignore_errors=True)
    print("--- warm done, measured passes follow ---", flush=True)
    for scale in (1, 4, 16):
        d = synth_dir(spark, scale)
        spark._jvm.System.gc()
        t0 = time.perf_counter()
        out = t_stream_join(spark, d).collect()
        n_items = sum(r["n_items"] for r in out)
        print(
            f"stream_join {scale}x: {time.perf_counter() - t0:.2f}s"
            f" matches={n_items}",
            flush=True,
        )
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
