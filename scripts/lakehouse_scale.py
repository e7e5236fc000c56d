#!/usr/bin/env python
"""1x/4x/16x sweep for the two r7 streaming keys that had no measured
slope (VERDICT r7 #7): t_stream_lakehouse (micro-batches committing
through the manifest layer + OPTIMIZE epilogue) and t_stream_ann_index
(incremental IVF list maintenance against the fixed coarse quantizer).

Synthetic events/embeddings with the testdata schemas, run through the
REAL registry wrappers. Claims to measure, not assume:

  - lakehouse: wall ~linear in rows — per-batch cost is the batch's
    scan + one manifest append (file-list JSON + pointer flip, both
    O(files), constant per batch); the OPTIMIZE epilogue is one more
    bounded commit. A super-linear slope would mean a commit is
    rescanning the table.
  - ann_index: wall ~linear in rows — per-batch cost is
    |batch| x cells against broadcast centroids; the coarse quantizer
    trains ONCE on the synthetic corpus (session-cached _ivf_index)
    and is excluded via the warm pass at each scale.

Deterministic hash-based data, same methodology as stream_scale.py /
ann_scale.py (warm pass, System.gc between passes, fresh dirs).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from db_loader_spark.queries.similarity import clear_ivf_cache
from db_loader_spark.queries.streamingq import t_stream_ann_index, t_stream_lakehouse
from db_loader_spark.session import get_spark

BASE_EVENTS = 60_000
BASE_VECTORS = 4_000
DIM = 64  # must match functions.similarity.EMBEDDING_DIM (testdata dim)


def synth_dir(spark, scale: int) -> str:
    d = tempfile.mkdtemp(prefix=f"lakehouse_scale_{scale}x_")
    n = BASE_EVENTS * scale
    events = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.expr(
            "timestamp '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0,"
            " CAST(pmod(hash(concat('t:', id)), 2592000) AS INT))"
        ).alias("ts"),
        F.expr("pmod(hash(concat('u:', id)), 1000)").alias("user_id"),
        F.expr("concat('type_', pmod(hash(concat('e:', id)), 5))").alias(
            "event_type"
        ),
        F.expr(
            "CAST(pmod(hash(concat('v:', id)), 100000) AS DOUBLE) / 100"
        ).alias("value"),
        F.lit('{"k": 1}').alias("props"),
    )
    events.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    m = BASE_VECTORS * scale
    cols = ", ".join(
        f"CAST(pmod(hash(concat('x{i}:', id)), 2000) - 1000 AS FLOAT) / 1000"
        for i in range(DIM)
    )
    emb = spark.range(m).select(
        F.col("id").alias("vec_id"),
        F.expr(f"array({cols})").alias("embedding"),
        F.expr("CAST(pmod(hash(concat('l:', id)), 4) AS INT)").alias("label"),
    )
    emb.write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    return d


def main() -> None:
    spark = get_spark("lakehouse-scale")
    spark.range(1).count()
    warm = synth_dir(spark, 1)
    t_stream_lakehouse(spark, warm).count()
    t_stream_ann_index(spark, warm).count()
    clear_ivf_cache()
    shutil.rmtree(warm, ignore_errors=True)
    print("--- warm done, measured passes follow ---", flush=True)
    for scale in (1, 4, 16):
        d = synth_dir(spark, scale)
        spark._jvm.System.gc()
        t0 = time.perf_counter()
        rows = t_stream_lakehouse(spark, d).collect()
        t_lake = time.perf_counter() - t0
        n_rows = sum(r["n_events"] for r in rows)
        # ann_index: train the quantizer OUTSIDE the timed window (the
        # deployment shape — ingest assigns against a fixed quantizer)
        from db_loader_spark.queries.similarity import _ivf_index
        from db_loader_spark.tables import load_table

        _ivf_index(spark, d, load_table(spark, d, "embeddings"))
        spark._jvm.System.gc()
        t0 = time.perf_counter()
        out = t_stream_ann_index(spark, d).collect()
        t_ann = time.perf_counter() - t0
        n_vec = sum(r["n_vectors"] for r in out)
        print(
            f"lakehouse {scale}x: ingest {t_lake:.2f}s rows={n_rows} |"
            f" ann_index {t_ann:.2f}s vectors={n_vec}",
            flush=True,
        )
        clear_ivf_cache()
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
