#!/usr/bin/env python
"""1x/4x/16x sweep for the ANN serving arms (SCALE.md evidence).

Synthetic unit-ish vectors (hash-deterministic, isotropic like the
driver corpus) with a FIXED 8-query batch. Claims to measure:

  - IVF serving (cached index): probe fraction is ~nprobe/cells, so
    the serving join scales with corpus size × probe fraction — wall
    ~linear with a small constant.
  - PQ-ADC serving (cached codebooks+codes): the coded-corpus scan is
    a linear broadcast-joined projection over M small-int columns —
    wall ~linear, with the representation being M ints per vector
    instead of dim floats (the memory story is the point at 1B+
    vectors; the slope here validates the compute story).
  - index BUILD cost (trainer + coding), reported separately: ~linear
    passes over the corpus, amortized across every later query batch.

Methodology as graph_scale.py (warm pass, System.gc, fresh synthetic
dirs; caches cleared between scales so builds are really measured).
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
from db_loader_spark.staging import stage_path

BASE_VECTORS = 2_000  # driver sf0.1 scale as the 1x point
DIM = 64


def _sweep_artifact_bases(sf_dir: str) -> list[str]:
    """The on-disk PQ/IVF-PQ/IVF index stages a sweep pass creates for
    a SYNTHETIC corpus dir — removed with the corpus so repeated sweeps
    don't accumulate orphaned indexes in the temp dir (the testdata
    corpora's stages are deliberately kept)."""
    return [stage_path(sf_dir, f"{kind}_index") for kind in ("ivf", "pq", "ivfpq")]


def synth_dir(spark, scale: int) -> str:
    d = tempfile.mkdtemp(prefix=f"ann_scale_{scale}x_")
    n = BASE_VECTORS * scale
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, %d), j ->"
            " CAST(pmod(hash(concat('v:', id, '#', j)), 2001) - 1000 AS DOUBLE)"
            " / 1000)" % DIM
        ).alias("embedding"),
    )
    emb.write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    return d


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def main() -> None:
    from db_loader_spark.queries import similarity as Q
    from db_loader_spark.tables import load_table

    spark = get_spark("ann-scale")
    spark.range(1).count()
    warm = synth_dir(spark, 1)
    Q.ann_ivf_topk(spark, warm).count()
    Q.ann_pq_topk(spark, warm).count()
    Q.ann_ivfpq_topk(spark, warm).count()
    Q.clear_ivf_cache()
    # unpersist before clearing (same as the measured loop): a bare
    # .clear() leaks the warm pass's pinned codes/books blocks into
    # the measured passes and skews the 1x timings (ADVICE r7)
    for entry in Q._PQ_INDEX.values():
        Q._evict_pq_entry(entry)
    Q._PQ_INDEX.clear()
    for entry in Q._IVFPQ_INDEX.values():
        Q._evict_pq_entry(entry)
    Q._IVFPQ_INDEX.clear()
    for b in _sweep_artifact_bases(warm):
        shutil.rmtree(b, ignore_errors=True)
    shutil.rmtree(warm, ignore_errors=True)
    print("--- warm done, measured passes follow ---", flush=True)
    for scale in (1, 4, 16):
        d = synth_dir(spark, scale)
        emb = load_table(spark, d, "embeddings")
        spark._jvm.System.gc()
        _, t_ivf_build = timed(lambda: Q._ivf_index(spark, d, emb)[1].count())
        _, t_ivf = timed(lambda: Q.ann_ivf_topk(spark, d).count())
        spark._jvm.System.gc()
        _, t_pq_build = timed(lambda: Q._pq_index(spark, d, emb)[1].count())
        _, t_pq = timed(lambda: Q.ann_pq_topk(spark, d).count())
        spark._jvm.System.gc()
        _, t_ipq_build = timed(lambda: Q._ivfpq_index(spark, d, emb)[1].count())
        _, t_ipq = timed(lambda: Q.ann_ivfpq_topk(spark, d).count())
        print(
            f"ann {scale}x ({BASE_VECTORS * scale} vectors):"
            f" ivf build {t_ivf_build:.2f}s serve {t_ivf:.2f}s |"
            f" pq build {t_pq_build:.2f}s serve {t_pq:.2f}s |"
            f" ivfpq build {t_ipq_build:.2f}s serve {t_ipq:.2f}s",
            flush=True,
        )
        Q.clear_ivf_cache()
        for entry in Q._PQ_INDEX.values():
            Q._evict_pq_entry(entry)
        Q._PQ_INDEX.clear()
        for entry in Q._IVFPQ_INDEX.values():
            Q._evict_pq_entry(entry)
        Q._IVFPQ_INDEX.clear()
        for b in _sweep_artifact_bases(d):
            shutil.rmtree(b, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
