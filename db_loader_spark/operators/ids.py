"""Run-id assignment (A7) — the reference's dense counter, Spark-safe.

The reference claims a globally sequential id per log file from a config
counter (src/db_loader.clj:76-84) and reserves id blocks for concurrent
loaders (scripts/load_csv_to_cloud.sh:101-104). Dense global counters
are anti-distributed; the engine offers two modes (SURVEY.md §7):

- ``mode="hash"`` (default, scale path): id = xxhash64(file) — unique
  with overwhelming probability, embarrassingly parallel, stable across
  re-runs (idempotent re-ingest keeps ids).
- ``mode="dense"`` (compat path): base + dense_rank over file names —
  reproduces contiguous reference-style ids; costs a single-partition
  window over the *file list* only (one row per file, never fact data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from db_loader_spark.session import sql_ident


def assign_file_ids(
    lines: DataFrame,
    file_col: str = "file",
    mode: str = "hash",
    base_id: int = 0,
) -> DataFrame:
    """Attach a per-file run ``id`` column to every row."""
    if mode == "hash":
        return lines.withColumn("id", F.expr(f"abs(xxhash64({sql_ident(file_col)}))"))
    if mode == "dense":
        files = lines.select(file_col).distinct()
        w = W.orderBy(file_col)
        mapping = files.withColumn(
            "id", (F.lit(base_id) + F.dense_rank().over(w)).cast("long")
        )
        return lines.join(F.broadcast(mapping), file_col)
    raise ValueError(f"unknown id mode {mode!r}")
