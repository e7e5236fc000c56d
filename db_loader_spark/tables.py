"""Loaders for the driver's TPC-H-ish parquet testdata.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file each under
``{sf_dir}/{name}.parquet``.

Reads are plain ``spark.read.parquet`` so Catalyst gets full pushdown /
pruning. Parquet carries its schema, but Spark still reads it with a
one-task footer job on every read; :func:`_read_parquet` pays that job
once per table version.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType

from db_loader_spark.staging import build_stage, source_stamp, stage_path

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The confs that change the schema Spark infers from a parquet footer.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)
_SCHEMAS: dict[tuple, tuple[str, StructType]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        return _load_events(spark, os.path.join(sf_dir, "events.parquet"))
    return _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema once per table
    version.

    The memo holds one ``(source_stamp, schema)`` per file path and set
    of values of the confs that change an inferred schema, so a flipped
    conf infers under its own entry and a re-shipped file (new stamp)
    infers again and replaces its stale entry (the staging reader
    contract: a cache over a source keys on its stamp). The stamp is
    taken before the inference, so a file replaced mid-read leaves an
    entry that never matches. The memo holds metadata only; every read
    still builds a fresh scan. Only plain files are memoized: a
    directory's file set can change without its own stamp changing. A
    read that throws stores nothing."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    key = (os.path.abspath(path), *(spark.conf.get(c, None) for c in _SCHEMA_CONFS))
    stamp = source_stamp(path)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamp, df.schema)
    return df


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Load events with ``ts`` normalized to TIMESTAMP micros.

    The driver has shipped this table with two physical encodings of
    ``ts`` across rounds — parquet TIMESTAMP(NANOS) (readable only as
    long via nanosAsLong) and plain TIMESTAMP(MICROS) (read as
    TIMESTAMP_NTZ) — so the decode is schema-adaptive rather than
    hard-coded. TIMESTAMP (LTZ) is the canonical downstream type:
    ``unix_micros`` requires it (rejects NTZ outright), and under the
    UTC session timezone ``get_spark`` pins, LTZ values and formatting
    agree exactly with DuckDB's naive TIMESTAMP (verified by the r1/r2
    hash-matched correctness rows).
    """
    df = read_raw_events(spark, path)
    return df.withColumn("ts", decode_ts(df.schema["ts"].dataType))


def read_raw_events(spark: SparkSession, path: str) -> DataFrame:
    """The events parquet at ``path`` (a file or a directory) with
    ``ts`` as stored; :func:`decode_ts` of its type canonicalizes it."""
    try:
        return _read_parquet(spark, path)
    except Exception:
        # Vanilla session + TIMESTAMP(NANOS) file: the read itself throws
        # PARQUET_TYPE_ILLEGAL. nanosAsLong has no per-read form, so the
        # fallback is unavoidably session-wide; only touched on failure.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return _read_parquet(spark, path)


def decode_ts(dt):
    """Column expression turning a raw ``ts`` of type *dt* into TIMESTAMP micros."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampType

    if isinstance(dt, LongType):
        # nanos-as-long. `ts div 1000` is exact INTEGER division.
        # `floor(ts / 1000)` would go through DOUBLE, whose 53-bit
        # mantissa can't hold ~1.7e18 ns (ulp ≈ 256 ns) — that rounding
        # made Spark's micros disagree with DuckDB's exact truncation by
        # ±1 µs on ~0.4% of rows.
        return F.timestamp_micros(F.expr("ts div 1000"))
    if isinstance(dt, TimestampType):
        return F.col("ts")
    # TIMESTAMP_NTZ: naive→instant under the session timezone; identity
    # on the naive value for formatting/roundtrip, exact under UTC.
    return F.col("ts").cast("timestamp")


REPLICA_STRIDE = 1_000_000_000


def replica(
    spark: SparkSession, sf_dir: str, x: int, tables: tuple[str, ...] = TABLE_NAMES
) -> str:
    """Stage an ``x``-fold replica of ``tables`` from ``sf_dir`` and
    return its directory, which every query reads like an sf dir.

    Replica ``rep`` (0 .. x-1) of a table is a copy with every int64
    column named ``*key`` or ``*_id`` shifted by ``rep * REPLICA_STRIDE``,
    so the copies are disjoint and every foreign-key join stays inside
    its copy. A table with no such column (``nation``, ``region``) is
    copied once. Two more columns change, so that copies are not exact
    duplicates of each other: ``documents.text`` gets ``' replica<rep>'``
    appended, and ``embeddings.embedding`` is rotated ``rep`` components
    to the left.

    Each table is its own stage (``staging.build_stage``), stamped with
    its source file, so it is built once per source version and a
    second call runs no job."""
    out = stage_path(sf_dir, f"replica_x{x}")
    os.makedirs(out, exist_ok=True)
    for name in tables:
        src = os.path.join(sf_dir, f"{name}.parquet")

        def build(scratch: str, name=name) -> None:
            # the raw columns: a copy keeps its source's physical types
            _replicate(_read_parquet(spark, src), x).write.mode(
                "overwrite"
            ).parquet(scratch)

        build_stage(
            os.path.join(out, f"{name}.parquet"),
            f"{source_stamp(src)}:replica:v2",  # bump when the rule changes
            build,
        )
    return out


def _replicate(df: DataFrame, x: int) -> DataFrame:
    """One scan per copy, unioned: each copy keeps the source's files
    and splits, so an x-fold table is read by at least x tasks."""
    from functools import reduce

    from pyspark.sql import functions as F

    ids = [
        f.name
        for f in df.schema
        if isinstance(f.dataType, LongType) and f.name.endswith(("key", "_id"))
    ]
    if not ids:
        return df

    def copy(rep: int) -> DataFrame:
        shifted = {c: F.col(c) + F.lit(rep * REPLICA_STRIDE) for c in ids}
        if "text" in df.columns:
            shifted["text"] = F.concat(F.col("text"), F.lit(f" replica{rep}"))
        if "embedding" in df.columns:
            shifted["embedding"] = F.expr(
                f"transform(embedding, (v, i) -> embedding[(i + {rep}) % size(embedding)])"
            )
        return df.select(*[shifted.get(c, F.col(c)).alias(c) for c in df.columns])

    return reduce(DataFrame.unionAll, [copy(rep) for rep in range(x)])


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    names = names or TABLE_NAMES
    return {n: load_table(spark, sf_dir, n) for n in names}
