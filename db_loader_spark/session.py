"""SparkSession factory tuned for both local testing and cluster scale.

Local runs use ``local[N]`` (single JVM); the same builder settings —
AQE, skew-join handling, partition coalescing, UTC session timezone,
Arrow — are the ones you would ship to a 1000-executor cluster. Only
``master`` and the memory sizing are local-mode artifacts.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def usable_cpus() -> int:
    """Cores this process may run on (its affinity mask, which honours
    container CPU sets), not the host's core count."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # platforms without sched_getaffinity
        return os.cpu_count() or 1


DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(usable_cpus())


def get_spark(app_name: str = "db_loader_spark", cpus: str | None = None) -> SparkSession:
    """Return the singleton SparkSession with scale-aware defaults.

    - AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic join-strategy switching replace hand-tuned partition counts
      at 100 TB.
    - ``spark.sql.shuffle.partitions`` seeds AQE's initial parallelism;
      locally = core count, on a cluster AQE re-coalesces per stage.
    - Session timezone pinned to UTC so timestamps agree with
      UTC-naive parquet/DuckDB semantics.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime row-level filtering: build a bloom filter from the
        # small join side and prune the big side's scan — at 100 TB this
        # is the difference between scanning a fact table and scanning
        # the ~join-matched slice of it.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # MIN/MAX/COUNT over parquet answered from footer statistics —
        # no row reads for pure metadata aggregates (a2_max_id shape).
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Back-compat with TIMESTAMP(NANOS) parquet (the r1-r2 events
        # encoding): harmless for MICROS files, and avoids mutating the
        # session conf per table load if the driver ever ships nanos
        # again; tables.decode_ts adapts to whichever type the read gives.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: str | StructType | None = None) -> DataFrame:
    """Driver-side rows → a DataFrame that plans as a ``LocalRelation``.

    ``rows`` is a sequence of tuples in ``schema`` order (a DDL string
    or StructType), or a ``pyarrow.Table`` such as ``df.toArrow()``,
    which carries its own schema. ``createDataFrame`` over a Python
    list plans as a ``LogicalRDD`` whose every use runs a stage on
    Python workers; an Arrow table becomes a ``LocalRelation`` held in
    the JVM, whatever ``spark.sql.execution.arrow.pyspark.enabled``
    says, so no use of it starts a Python worker. Naive datetimes are
    read as UTC."""
    import pyarrow as pa

    if isinstance(rows, pa.Table):
        return spark.createDataFrame(rows)
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table)


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier: the only form in
    which a caller-supplied column name enters SQL text."""
    return "`" + name.replace("`", "``") + "`"


def thread_target(spark: SparkSession, fn: Callable) -> Callable:
    """``fn`` wrapped to run Spark actions from a pool thread.

    Under py4j's pinned-thread mode (the PySpark default) each Python
    thread gets its own JVM thread; ``inheritable_thread_target`` ties
    that JVM thread's lifetime to the Python thread (repeated in-process
    runs would otherwise leak JVM threads) and carries the session's
    local properties and tags over. With ``PYSPARK_PIN_THREAD=false``
    PySpark hands the session back unwrapped instead of a decorator, so
    ``fn`` runs as it is."""
    from pyspark import inheritable_thread_target

    wrap = inheritable_thread_target(spark)
    return fn if wrap is spark else wrap(fn)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


# The data-sized shuffle rule: one partition per this many input bytes,
# never fewer than the floor, never more than the session's configured
# ``spark.sql.shuffle.partitions`` (the ceiling a cluster deployment
# sets to its executor-core budget).
BYTES_PER_PARTITION = 32 * 1024 * 1024
PARTITION_FLOOR = 8


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict):
    """Set every key of ``conf`` for the body, then restore each one,
    also when the body raises. A key that was not set before goes back
    to unset: ``spark.conf.get(k, None)`` is ``None`` for a key that was
    never set, even one that has a default, and restoring that by
    ``set`` would pin the default as an explicit value."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def sized_partitions(spark: SparkSession, est_bytes: int) -> int:
    """The shuffle partition count for ``est_bytes`` of input: one per
    ``BYTES_PER_PARTITION``, floored at ``PARTITION_FLOOR`` and clamped
    to the session's ``spark.sql.shuffle.partitions``. Used directly
    for a single explicit ``repartition`` whose input size the caller
    knows (g_pagerank's contrib frame: ~48 B × 2m edge rows). The same
    rule that yields the floor on a MB-sized frame yields hundreds of
    partitions on a 100 TB one, capped at the configured ceiling."""
    target = max(PARTITION_FLOOR, est_bytes // BYTES_PER_PARTITION)
    ceiling = spark.conf.get("spark.sql.shuffle.partitions")
    return min(int(ceiling), target) if str(ceiling).isdigit() else target


def _path_bytes(path: str) -> int:
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _dirs, files in os.walk(path)
            for f in files
        )
    return os.path.getsize(path) if os.path.exists(path) else 0


@contextmanager
def data_sized_shuffle(spark: SparkSession, *paths: str):
    """Scope ``spark.sql.shuffle.partitions`` to the INPUT DATA SIZE
    (``sized_partitions`` of the bytes under ``paths``) for a
    multi-stage query, then restore.

    AQE coalesces post-shuffle partitions by size, but a composed
    pipeline of 20+ jobs over a small input still pays per-stage
    scheduling for ``shuffle.partitions`` map-side tasks in every
    exchange — measured 6.6 → 5.1 s on curation_e2e at sf0.1 purely
    from right-sizing this bound.

    ONLY valid around wrappers that MATERIALIZE inside the scope
    (the settle pattern): shuffle.partitions is read at execution
    time, so a lazily returned plan executed after restore would not
    see the sizing.
    """
    sized = sized_partitions(spark, sum(_path_bytes(p) for p in paths))
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(sized)}):
        yield
