"""JDBC sinks (K3-K6, src/db_loader.clj:95-99,131-165,189-224;
scripts/load_csv_to_cloud.sh:130,146).

Write strategies, mirroring the reference's escalation ladder:

- ``jdbc_write``: plain batched append (replaces row-at-a-time
  ``sql/insert-rows``) — ``batchsize`` rows per round trip, one
  connection per partition, entirely JVM-side.
- ``resilient_jdbc_write``: the K5 production shape — clean loads go
  through ``df.write.jdbc`` (zero Python-side row traffic); only when
  that fails does the Python per-row quarantine pass engage.
- ``quarantining_jdbc_write``: the error-recovery pass itself (the
  reference's per-row BatchUpdateException fallback,
  src/db_loader.clj:161-163): batched inserts, failed batches retried
  row-by-row, offenders diverted to a quarantine CSV ledger. Every row
  crosses the JVM→Python boundary — this is deliberately NOT the
  happy path; call it directly only in test harnesses.
- ``upsert_via_staging_sql``: ``mysqlimport --replace`` semantics (K6):
  load into a staging table, then one atomic
  ``INSERT ... ON DUPLICATE KEY UPDATE`` / ``ON CONFLICT`` publish —
  also the transactional-load answer (T5): cross-table atomicity lives
  in the RDBMS transaction, not in Spark.

No RDBMS exists in this container, so the quarantine pass takes an
injectable ``connect`` factory (tested with sqlite + fakes) and
``resilient_jdbc_write`` takes an injectable JVM writer; the SQL
builders are pure functions with unit tests.
"""

from __future__ import annotations

import logging
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, Row

log = logging.getLogger("db_loader_spark.sinks.jdbc")


def jdbc_write(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    mode: str = "append",
    batchsize: int = 10_000,
    num_partitions: int | None = None,
) -> None:
    """Batched JDBC append (K3). ``numPartitions`` caps concurrent
    connections — size it to what the database tolerates, not to the
    cluster's parallelism."""
    props = {"batchsize": str(batchsize), **(properties or {})}
    if num_partitions:
        df = df.coalesce(num_partitions)
    df.write.jdbc(url, table, mode=mode, properties=props)


def jdbc_read_options(
    url: str,
    query: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    fetchsize: int = 10_000,
    properties: dict[str, str] | None = None,
) -> dict[str, str]:
    """Reader options for a parameterized JDBC source (S8/S9 — the
    reference's ``jdbc/with-query-results`` dim lookups and shell
    ``mysql -e`` probes, src/parse_logs_ecj.clj:41-55,71-79;
    scripts/load_csv_to_cloud.sh:90-93,110).

    Pure function (unit-testable without a database): wraps the query as
    a derived table and, when a numeric ``partition_column`` + bounds
    are given, adds range-partitioned parallel reads — the scale path
    for pulling a large dimension without serializing on one connection.
    ``fetchsize`` keeps each round trip streaming instead of
    materializing the whole result driver-side.
    """
    opts = {
        "url": url,
        "dbtable": f"({query}) q",
        "fetchsize": str(fetchsize),
        **(properties or {}),
    }
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned read needs lower_bound and upper_bound")
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    return opts


def insert_sql(table: str, columns: list[str], dialect: str = "ansi") -> str:
    cols = ", ".join(columns)
    ph = ", ".join(["?"] * len(columns))
    return f"INSERT INTO {table} ({cols}) VALUES ({ph})"


def upsert_row_sql(
    table: str, columns: list[str], keys: list[str], dialect: str = "ansi"
) -> str:
    """Keyed row-level upsert — the idempotence primitive that makes a
    task-retry re-insert a no-op instead of a duplicate (K5/T5).

    ``ansi`` covers sqlite (3.24+) and postgres (``ON CONFLICT ... DO
    UPDATE SET c = excluded.c``); ``mysql`` uses ``ON DUPLICATE KEY
    UPDATE``. Key-only tables degrade to conflict-ignore.

    WIRE WITNESS (r10): the ansi/postgres arm of this and the staging
    publish script runs against a REAL PostgreSQL 15 server in
    tests/test_postgres_wire.py (temp cluster on a unix socket) —
    upsert-on-replay, key-only DO NOTHING, staging publish + drain,
    transaction rollback, and the divergence below are all executed on
    the wire. The MYSQL arm remains text-pinned only (no MySQL/MariaDB
    server in this sandbox).

    DIALECT DIVERGENCE on multi-unique-key tables (the mysql side is a
    documented gap — no MySQL server, so that arm has no wire witness;
    it is exercised only as generated SQL text): MySQL's
    ``ON DUPLICATE KEY UPDATE`` fires on a conflict with ANY unique
    index of the table, while ``ON CONFLICT (keys)`` targets exactly
    the named columns' index — a row conflicting on a DIFFERENT unique
    index updates in MySQL but raises a unique violation in
    sqlite/postgres (pinned by
    tests/test_sinks_streaming.py::test_upsert_multi_unique_key_edge).
    Contract: callers must pass the table's ONLY unique constraint as
    ``keys``; tables with secondary unique indexes need dialect-aware
    review before pointing this sink at MySQL."""
    if not keys:
        raise ValueError("upsert needs at least one key column")
    cols = ", ".join(columns)
    ph = ", ".join(["?"] * len(columns))
    base = f"INSERT INTO {table} ({cols}) VALUES ({ph})"
    nonkeys = [c for c in columns if c not in keys]
    if dialect == "mysql":
        if not nonkeys:
            return f"INSERT IGNORE INTO {table} ({cols}) VALUES ({ph})"
        updates = ", ".join(f"{c} = VALUES({c})" for c in nonkeys)
        return f"{base} ON DUPLICATE KEY UPDATE {updates}"
    keycols = ", ".join(keys)
    if not nonkeys:
        return f"{base} ON CONFLICT ({keycols}) DO NOTHING"
    updates = ", ".join(f"{c} = excluded.{c}" for c in nonkeys)
    return f"{base} ON CONFLICT ({keycols}) DO UPDATE SET {updates}"


def upsert_publish_sql(
    table: str, staging: str, columns: list[str], keys: list[str], dialect: str = "mysql"
) -> str:
    """The atomic staging→target publish statement (K6/T5)."""
    cols = ", ".join(columns)
    if dialect == "mysql":
        updates = ", ".join(f"{c} = VALUES({c})" for c in columns if c not in keys)
        return (
            f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {staging} "
            f"ON DUPLICATE KEY UPDATE {updates}"
        )
    if dialect == "postgres":
        keycols = ", ".join(keys)
        updates = ", ".join(f"{c} = EXCLUDED.{c}" for c in columns if c not in keys)
        return (
            f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {staging} "
            f"ON CONFLICT ({keycols}) DO UPDATE SET {updates}"
        )
    raise ValueError(f"unknown dialect {dialect!r}")


def upsert_via_staging_sql(
    table: str, staging: str, columns: list[str], keys: list[str], dialect: str = "mysql"
) -> list[str]:
    """Full publish script: create staging is the caller's DDL concern;
    this returns the transactional publish statements."""
    return [
        "BEGIN",
        upsert_publish_sql(table, staging, columns, keys, dialect),
        f"DELETE FROM {staging}",
        "COMMIT",
    ]


def resilient_jdbc_write(
    df: DataFrame,
    url: str,
    table: str,
    connect: Callable[[], object],
    quarantine_path: str,
    properties: dict[str, str] | None = None,
    batch_size: int = 1_000,
    jvm_write: Callable[[], None] | None = None,
    keys: list[str] | None = None,
    dialect: str = "ansi",
    allow_duplicate_retry: bool = False,
) -> tuple[int | None, int, Exception | None]:
    """K5, production shape: JVM happy path, Python quarantine fallback.

    Clean loads run entirely through ``df.write.jdbc`` — no row ever
    crosses the JVM→Python boundary and no ``connect()`` call is made.
    Only when the JVM write raises does the per-row quarantine pass
    (:func:`quarantining_jdbc_write`) engage to separate good rows from
    offenders.

    Returns ``(ok, quarantined, jvm_error)``; ``ok`` is ``None`` on the
    clean path (counting would cost an extra job over the whole dataset —
    at scale you read the row count off the write metrics, not a second
    scan) and ``jvm_error`` is the captured JVM-write exception when the
    fallback engaged (``None`` on a clean load), so callers can
    distinguish clean from recovered loads programmatically. The failure
    cause is also logged before the fallback runs.

    Retry idempotence is ENFORCED, not advisory: Spark's JDBC writer
    commits per task, so a failed job can leave some partitions
    committed, and a plain re-insert would duplicate them. The fallback
    therefore refuses to run unless either

    - ``keys`` is given — every fallback insert becomes a keyed
      row-level upsert (:func:`upsert_row_sql`), making re-inserts of
      already-committed rows no-ops; point ``table`` at a staging table
      and publish with :func:`upsert_via_staging_sql` for the full T5
      shape; or
    - ``allow_duplicate_retry=True`` — an explicit acknowledgment (e.g.
      the target is truncated per load, or has a uniqueness constraint
      that quarantines the duplicates by design).

    ``jvm_write`` is injectable for tests (no RDBMS with a JDBC driver
    exists in this container).
    """
    writer = jvm_write or (
        lambda: jdbc_write(df, url, table, properties, batchsize=batch_size)
    )
    try:
        writer()
        return (None, 0, None)
    except Exception as exc:  # noqa: BLE001 — any JVM-write failure escalates
        log.warning(
            "JVM JDBC write to %s failed (%s: %s); engaging per-row "
            "quarantine pass",
            table,
            type(exc).__name__,
            exc,
        )
        if keys is None and not allow_duplicate_retry:
            raise RuntimeError(
                f"refusing per-row fallback into {table!r}: the failed JVM "
                "write may have committed some partitions, and a plain "
                "re-insert would duplicate them. Pass keys=[...] for a "
                "keyed upsert fallback (ideally into a staging table "
                "published via upsert_via_staging_sql), or "
                "allow_duplicate_retry=True to acknowledge the risk."
            ) from exc
        ok, bad = quarantining_jdbc_write(
            df,
            table,
            connect,
            quarantine_path,
            batch_size,
            keys=keys,
            dialect=dialect,
        )
        return (ok, bad, exc)


def quarantining_jdbc_write(
    df: DataFrame,
    table: str,
    connect: Callable[[], object],
    quarantine_path: str,
    batch_size: int = 1_000,
    keys: list[str] | None = None,
    dialect: str = "ansi",
) -> tuple[int, int]:
    """K5 error-recovery pass: per-partition batched insert with per-row
    quarantine fallback. Every row crosses the JVM→Python pickle
    boundary — use :func:`resilient_jdbc_write` so clean loads stay in
    the JVM and this pass only runs after a JVM-write failure.

    ``connect()`` must return a DB-API connection. Failed batches are
    retried row-by-row; rows that still fail are appended (with the
    error message) to ``quarantine_path`` as CSV — the reference's
    ``db.err`` ledger (src/db_loader.clj:161-163), but per-executor
    files so there is no driver bottleneck. Returns ``(ok, quarantined)``
    row totals so callers can alert on quarantine volume.

    With ``keys`` given, every insert becomes a keyed row-level upsert
    (:func:`upsert_row_sql`): a Spark task retry that replays rows the
    failed attempt already committed upserts them in place instead of
    duplicating them — the commit-per-batch granularity below is then
    safe under retries, not merely fast.
    """
    columns = df.columns
    sql = (
        upsert_row_sql(table, columns, keys, dialect)
        if keys
        else insert_sql(table, columns)
    )

    def write_partition(rows: Iterator[Row]) -> Iterator[tuple[int, int]]:
        import csv
        import os
        import uuid

        conn = connect()
        try:
            cur = conn.cursor()
        except Exception:
            conn.close()
            raise
        ok = bad = 0
        quarantined: list[tuple] = []
        batch: list[tuple] = []

        def flush(batch: list[tuple]) -> None:
            nonlocal ok, bad
            if not batch:
                return
            try:
                cur.executemany(sql, batch)
                conn.commit()  # batch granularity — a failure can't undo it
                ok += len(batch)
            except Exception:
                conn.rollback()
                for row in batch:  # row-at-a-time fallback (K5)
                    try:
                        cur.execute(sql, row)
                        conn.commit()  # per-row commit: later failures
                        ok += 1  # must not roll back earlier successes
                    except Exception as exc:  # noqa: BLE001 — quarantine anything
                        conn.rollback()
                        quarantined.append((*row, str(exc)))
                        bad += 1

        try:
            for r in rows:
                batch.append(tuple(r[c] for c in columns))
                if len(batch) >= batch_size:
                    flush(batch)
                    batch = []
            flush(batch)
            conn.commit()
        finally:
            conn.close()  # never leak the per-partition connection
        if quarantined:
            os.makedirs(quarantine_path, exist_ok=True)
            part = os.path.join(quarantine_path, f"part-{uuid.uuid4().hex}.csv")
            with open(part, "w", newline="") as fh:
                w = csv.writer(fh)
                w.writerow([*columns, "_error"])
                w.writerows(quarantined)
        yield (ok, bad)

    # mapPartitions (not foreachPartition) so counts surface to the driver.
    totals = df.rdd.mapPartitions(write_partition).collect()
    return (
        sum(t[0] for t in totals),
        sum(t[1] for t in totals),
    )
