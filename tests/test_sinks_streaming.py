"""Sink + streaming tests: CSV round-trip, quarantining DB writer
(against sqlite as the DB-API stand-in), upsert SQL builders, and the
Structured Streaming ingest with exactly-once file tracking."""

from __future__ import annotations

import os
import sqlite3
import time

import pytest
from pyspark.sql import functions as F

from db_loader_spark.sinks.csv_sink import clean_csvs, write_csv_table
from db_loader_spark.sinks.jdbc_sink import (
    quarantining_jdbc_write,
    resilient_jdbc_write,
    upsert_publish_sql,
    upsert_via_staging_sql,
)

LOG = """\
p1 = v1
Clojush version = aaa
;;;;;;;;;;
;; -*- Report at generation 0
f: 1
;;;;;;;;;;
SUCCESS at generation 0
"""


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 'va"l,ue'), (2, "plain")], "id long, value string"
    )
    out = str(tmp_path / "t")
    write_csv_table(df, out)
    write_csv_table(df, out)  # append (K1)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 4
    # quoting keeps comma-bearing values intact (reference bug fixed, K1)
    vals = [r.value for r in back.collect()]
    assert vals.count('va"l,ue') == 2
    assert clean_csvs(str(tmp_path), ["t"]) == [out]
    assert not os.path.exists(out)


def test_upsert_sql_builders():
    stmts = upsert_via_staging_sql(
        "experiments", "experiments_stg", ["id", "user", "problem_id"], ["id"]
    )
    assert stmts[0] == "BEGIN" and stmts[-1] == "COMMIT"
    assert "ON DUPLICATE KEY UPDATE" in stmts[1]
    pg = upsert_publish_sql("t", "s", ["a", "b"], ["a"], dialect="postgres")
    assert "ON CONFLICT (a) DO UPDATE SET b = EXCLUDED.b" in pg


def test_jdbc_read_options():
    from db_loader_spark.sinks.jdbc_sink import jdbc_read_options

    opts = jdbc_read_options(
        "jdbc:mysql://host/db",
        "SELECT problem_name, problem_id FROM experiments GROUP BY 1, 2",
        partition_column="problem_id",
        lower_bound=0,
        upper_bound=1000,
        num_partitions=4,
    )
    assert opts["dbtable"].startswith("(SELECT") and opts["dbtable"].endswith(") q")
    assert opts["partitionColumn"] == "problem_id"
    assert (opts["lowerBound"], opts["upperBound"], opts["numPartitions"]) == (
        "0",
        "1000",
        "4",
    )
    assert opts["fetchsize"] == "10000"
    with pytest.raises(ValueError):
        jdbc_read_options("u", "q", partition_column="x")


def test_quarantining_writer(spark, tmp_path):
    db = str(tmp_path / "test.db")
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT NOT NULL)")
        conn.execute("INSERT INTO t VALUES (2, 'pre-existing')")

    df = spark.createDataFrame(
        [(1, "ok"), (2, "pk-conflict"), (3, None), (4, "ok2")], "id long, v string"
    ).coalesce(1)
    qdir = str(tmp_path / "quarantine")
    ok, bad = quarantining_jdbc_write(
        df, "t", connect=lambda: sqlite3.connect(db), quarantine_path=qdir, batch_size=2
    )
    assert (ok, bad) == (2, 2)
    with sqlite3.connect(db) as conn:
        rows = dict(conn.execute("SELECT id, v FROM t").fetchall())
    assert rows == {1: "ok", 2: "pre-existing", 4: "ok2"}
    qfiles = os.listdir(qdir)
    assert len(qfiles) == 1
    content = open(os.path.join(qdir, qfiles[0])).read()
    assert "pk-conflict" in content and "_error" in content  # K5 ledger


def test_resilient_write_clean_path_stays_in_jvm(spark, tmp_path):
    """A clean load must make ZERO Python-side connections — the happy
    path is the JVM writer, the quarantine pass is failure-only."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    connects = []

    def forbidden_connect():
        connects.append(1)
        raise AssertionError("quarantine pass engaged on a clean load")

    ok, bad, jvm_err = resilient_jdbc_write(
        df,
        "jdbc:fake://h/db",
        "t",
        connect=forbidden_connect,
        quarantine_path=str(tmp_path / "q"),
        jvm_write=lambda: None,  # stands in for a successful df.write.jdbc
    )
    assert (ok, bad, jvm_err) == (None, 0, None)
    assert connects == []  # no JVM->Python row traffic at all
    assert not (tmp_path / "q").exists()


def test_resilient_write_falls_back_to_quarantine(spark, tmp_path):
    db = str(tmp_path / "test.db")
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT NOT NULL)")

    df = spark.createDataFrame(
        [(1, "ok"), (3, None), (4, "ok2")], "id long, v string"
    ).coalesce(1)

    def failing_jvm_write():
        raise RuntimeError("BatchUpdateException: NOT NULL constraint")

    qdir = str(tmp_path / "quarantine")
    ok, bad, jvm_err = resilient_jdbc_write(
        df,
        "jdbc:fake://h/db",
        "t",
        connect=lambda: sqlite3.connect(db),
        quarantine_path=qdir,
        jvm_write=failing_jvm_write,
        keys=["id"],  # retry-idempotent fallback (guard requires it)
    )
    assert (ok, bad) == (2, 1)
    assert "NOT NULL" in str(jvm_err)  # cause surfaced, not swallowed
    with sqlite3.connect(db) as conn:
        rows = dict(conn.execute("SELECT id, v FROM t").fetchall())
    assert rows == {1: "ok", 4: "ok2"}
    assert len(os.listdir(qdir)) == 1  # the offender landed in the ledger


def test_resilient_write_refuses_duplicating_fallback(spark, tmp_path):
    """Without keys (or an explicit acknowledgment) the per-row fallback
    must NOT run: a failed JVM job may have committed some partitions,
    and a plain re-insert would duplicate them."""
    df = spark.createDataFrame([(1, "a")], "id long, v string")

    def failing_jvm_write():
        raise RuntimeError("connection reset")

    with pytest.raises(RuntimeError, match="refusing per-row fallback"):
        resilient_jdbc_write(
            df,
            "jdbc:fake://h/db",
            "t",
            connect=lambda: sqlite3.connect(str(tmp_path / "x.db")),
            quarantine_path=str(tmp_path / "q"),
            jvm_write=failing_jvm_write,
        )
    assert not (tmp_path / "q").exists()  # fallback never engaged


def test_task_retry_is_idempotent_with_keys(spark, tmp_path):
    """VERDICT r2 #5 'Done' criterion: a simulated task retry (the same
    partition written twice, as Spark does after a task failure) must
    leave no duplicate rows in the target when keys are given."""
    db = str(tmp_path / "test.db")
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)")
        # first attempt committed these before the task died:
        conn.execute("INSERT INTO t VALUES (1, 'stale'), (2, 'b')")

    df = spark.createDataFrame(
        [(1, "a-fixed"), (2, "b"), (3, "c")], "id long, v string"
    ).coalesce(1)
    ok, bad = quarantining_jdbc_write(
        df,
        "t",
        connect=lambda: sqlite3.connect(db),
        quarantine_path=str(tmp_path / "q"),
        keys=["id"],
    )
    assert (ok, bad) == (3, 0)
    with sqlite3.connect(db) as conn:
        rows = dict(conn.execute("SELECT id, v FROM t ORDER BY id").fetchall())
    # no duplicates; replayed rows upserted in place
    assert rows == {1: "a-fixed", 2: "b", 3: "c"}


def test_upsert_row_sql_dialects():
    from db_loader_spark.sinks.jdbc_sink import upsert_row_sql

    ansi = upsert_row_sql("t", ["id", "v"], ["id"])
    assert "ON CONFLICT (id) DO UPDATE SET v = excluded.v" in ansi
    my = upsert_row_sql("t", ["id", "v"], ["id"], dialect="mysql")
    assert "ON DUPLICATE KEY UPDATE v = VALUES(v)" in my
    # key-only tables degrade to conflict-ignore
    assert "DO NOTHING" in upsert_row_sql("t", ["id"], ["id"])
    assert upsert_row_sql("t", ["id"], ["id"], dialect="mysql").startswith(
        "INSERT IGNORE"
    )
    with pytest.raises(ValueError):
        upsert_row_sql("t", ["id"], [])


def test_stream_log_tables_exactly_once(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    (in_dir / "run_one.log").write_text(LOG)

    from db_loader_spark.streaming.file_ingest import stream_log_tables

    q = stream_log_tables(spark, str(in_dir), out_dir, ckpt)
    q.awaitTermination(120)
    exp1 = spark.read.parquet(f"{out_dir}/experiment")
    assert exp1.count() == 2  # p1, Clojush version
    assert spark.read.parquet(f"{out_dir}/summary").count() == 1

    # second file arrives; rerun with same checkpoint → ONLY it is ingested (T2)
    (in_dir / "run_two.log").write_text(LOG.replace("aaa", "bbb"))
    q2 = stream_log_tables(spark, str(in_dir), out_dir, ckpt)
    q2.awaitTermination(120)
    exp2 = spark.read.parquet(f"{out_dir}/experiment")
    assert exp2.count() == 4  # 2 + 2, no re-processing of run_one
    assert spark.read.parquet(f"{out_dir}/summary").count() == 2


def test_stream_event_rollup(spark):
    from db_loader_spark.streaming.file_ingest import stream_event_rollup
    from db_loader_spark.tables import load_table

    q = stream_event_rollup(
        spark, "/root/testdata/sf0.001/events.parquet", query_name="roll_t"
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM roll_t")
    assert out.columns == ["window_start", "event_type", "n", "total_value"]
    # complete mode must emit EVERY window — equal to the batch rollup
    batch = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    assert out.count() == batch.count() > 0
    assert out.exceptAll(batch).count() == 0


def test_ecj_pipeline(spark, tmp_path):
    ecj = tmp_path / "ecj"
    ecj.mkdir()
    (ecj / "run.log").write_text(
        "Generation: 0\n"
        "Fitness Mean: 0.5\n"
        "continuation without colon\n"
        "Best Fitness: 0.9\n"
        "of Run: 1\n"
        "Final Result: yes\n"
    )
    from db_loader_spark.plans.ecj import parse_ecj_log, parse_ecj_params

    got = {
        (r.gen_group, r.param): r.value for r in parse_ecj_log(spark, str(ecj)).collect()
    }
    assert got[(1, "FitnessMean")] == "0.5 continuation without colon"  # P14+P13
    assert got[(1, "BestFitness")] == "0.9"
    assert got[(2, "FinalResult")] == "yes"
    assert got[(1, "Generation")] == "0"

    (ecj / "params.txt").write_text("pop.size=200\nmutation = 0.1\n")
    params = {
        r.param: r.value
        for r in parse_ecj_params(spark, str(ecj / "params.txt")).collect()
    }
    assert params == {"pop.size": "200", "mutation": "0.1"}


def test_upsert_multi_unique_key_edge(tmp_path):
    """The documented mysql/ansi divergence (jdbc_sink.upsert_row_sql):
    ON CONFLICT (keys) targets exactly the named index, so a row that
    conflicts on a DIFFERENT unique index raises instead of updating —
    whereas MySQL's ON DUPLICATE KEY UPDATE (no wire witness in this
    sandbox: no server) would silently update the email-conflicting
    row. Pins the ansi half of the contract: keys must be the table's
    only unique constraint."""
    from db_loader_spark.sinks.jdbc_sink import upsert_row_sql

    db = str(tmp_path / "u.db")
    with sqlite3.connect(db) as conn:
        conn.execute(
            "CREATE TABLE t (id INTEGER PRIMARY KEY, email TEXT UNIQUE, v TEXT)"
        )
        sql = upsert_row_sql("t", ["id", "email", "v"], keys=["id"])
        conn.execute(sql, (1, "a@x", "v1"))
        # same id → the targeted index conflicts → clean update
        conn.execute(sql, (1, "a2@x", "v2"))
        assert conn.execute("SELECT email, v FROM t WHERE id = 1").fetchone() == (
            "a2@x", "v2",
        )
        # new id, duplicate email → conflict on the UNTARGETED unique
        # index: ansi raises (mysql would update row id=1 instead)
        with pytest.raises(sqlite3.IntegrityError):
            conn.execute(sql, (2, "a2@x", "v3"))
        assert conn.execute("SELECT COUNT(*) FROM t").fetchone() == (1,)
