"""oracle.run_all: named diagnostics are checked, unknown names fail."""

from __future__ import annotations

import pytest

from db_loader_spark.oracle import run_all


def test_run_all_rejects_unknown_names(spark, sf_dir):
    with pytest.raises(KeyError, match="no_such_query"):
        run_all(spark, sf_dir, only=["dedup_minhash_lsh", "no_such_query"])


def test_run_all_checks_named_diagnostics(spark, sf_dir):
    results = run_all(spark, sf_dir, only=["dedup_minhash_tuned"])
    assert [(r.name, r.ok) for r in results] == [("dedup_minhash_tuned", True)]


def test_run_all_records_a_raising_query_and_goes_on(spark, sf_dir, monkeypatch):
    """A query that raises — in its Spark plan or in its oracle — is a
    failed result, not the end of the sweep."""
    import db_loader_spark.queries as Q

    def boom(spark, sf_dir):
        raise ValueError("boom")

    specs = {
        "boom": Q.QuerySpec(boom, "SELECT 1 AS id"),
        "bad_oracle": Q.QuerySpec(
            lambda s, d: s.range(1), "SELECT * FROM no_such_table"
        ),
        "fine": Q.QuerySpec(
            lambda s, d: s.range(3), "SELECT CAST(range AS BIGINT) AS id FROM range(3)"
        ),
    }
    monkeypatch.setattr(Q, "all_queries", lambda: specs)
    results = run_all(spark, sf_dir)
    assert [(r.name, r.ok, r.spark_rows, r.oracle_rows) for r in results] == [
        ("boom", False, -1, -1),
        ("bad_oracle", False, -1, -1),
        ("fine", True, 3, 3),
    ]
    assert results[0].detail == repr(ValueError("boom"))
    assert "no_such_table" in results[1].detail
