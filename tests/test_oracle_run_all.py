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
