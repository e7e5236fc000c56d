"""load_table infers a table's parquet schema once per table version.

Spark reads a parquet schema with a one-task footer job. The memo in
``tables._read_parquet`` keys on the file's path and source stamp and on
the confs that change an inferred schema, so a second read of the same
file runs no job, a re-shipped file (new mtime) or a flipped conf infers
again, and the memoized schema is the one Spark would infer.
"""

from __future__ import annotations

import os
import shutil

from db_loader_spark.session import scoped_conf
from db_loader_spark.tables import load_table
from db_loader_spark.trace import trace


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn`` runs."""
    with trace(spark) as traced:
        fn()
    return traced["jobs"]


def _shipped(src_dir: str, tmp_path, name: str) -> str:
    """A private copy of table ``name``, so its mtime can be bumped."""
    dest = tmp_path / "sf"
    dest.mkdir(exist_ok=True)
    shutil.copy(os.path.join(src_dir, f"{name}.parquet"), dest)
    return str(dest)


def test_second_read_runs_no_job(spark, sf_dir, tmp_path):
    shipped = _shipped(sf_dir, tmp_path, "documents")
    assert _jobs(spark, lambda: load_table(spark, shipped, "documents")) >= 1
    assert _jobs(spark, lambda: load_table(spark, shipped, "documents")) == 0
    df = load_table(spark, shipped, "documents")
    assert df.schema == spark.read.parquet(os.path.join(shipped, "documents.parquet")).schema
    assert df.count() == spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()


def test_reshipped_file_infers_again(spark, sf_dir, tmp_path):
    shipped = _shipped(sf_dir, tmp_path, "orders")
    path = os.path.join(shipped, "orders.parquet")
    load_table(spark, shipped, "orders")
    assert _jobs(spark, lambda: load_table(spark, shipped, "orders")) == 0
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert _jobs(spark, lambda: load_table(spark, shipped, "orders")) >= 1
    assert _jobs(spark, lambda: load_table(spark, shipped, "orders")) == 0


def test_schema_conf_gets_its_own_entry(spark, sf_dir, tmp_path):
    shipped = _shipped(sf_dir, tmp_path, "events")
    load_table(spark, shipped, "events")
    assert _jobs(spark, lambda: load_table(spark, shipped, "events")) == 0
    key = "spark.sql.legacy.parquet.nanosAsLong"
    flipped = "false" if spark.conf.get(key, "false") == "true" else "true"
    with scoped_conf(spark, {key: flipped}):
        inferred = []
        assert _jobs(spark, lambda: inferred.append(load_table(spark, shipped, "events"))) >= 1
        memoized = []
        assert _jobs(spark, lambda: memoized.append(load_table(spark, shipped, "events"))) == 0
        assert memoized[0].schema == inferred[0].schema
    assert _jobs(spark, lambda: load_table(spark, shipped, "events")) == 0


def test_directory_is_not_memoized(spark, tmp_path):
    sf_dir = tmp_path / "sf"
    spark.range(3).write.parquet(str(sf_dir / "region.parquet"))
    for _ in range(2):
        assert _jobs(spark, lambda: load_table(spark, str(sf_dir), "region")) >= 1
