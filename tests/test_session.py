"""Session helpers: the default core count, driver-side local frames,
the conf scope."""

from __future__ import annotations

import contextlib
import os
import subprocess
import sys

import pytest

from db_loader_spark.session import local_frame, scoped_conf

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_cpus_is_the_usable_core_count():
    """Unset SPARK_GRAFT_CPUS sizes local[N] to the cores this process
    may use, not to a fixed 32."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    r = subprocess.run(
        [sys.executable, "-c", "from db_loader_spark import session; print(session.DEFAULT_CPUS)"],
        capture_output=True, text=True, timeout=120, cwd=_REPO, env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.strip() == str(len(os.sched_getaffinity(0)))


def test_local_frame_keeps_schema_and_rows(spark):
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    strict = StructType([StructField("n", IntegerType(), False), StructField("s", StringType(), False)])
    df = local_frame(spark, [(1, "a"), (2, "b")], strict)
    assert df.schema == strict
    assert [tuple(r) for r in df.collect()] == [(1, "a"), (2, "b")]
    empty = local_frame(spark, [], "k string, v double")
    assert empty.columns == ["k", "v"] and empty.count() == 0
    # a collected result re-wrapped through Arrow keeps its exact schema
    agg = spark.range(6).selectExpr("id % 2 AS k").groupBy("k").count()
    again = local_frame(spark, agg.toArrow())
    assert again.schema == agg.schema
    assert sorted(again.collect()) == sorted(agg.collect())
    assert "LocalRelation" in again._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize("body_raises", [True, False])
def test_scoped_conf_restores_set_and_unset_keys(spark, body_raises):
    """A key set before the scope gets its old value back; a key that
    was unset is unset again, not pinned to its default — also when
    the body raises."""
    was_set = "spark.sql.autoBroadcastJoinThreshold"  # set by get_spark
    was_unset = "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
    before = spark.conf.get(was_set)
    assert spark.conf.get(was_unset, None) is None
    with pytest.raises(RuntimeError) if body_raises else contextlib.nullcontext():
        with scoped_conf(spark, {was_set: "-1", was_unset: "2"}):
            assert spark.conf.get(was_set) == "-1"
            assert spark.conf.get(was_unset) == "2"
            if body_raises:
                raise RuntimeError("boom")
    assert spark.conf.get(was_set) == before
    assert spark.conf.get(was_unset, None) is None
