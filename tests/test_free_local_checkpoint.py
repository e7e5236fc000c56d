"""cache.free_local_checkpoint releases a checkpoint or says why not.

A frame that is not a local checkpoint has no blocks to free, and a
release that cannot reach the checkpoint's RDD leaves the blocks to the
ContextCleaner; both must be reported instead of passing silently.
"""

from __future__ import annotations

import warnings
from types import SimpleNamespace

import pytest
from py4j.protocol import Py4JError

from db_loader_spark.cache import free_local_checkpoint
from db_loader_spark.trace import trace


def _storage_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_frees_checkpoint_blocks(spark):
    before = _storage_rdds(spark)
    ckpt = spark.range(100).localCheckpoint(eager=True)
    assert _storage_rdds(spark) == before + 1
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        free_local_checkpoint(ckpt)
    assert _storage_rdds(spark) == before


def test_rejects_frame_that_is_not_a_checkpoint(spark):
    with pytest.raises(ValueError, match="localCheckpoint"):
        free_local_checkpoint(spark.range(3))


def test_warns_when_release_cannot_reach_the_rdd(spark):
    """A plan that is a LogicalRDD but whose RDD accessor fails (the
    internal API moved) is reported as a RuntimeWarning and counted in
    the open trace."""

    def broken_rdd():
        raise Py4JError("no rdd accessor")

    plan = SimpleNamespace(nodeName=lambda: "LogicalRDD", rdd=broken_rdd)
    qe = SimpleNamespace(analyzed=lambda: plan)
    df = SimpleNamespace(_jdf=SimpleNamespace(queryExecution=lambda: qe))
    with trace(spark) as traced, pytest.warns(RuntimeWarning, match="could not release"):
        free_local_checkpoint(df)
    assert traced["checkpoint_release_failures"] == 1
