"""Signed-zero guards (VERDICT r9 #1/#2).

The external driver's value hash distinguishes ``-0.0`` from ``+0.0``;
IEEE ``==`` does not. Round 9's one red row (``curation_dsir_weight``)
was exactly this: DuckDB's ``ROUND`` emitted ``-0.0`` for one doc where
Spark emitted ``+0.0`` — rows and schema matched, the hash didn't, and
the local mirror's ``==`` comparison was structurally blind to it.

Two guards so the class can never ship again:

1. ``_values_equal`` must be bit-faithful to the driver's hash on
   zeros (unit test below — fails if the copysign check is reverted).
2. A registry-wide scan at sf0.01 (the driver's correctness SF): no
   float cell of any oracle output may be ``-0.0`` (reverting the
   ``+ 0.0`` normalization in curation_dsir_weight makes this fail),
   and for every key whose oracle output contains ANY zero-valued
   float — the rounding-boundary keys where the trap can appear — the
   Spark output is compared cell-for-cell under driver semantics and
   scanned for ``-0.0`` as well.
"""

from __future__ import annotations

import math

import pytest

from db_loader_spark.oracle import _values_equal, compare, duck_connection
from db_loader_spark.queries import all_queries

SF_DRIVER = "/root/testdata/sf0.01"


def test_values_equal_distinguishes_signed_zero():
    assert _values_equal(0.0, 0.0)
    assert _values_equal(-0.0, -0.0)
    assert not _values_equal(-0.0, 0.0)
    assert not _values_equal(0.0, -0.0)
    # unchanged semantics elsewhere
    assert _values_equal(1.5, 1.5)
    assert not _values_equal(1.5, -1.5)
    assert _values_equal(float("nan"), float("nan"))


def _scan_floats(df):
    """Yield (column, row_index, value) for every float cell, walking
    one level into list-valued object cells (array columns)."""
    for c in df.columns:
        col = df[c]
        if str(col.dtype).startswith(("float", "Float")):
            for i, v in enumerate(col.tolist()):
                if isinstance(v, float):
                    yield c, i, v
        elif col.dtype == object:
            for i, v in enumerate(col.tolist()):
                if isinstance(v, float):
                    yield c, i, v
                elif isinstance(v, (list, tuple)):
                    for e in v:
                        if isinstance(e, float):
                            yield c, i, e


def _negative_zeros(df):
    return [
        (c, i)
        for c, i, v in _scan_floats(df)
        if v == 0.0 and math.copysign(1.0, v) < 0
    ]


@pytest.fixture(scope="module")
def duck_sf001():
    return duck_connection(SF_DRIVER)


@pytest.fixture(scope="module")
def oracle_frames(duck_sf001):
    """Every registry oracle's output at sf0.01, fetched once."""
    return {name: duck_sf001.execute(spec.oracle).df() for name, spec in all_queries().items()}


def test_no_negative_zero_in_any_oracle_output(oracle_frames):
    offenders = {
        name: _negative_zeros(df)
        for name, df in oracle_frames.items()
        if _negative_zeros(df)
    }
    assert not offenders, (
        "oracle outputs contain -0.0 (driver hash distinguishes it from "
        f"+0.0 — normalize with '+ 0.0' after ROUND): {offenders}"
    )


def test_moments_prophylaxis_on_tiny_negative_fixture(spark, tmp_path):
    """r11 (the staged prophylaxis touch): a_moments' sign-capable
    rounded floats (mean_value, corr_value_user) are normalized with
    `+ 0.0` on BOTH engines. This fixture is engineered so that
    WITHOUT the guard both channels emit -0.0 (mean_cents = -1/4 →
    ROUND(-0.0025, 2) = -0.0; corr numerator 4·scu - sc·su = -1
    against a ~4e9 denominator → ROUND(-2.6e-10, 4) = -0.0): group
    "neg" exercises the mean channel, group "tiny" the corr channel.
    Values, rows and schema must also match the oracle exactly under
    driver hash semantics. Testdata today has no negative values — the
    staged guard exists for the day it does, and this fixture is that
    day."""
    import datetime as dt
    import os

    from db_loader_spark.oracle import compare, duck_connection
    from db_loader_spark.queries.eventops import _MOMENTS_ORACLE, a_moments

    ts = dt.datetime(2024, 1, 1)
    # (event_id, user_id, value_cents) per group; props/ts constant
    rows = [
        # mean channel: sum_cents = -1 over n=4 → mean -0.0025 → ROUND -0.0
        ("neg", [(1, 1, -1), (2, 2, 0), (3, 3, 0), (4, 4, 0)]),
        # corr channel: sc=1, su=6+79999, scu=20001 → 4·scu - sc·su = -1
        ("tiny", [(5, 1, -9999), (6, 2, 0), (7, 3, 10000), (8, 79999, 0)]),
    ]
    data = [
        (eid, ts, uid, grp, cents / 100.0, "{}")
        for grp, triples in rows
        for eid, uid, cents in triples
    ]
    df = spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    fixture_dir = str(tmp_path / "sfneg")
    os.makedirs(fixture_dir)
    df.toPandas().to_parquet(os.path.join(fixture_dir, "events.parquet"))

    out = a_moments(spark, fixture_dir)
    pdf = out.toPandas()
    # the trap actually fires here: both channels hit the zero boundary
    by_grp = {r["event_type"]: r for _, r in pdf.iterrows()}
    assert by_grp["neg"]["mean_value"] == 0.0
    assert by_grp["tiny"]["corr_value_user"] == 0.0
    # and neither engine emits -0.0
    assert _negative_zeros(pdf) == [], _negative_zeros(pdf)
    con = duck_connection(fixture_dir)
    assert _negative_zeros(con.execute(_MOMENTS_ORACLE).df()) == []
    # full driver-semantics value match on the fixture
    res = compare("a_moments_tiny_negative", out, _MOMENTS_ORACLE, con)
    assert res.ok, res.detail


def test_zero_boundary_keys_match_driver_semantics(
    spark, duck_sf001, oracle_frames
):
    """For every key whose oracle output has a zero-valued float cell
    (the only place a cross-engine signed-zero divergence can hide
    behind matching rows+schema), run the Spark side at sf0.01 and
    compare under the copysign-aware comparator; also scan the Spark
    output itself for -0.0."""
    boundary = [
        name
        for name, df in oracle_frames.items()
        if any(v == 0.0 for _, _, v in _scan_floats(df))
    ]
    assert "curation_dsir_weight" in boundary  # the r9 exhibit must be covered
    registry = all_queries()
    for name in boundary:
        sdf = registry[name].spark(spark, SF_DRIVER)
        res = compare(name, sdf, registry[name].oracle, duck_sf001)
        assert res.ok, (name, res.detail)
        neg = _negative_zeros(sdf.toPandas())
        assert not neg, (name, neg)
