"""Every registered query must match its DuckDB oracle at sf0.001.

This is the local mirror of the driver's CORRECTNESS gate (exact value
compare, order-insensitive).
"""

from __future__ import annotations

import pytest

from db_loader_spark.oracle import compare, duck_connection
from db_loader_spark.queries import all_queries, diagnostic_queries

# Driver registry PLUS the pytest-only diagnostics (quadratic
# verifiers demoted from the registry in r6 — they keep their oracle
# value checks here).
REGISTRY = {**all_queries(), **diagnostic_queries()}


@pytest.fixture(scope="module")
def duck(sf_dir):
    return duck_connection(sf_dir)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    spec = REGISTRY[name]
    res = compare(name, spec.spark(spark, sf_dir), spec.oracle, duck)
    assert res.ok, res.detail


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0


def test_contract_shapes():
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert len(q) >= 40
    assert set(o) <= set(q)
    for name, sql in o.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_parse_suite_equals_standalone_parsers(spark, sf_dir):
    """The r8 merge contract: p_parse_suite's tagged rows must equal
    each standalone parser's output re-tagged — the merge may never
    drift from the parsers it packages (a suite-only regression would
    otherwise pass its own oracle while the diagnostics-tier parsers
    silently disagree)."""
    from pyspark.sql import functions as F

    from db_loader_spark.queries.logshape import (
        DIAGNOSTICS as P,
        p_parse_suite,
    )

    suite = {
        (r["parser"], r["key"]): (r["cnt"], r["metric"])
        for r in p_parse_suite(spark, sf_dir).collect()
    }
    # grouped parsers: (key -> cnt), metric NULL
    for name, key_col, cnt_col in (
        ("p1_kv_extract", "k", "cnt"),
        ("p5_nil_skip", "lang_clean", "cnt"),
        ("p13_key_normalize", "norm_name", "cnt"),
        ("p16_uuid_extract", "uuid", "n_files"),
        ("p18_datetime_format", "hour_str", "cnt"),
    ):
        rows = P[name].spark(spark, sf_dir).collect()
        assert rows, name
        for r in rows:
            got = suite.get((name, str(r[key_col])))
            assert got == (r[cnt_col], None), (name, r[key_col], got)
    # p7: two scalar rows from the one-row aggregate
    p7 = P["p7_trailing_int"].spark(spark, sf_dir).collect()[0]
    assert suite[("p7_trailing_int", "avg_gen")] == (
        p7["n_matched"],
        p7["avg_gen"],
    )
    assert suite[("p7_trailing_int", "max_gen")] == (p7["max_gen"], None)
    # and nothing extra: the suite is exactly the six parsers' rows
    n_expected = 2 + sum(
        P[n].spark(spark, sf_dir).count()
        for n in (
            "p1_kv_extract",
            "p5_nil_skip",
            "p13_key_normalize",
            "p16_uuid_extract",
            "p18_datetime_format",
        )
    )
    assert len(suite) == n_expected


def test_moments_decimal_channel_survives_bigint_overflow(spark):
    """Pin the ADVICE-r7 fix: with c ~ 1e9 cents, twelve rows push
    SUM(c*c) past int64 max (9.2e18). The DECIMAL(38,0) channel must
    return the exact sum; the old BIGINT channel fails on the same
    input — LOUDLY under ANSI Spark (this deployment: ArithmeticException
    long overflow), silently-wrapped under non-ANSI. Either way the
    bit-identical-moments contract broke at scale; decimal is the
    channel that matches DuckDB's HUGEINT promotion with no incident."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.errors.exceptions.captured import ArithmeticException

    n = 12
    c_val = 900_000_000  # c^2 = 8.1e17; 12 rows -> 9.72e18 > int64 max
    df = spark.range(n).select(
        F.lit("t").alias("event_type"),
        F.lit(float(c_val) / 100.0).alias("value"),
        (F.col("id") + 1).alias("user_id"),
    )
    cd = F.expr("CAST(CAST(ROUND(value * 100) AS BIGINT) AS DECIMAL(19,0))")
    agg = df.groupBy("event_type").agg(F.sum(cd * cd).alias("sc2")).collect()[0]
    assert int(agg["sc2"]) == n * c_val * c_val  # exact, no overflow
    cb = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    bad = df.groupBy("event_type").agg(F.sum(cb * cb).alias("sc2"))
    if spark.conf.get("spark.sql.ansi.enabled") == "true":
        with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
            bad.collect()
    else:
        assert int(bad.collect()[0]["sc2"]) != n * c_val * c_val  # wrapped
