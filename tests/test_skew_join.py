"""Join-skew mitigation: AQE's automatic split (plan-pinned) and the
manual salted_join fallback (value-pinned against the plain join).

The 100 TB claim: one hot join key must not serialize into a single
reducer. AQE detects oversized shuffle partitions at runtime and
splits them (SortMergeJoin shows ``skew=true`` in the final adaptive
plan); salted_join is the hand-rolled equivalent for the cases AQE
cannot act on. SCALE.md records the measured head-to-head.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

_SKEW_CONFS = {
    # shrink the skew detector so test-sized data trips it; production
    # keeps the defaults (256m threshold / 5x factor) — only the scale
    # changes, not the mechanism
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512k",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    # dim must not broadcast or there is no shuffle join to split
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def _skewed_pair(spark, n=300_000, n_keys=50):
    """~90% of fact rows share key 0; a wide payload makes the hot
    shuffle partition's bytes overwhelm the (lowered) threshold."""
    fact = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit(0))
        .otherwise(F.col("id") % n_keys)
        .alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    dim = spark.range(n_keys).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    return fact, dim


def test_aqe_splits_skewed_join_partition(spark):
    from db_loader_spark.session import scoped_conf

    with scoped_conf(spark, _SKEW_CONFS):
        fact, dim = _skewed_pair(spark)
        j = fact.join(dim, "k")
        # collect() (not count()) — count builds a NEW QueryExecution;
        # only an action on THIS frame finalizes its adaptive plan
        assert len(j.collect()) == 300_000
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain()
        s = buf.getvalue()
        assert "isFinalPlan=true" in s
        assert "skew=true" in s, s  # the hot partition was split


def test_salted_join_equals_plain_join(spark):
    from db_loader_spark.operators.skew import salted_join

    fact, dim = _skewed_pair(spark, n=20_000)
    plain = fact.join(dim, "k")
    salted = salted_join(fact, dim, "k", n_salts=8)
    assert salted.count() == plain.count() == 20_000
    a = salted.groupBy("k").agg(
        F.count("*").alias("n"), F.sum("v").alias("sv")
    )
    b = plain.groupBy("k").agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_salted_join_left_keeps_unmatched_once(spark):
    from db_loader_spark.operators.skew import salted_join

    fact = spark.range(100).select((F.col("id") % 7).alias("k"), "id")
    dim = spark.range(3).select(F.col("id").alias("k"), F.lit("d").alias("d"))
    out = salted_join(fact, dim, "k", n_salts=4, how="left")
    assert out.count() == 100  # unmatched fact rows exactly once, not ×salts
    assert out.filter(F.col("d").isNull()).count() == fact.filter(F.col("k") >= 3).count()


def test_salted_agg_collect_equals_plain(spark):
    """The state-heavy variant: two-phase salted collect_list (partial
    buffers hold ~1/n_salts of a hot key) equals a plain groupBy
    collect, both rendered as sorted arrays."""
    from db_loader_spark.operators.skew import salted_agg

    df = spark.range(50_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 5).alias("k"),
        (F.col("id") % 97).alias("v"),
    )
    salted = salted_agg(
        df, ["k"], sum_cols={}, collect_cols={"v": "vals"}, n_salts=8
    )
    plain = df.groupBy("k").agg(F.sort_array(F.collect_list("v")).alias("vals"))
    a = {r["k"]: r["vals"] for r in salted.collect()}
    b = {r["k"]: r["vals"] for r in plain.collect()}
    assert a == b
