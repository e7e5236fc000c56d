"""KMV distinct-count sketch (functions/sketch.py).

Pins the estimator's two regimes — live (k-1)/h_k estimation on a
vocabulary ≫ k, exact fallback below k — and the mergeability
identity that makes it a fleet-wide statistic."""

from __future__ import annotations

from pyspark.sql import functions as F

from db_loader_spark.functions.sketch import kmv_distinct, kmv_hash


def _synth_pairs(spark, n_values: int, group: str = "g"):
    return spark.range(n_values).select(
        F.lit(group).alias("grp"), F.concat(F.lit("v"), F.col("id")).alias("val")
    )


def test_kmv_estimates_large_vocabulary(spark):
    """5,000 distinct values, k=64: the estimate comes from the live
    estimator and lands within the ~2/sqrt(k) relative-error envelope
    (±25% is ~2σ for k=64; the hash is fixed, so this is deterministic,
    not flaky)."""
    out = kmv_distinct(_synth_pairs(spark, 5_000), "grp", "val", k=64).first()
    assert out["n_exact"] == 5_000
    assert out["kmv_estimate"] != out["n_exact"]  # genuinely estimated
    assert 0.75 <= out["rel_err"] <= 1.25


def test_kmv_exact_below_k(spark):
    """Fewer distinct values than k: the sketch holds them all and the
    fallback reports the exact count."""
    out = kmv_distinct(_synth_pairs(spark, 40), "grp", "val", k=64).first()
    assert out["n_exact"] == 40
    assert out["kmv_estimate"] == 40
    assert out["rel_err"] == 1.0


def test_kmv_duplicates_do_not_inflate(spark):
    """The estimate is over DISTINCT values: replicating every value
    1,000x changes nothing (min-hash sets are duplicate-invariant)."""
    base = _synth_pairs(spark, 300)
    dup = base.crossJoin(spark.range(1000).select(F.lit(1).alias("_x"))).drop("_x")
    a = kmv_distinct(base, "grp", "val", k=64).first()
    b = kmv_distinct(dup, "grp", "val", k=64).first()
    assert (a["n_exact"], a["kmv_estimate"]) == (b["n_exact"], b["kmv_estimate"])


def test_kmv_merge_identity(spark):
    """k smallest of a union == k smallest of the per-shard k-smallest:
    the property that lets shards ship k values each instead of their
    distinct sets. Verified directly on hash values."""
    k = 32
    vals = spark.range(2_000).select(F.concat(F.lit("v"), F.col("id")).alias("val"))
    shard_a = vals.filter(F.col("val").substr(-1, 1).isin("0", "1", "2", "3", "4"))
    shard_b = vals.subtract(shard_a)

    def kmins(df):
        h = df.select(kmv_hash("val").alias("h")).distinct()
        return [
            r["h"]
            for r in h.orderBy("h").limit(k).collect()
        ]

    merged = sorted(kmins(shard_a) + kmins(shard_b))[:k]
    assert merged == kmins(vals)


def test_cms_never_undercounts_any_token(spark):
    """CMS's one-sided error: for EVERY vocabulary item (not just the
    top-k the registry key reports), min-of-cells >= true count."""
    from db_loader_spark.functions.sketch import cms_heavy_hitters
    from db_loader_spark.functions import text as TX
    from db_loader_spark.tables import load_table

    occ = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
    )
    n_vocab = occ.select("tok").distinct().count()
    full = cms_heavy_hitters(occ, "tok", k=n_vocab)
    assert full.count() == n_vocab
    assert full.filter(F.col("cms_estimate") < F.col("true_count")).count() == 0


def test_cms_sketch_is_mergeable(spark):
    """Cell-wise sum of per-shard sketches == the union's sketch (the
    property that makes CMS a fleet statistic): estimates computed
    from merged shard sketches equal single-pass estimates."""
    from db_loader_spark.functions.sketch import cms_heavy_hitters
    from db_loader_spark.functions import text as TX
    from db_loader_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    occ = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok")
    )
    whole = {
        (r["tok"], r["true_count"], r["cms_estimate"])
        for r in cms_heavy_hitters(occ.select("tok"), "tok", k=10).collect()
    }
    # shard by doc parity; CMS over the union must equal the whole —
    # the union of occurrence streams IS the cell-wise sum of sketches
    a = occ.filter(F.col("doc_id") % 2 == 0).select("tok")
    b = occ.filter(F.col("doc_id") % 2 == 1).select("tok")
    merged = {
        (r["tok"], r["true_count"], r["cms_estimate"])
        for r in cms_heavy_hitters(a.unionByName(b), "tok", k=10).collect()
    }
    assert whole == merged


# ---- HyperLogLog ----


def test_hll_rho_matches_python_clz(spark):
    """The textual rho (ltrim + 16-way CASE) must equal a Python
    leading-zero count + 1 over 32-bit values covering every branch:
    all-zero, single-bit values at both ends, and mixed digits."""
    from db_loader_spark.functions.sketch import hll_rho_sql

    cases = ["00000000", "00000001", "80000000", "0001abcd", "7fffffff",
             "3c0ffee0", "00000010", "ffffffff"]
    rows = spark.createDataFrame([(h,) for h in cases], ["hx"])
    got = {
        r["hx"]: r["rho"]
        for r in rows.select("hx", F.expr(hll_rho_sql("hx")).alias("rho")).collect()
    }
    for h in cases:
        v = int(h, 16)
        expected = 33 if v == 0 else 32 - v.bit_length() + 1
        assert got[h] == expected, h


def test_hll_estimates_large_cardinality(spark):
    """5,000 distinct values, m=64 registers: raw HLL's relative error
    envelope is ~1.04/sqrt(64) = 13%; assert within ~3 sigma.
    Deterministic (fixed hash), not flaky."""
    from db_loader_spark.functions.sketch import hll_distinct

    out = hll_distinct(_synth_pairs(spark, 5_000), "grp", "val").first()
    assert out["n_exact"] == 5_000
    assert 0.6 <= out["rel_err"] <= 1.4


def test_hll_registers_merge_by_max(spark):
    """Mergeability: element-wise MAX of two shards' registers equals
    the whole corpus's registers — the property that lets shards ship
    m small ints each instead of re-scanning."""
    from db_loader_spark.functions.sketch import HLL_M, hll_rho_sql

    def regs(df):
        h = df.select(
            F.expr(
                "pmod(CAST(conv(substring(md5(concat('hll:', val)), 1, 2), 16, 10)"
                f" AS INT), {HLL_M})"
            ).alias("reg"),
            F.expr(
                hll_rho_sql("substring(md5(concat('hll:', val)), 3, 8)")
            ).alias("rho"),
        )
        return {
            r["reg"]: r["m"]
            for r in h.groupBy("reg").agg(F.max("rho").alias("m")).collect()
        }

    full = _synth_pairs(spark, 2_000)
    a = full.filter(F.col("val").substr(2, 10).cast("long") % 2 == 0)
    b = full.filter(F.col("val").substr(2, 10).cast("long") % 2 == 1)
    ra, rb, rf = regs(a), regs(b), regs(full)
    merged = {k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)}
    assert merged == rf


# ---- Bloom filter ----


def test_bloom_has_no_false_negatives(spark):
    """Structural: every key that went INTO the filter probes
    positive."""
    from db_loader_spark.functions.sketch import bloom_build, bloom_probe

    keys = _synth_pairs(spark, 500).select(F.col("val").alias("key"))
    bloom = bloom_build(keys)
    probe = keys.select(F.col("key").alias("id"), "key")
    out = bloom_probe(probe, bloom, "id", "key")
    assert out.filter(~F.col("bloom_positive")).count() == 0


def test_bloom_false_positive_rate_bounded(spark):
    """1,000 member keys in a 64 Kbit filter, k=3: theoretical FP rate
    ~1e-4; assert the measured rate on 1,000 DISJOINT probes stays
    under 1% (two orders of slack — deterministic hash, so this pins
    sizing, not luck)."""
    from db_loader_spark.functions.sketch import bloom_build, bloom_probe

    members = _synth_pairs(spark, 1_000).select(F.col("val").alias("key"))
    bloom = bloom_build(members)
    others = spark.range(1_000).select(
        F.concat(F.lit("other"), F.col("id")).alias("id"),
        F.concat(F.lit("other"), F.col("id")).alias("key"),
    )
    out = bloom_probe(others, bloom, "id", "key")
    fp = out.filter(F.col("bloom_positive")).count()
    assert fp / 1_000 < 0.01


def test_sliding_hll_merge_equals_direct_recompute(spark, sf_dir):
    """The mergeability theorem the operator rests on: each window's
    estimate from MERGED per-hour register shards must equal the HLL
    computed directly over that window's raw (window, user) pairs —
    register-wise max-merge loses nothing. (Accuracy at tiny sf0.001
    windows is deliberately out of scope: the sketch documents its
    uncorrected small-n bias; the driver checks engine-equality.)"""
    from pyspark.sql import functions as F

    from db_loader_spark.functions.sketch import hll_distinct
    from db_loader_spark.queries.eventops import t_sliding_hll
    from db_loader_spark.tables import load_table

    merged = {
        r["window_start"]: r["hll_estimate"]
        for r in t_sliding_hll(spark, sf_dir).collect()
    }
    e = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "user_id"
    )
    pairs = e.select(F.col("hour").alias("ws"), "user_id").unionAll(
        e.select(
            (F.col("hour") - F.expr("INTERVAL 1 HOUR")).alias("ws"), "user_id"
        )
    ).select(F.date_format("ws", "yyyy-MM-dd HH:mm:ss").alias("ws"), "user_id")
    direct = {
        r["ws"]: r["hll_estimate"]
        for r in hll_distinct(pairs, "ws", "user_id").collect()
    }
    assert merged == direct


def _qsk_rows(spark, n: int = 4_000, groups: int = 3):
    """Synthetic (grp, v, key) rows: per-group shifted value ranges so
    quantiles differ by group and errors can't cancel across groups."""
    return spark.range(n).select(
        F.concat(F.lit("g"), F.pmod("id", F.lit(groups))).alias("grp"),
        (F.col("id") * 7 % 1000 + F.pmod("id", F.lit(groups)) * 500).alias("v"),
        F.col("id").alias("key"),
    )


def test_bottom_k_sketch_is_canonical_across_shardings(spark):
    """The merge theorem, bit-for-bit: one-pass (shards=None), the
    degenerate sharding (shards=1), and two different fan-ins (8, 3)
    all land the IDENTICAL sketch rows — the canonicality that makes
    the sketch a function of the multiset, not of the plan, and lets
    the DuckDB oracle replay the one-pass form against Spark's
    two-level plan in a_quantile_sketch's driver row."""
    from db_loader_spark.functions.sketch import bottom_k_sketch

    rows = _qsk_rows(spark)
    ref = sorted(
        bottom_k_sketch(rows, k=32, shards=None).collect(),
        key=lambda r: (r["grp"], r["rn"]),
    )
    assert len(ref) == 3 * 32
    for shards in (1, 8, 3):
        got = sorted(
            bottom_k_sketch(rows, k=32, shards=shards).collect(),
            key=lambda r: (r["grp"], r["rn"]),
        )
        assert got == ref, f"sharding {shards} changed the sketch"


def test_bottom_k_sketch_incremental_merge(spark):
    """Incremental maintenance: bottom-k(stored sketch ∪ new batch's
    sketch) == bottom-k(full corpus) — the stored profile absorbs a
    new ingest batch without recomputation over history."""
    from db_loader_spark.functions.sketch import bottom_k_sketch

    rows = _qsk_rows(spark)
    old = rows.filter(F.col("key") < 3_000)
    new = rows.filter(F.col("key") >= 3_000)
    merged_in = bottom_k_sketch(old, k=32, shards=None).drop("rn").unionByName(
        bottom_k_sketch(new, k=32, shards=None).drop("rn")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("grp").orderBy("h")
    merged = (
        merged_in.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 32)
        .select("grp", "v", "h", "rn")
    )
    full = bottom_k_sketch(rows, k=32, shards=None)
    assert sorted(merged.collect()) == sorted(full.collect())


def test_quantile_sketch_rank_error_within_envelope(spark):
    """Estimates from the k=64 sketch land within the uniform-sample
    rank-error envelope: |rank(est) - q*n| / n <= 4/sqrt(k) (~3σ).
    Deterministic (fixed hash), not flaky."""
    from db_loader_spark.functions.sketch import quantile_sketch

    rows = _qsk_rows(spark).withColumnRenamed("grp", "g")
    out = quantile_sketch(
        rows, "g", "v", "key", k=64, shards=4, quantiles=(0.25, 0.5, 0.9)
    ).collect()
    assert len(out) == 3
    data = {
        r["g"]: sorted(
            x["v"] for x in rows.filter(F.col("g") == r["g"]).collect()
        )
        for r in out
    }
    bound = 4.0 / (64**0.5)
    for r in out:
        vals = data[r["g"]]
        n = len(vals)
        assert r["n"] == n and r["k_eff"] == 64
        import bisect
        import math

        for q in (0.25, 0.5, 0.9):
            est = r[f"p{round(q * 100)}_est"]
            # rank of the estimate in the full data (upper-bound side)
            rank = bisect.bisect_right(vals, est)
            assert abs(rank / n - q) <= bound, (r["g"], q, rank / n)
            # exact channel is the true type-1 quantile of the corpus
            exact = r[f"p{round(q * 100)}_exact"]
            assert exact == vals[max(1, math.ceil(q * n)) - 1]


def test_kmv_estimators_exclude_nulls(spark):
    """r11 review: a null value is not a value. Left in, its null hash
    sorts FIRST in Spark's window but LAST in DuckDB's — shifting
    every rank — and a null landing at rank k nulls the k-th hash so
    theta collapses to the small-group fallback: a silent cross-engine
    estimate divergence. The estimator must produce results
    identical to the same input with nulls dropped."""
    from db_loader_spark.functions.sketch import kmv_distinct

    rows = [("A", f"u{i}") for i in range(40)] + [
        ("B", f"u{i}") for i in range(20, 60)
    ]
    clean = spark.createDataFrame(rows, "g string, v string")
    dirty = clean.unionAll(
        spark.createDataFrame(
            [("A", None), ("B", None), ("B", None)], "g string, v string"
        )
    )
    k = 16  # < 40 distinct per group: the genuinely-estimating regime
    want_d = sorted(map(tuple, kmv_distinct(clean, "g", "v", k=k).collect()))
    got_d = sorted(map(tuple, kmv_distinct(dirty, "g", "v", k=k).collect()))
    assert got_d == want_d
