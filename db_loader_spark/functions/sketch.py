"""Distinct-count sketching: deterministic KMV (k minimum values).

The training-pipeline question this answers at 100 TB: "how many
distinct tokens / urls / doc fingerprints does this corpus have, per
group, without holding the distinct set anywhere?" The classical KMV
estimator (Bar-Yossef et al., RANDOM'02) keeps only the k smallest
hash values per group: if the k-th smallest of n uniform hashes in
[0,1) is h_k, then n ≈ (k-1)/h_k.

Why KMV and not HLL here: Spark's datasketches HLL is a black-box
binary whose estimate no other engine reproduces — a rows-only check
at best. KMV over a deterministic hash is ENGINE-PORTABLE: the k-th
smallest md5-prefix is the same value in any engine, so the DuckDB
oracle replays the whole sketch and the driver hash-checks the
estimate itself. Same design rule as md5-MinHash (functions/dedup.py).

Hash: first 13 hex chars of md5 = 52 bits, mapped to [0,1) by
dividing by 2^52. 52 bits fit a double's mantissa EXACTLY, so the
fraction is exact on every IEEE engine — no rounding skew between
Spark and the oracle (the reason for 13 and not 15/16 chars).

Scale shape: one map-side-combined shuffle for the global (group,
value) distinct — on token-like data the distinct set is Zipf-bounded
(vocabulary ≪ corpus) — then one window sort per group over only the
distinct hashes. The sketch is MERGEABLE (k smallest of a union = k
smallest of the per-shard k-smallest), which is what makes it a
fleet-wide statistic at deployment: shards ship k values each, the
coordinator merges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

KMV_BITS = 52  # 13 hex chars — exact in an IEEE double mantissa
KMV_DENOM = float(1 << KMV_BITS)


def kmv_hash(col: str) -> F.Column:
    """Deterministic uniform fraction in [0,1): md5 52-bit prefix."""
    return (
        F.expr(
            f"CAST(conv(substring(md5({col}), 1, {KMV_BITS // 4}), 16, 10) AS BIGINT)"
        )
        / F.lit(KMV_DENOM)
    )


def kmv_nibsum_sql(hex_col: str = "hx") -> str:
    """DuckDB mirror of kmv_hash's decode: the 13-nibble md5 prefix in
    ``hex_col`` as an exact 52-bit-mantissa integer (divide by
    KMV_DENOM to get the [0,1) fraction). THE single source for every
    oracle that replays the hash (KMV vocab, quantile sketch); a change
    to KMV_BITS breaks loudly in one place instead of silently in a
    missed copy."""
    return " + ".join(
        f"(instr('0123456789abcdef', substr({hex_col}, {i + 1}, 1)) - 1)"
        f" * {float(16 ** (12 - i))!r}"
        for i in range(13)
    )


def kmv_distinct(
    pairs: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group distinct-count estimate from the KMV sketch, with the
    exact count alongside (the self-evaluation every estimator ships
    with — the ann_recall pattern): (group, n_exact, kmv_estimate,
    rel_err).

    Groups with fewer than k distinct values have no k-th hash; the
    estimator falls back to the exact count (which the sketch holds
    verbatim in that regime — standard KMV behavior).

    NULL values are EXCLUDED before hashing: a null is not a value —
    and left in, its null hash would sort FIRST in Spark's row_number
    window but LAST in DuckDB's, shifting every rank and (if the null
    lands at rank k) collapsing the estimate to the small-group
    fallback: a silent cross-engine estimate divergence.
    The oracle mirrors the exclusion."""
    d = (
        pairs.select(F.col(group_col).alias("grp"), F.col(value_col).alias("val"))
        .filter(F.col("val").isNotNull())
        .distinct()
    )
    h = d.select("grp", kmv_hash("val").alias("h"))
    w = W.partitionBy("grp").orderBy("h")
    ranked = h.withColumn("rn", F.row_number().over(w))
    agg = ranked.groupBy("grp").agg(
        F.count("*").alias("n_exact"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("h_k"),
    )
    est = F.when(
        F.col("h_k").isNull(), F.col("n_exact").cast("double")
    ).otherwise(F.round(F.lit(k - 1) / F.col("h_k")))
    return agg.select(
        F.col("grp").alias(group_col),
        F.col("n_exact").cast("long").alias("n_exact"),
        est.cast("long").alias("kmv_estimate"),
        F.round(est.cast("double") / F.col("n_exact"), 3).alias("rel_err"),
    )


# ---- Count-Min Sketch (Cormode & Muthukrishnan, 2005) ----
#
# The frequency twin of KMV's distinct counting: d independent hash
# rows of w counters; an item's estimate is the MIN over its d cells,
# an overestimate bounded by eps*N with probability 1-delta
# (w = ceil(e/eps), d = ceil(ln 1/delta)). Engine-portable for the
# same reason as KMV: the row hashes are md5-derived, so DuckDB can
# replay the whole sketch and the driver hash-checks the ESTIMATES.
# The sketch is mergeable (cell-wise sum), constant-memory (d*w
# cells), and builds with map-side combine — the standard fleet-wide
# heavy-hitter statistic at 100 TB, where a full exact vocabulary
# count is a luxury the sketch replaces.

CMS_D = 4
CMS_W = 256


def cms_bucket_sql(col: str, j: str, w: int = CMS_W) -> str:
    """Row-j bucket of a value: md5 32-bit prefix of ('cms<j>:'||x) % w."""
    return (
        f"pmod(CAST(conv(substring(md5(concat('cms', {j}, ':', {col})), 1, 8),"
        f" 16, 10) AS BIGINT), {w})"
    )


def cms_heavy_hitters(
    occurrences: DataFrame,
    value_col: str,
    k: int = 10,
    d: int = CMS_D,
    w: int = CMS_W,
) -> DataFrame:
    """Top-k heavy hitters with their CMS estimates next to exact
    counts — the self-evaluation shape (ann_recall / kmv_distinct):
    (value, true_count, cms_estimate). cms_estimate >= true_count
    always (CMS never undercounts); equality means no colliding mass
    in any of the d rows.

    Build cost: one map-side-combined count shuffle (Zipf-bounded
    vocabulary), then d x |vocab| tiny rows into the (j, bucket)
    aggregate — the sketch itself is d*w cells regardless of corpus
    size. The top-k side is broadcast into the estimate join."""
    counts = occurrences.groupBy(F.col(value_col).alias("val")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    rows = counts.select(
        "val",
        "cnt",
        F.explode(F.array(*[F.lit(j) for j in range(d)])).alias("j"),
    ).withColumn("b", F.expr(cms_bucket_sql("val", "j", w)))
    sketch = rows.groupBy("j", "b").agg(F.sum("cnt").alias("cell"))
    top = (
        counts.orderBy(F.col("cnt").desc(), "val")
        .limit(k)
        .select("val", "cnt")
    )
    top_cells = top.select(
        "val",
        "cnt",
        F.explode(F.array(*[F.lit(j) for j in range(d)])).alias("j"),
    ).withColumn("b", F.expr(cms_bucket_sql("val", "j", w)))
    return (
        sketch.join(F.broadcast(top_cells), ["j", "b"])
        .groupBy("val", "cnt")
        .agg(F.min("cell").cast("long").alias("cms_estimate"))
        .select(
            F.col("val").alias(value_col),
            F.col("cnt").alias("true_count"),
            "cms_estimate",
        )
    )


# ---- HyperLogLog (Flajolet et al., 2007) ----
#
# The third sketch family member: KMV answers distinct-count by ORDER
# STATISTICS (k smallest hashes), HLL by BIT PATTERNS (max leading-zero
# run per register) — constant memory m registers of one small int
# each, vs KMV's k doubles, and the estimator production engines
# actually ship (Spark's approx_count_distinct, Redis PFCOUNT). Spark's
# builtin is a black-box binary no other engine replays, so — same
# design rule as KMV/CMS — the registers here are md5-derived and the
# DuckDB oracle replays the whole sketch, letting the driver hash-check
# the ESTIMATE itself.
#
# Register = first 2 md5 hex chars mod m; rho = leading-zero count of
# the NEXT 8 hex chars (32 bits) + 1, computed TEXTUALLY (ltrim('0')
# + a 16-way CASE on the first surviving digit) because neither engine
# has an exact integer clz and floor(log2()) is a libm call that can
# disagree in the last ulp. 2^-rho is built as 1.0/(1<<rho) — an exact
# power of two, so the register sum is EXACT (64 terms, all powers of
# two >= 2^-33, well inside one double's 52-bit window) and
# summation order cannot flip the driver hash. The one inexact op is
# the final alpha*m^2/Z division, identical single IEEE op on both
# engines, then ROUND. No small-range linear-counting correction: it
# needs ln(), which IS engine-divergent libm — the estimator self-
# reports its small-n bias in the rel_err column instead (the
# ann_recall self-eval pattern).
#
# Mergeability — the property that makes it THE fleet statistic at
# 100 TB: registers merge by element-wise MAX, so shards ship m bytes
# each and any coordinator (or another engine entirely) unions them.

HLL_M = 64  # 2^6 registers
HLL_ALPHA = 0.709  # alpha_64 from the HLL paper


def hll_rho_sql(hx8: str) -> str:
    """SQL for leading-zero-run + 1 of a 32-bit value given as an
    8-hex-char string expression — exact text ops, no log2. Valid in
    Spark SQL and DuckDB verbatim (both have trim(LEADING..), length,
    substring, CASE)."""
    t = f"trim(LEADING '0' FROM {hx8})"
    extra = (
        f"CASE substring({t}, 1, 1) WHEN '1' THEN 3 WHEN '2' THEN 2 "
        "WHEN '3' THEN 2 WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 "
        "WHEN '7' THEN 1 ELSE 0 END"
    )
    return (
        f"CASE WHEN length({t}) = 0 THEN 33 "
        f"ELSE 4 * (8 - length({t})) + {extra} + 1 END"
    )


def hll_distinct(
    pairs: DataFrame,
    group_col: str,
    value_col: str,
    m: int = HLL_M,
) -> DataFrame:
    """Per-group HLL distinct estimate with the exact count alongside
    (the kmv_distinct self-eval shape): (group, n_exact, hll_estimate,
    rel_err). One map-side-combined (group, register) max-rho shuffle —
    at most m rows per group survive — then a per-group sum of exact
    powers of two."""
    src = pairs.select(
        F.col(group_col).alias("grp"), F.col(value_col).alias("val")
    )
    h = src.select(
        "grp",
        "val",
        F.expr(
            "pmod(CAST(conv(substring(md5(concat('hll:', val)), 1, 2), 16, 10)"
            f" AS INT), {m})"
        ).alias("reg"),
        F.expr(
            hll_rho_sql("substring(md5(concat('hll:', val)), 3, 8)")
        ).alias("rho"),
    )
    regs = h.groupBy("grp", "reg").agg(F.max("rho").alias("max_rho"))
    exact = src.groupBy("grp").agg(
        F.countDistinct("val").cast("long").alias("n_exact")
    )
    agg = regs.groupBy("grp").agg(
        F.sum(
            F.expr(
                "1.0D / CAST(shiftleft(CAST(1 AS BIGINT), max_rho) AS DOUBLE)"
            )
        ).alias("z_used"),
        F.count("*").alias("n_regs"),
    )
    est = F.round(
        F.lit(HLL_ALPHA * m * m)
        / (F.col("z_used") + (F.lit(m) - F.col("n_regs")))
    ).cast("long")
    return (
        agg.join(exact, "grp")
        .select(
            F.col("grp").alias(group_col),
            "n_exact",
            est.alias("hll_estimate"),
            F.round(est.cast("double") / F.col("n_exact"), 3).alias("rel_err"),
        )
    )


# ---- Bloom filter (Bloom, 1970) ----
#
# The MEMBERSHIP sketch, completing the family (KMV/HLL: distinct,
# CMS: frequency): is this key in the corpus, with zero false
# negatives and a bounded false-positive rate? The 100 TB use is
# ingest-time dedup PREFILTERING — the corpus's key set compressed to
# m bits, built once with a mergeable bit_or aggregate, broadcast to
# every executor; a new batch probes it locally and only the bloom-
# POSITIVE sliver (true dups + eps false positives) pays the exact
# verify join against the corpus. The shuffle the filter deletes is
# the full batch-vs-corpus semi-join; what remains is |batch| * k
# cheap hashes + a join whose left side is ~|dups|.
#
# Engine-portable like the other sketches: k=3 bit positions come from
# md5 slices, words are 32-bit so no engine's signed-shift overflow
# rules are ever exercised, and the DuckDB oracle replays filter
# construction bit-for-bit. Word layout: BLOOM_WORDS longs holding 32
# bits each (m = WORDS*32 bits); the filter is a WORDS-row DataFrame,
# broadcast-joined on word index.

BLOOM_WORDS = 2048
BLOOM_BITS = BLOOM_WORDS * 32
BLOOM_K = 3


def _bloom_pos(key_expr: str, j: int) -> str:
    """Bit position j of a key: md5 32-bit prefix of 'bf<j>:<key>'."""
    return (
        f"pmod(CAST(conv(substring(md5(concat('bf', {j}, ':', {key_expr})),"
        f" 1, 8), 16, 10) AS BIGINT), {BLOOM_BITS})"
    )


def bloom_build(corpus_keys: DataFrame, key_col: str = "key") -> DataFrame:
    """(word, wbits) filter rows from a corpus key column: one
    map-side-combined bit_or shuffle onto at most BLOOM_WORDS rows.
    Mergeable across shards/snapshots by the same bit_or."""
    pos = corpus_keys.select(
        F.explode(
            F.array(
                *[F.expr(_bloom_pos(key_col, j)) for j in range(BLOOM_K)]
            )
        ).alias("pos")
    )
    return pos.groupBy(F.expr("CAST(pos div 32 AS INT)").alias("word")).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 32) AS INT))")
        ).alias("wbits")
    )


def bloom_probe(
    probe: DataFrame, bloom: DataFrame, id_col: str, key_col: str
) -> DataFrame:
    """(id, bloom_positive) for each probe row: k broadcast lookups
    into the filter words, positive iff every addressed bit is set.
    No false negatives by construction."""
    pr = probe.select(
        F.col(id_col).alias("pid"),
        F.explode(
            F.array(
                *[F.expr(_bloom_pos(key_col, j)) for j in range(BLOOM_K)]
            )
        ).alias("pos"),
    ).select(
        "pid",
        F.expr("CAST(pos div 32 AS INT)").alias("word"),
        F.expr("CAST(pmod(pos, 32) AS INT)").alias("bit"),
    )
    hit = (
        F.coalesce(F.col("wbits"), F.lit(0))
        .bitwiseAND(F.expr("shiftleft(CAST(1 AS BIGINT), bit)"))
        != 0
    )
    return (
        pr.join(F.broadcast(bloom), "word", "left")
        .groupBy("pid")
        .agg(F.bool_and(hit).alias("bloom_positive"))
        .select(F.col("pid").alias(id_col), "bloom_positive")
    )


# ---- Bottom-k canonical quantile sketch (Cohen & Kaplan, 2007) ----
#
# The quantile member of the family (KMV: distinct, CMS: frequency,
# HLL: distinct-compact, Bloom: membership). A rate sample GROWS WITH
# n — at 100 TB a 1/16 sample is still ~6 TB, too big to store per
# table as a profile. This sketch keeps CONSTANT state — the k rows
# with the smallest deterministic hash per group — that a profiling
# pass can persist next to every snapshot and maintain incrementally
# (bottom-k of (stored sketch ∪ new batch's bottom-k) = bottom-k of
# the union; exactly the KMV merge identity, applied to rows instead
# of distinct values).
#
# Why bottom-k and not a compaction sketch (t-digest, MRL-style
# compactors): compactor state is a function of ARRIVAL AND MERGE
# ORDER — two correct engines (or two shardings of the same corpus)
# legitimately hold different bytes, so its merge theorem can only
# ever be tested statistically, and a cross-engine value-hash
# equality (this repo's entire external evidence model) is
# unobtainable. Bottom-k is a CANONICAL function of the row multiset:
# any sharding, any merge tree, any engine lands the identical k
# rows. The price is rank error O(sqrt(q(1-q)/k)) (uniform-sample
# order statistics) instead of a compactor's O(1/k) at equal k —
# stated, not hidden; at the profile-sketch sizes this repo ships
# (k=128) that is ~4% rank error, the regime where column profiles
# live. The driver row for a_quantile_sketch witnesses the merge
# theorem itself: Spark runs the sharded two-level plan, DuckDB
# replays the one-pass form, and the hashes must agree bit-for-bit.

QSK_K = 128  # per-group stored rows; rank error ~ sqrt(q(1-q)/k)
QSK_SHARDS = 8  # stage-1 fan-in of the two-level demonstration plan


def qsk_hash(key_col: str) -> F.Column:
    """Deterministic uniform fraction in [0,1) for a ROW key: 'qsk:'-
    salted md5 52-bit prefix (exact in an IEEE double — see kmv_hash)."""
    return (
        F.expr(
            f"CAST(conv(substring(md5(concat('qsk:', CAST({key_col} AS STRING))),"
            f" 1, {KMV_BITS // 4}), 16, 10) AS BIGINT)"
        )
        / F.lit(KMV_DENOM)
    )


def bottom_k_sketch(
    rows: DataFrame, k: int = QSK_K, shards: int | None = QSK_SHARDS
) -> DataFrame:
    """The sketch itself: per-group bottom-k rows by deterministic row
    hash, from a (grp, v, key) frame — (grp, v, h, rn) with rn the
    1-based hash rank.

    With ``shards``, the plan is the two-level fleet shape: stage 1
    bounds every (grp, shard) to k rows (the per-executor / per-site
    state), stage 2 merges the ≤ shards*k survivors per group.
    Canonicality makes the shard count semantics-free — shards=None
    (one-pass), shards=1, and any other sharding produce the
    identical frame, which tests/test_sketch.py pins bit-for-bit."""
    b = rows.select("grp", "v", "key", qsk_hash("key").alias("h"))
    if shards is not None:
        w1 = W.partitionBy("grp", "shard").orderBy("h", "key")
        b = (
            b.withColumn("shard", F.pmod("key", F.lit(shards)))
            .withColumn("rn", F.row_number().over(w1))
            .filter(F.col("rn") <= k)
            .drop("rn", "shard")
        )
    w2 = W.partitionBy("grp").orderBy("h", "key")
    return (
        b.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .drop("key")
    )


def quantile_sketch(
    pairs: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    k: int = QSK_K,
    shards: int | None = QSK_SHARDS,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-group quantile estimates from the stored bottom-k sketch,
    exact type-1 quantiles alongside (the ann_recall self-eval shape
    every estimator here ships; the exact channel is the small-SF
    verifier luxury — production persists only the sketch rows).

    ``value_col`` must be integer-valued (cents, ids, counts): every
    output is then a BIGINT an external engine hashes exactly.
    Estimate = the ceil(q * k_eff)-th smallest sketch value; exact =
    the ceil(q * n)-th smallest corpus value (type-1 / lower
    empirical quantile on both sides — no interpolation, no FP)."""
    rows = pairs.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).alias("v"),
        F.col(key_col).alias("key"),
    )
    sk = bottom_k_sketch(rows, k=k, shards=shards)
    wg = W.partitionBy("grp")
    # rn is the HASH rank (which rows are in the sketch); quantile
    # selection needs the VALUE rank within the sample — rv. The h
    # tiebreak keeps the row order total; tied values make the
    # selected v identical either way (type-1 quantile of the sample).
    wv = W.partitionBy("grp").orderBy("v", "h")
    ke = sk.withColumn("k_eff", F.max("rn").over(wg)).withColumn(
        "rv", F.row_number().over(wv)
    )
    est = ke.groupBy("grp").agg(
        F.max("k_eff").cast("long").alias("k_eff"),
        *[
            F.max(
                F.when(
                    F.col("rv")
                    == F.greatest(
                        F.lit(1), F.ceil(F.lit(q) * F.col("k_eff"))
                    ),
                    F.col("v"),
                )
            ).alias(f"p{round(q * 100)}_est")
            for q in quantiles
        ],
    )
    wx = W.partitionBy("grp").orderBy("v", "key")
    ranked = rows.withColumn("rx", F.row_number().over(wx)).withColumn(
        "n", F.count("*").over(wg)
    )
    exact = ranked.groupBy("grp").agg(
        F.max("n").cast("long").alias("n"),
        *[
            F.max(
                F.when(
                    F.col("rx")
                    == F.greatest(F.lit(1), F.ceil(F.lit(q) * F.col("n"))),
                    F.col("v"),
                )
            ).alias(f"p{round(q * 100)}_exact")
            for q in quantiles
        ],
    )
    cols = [F.col("grp").alias(group_col), "n", "k_eff"]
    for q in quantiles:
        tag = f"p{round(q * 100)}"
        cols += [F.col(f"{tag}_est"), F.col(f"{tag}_exact")]
    return est.join(exact, "grp").select(*cols)
