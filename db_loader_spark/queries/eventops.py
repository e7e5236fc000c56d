"""Event-stream operator queries: gap sessionization + JSON map parsing.

These are the batch faces of the streaming layer (SURVEY.md §2.8):

- ``t_session_window`` uses Spark's NATIVE ``session_window`` — the same
  operator Structured Streaming runs stateful sessionization with — so
  the batch query and the streaming pipeline (streaming.stateful) share
  semantics. The DuckDB oracle derives identical sessions from first
  principles (lag + cumulative sum over gap breaks), which cross-checks
  Spark's session-merge logic, not just our arithmetic.
- ``p_json_props`` is the JSON analog of the reference's EDN sidecar
  parse (S5, src/db_loader.clj:274,284): parse a string column into a
  typed map with ``from_json`` and explode it — no regex, no UDF.

Determinism: gap comparisons are integer microseconds on both engines
(micros survive the nanos→micros load conversion identically); session
boundaries are therefore bit-exact, not truncation-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql.types import IntegerType, MapType, StringType

from db_loader_spark.functions.sketch import kmv_nibsum_sql as _kmv_nibsum_sql
from db_loader_spark.queries import QuerySpec
from db_loader_spark.tables import load_table

SESSION_GAP = "30 minutes"
_GAP_US = 30 * 60 * 1_000_000


def t_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions per user via native ``session_window``.

    At scale this is one shuffle on user_id with AQE-coalesced
    partitions; in streaming mode the identical expression becomes an
    incrementally-maintained stateful operator — that duality is why
    the native operator beats a hand-rolled lag/cumsum here.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", SESSION_GAP).alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.round(
                (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts")))
                / F.lit(60_000_000.0),
                2,
            ).alias("duration_min"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "total_value",
            "duration_min",
        )
    )


_SESSION_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, ts, event_id, value,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN prev_ts IS NULL
                   OR date_diff('microsecond', prev_ts, ts) >= {_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM ordered
), numbered AS (
  -- order ties by event_id too, or tied rows could split sessions
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value,
       ROUND((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 60000000.0, 2) AS duration_min
FROM numbered
GROUP BY user_id, session_idx
"""


def p_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-map JSON parse of the props column (S5 sidecar analog):
    ``from_json`` → ``explode`` the map → per-key value stats."""
    e = load_table(spark, sf_dir, "events")
    parsed = e.select(
        F.explode(
            F.from_json(F.col("props"), MapType(StringType(), IntegerType()))
        ).alias("key", "val")
    )
    return parsed.groupBy("key").agg(
        F.count("*").alias("n"),
        F.round(F.avg("val"), 4).alias("avg_val"),
        F.max("val").alias("max_val"),
    )


_JSON_ORACLE = """
WITH kv AS (
  SELECT k.key AS key,
         CAST(json_extract_string(props, '$.' || k.key) AS INT) AS val
  FROM events, UNNEST(json_keys(props)) AS k(key)
)
SELECT key, COUNT(*) AS n, ROUND(AVG(val), 4) AS avg_val, MAX(val) AS max_val
FROM kv GROUP BY key
"""


def jn_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — an operator Spark lacks natively, composed from a
    single window pass: each event matches the most recent signup of the
    same user at-or-before its timestamp (DuckDB verifies with its
    native ASOF JOIN).

    Scale shape: ONE shuffle on user_id; the union of both sides rides
    one window (signups sort first on ties so '<=' semantics hold), so
    cost is a sort within user partitions — no range-join blow-up, no
    per-row probe. This is the standard at-scale formulation for
    point-in-time feature joins.
    """
    e = load_table(spark, sf_dir, "events")
    # kind 0 = signup (sorts first at equal ts → inclusive '<=' match)
    kind = F.when(F.col("event_type") == "signup", 0).otherwise(1)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "kind")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    matched = (
        e.withColumn("ts_us", F.unix_micros("ts"))
        .withColumn("kind", kind)
        .withColumn(
            "signup_us",
            F.max(F.when(F.col("kind") == 0, F.col("ts_us"))).over(w),
        )
        .filter((F.col("kind") == 1) & F.col("signup_us").isNotNull())
    )
    return matched.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(
            F.avg((F.col("ts_us") - F.col("signup_us")) / F.lit(60_000_000.0)), 2
        ).alias("avg_min_since_signup"),
    )


_ASOF_ORACLE = """
SELECT e.event_type,
       COUNT(*) AS n_events,
       ROUND(AVG((epoch_us(e.ts) - epoch_us(s.ts)) / 60000000.0), 2)
         AS avg_min_since_signup
FROM (SELECT * FROM events WHERE event_type <> 'signup') e
ASOF JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
  ON e.user_id = s.user_id AND s.ts <= e.ts
GROUP BY e.event_type
"""


_RANGE_US = 60_000_000  # 1-minute interval
_BUCKET_US = 60_000_000  # bucket width == range → offsets {-1,0,1} suffice


def jn_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) self-join without nested-loop degeneration:
    pairs of same-user events within 1 minute, counted per type pair.

    A plain ``|Δt| ≤ r`` predicate alone gives BroadcastNestedLoopJoin —
    quadratic per key. The scale formulation buckets time into
    range-width windows and equi-joins on (user, bucket + offset) for
    offset ∈ {-1,0,1}: each qualifying pair matches on EXACTLY one
    offset (bucket distance ≤ 1 when |Δt| ≤ width), the join stays a
    hash join on compound keys, and fan-out is bucket-local instead of
    per-key-quadratic. DuckDB verifies with the naive inequality join.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    a = e.select(
        "user_id",
        F.col("event_id").alias("id_a"),
        F.col("event_type").alias("type_a"),
        F.col("ts_us").alias("ts_a"),
        F.floor(F.col("ts_us") / _BUCKET_US).alias("bucket_a"),
    ).withColumn("_off", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))).withColumn(
        "bucket", F.col("bucket_a") + F.col("_off")
    )
    b = e.select(
        "user_id",
        F.col("event_id").alias("id_b"),
        F.col("event_type").alias("type_b"),
        F.col("ts_us").alias("ts_b"),
        F.floor(F.col("ts_us") / _BUCKET_US).alias("bucket"),
    )
    pairs = a.join(b, ["user_id", "bucket"]).filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.abs(F.col("ts_b") - F.col("ts_a")) <= _RANGE_US)
    )
    return pairs.groupBy("type_a", "type_b").agg(F.count("*").alias("n_pairs"))


_RANGE_ORACLE = f"""
SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_pairs
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND abs(epoch_us(b.ts) - epoch_us(a.ts)) <= {_RANGE_US}
GROUP BY 1, 2
"""


def t_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregate via native ``F.window`` —
    the batch face of the canonical streaming windowed agg (readStream +
    watermark + this exact expression). One shuffle on (window,
    event_type); partial aggregation runs map-side, so at 100 TB the
    shuffle carries one row per (hour, type) per input partition."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_TUMBLING_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


def t_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time SLIDING-window aggregate (2-hour windows every hour)
    — the overlapping-window member of the window family (tumbling:
    t_tumbling_counts; session: t_session_window). ``F.window`` with a
    slide expands each event into len/slide = 2 window copies before
    the aggregate: the shuffle carries 2× the tumbling volume — the
    inherent cost of overlap, priced here so the tumbling/sliding
    choice at 100 TB is a measured one. The oracle mirrors the
    expansion with an explicit 2-row unnest per event."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_SLIDING_ORACLE = """
WITH expanded AS (
  SELECT u.ws AS window_start, event_type, value
  FROM events,
       LATERAL unnest([date_trunc('hour', ts),
                       date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS u(ws)
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM expanded GROUP BY 1, 2
"""


def t_sliding_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window DISTINCT users (2-hour windows every hour) via
    mergeable HyperLogLog registers — the sketch-family composition:
    events are hashed ONCE into per-hour register shards (≤ m rows per
    hour, the 100 TB fleet statistic), and each overlapping window is
    a register-wise MAX merge of its two constituent hours. Contrast
    with t_sliding_counts, which expands every EVENT into len/slide
    window copies before the shuffle: here overlap costs m-row merges
    — the shuffle volume is hours × m regardless of event count or
    overlap factor, which is why production sliding-distinct (and any
    longer window / finer slide) is sketch-merge shaped. The exact
    per-window countDistinct rides alongside as the self-eval (the
    kmv/hll pattern) — it IS the 2× expansion, priced as the luxury.
    Registers/estimates replay bit-for-bit in DuckDB (see the
    functions/sketch.py HLL module comment for the exactness
    argument); the driver hash-checks the ESTIMATES."""
    from db_loader_spark.functions.sketch import HLL_ALPHA, HLL_M, hll_rho_sql

    m = HLL_M
    e = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "user_id"
    )
    h = e.select(
        "hour",
        F.expr(
            "pmod(CAST(conv(substring(md5(concat('hll:', user_id)), 1, 2), 16, 10)"
            f" AS INT), {m})"
        ).alias("reg"),
        F.expr(
            hll_rho_sql("substring(md5(concat('hll:', user_id)), 3, 8)")
        ).alias("rho"),
    )
    hourly = h.groupBy("hour", "reg").agg(F.max("rho").alias("max_rho"))
    expanded = hourly.select(
        F.col("hour").alias("ws"), "reg", "max_rho"
    ).unionAll(
        hourly.select(
            (F.col("hour") - F.expr("INTERVAL 1 HOUR")).alias("ws"),
            "reg",
            "max_rho",
        )
    )
    merged = expanded.groupBy("ws", "reg").agg(F.max("max_rho").alias("max_rho"))
    agg = merged.groupBy("ws").agg(
        F.sum(
            F.expr("1.0D / CAST(shiftleft(CAST(1 AS BIGINT), max_rho) AS DOUBLE)")
        ).alias("z_used"),
        F.count("*").alias("n_regs"),
    )
    exact = (
        e.select(F.col("hour").alias("ws"), "user_id")
        .unionAll(
            e.select(
                (F.col("hour") - F.expr("INTERVAL 1 HOUR")).alias("ws"), "user_id"
            )
        )
        .groupBy("ws")
        .agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    )
    est = F.round(
        F.lit(HLL_ALPHA * m * m) / (F.col("z_used") + (F.lit(m) - F.col("n_regs")))
    ).cast("long")
    return agg.join(exact, "ws").select(
        F.date_format("ws", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n_exact",
        est.alias("hll_estimate"),
        F.round(est.cast("double") / F.col("n_exact"), 3).alias("rel_err"),
    )


def _sliding_hll_oracle() -> str:
    from db_loader_spark.functions.sketch import HLL_ALPHA, HLL_M, hll_rho_sql

    m = HLL_M
    rho = hll_rho_sql("substring(md5('hll:' || CAST(user_id AS VARCHAR)), 3, 8)")
    est = (
        f"CAST(ROUND((CAST({HLL_ALPHA} AS DOUBLE) * {m} * {m})"
        " / (a.z_used + ({m} - a.n_regs))) AS BIGINT)".format(m=m)
    )
    return f"""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hour,
         CAST(('0x' || substring(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 2))::UBIGINT
              AS INT) % {m} AS reg,
         ({rho}) AS rho
  FROM events
), hourly AS (
  SELECT hour, reg, MAX(rho) AS max_rho FROM h GROUP BY hour, reg
), expanded AS (
  SELECT u.ws AS ws, reg, max_rho
  FROM hourly, LATERAL unnest([hour, hour - INTERVAL 1 HOUR]) AS u(ws)
), merged AS (
  SELECT ws, reg, MAX(max_rho) AS max_rho FROM expanded GROUP BY ws, reg
), a AS (
  SELECT ws, SUM(1.0 / CAST(1::BIGINT << max_rho AS DOUBLE)) AS z_used,
         COUNT(*) AS n_regs
  FROM merged GROUP BY ws
), ex AS (
  SELECT u.ws AS ws, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events,
       LATERAL unnest([date_trunc('hour', ts),
                       date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS u(ws)
  GROUP BY 1
)
SELECT strftime(a.ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       ex.n_exact,
       {est} AS hll_estimate,
       ROUND(CAST({est} AS DOUBLE) / ex.n_exact, 3) AS rel_err
FROM a JOIN ex USING (ws)
"""


def a_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per event type — the spread/association
    half of the profiler family (a_profile_stats: counts/nulls/ranges;
    a_histogram: shape; a_quantiles: order stats): sample stddev of
    value and its Pearson correlation with the user id, all from ONE
    map-side-combining pass of EXACT INTEGER sums: n, Σc, Σc², Σu,
    Σu², Σc·u over integer cents (the FP-free channel the rest of the
    registry uses) and integer user ids — partition order cannot
    perturb an integer sum, so the accumulated moments are
    bit-identical on every run and every engine. The handful of
    double divisions/sqrts happens ONCE per group, after aggregation,
    with the identical expression tree stated in the oracle — IEEE
    ops on identical inputs, not merge-order-dependent accumulation
    (r6 shipped stddev_samp/corr here; ADVICE r6 flagged that a value
    near a rounding boundary could flip between the engines' partial
    -merge orders, failing the hash nondeterministically).
    corr's NULL on a zero-variance group is preserved (explicit
    zero-denominator guard — a degenerate group should look
    degenerate). Pearson corr is scale-invariant, so cents-vs-user
    equals value-vs-user exactly."""
    e = load_table(spark, sf_dir, "events")
    c = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    u = F.col("user_id").cast("long")
    # Second-order sums accumulate as DECIMAL(38,0), not BIGINT: each
    # c*c term is ~1e12 (micro-cents squared), so ~1e7 rows per group
    # already exceeds int64 — under ANSI Spark (this deployment) the
    # BIGINT sum then DIES with ARITHMETIC_OVERFLOW mid-query, and
    # under non-ANSI it wraps silently while DuckDB promotes
    # SUM(BIGINT) to HUGEINT; either way the bit-identical-moments
    # contract breaks exactly at the scale this rewrite exists for
    # (ADVICE r7; overflow behavior pinned by
    # test_moments_decimal_channel_survives_bigint_overflow).
    # decimal(19,0)*decimal(19,0) → decimal(38,0) on both engines; 38
    # digits absorbs ~1e14 rows of 1e12-sized terms per group.
    cd = c.cast("decimal(19,0)")
    ud = u.cast("decimal(19,0)")
    # First-order sums (sc, su) stay BIGINT deliberately: terms are
    # ~1e8 (micro-cents at value≈1e6, user ids), so int64's ~9.2e18
    # headroom holds to ~9e12 rows PER GROUP — beyond a 100 TB table's
    # per-key cardinality by orders of magnitude, and both engines sum
    # them exactly (DuckDB in HUGEINT, cast back). Only the ~1e12-
    # sized second-order terms need the DECIMAL channel above.
    m = e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(c).alias("sc"),
        F.sum(cd * cd).alias("sc2"),
        F.sum(u).alias("su"),
        F.sum(ud * ud).alias("su2"),
        F.sum(cd * ud).alias("scu"),
    )
    nd, sc, sc2 = [F.col(x).cast("double") for x in ("n", "sc", "sc2")]
    su, su2, scu = [F.col(x).cast("double") for x in ("su", "su2", "scu")]
    var_c = (sc2 - sc * sc / nd) / (nd - 1)
    den = F.sqrt(nd * sc2 - sc * sc) * F.sqrt(nd * su2 - su * su)
    # `+ 0.0` after ROUND on the SIGN-CAPABLE channels (r11, the staged
    # signed-zero prophylaxis — same normalization as the r10
    # curation_dsir_weight fix, mirrored in the oracle): a tiny-negative
    # mean or correlation ROUNDs to -0.0, which the driver's value hash
    # distinguishes from DuckDB's +0.0 (or vice versa). sd_value is
    # nonnegative by construction (sqrt) and needs nothing.
    return m.select(
        "event_type",
        "n",
        (F.round(sc / nd / 100.0, 2) + 0.0).alias("mean_value"),
        F.when(F.col("n") > 1, F.round(F.sqrt(var_c) / 100.0, 2)).alias("sd_value"),
        F.when(den != 0, F.round((nd * scu - sc * su) / den, 4) + 0.0).alias(
            "corr_value_user"
        ),
    )


_MOMENTS_ORACLE = """
WITH s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(c) AS sc, SUM(cd * cd) AS sc2,
         SUM(u) AS su, SUM(ud * ud) AS su2, SUM(cd * ud) AS scu
  FROM (
    SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c,
           CAST(user_id AS BIGINT) AS u,
           CAST(ROUND(value * 100) AS DECIMAL(19,0)) AS cd,
           CAST(user_id AS DECIMAL(19,0)) AS ud
    FROM events
  ) GROUP BY event_type
),
d AS (
  SELECT event_type, n,
         CAST(n AS DOUBLE) AS nd, CAST(sc AS DOUBLE) AS sc,
         CAST(sc2 AS DOUBLE) AS sc2, CAST(su AS DOUBLE) AS su,
         CAST(su2 AS DOUBLE) AS su2, CAST(scu AS DOUBLE) AS scu
  FROM s
)
SELECT event_type, n,
       ROUND(sc / nd / 100.0, 2) + 0.0 AS mean_value,
       CASE WHEN n > 1
            THEN ROUND(sqrt((sc2 - sc * sc / nd) / (nd - 1)) / 100.0, 2)
       END AS sd_value,
       CASE WHEN sqrt(nd * sc2 - sc * sc) * sqrt(nd * su2 - su * su) <> 0
            THEN ROUND((nd * scu - sc * su)
                       / (sqrt(nd * sc2 - sc * sc) * sqrt(nd * su2 - su * su)), 4)
                 + 0.0
       END AS corr_value_user
FROM d
"""


def w_event_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap statistics via ``lag`` — the window-lag
    primitive (distinct from session_window's built-in gap logic).

    Gaps are integer microseconds (unix_micros) so the mean is an exact
    int-sum / count on both engines — no FP accumulation drift. Single
    shuffle on user_id serves both the window and the final groupBy
    (Catalyst reuses the hash partitioning)."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    gap = ts_us - F.lag(ts_us).over(w)
    return (
        e.select("user_id", gap.alias("gap_us"))
        .filter(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_gaps"),
            F.max("gap_us").alias("max_gap_us"),
            F.round(F.avg("gap_us") / 60_000_000.0, 4).alias("avg_gap_min"),
        )
    )


_EVENT_GAP_ORACLE = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT user_id, COUNT(*) AS n_gaps, MAX(gap_us) AS max_gap_us,
       ROUND(AVG(gap_us) / 60000000.0, 4) AS avg_gap_min
FROM g WHERE gap_us IS NOT NULL GROUP BY user_id
"""


# class → keep-percentage: the rebalancing profile (rare classes kept
# whole, dominant classes thinned) a training-data pipeline applies.
STRATA_RATES = {"error": 100, "purchase": 50, "signup": 25}
_DEFAULT_RATE = 5


def a_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class deterministic sampling (dataset rebalancing).

    Same RNG-free md5-bucket mechanism as ``a_hash_sample`` — stable
    across engines, re-runs, and partitionings — but the keep-rate is a
    per-class CASE, so rare classes survive whole while dominant ones
    thin out. Pure scan-side filter + one aggregate: no shuffle carries
    unsampled rows, and at 100 TB the filter rides the parquet scan."""
    e = load_table(spark, sf_dir, "events")
    bucket = F.expr(
        "pmod(CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT), 100)"
    )
    rate = F.expr(
        "CASE "
        + " ".join(
            f"WHEN event_type = '{k}' THEN {v}" for k, v in STRATA_RATES.items()
        )
        + f" ELSE {_DEFAULT_RATE} END"
    )
    return (
        e.filter(bucket < rate)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_sampled"),
            F.round(F.sum("value"), 2).alias("sampled_value"),
        )
    )


_STRATified_CASE = (
    "CASE "
    + " ".join(f"WHEN event_type = '{k}' THEN {v}" for k, v in STRATA_RATES.items())
    + f" ELSE {_DEFAULT_RATE} END"
)

_STRATIFIED_ORACLE = f"""
SELECT event_type, COUNT(*) AS n_sampled, ROUND(SUM(value), 2) AS sampled_value
FROM events
WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT)
      % 100 < ({_STRATified_CASE})
GROUP BY event_type
"""


MAD_K = 3.0 * 1.4826  # 3-sigma equivalent under normality


def a_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-class outlier filtering (median/MAD z-score) — the
    data-quality pass that drops corrupt measurements before training.

    Median and MAD instead of mean/stddev because outliers are exactly
    what corrupts the moments used to find them. Two aggregate passes
    (median, then MAD of deviations) + a broadcast join of the tiny
    per-class stats back onto the scan; both percentiles are exact
    sort-based linear interpolation, identical in Spark and DuckDB, so
    the keep/drop boundary is engine-deterministic. At 100 TB swap the
    exact percentile for approx_percentile and keep the same shape."""
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(absdev, 0.5D)").alias("mad")
    )
    kept = (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .filter(F.abs(F.col("value") - F.col("med")) <= F.lit(MAD_K) * F.col("mad"))
    )
    return kept.groupBy("event_type").agg(
        F.count("*").alias("n_kept"),
        F.round(F.sum("value"), 2).alias("kept_value"),
        F.round(F.first("med"), 4).alias("med"),
        F.round(F.first("mad"), 4).alias("mad"),
    )


_OUTLIER_ORACLE = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY event_type
),
mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_type, COUNT(*) AS n_kept,
       ROUND(SUM(e.value), 2) AS kept_value,
       ROUND(ANY_VALUE(m.med), 4) AS med,
       ROUND(ANY_VALUE(d.mad), 4) AS mad
FROM events e
JOIN med m USING (event_type)
JOIN mad d USING (event_type)
WHERE abs(e.value - m.med) <= {MAD_K} * d.mad
GROUP BY e.event_type
"""


def w_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS-frame moving aggregate — the bounded-frame window family
    member (w_running_sum is UNBOUNDED PRECEDING; this is the sliding
    7-row frame a monitoring pipeline smooths metrics with).

    Scale shape: one shuffle on user_id, one sort per partition; the
    frame is evaluated incrementally (add/evict one row per step), so
    cost is O(rows), not O(rows * frame). FP honesty: the smoothed
    value is summed in integer CENTS inside the frame (exact,
    order-independent) and divided ONCE at the end — sliding-sum
    implementations differ between engines (running add/subtract vs
    segment trees) and a double-typed frame sum would diverge in the
    last ulp; integer frames cannot.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    cents = F.round(F.col("value") * 100).cast("long")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, W.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.round(
            F.sum(cents).over(w) / (F.count(F.lit(1)).over(w) * 100.0), 4
        ).alias("moving_avg"),
    )


def a_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via the engine-portable
    HyperLogLog sketch (functions.sketch.hll_distinct — see the module
    comment there for the bit-pattern estimator, the exact-powers-of-
    two FP argument, and why the registers are md5-replayable instead
    of Spark's black-box approx_count_distinct binary). Exact count
    alongside, self-eval style; the estimate column itself is driver
    hash-checked against DuckDB replaying the identical sketch."""
    from db_loader_spark.functions.sketch import hll_distinct

    e = load_table(spark, sf_dir, "events")
    return hll_distinct(e, "event_type", "user_id")


def _hll_oracle() -> str:
    from db_loader_spark.functions.sketch import HLL_M, hll_rho_sql

    rho = hll_rho_sql("substring(md5('hll:' || CAST(user_id AS VARCHAR)), 3, 8)")
    return f"""
WITH h AS (
  SELECT event_type, user_id,
         CAST(('0x' || substring(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 2))::UBIGINT
              AS INT) % {HLL_M} AS reg,
         ({rho}) AS rho
  FROM events
), regs AS (
  SELECT event_type, reg, MAX(rho) AS max_rho FROM h GROUP BY event_type, reg
), agg AS (
  SELECT event_type,
         SUM(1.0 / CAST(1::BIGINT << max_rho AS DOUBLE)) AS z_used,
         COUNT(*) AS n_regs
  FROM regs GROUP BY event_type
), exact AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type
)
SELECT a.event_type, e.n_exact,
       CAST(ROUND((CAST(0.709 AS DOUBLE) * {HLL_M} * {HLL_M})
                  / (a.z_used + ({HLL_M} - a.n_regs))) AS BIGINT) AS hll_estimate,
       ROUND(CAST(ROUND((CAST(0.709 AS DOUBLE) * {HLL_M} * {HLL_M})
                        / (a.z_used + ({HLL_M} - a.n_regs))) AS DOUBLE)
             / e.n_exact, 3) AS rel_err
FROM agg a JOIN exact e USING (event_type)
"""


def a_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiler — the ingest-gate statistics a pipeline computes
    before trusting a new corpus drop (the testdata schema drift that
    voided round 3 is exactly the failure class this catches): per
    column, row/null/distinct counts and numeric min/max, all from ONE
    scan. Every per-column aggregate lives in the same Aggregate node
    (count/countDistinct/min/max are all map-side-combining), then the
    single result row is unpivoted driver-side with ``stack`` — so
    profiling an N-column table costs one pass regardless of N, not N
    scans. Numerics are profiled in exact integer domains (micros,
    cents) — the FP-free channel the rest of the registry uses.

    n_distinct is EXACT here (the profiler doubles as the oracle for
    estimators); at 100 TB swap the countDistinct aggregates for the
    HLL registers in functions/sketch.py — same plan shape, constant
    memory, and this exact profile is the self-eval baseline.

    Signed-zero audit (r11, the staged prophylaxis pass): this key is
    SIGN-INCAPABLE by construction — every output column is BIGINT
    (min_v/max_v profile exact integer domains: ids, micros, cents; the
    ROUND in the cents channel happens BEFORE the CAST to BIGINT), and
    integers have no -0.0. No ``+ 0.0`` is needed or applied; the
    registry-wide scan in tests/test_signed_zero.py would flag any
    future float column here."""
    e = load_table(spark, sf_dir, "events")
    num_exprs = {
        "event_id": F.col("event_id"),
        "ts": F.unix_micros("ts"),
        "user_id": F.col("user_id"),
        "event_type": None,
        "value": F.expr("CAST(ROUND(value * 100) AS BIGINT)"),
        "props": None,
    }
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, num in num_exprs.items():
        aggs.append(F.count(F.col(c)).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"nd_{c}"))
        lo = F.min(num) if num is not None else F.lit(None).cast("long")
        hi = F.max(num) if num is not None else F.lit(None).cast("long")
        aggs.append(lo.alias(f"lo_{c}"))
        aggs.append(hi.alias(f"hi_{c}"))
    one = e.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, lo_{c}, hi_{c}" for c in num_exprs
    )
    return one.selectExpr(
        "n_rows",
        f"stack({len(num_exprs)}, {stack_args}) AS (column_name, nn, n_distinct, min_v, max_v)",
    ).select(
        "column_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        (F.col("n_rows") - F.col("nn")).cast("long").alias("n_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_v",
        "max_v",
    )


_PROFILE_ORACLE = """
SELECT 'event_id' AS column_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT(event_id) AS n_null,
       COUNT(DISTINCT event_id) AS n_distinct,
       MIN(event_id) AS min_v, MAX(event_id) AS max_v FROM events
UNION ALL
SELECT 'ts', COUNT(*), COUNT(*) - COUNT(ts), COUNT(DISTINCT ts),
       MIN(epoch_us(ts)), MAX(epoch_us(ts)) FROM events
UNION ALL
SELECT 'user_id', COUNT(*), COUNT(*) - COUNT(user_id), COUNT(DISTINCT user_id),
       MIN(user_id), MAX(user_id) FROM events
UNION ALL
SELECT 'event_type', COUNT(*), COUNT(*) - COUNT(event_type),
       COUNT(DISTINCT event_type), NULL, NULL FROM events
UNION ALL
SELECT 'value', COUNT(*), COUNT(*) - COUNT(value), COUNT(DISTINCT value),
       MIN(CAST(ROUND(value * 100) AS BIGINT)),
       MAX(CAST(ROUND(value * 100) AS BIGINT)) FROM events
UNION ALL
SELECT 'props', COUNT(*), COUNT(*) - COUNT(props), COUNT(DISTINCT props),
       NULL, NULL FROM events
"""


def a_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of the value column, 10 buckets over the
    observed [min, max] — the distribution half of the profiler (and
    the DEBUG view behind every skew decision in operators/skew.py:
    the histogram is how you SEE the hot keys before salting them).

    Bucketing is pure integer arithmetic on cents — bucket =
    (v-min)*10 / (max-min+1) with BIGINT division — so bucket edges
    are bit-identical across engines (a double-typed (v-min)/w would
    invite edge-of-bucket ulp flips; DuckDB also lacks width_bucket).
    Two jobs: a 2-value min/max scan broadcast into the bucketing
    scan — the standard two-pass histogram; at 100 TB pass 1 reads
    parquet footer stats instead of data."""
    e = load_table(spark, sf_dir, "events").select(
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents")
    )
    bounds = e.agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    )
    return (
        e.crossJoin(F.broadcast(bounds))
        .select(
            # `div` = exact BIGINT division on both engines ('//' in
            # DuckDB); a double '/' + cast could flip an edge bucket
            F.expr("(cents - lo) * 10 div (hi - lo + 1)").alias("bucket"),
            "cents",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("cents").alias("bucket_min_cents"),
            F.max("cents").alias("bucket_max_cents"),
        )
    )


_HISTOGRAM_ORACLE = """
WITH c AS (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events
), b AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM c)
SELECT CAST((cents - lo) * 10 // (hi - lo + 1) AS BIGINT) AS bucket,
       COUNT(*) AS n,
       MIN(cents) AS bucket_min_cents,
       MAX(cents) AS bucket_max_cents
FROM c, b
GROUP BY 1
"""


_MOVING_AVG_ORACLE = """
SELECT user_id, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
             / (COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) * 100.0),
             4) AS moving_avg
FROM events WHERE user_id % 10 = 0
"""


def a_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type quantiles from the STORED bottom-k canonical
    sketch (functions.sketch.quantile_sketch) — the constant-state,
    exactly-mergeable quantile member of the sketch family, run here
    as the two-level shard→merge plan (8 stage-1 shards of k=128
    each). The DuckDB oracle replays the ONE-PASS form, so the green
    driver row is the merge theorem itself: bottom-k of per-shard
    bottom-ks ≡ bottom-k of the corpus, bit-for-bit across engines.
    Values are integer cents (the a_histogram idiom) and quantiles
    are type-1 rank selections — every output column is a BIGINT the
    driver hashes exactly. Exact quantiles ride alongside as the
    self-eval channel (small-SF verifier luxury; production persists
    only the k sketch rows per group)."""
    from db_loader_spark.functions.sketch import quantile_sketch

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
        "event_id",
    )
    return quantile_sketch(e, "event_type", "cents", "event_id")


# 13-nibble md5-prefix decode as an exact double — the textops
# _KMV_NIBSUM idiom with the 'qsk:' row salt
_QSK_NIBSUM = _kmv_nibsum_sql()

_QUANTILE_SKETCH_ORACLE = f"""
WITH c AS (
  SELECT event_type AS grp, CAST(ROUND(value * 100) AS BIGINT) AS v,
         event_id AS key
  FROM events
),
h AS (
  SELECT grp, v, key, ({_QSK_NIBSUM}) / 4503599627370496.0 AS h
  FROM (SELECT grp, v, key,
               substr(md5('qsk:' || CAST(key AS VARCHAR)), 1, 13) AS hx
        FROM c)
),
sk AS (
  SELECT grp, v, h,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h, key) AS rn
  FROM h QUALIFY rn <= 128
),
ke AS (
  SELECT grp, v, rn, MAX(rn) OVER (PARTITION BY grp) AS k_eff,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v, h) AS rv
  FROM sk
),
est AS (
  SELECT grp, CAST(MAX(k_eff) AS BIGINT) AS k_eff,
         MAX(CASE WHEN rv = GREATEST(1, CAST(CEIL(0.25 * k_eff) AS BIGINT)) THEN v END) AS p25_est,
         MAX(CASE WHEN rv = GREATEST(1, CAST(CEIL(0.5 * k_eff) AS BIGINT)) THEN v END) AS p50_est,
         MAX(CASE WHEN rv = GREATEST(1, CAST(CEIL(0.9 * k_eff) AS BIGINT)) THEN v END) AS p90_est,
         MAX(CASE WHEN rv = GREATEST(1, CAST(CEIL(0.99 * k_eff) AS BIGINT)) THEN v END) AS p99_est
  FROM ke GROUP BY grp
),
ex AS (
  SELECT grp, v,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v, key) AS rx,
         COUNT(*) OVER (PARTITION BY grp) AS n
  FROM c
),
exa AS (
  SELECT grp, CAST(MAX(n) AS BIGINT) AS n,
         MAX(CASE WHEN rx = GREATEST(1, CAST(CEIL(0.25 * n) AS BIGINT)) THEN v END) AS p25_exact,
         MAX(CASE WHEN rx = GREATEST(1, CAST(CEIL(0.5 * n) AS BIGINT)) THEN v END) AS p50_exact,
         MAX(CASE WHEN rx = GREATEST(1, CAST(CEIL(0.9 * n) AS BIGINT)) THEN v END) AS p90_exact,
         MAX(CASE WHEN rx = GREATEST(1, CAST(CEIL(0.99 * n) AS BIGINT)) THEN v END) AS p99_exact
  FROM ex GROUP BY grp
)
SELECT est.grp AS event_type, n, k_eff,
       p25_est, p25_exact, p50_est, p50_exact,
       p90_est, p90_exact, p99_est, p99_exact
FROM est JOIN exa ON est.grp = exa.grp
"""


QUERIES: dict[str, QuerySpec] = {
    "a_outlier_filter": QuerySpec(
        a_outlier_filter, _OUTLIER_ORACLE, "robust median/MAD outlier filter"
    ),
    "a_quantile_sketch": QuerySpec(
        a_quantile_sketch,
        _QUANTILE_SKETCH_ORACLE,
        "stored bottom-k mergeable quantile sketch with exact self-eval",
    ),
    "t_sliding_counts": QuerySpec(
        t_sliding_counts, _SLIDING_ORACLE, "event-time sliding-window agg (2h/1h)"
    ),
    "a_moments": QuerySpec(
        a_moments, _MOMENTS_ORACLE, "one-pass spread/association moments"
    ),
    "t_sliding_hll": QuerySpec(
        t_sliding_hll,
        _sliding_hll_oracle(),
        "sliding-window distinct via mergeable HLL register shards",
    ),
    "w_event_gap": QuerySpec(
        w_event_gap, _EVENT_GAP_ORACLE, "lag-based inter-event gaps"
    ),
    "t_session_window": QuerySpec(
        t_session_window, _SESSION_ORACLE, "native session_window gap sessions"
    ),
    "p_json_props": QuerySpec(p_json_props, _JSON_ORACLE, "from_json map explode"),
    "jn_asof_join": QuerySpec(jn_asof_join, _ASOF_ORACLE, "as-of join via one window"),
    "jn_range_join": QuerySpec(
        jn_range_join, _RANGE_ORACLE, "bucketed interval join (no BNLJ)"
    ),
    "w_moving_avg": QuerySpec(
        w_moving_avg, _MOVING_AVG_ORACLE, "7-row sliding-frame moving average"
    ),
    "a_hll_distinct": QuerySpec(
        a_hll_distinct, _hll_oracle(), "portable HyperLogLog distinct sketch"
    ),
    "a_profile_stats": QuerySpec(
        a_profile_stats, _PROFILE_ORACLE, "one-pass per-column table profile"
    ),
    "a_histogram": QuerySpec(
        a_histogram, _HISTOGRAM_ORACLE, "equi-width integer-cent histogram"
    ),
}

# Diagnostics (pytest-oracle tier): a_stratified_sample's per-class
# deterministic-hash gate is the windowed a_hash_sample's predicate
# applied per group (and the weighted form is windowed as
# curation_weighted_sample); t_tumbling_counts is t_sliding_counts with
# step = width — the sliding key exercises the strictly more general
# window assignment. Both keep their DuckDB value checks in
# tests/test_oracle_queries.py.
DIAGNOSTICS: dict[str, QuerySpec] = {
    "a_stratified_sample": QuerySpec(
        a_stratified_sample, _STRATIFIED_ORACLE, "per-class deterministic sampling"
    ),
    "t_tumbling_counts": QuerySpec(
        t_tumbling_counts, _TUMBLING_ORACLE, "event-time tumbling-window agg"
    ),
}
