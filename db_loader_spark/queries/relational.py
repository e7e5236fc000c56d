"""Relational operator queries (SURVEY.md §2.5-§2.7) + headline bench queries.

Covers: broadcast dimension joins (JN1/JN3/JN6), contains theta-join (JN2),
anti-join idempotence (JN4), FK validation (JN7), group-by/max/filtered-count/
count-distinct (A1-A5), run-summary aggregate (A6), max+1 id assignment (A7),
find-first (P10), windows / top-k / set ops / rollup (§2.7), EAV pivot (§1.4).

Reference parity notes cite /root/reference file:line in each docstring.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from db_loader_spark.operators.idempotence import anti_join_new, fk_violations
from db_loader_spark.queries import QuerySpec
from db_loader_spark.session import data_sized_shuffle, local_frame
from db_loader_spark.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Headline bench queries (TPC-H-shaped; exercise scan+filter+agg+join paths)
# --------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy filter + 8-way aggregate.

    Catalyst pushes the shipdate filter into the parquet scan and does
    map-side partial aggregation; only 6 groups survive the shuffle.
    """
    l = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-01-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)                                    AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)                               AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 4)                                    AS avg_qty,
       ROUND(AVG(l_extendedprice), 4)                               AS avg_price,
       ROUND(AVG(l_discount), 4)                                    AS avg_disc,
       COUNT(*)                                                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-01-01'
GROUP BY l_returnflag, l_linestatus
"""


def q3_core(c: DataFrame, o: DataFrame, l: DataFrame) -> DataFrame:
    """q3 plan on caller-supplied tables — bench feeds this bucketed
    orders/lineitem to show the zero-exchange fact⋈fact layout."""
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


def q3_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer ⋈ orders ⋈ lineitem star join rolled up to market segment.

    customer is tiny relative to lineitem → broadcast; the orders⋈lineitem
    join shuffles on the shared orderkey only once.
    """
    return q3_core(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


_Q3_ORACLE = """
SELECT c_mktsegment,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(DISTINCT o_orderkey)                        AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dimension chain lineitem⋈orders⋈customer⋈nation⋈region with a
    date-range filter (mirrors the reference's multi-dim insert-select,
    src/parse_logs_ecj.clj:19-25 / JN3) — all dims broadcast."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01"))
                & (F.col("o_orderdate") < F.lit("1998-01-01"))
            ),
            l.l_orderkey == o.o_orderkey,
        )
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


_Q5_ORACLE = """
SELECT r_name, n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY r_name, n_name
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers by spend — orderBy+limit compiles to
    TakeOrderedAndProject (no full sort at scale). Tie-broken on custkey."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spend"))
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .select("c_custkey", "c_name", "total_spend")
        .orderBy(F.col("total_spend").desc(), F.col("c_custkey"))
        .limit(10)
    )


def q10_core(
    lineitem: DataFrame, orders: DataFrame, c: DataFrame, n: DataFrame
) -> DataFrame:
    """q10 plan on caller-supplied tables (see q3_core)."""
    li = lineitem.filter(F.col("l_returnflag") == "R")
    o = orders.filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-04-01")
    )
    # Exact decimal per-item revenue: price/discount carry 2 decimal
    # places, so the casts are lossless and the SUM is associative —
    # shuffle/merge order can't flip the cents digit (a double SUM here
    # hash-mismatched the oracle on a half-cent boundary).
    item_rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )
    return (
        li.join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(item_rev), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item revenue report. The one big-big
    join (lineitem⋈orders on orderkey) shuffles both sides; the quarter
    filter on orders and the returnflag filter on lineitem are pushed to
    the parquet scans first, so the shuffle carries ~1/12 of orders and
    ~1/3 of lineitem. customer and nation ride in as broadcasts; the
    final top-20 compiles to TakeOrderedAndProject (no global sort)."""
    return q10_core(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
    )


_Q10_ORACLE = """
SELECT c_custkey, c_name, n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))), 2)
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate <  TIMESTAMP '1995-04-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


_TOPCUST_ORACLE = """
SELECT c_custkey, c_name, total_spend
FROM (
  SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total_spend
  FROM orders GROUP BY o_custkey
) s JOIN customer ON o_custkey = c_custkey
ORDER BY total_spend DESC, c_custkey
LIMIT 10
"""


# --------------------------------------------------------------------------
# Aggregations A1-A7 (SURVEY.md §2.6)
# --------------------------------------------------------------------------


def a1_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: distinct (name,id) pairs via group-by — the problem-map fetch
    (scripts/load_csv_to_cloud.sh:90)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("cnt"))


_A1_ORACLE = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
FROM orders GROUP BY o_orderstatus, o_orderpriority
"""


def a2_max_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: max(id) (scripts/load_csv_to_cloud.sh:93)."""
    return _t(spark, sf_dir, "orders").agg(F.max("o_orderkey").alias("max_id"))


_A2_ORACLE = "SELECT MAX(o_orderkey) AS max_id FROM orders"


def a3_filtered_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: count(*) with a LIKE filter — the dedup check
    (scripts/load_csv_to_cloud.sh:110)."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderpriority").contains("URGENT")).agg(
        F.count("*").alias("cnt")
    )


_A3_ORACLE = "SELECT COUNT(*) AS cnt FROM orders WHERE o_orderpriority LIKE '%URGENT%'"


def a4_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: count(distinct …) per group (src/parse_logs_ecj.clj:73-74)."""
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("nd_parts"),
        F.count("*").alias("n_rows"),
    )


_A4_ORACLE = """
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS nd_parts, COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


def a6_run_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per-run summary collapse — successp + maxgen
    (summary-vals, src/db_loader.clj:204-209) mapped to events: per user,
    did a 'purchase' happen and what was the last event id."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        (F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) == 1).alias(
            "successp"
        ),
        F.max("event_id").alias("maxgen"),
    )


_A6_ORACLE = """
SELECT user_id,
       CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BOOLEAN) AS successp,
       MAX(event_id) AS maxgen
FROM events GROUP BY user_id
"""


def a7_id_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: max+1 sequential id assignment (src/db_loader.clj:79,82-84;
    scripts/load_csv_to_cloud.sh:94-104): new dimension members get
    max(existing)+row_number ids. The global window is fine because the
    new-member set is tiny (it's a dimension delta, not fact data)."""
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    base = n.agg(F.max("n_nationkey").alias("base_id"))
    new_members = c.select("c_mktsegment").distinct()
    w = W.orderBy("c_mktsegment")
    return (
        new_members.crossJoin(F.broadcast(base))
        .withColumn("new_id", F.col("base_id") + F.row_number().over(w))
        .select(F.col("c_mktsegment").alias("member"), "new_id")
    )


_A7_ORACLE = """
SELECT c_mktsegment AS member,
       (SELECT MAX(n_nationkey) FROM nation)
         + CAST(ROW_NUMBER() OVER (ORDER BY c_mktsegment) AS INT) AS new_id
FROM (SELECT DISTINCT c_mktsegment FROM customer)
"""


# --------------------------------------------------------------------------
# Joins JN1-JN7 (SURVEY.md §2.5)
# --------------------------------------------------------------------------


def jn1_dim_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JN1/JN3: dimension equi-lookup chain (new-batch,
    src/parse_logs_ecj.clj:41-48) — customer→nation→region, both dims
    broadcast (no shuffle of the fact side)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


_JN1_ORACLE = """
SELECT r_name, n_name, COUNT(*) AS n_customers, ROUND(SUM(c_acctbal), 2) AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def jn2_contains_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JN2: LIKE/contains theta-join (probname like '%folder%',
    src/parse_logs_ecj.clj:43-45) — small keyword dim × documents via
    BroadcastNestedLoopJoin (the only correct physical shape for a
    non-equi predicate with a tiny side)."""
    d = _t(spark, sf_dir, "documents")
    words = local_frame(
        spark, [("spark",), ("window",), ("join",), ("vector",)], "word string"
    )
    return (
        d.join(F.broadcast(words), F.col("text").contains(F.col("word")))
        .groupBy("word")
        .agg(F.count("*").alias("n_docs"))
    )


_JN2_ORACLE = """
SELECT word, COUNT(*) AS n_docs
FROM documents
JOIN (VALUES ('spark'), ('window'), ('join'), ('vector')) AS w(word)
  ON strpos(text, word) > 0
GROUP BY word
"""


def jn4_anti_join_idempotence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JN4: exists-check-then-insert as :func:`anti_join_new`
    (src/parse_logs_ecj.clj:51-59,71-77): orders not yet present in the
    'already loaded' set (orders that have lineitems)."""
    loaded = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return anti_join_new(_t(spark, sf_dir, "orders"), loaded, ["o_orderkey"]).agg(
        F.count("*").alias("new_cnt")
    )


_JN4_ORACLE = """
SELECT COUNT(*) AS new_cnt FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
"""


def jn7_fk_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JN7: declared-FK integrity as :func:`fk_violations` anti-joins
    (scripts/create_tables.sql:20,35-37,45,53)."""

    def violations(child: str, parent: str, fk: str, pk: str) -> DataFrame:
        return (
            fk_violations(_t(spark, sf_dir, child), _t(spark, sf_dir, parent), fk, pk)
            .agg(F.count("*").alias("violations"))
            .select(F.lit(f"{child}->{parent}").alias("fk"), "violations")
        )

    return violations("lineitem", "orders", "l_orderkey", "o_orderkey").unionByName(
        violations("customer", "nation", "c_nationkey", "n_nationkey")
    )


_JN7_ORACLE = """
SELECT 'lineitem->orders' AS fk, COUNT(*) AS violations FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'customer->nation' AS fk, COUNT(*) AS violations FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
"""


def p10_find_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: find-first matching element (su/find-first,
    src/db_loader.clj:112,171,205,231) — first purchase event per user.
    Expressed as MIN over a filtered set (order-safe, unlike LIMIT 1)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("event_id").alias("first_purchase"))
    )


_P10_ORACLE = """
SELECT user_id, MIN(event_id) AS first_purchase
FROM events WHERE event_type = 'purchase' GROUP BY user_id
"""


# --------------------------------------------------------------------------
# Windows / top-k / set ops / rollup / pivot (SURVEY.md §2.7, §1.4)
# --------------------------------------------------------------------------


def w_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window aggregate — the J1 primitive shape
    (src/db_loader.clj:54-63 maps to exactly this window)."""
    e = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


_WRUN_ORACLE = """
SELECT user_id, event_id,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY event_id
                              ROWS UNBOUNDED PRECEDING), 2) AS running_value
FROM events
"""


def w_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by totalprice per priority class (row_number window,
    deterministic tie-break on orderkey)."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rk")
    )


_WTOPK_ORACLE = """
SELECT o_orderpriority, o_orderkey, ROUND(o_totalprice, 2) AS price, CAST(rk AS INT) AS rk
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) WHERE rk <= 3
"""


def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: nations having customers vs. having suppliers —
    INTERSECT / EXCEPT via distinct project + join-free set operators."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk")).distinct()
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk")).distinct()
    both = c.intersect(s).select(F.lit("both").alias("which"), "nk")
    only_c = c.subtract(s).select(F.lit("customer_only").alias("which"), "nk")
    only_s = s.subtract(c).select(F.lit("supplier_only").alias("which"), "nk")
    return both.unionByName(only_c).unionByName(only_s)


_SETOPS_ORACLE = """
SELECT 'both' AS which, nk FROM
  (SELECT DISTINCT c_nationkey AS nk FROM customer
   INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT 'customer_only', nk FROM
  (SELECT DISTINCT c_nationkey AS nk FROM customer
   EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT 'supplier_only', nk FROM
  (SELECT DISTINCT s_nationkey AS nk FROM supplier
   EXCEPT SELECT DISTINCT c_nationkey FROM customer)
"""


def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy subtotals (region → nation → grand total)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.round(F.sum("c_acctbal"), 2).alias("sum_bal"))
    )


_ROLLUP_ORACLE = """
SELECT r_name, n_name, ROUND(SUM(c_acctbal), 2) AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def eav_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EAV long→wide pivot (SURVEY.md §1.4): per-user event-type counts as
    wide columns via conditional aggregation (shuffle-once, no extra pass
    that .pivot()'s value-discovery scan would add)."""
    e = _t(spark, sf_dir, "events")
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in ("click", "view", "purchase", "signup", "error")
    ]
    return e.groupBy("user_id").agg(*aggs)


_EAV_PIVOT_ORACLE = """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error
FROM events GROUP BY user_id
"""


def a_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase aggregation (operators.skew.salted_agg):
    l_returnflag has only 3 values over the whole lineitem table — the
    worst-case hot-key shape — so each key's rows first aggregate across
    16 salted sub-groups, then the partials combine. Result identical
    to a plain groupBy (the oracle)."""
    from db_loader_spark.operators.skew import salted_agg

    l = _t(spark, sf_dir, "lineitem")
    out = salted_agg(
        l,
        keys=["l_returnflag"],
        sum_cols={"l_quantity": "sum_qty", "l_extendedprice": "sum_price"},
        count_alias="n_rows",
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("sum_price", 2).alias("sum_price"),
        "n_rows",
    )


_SALTED_ORACLE = """
SELECT l_returnflag,
       ROUND(SUM(l_quantity), 2)      AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_price,
       COUNT(*)                       AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


def a_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling — the reproducible alternative to
    rand()-based TABLESAMPLE a training pipeline needs (same subset on
    every engine and every re-run): keep orders whose md5(orderkey)
    32-bit prefix mod 100 < 10, i.e. a stable ~10% slice, then
    aggregate it. Fully parallel, no RNG state, no skew."""
    o = _t(spark, sf_dir, "orders")
    bucket = F.expr(
        "pmod(CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT), 100)"
    )
    return (
        o.filter(bucket < 10)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_sampled"),
            F.round(F.sum("o_totalprice"), 2).alias("sampled_revenue"),
        )
    )


_HASH_SAMPLE_ORACLE = """
SELECT o_orderstatus,
       COUNT(*) AS n_sampled,
       ROUND(SUM(o_totalprice), 2) AS sampled_revenue
FROM orders
WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT)
      % 100 < 10
GROUP BY o_orderstatus
"""


def a_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distribution statistics per group: linear-interpolated
    quartiles + p95 of extended price (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``; both sort-based and exact, the scale caveat being
    one sort per group — use approx_percentile when 4-9s of sort per
    100 TB column matters more than exactness)."""
    l = _t(spark, sf_dir, "lineitem")
    pct = F.expr(
        "percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.95D))"
    )
    return (
        l.groupBy("l_linestatus")
        .agg(pct.alias("q"))
        .select(
            "l_linestatus",
            F.round(F.element_at("q", 1), 4).alias("p25"),
            F.round(F.element_at("q", 2), 4).alias("p50"),
            F.round(F.element_at("q", 3), 4).alias("p75"),
            F.round(F.element_at("q", 4), 4).alias("p95"),
        )
    )


_QUANTILES_ORACLE = """
SELECT l_linestatus,
       ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.5),  4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
       ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95
FROM lineitem GROUP BY l_linestatus
"""


def jn_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy join (edit-distance record linkage) — the join
    family member for dirty-key matching the reference's exact joins
    (JN1/JN5, src/db_loader.clj:273-285) can't express: match corrupted
    name variants back to the clean vocabulary with ``levenshtein``.

    Probes are generated deterministically from the data itself: for
    each distinct part name, delete one character at an md5-derived
    position >= 3 (so the 2-char blocking prefix survives — the
    standard record-linkage invariant that blocking keys must be
    robust to the edits being matched). The join then runs as

      equi-join on the blocking prefix  +  residual levenshtein <= 1

    so Catalyst plans a plain hash join on the block key and evaluates
    the edit distance only INSIDE each block — never all-pairs. At
    100 TB the block key would be a composite (prefix, length band,
    q-gram bucket) multi-blocking union to keep blocks executor-sized;
    the plan shape (hash join + residual predicate) is identical, and
    levenshtein with an early-exit bound stays a JVM intrinsic on both
    engines. Self-eval columns: dist 0 rows are accidental exact
    collisions after deletion, dist 1 rows the genuine fuzzy matches.
    """
    names = (
        _t(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .filter(F.length("p_name") >= 5)
    )
    # deletion position in [3, len] from an md5 32-bit prefix
    probes = names.select(
        F.col("p_name").alias("src_name"),
        F.expr(
            "concat(substring(p_name, 1, CAST(3 + pmod(CAST(conv(substring("
            "md5(p_name), 1, 8), 16, 10) AS BIGINT), length(p_name) - 2) AS INT)"
            " - 1), substring(p_name, CAST(3 + pmod(CAST(conv(substring("
            "md5(p_name), 1, 8), 16, 10) AS BIGINT), length(p_name) - 2) AS INT)"
            " + 1, 100))"
        ).alias("probe_name"),
    )
    return (
        probes.join(
            names,
            (
                F.substring("probe_name", 1, 2) == F.substring("p_name", 1, 2)
            )
            & (F.abs(F.length("probe_name") - F.length("p_name")) <= 1)
            & (F.levenshtein("probe_name", F.col("p_name")) <= 1),
        )
        .select(
            "src_name",
            "probe_name",
            F.col("p_name").alias("match_name"),
            F.levenshtein("probe_name", F.col("p_name")).alias("dist"),
        )
    )


_FUZZY_ORACLE = """
WITH names AS (
  SELECT DISTINCT p_name FROM part WHERE length(p_name) >= 5
), probes AS (
  SELECT p_name AS src_name,
         substr(p_name, 1, CAST(3 + CAST(('0x' || substr(md5(p_name), 1, 8))::UBIGINT
                 AS BIGINT) % (length(p_name) - 2) AS INT) - 1)
         || substr(p_name, CAST(3 + CAST(('0x' || substr(md5(p_name), 1, 8))::UBIGINT
                 AS BIGINT) % (length(p_name) - 2) AS INT) + 1, 100) AS probe_name
  FROM names
)
SELECT p.src_name, p.probe_name, n.p_name AS match_name,
       CAST(levenshtein(p.probe_name, n.p_name) AS INT) AS dist
FROM probes p JOIN names n
  ON substr(p.probe_name, 1, 2) = substr(n.p_name, 1, 2)
 AND abs(length(p.probe_name) - length(n.p_name)) <= 1
 AND levenshtein(p.probe_name, n.p_name) <= 1
"""


def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change capture between two REAL manifest snapshots
    (operators/cdc.snapshot_diff over sinks/manifest time travel):
    version v1 of an orders slice and version v2 with rows dropped,
    added, and price-mutated are PUBLISHED through the manifest commit
    protocol (immutable data files, pointer flip), read back by
    snapshot id, and diffed with one full-outer join. The driver's
    green row therefore witnesses the whole lakehouse loop: publish →
    time-travel read → row-level delta — the primitive that lets a
    100 TB pipeline reprocess only what changed between corpus
    versions (see operators/cdc.py for the manifest-pruned incremental
    -scan argument and the bucketed-write zero-shuffle path).

    Versions are derived deterministically from orders (v1 = keys with
    okey%10 < 8; v2 = keys with okey%10 >= 2, +$5.00 on okey%7 == 0),
    so DuckDB recomputes the identical delta from the raw table.
    Prices are compared as integer cents — exact, no FP channel."""
    from db_loader_spark.operators.cdc import snapshot_diff
    from db_loader_spark.sinks import manifest as M
    from db_loader_spark.staging import build_stage, source_stamp, stage_path

    o = _t(spark, sf_dir, "orders")
    cents = F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
    v1 = o.filter(F.col("o_orderkey") % 10 < 8).select(
        "o_orderkey", cents.alias("cents")
    )
    bump = F.when(F.col("o_orderkey") % 7 == 0, F.lit(500)).otherwise(F.lit(0))
    v2 = o.filter(F.col("o_orderkey") % 10 >= 2).select(
        "o_orderkey", (cents + bump).alias("cents")
    )
    root = stage_path(sf_dir, "cdc")
    stamp = source_stamp(os.path.join(sf_dir, "orders.parquet")) + ":install=v2"

    # manifests hold root-relative paths, so the renamed root is intact
    def build(scratch: str) -> None:
        M.publish(v1, scratch, snapshot_id="v1")
        M.publish(v2, scratch, snapshot_id="v2")  # lineage: v2.parent = v1

    build_stage(root, stamp, build)
    old = M.read_snapshot(spark, root, "v1")
    new = M.read_snapshot(spark, root, "v2")
    return snapshot_diff(old, new, ["o_orderkey"], ["cents"])


def _append_lineage_root(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per sf_dir + source stamp) a manifest table built
    from THREE append commits — events thirds by event_id % 3 — so the
    lineage v1 → v2 → v3 has real per-snapshot file deltas for the
    incremental-scan query."""
    from db_loader_spark.sinks import manifest as M
    from db_loader_spark.staging import build_stage, source_stamp, stage_path

    root = stage_path(sf_dir, "incr")
    stamp = source_stamp(os.path.join(sf_dir, "events.parquet")) + ":install=v2"

    def build(scratch: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
        )
        for i in (0, 1, 2):
            M.publish(
                ev.filter(F.col("event_id") % 3 == i).repartition(4),
                scratch,
                snapshot_id=f"v{i + 1}",
                append=(i > 0),
            )

    return build_stage(root, stamp, build)


def t_snapshot_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance over an append-only manifest
    lineage (sinks/manifest.publish(append=True) + read_added): the
    per-event-type count/sum/max state is built from snapshot v1, then
    FOLDED FORWARD with only the files each later commit added — never
    rescanning earlier data. The fold is partial-aggregate union +
    re-aggregate (count/sum/max are all mergeable — the KMV/HLL/
    fingerprint deployment shape applied to plain aggregates), so each
    maintenance job is sized to the drop, not the table: the batch
    analog of t_stream_mview, with the manifest instead of a
    checkpoint as the incremental contract. The oracle recomputes the
    same aggregate from the raw table in one shot — equality proves
    the three delta scans tiled the corpus exactly (no file double-
    counted, none missed)."""
    from db_loader_spark.sinks import manifest as M

    root = _append_lineage_root(spark, sf_dir)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.max("cents").cast("long").alias("max_cents"),
        )

    state = partial(M.read_snapshot(spark, root, "v1"))
    for prev, cur in (("v1", "v2"), ("v2", "v3")):
        delta = partial(M.read_added(spark, root, prev, cur))
        state = (
            state.unionByName(delta)
            .groupBy("event_type")
            .agg(
                F.sum("n").cast("long").alias("n"),
                F.sum("sum_cents").cast("long").alias("sum_cents"),
                F.max("max_cents").cast("long").alias("max_cents"),
            )
        )
    return state


_SNAPSHOT_INCREMENTAL_ORACLE = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS max_cents
FROM events
GROUP BY event_type
"""


def t_snapshot_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level MERGE as a copy-on-write manifest commit
    (sinks/manifest.merge_upsert): a CDC-shaped batch — +$5.00 on every
    okey%97 order (updates) plus synthetic okey%997 rows under shifted
    keys (inserts) — is merged into an orderkey-range-clustered orders
    snapshot. Zone maps target the touched files; every key-disjoint
    file carries into the new snapshot BY REFERENCE (pinned in
    tests/test_manifest_sink.py), so the write is sized to the batch,
    not the table. The driver-checked aggregate over the merged
    snapshot equals DuckDB recomputing the merge from the raw table —
    a wrong anti-join, a double-applied update, or a dropped carried
    file all flip the sum."""
    from db_loader_spark.sinks import manifest as M
    from db_loader_spark.staging import build_stage, source_stamp, stage_path

    root = stage_path(sf_dir, "upsert")
    stamp = source_stamp(os.path.join(sf_dir, "orders.parquet")) + ":install=v2"

    def build(scratch: str) -> None:
        base = _t(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderpriority").alias("pr"),
            F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        M.publish(
            base.repartitionByRange(16, F.col("k")),
            scratch,
            snapshot_id="base",
            stats_cols=["k"],
        )
        upd = base.filter(F.col("k") % 97 == 0).select(
            "k", "pr", (F.col("cents") + 500).alias("cents")
        )
        ins = base.filter(F.col("k") % 997 == 0).select(
            (F.col("k") + 100_000_000).alias("k"),
            F.lit("INSERTED").alias("pr"),
            F.lit(123).cast("long").alias("cents"),
        )
        M.merge_upsert(
            spark, upd.unionByName(ins), scratch, "k", snapshot_id="merged"
        )

    build_stage(root, stamp, build)
    return (
        M.read_current(spark, root)
        .groupBy("pr")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )


_SNAPSHOT_UPSERT_ORACLE = """
WITH base AS (
  SELECT o_orderkey AS k, o_orderpriority AS pr,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), upd AS (
  SELECT k, pr, cents + 500 AS cents FROM base WHERE k % 97 = 0
), ins AS (
  SELECT k + 100000000 AS k, 'INSERTED' AS pr, CAST(123 AS BIGINT) AS cents
  FROM base WHERE k % 997 = 0
), merged AS (
  SELECT * FROM base WHERE k NOT IN (SELECT k FROM upd)
  UNION ALL SELECT * FROM upd
  UNION ALL SELECT * FROM ins
)
SELECT pr, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM merged GROUP BY pr
"""


def _zonemap_root(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per sf_dir + source stamp) a manifest-committed
    copy of events range-clustered on integer cents, with per-file
    zone maps in the manifest (sinks/manifest.publish stats_cols).
    repartitionByRange gives the 16 data files near-disjoint cents
    ranges, so a selective range predicate can drop most files from
    the scan plan entirely. Shared by the registry query and the
    bench pair."""
    from db_loader_spark.sinks import manifest as M
    from db_loader_spark.staging import build_stage, source_stamp, stage_path

    root = stage_path(sf_dir, "zonemap")
    stamp = source_stamp(os.path.join(sf_dir, "events.parquet")) + ":install=v2"

    def build(scratch: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            "user_id",
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
        )
        M.publish(
            ev.repartitionByRange(16, F.col("cents")),
            scratch,
            snapshot_id="z1",
            stats_cols=["cents"],
        )

    return build_stage(root, stamp, build)


def scan_manifest_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over a selective value slice read through MANIFEST
    zone-map pruning (sinks/manifest.read_pruned): the snapshot's
    per-file min/max stats drop every file whose cents range cannot
    intersect [3000, 3500] before Spark plans the scan — file-level
    data skipping (the Delta/Iceberg design), one level above the
    row-group skipping the sorted layouts already exercise
    (ev_value_sorted). The residual predicate still applies row-level,
    so the oracle recomputing the same slice from the raw table checks
    that pruning lost nothing — the only way file skipping can be
    wrong is dropping a file it needed, which is exactly what a value
    hash over the result detects."""
    from db_loader_spark.sinks import manifest as M

    root = _zonemap_root(spark, sf_dir)
    sliced = M.read_pruned(spark, root, "cents", 3000, 3500)
    return sliced.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


_MANIFEST_PRUNED_ORACLE = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE CAST(ROUND(value * 100) AS BIGINT) BETWEEN 3000 AND 3500
GROUP BY event_type
"""


_FP_MOD = (1 << 61) - 1  # Mersenne prime; sums stay exact pre-mod

_FP_CANON = {
    # canonical row renderings: ints/strings verbatim, doubles as
    # integer cents, timestamps as fixed-format strings — every term
    # renders identically on both engines (the same exact-channel
    # discipline as the rest of the registry)
    "orders": (
        "concat_ws('|', o_orderkey, o_custkey, o_orderstatus,"
        " CAST(ROUND(o_totalprice * 100) AS BIGINT), {ODATE}, o_orderpriority)"
    ),
    "customer": (
        "concat_ws('|', c_custkey, c_name, c_nationkey,"
        " CAST(ROUND(c_acctbal * 100) AS BIGINT), c_mktsegment)"
    ),
    "nation": "concat_ws('|', n_nationkey, n_name, n_regionkey)",
    "region": "concat_ws('|', r_regionkey, r_name)",
}


def a_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table checksum — the anti-entropy primitive
    that verifies a published snapshot (sinks/manifest.py), a JDBC
    bulk load (sinks/jdbc_sink.py), or a replica equals its source
    WITHOUT sorting either side: fingerprint = sum of per-row md5
    48-bit prefixes over a canonical row rendering, mod a Mersenne
    prime. Addition commutes, so the aggregate is partition-order-free
    and MERGEABLE (shard fingerprints sum into the fleet fingerprint
    — the KMV/HLL deployment shape, applied to integrity instead of
    cardinality). One map-side-combined pass per table, no shuffle
    wider than one row.

    Exactness: 48-bit row hashes summed as DECIMAL(38,0) (exact to
    1e38 — ~1e23 even at 10^9 rows) on the Spark side and HUGEINT in
    DuckDB, mod taken once at the end; doubles enter the canonical
    string as integer cents, timestamps as fixed-format strings, so
    no FP or rendering channel exists. concat_ws null-skipping is the
    same on both engines (production would add explicit null
    sentinels per column; these tables are null-free)."""
    odate = "date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss')"
    parts = []
    for t, canon in _FP_CANON.items():
        h = (
            f"CAST(conv(substring(md5({canon.format(ODATE=odate)}), 1, 12),"
            " 16, 10) AS BIGINT)"
        )
        agg = _t(spark, sf_dir, t).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.expr(
                f"CAST(pmod(SUM(CAST({h} AS DECIMAL(38,0))), {_FP_MOD}) AS BIGINT)"
            ).alias("fingerprint"),
        )
        parts.append(agg.select(F.lit(t).alias("table_name"), "n_rows", "fingerprint"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _fingerprint_oracle() -> str:
    odate = "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')"
    selects = []
    for t, canon in _FP_CANON.items():
        h = (
            f"CAST(('0x' || substring(md5({canon.format(ODATE=odate)}), 1, 12))::UBIGINT"
            " AS BIGINT)"
        )
        selects.append(
            f"SELECT '{t}' AS table_name, COUNT(*) AS n_rows,"
            f" CAST(SUM({h}) % {_FP_MOD} AS BIGINT) AS fingerprint FROM {t}"
        )
    return "\nUNION ALL\n".join(selects)


_CDC_ORACLE = """
WITH v1 AS (
  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 10 < 8
), v2 AS (
  SELECT o_orderkey,
         CAST(ROUND(o_totalprice * 100) AS BIGINT)
           + CASE WHEN o_orderkey % 7 = 0 THEN 500 ELSE 0 END AS cents
  FROM orders WHERE o_orderkey % 10 >= 2
)
SELECT CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
            WHEN v2.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS change_op,
       COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
       v1.cents AS old_cents, v2.cents AS new_cents
FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL OR v1.cents <> v2.cents
"""


def _cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected distinct edge list (a < b) of the part co-occurrence
    graph: two parts are adjacent iff some order contains both. Built
    WITHOUT a self-join: group each order's parts into a sorted set
    and emit the ordered pairs JVM-side (nested transform + slice) —
    two shuffles (groupBy o, distinct) instead of the self-join's
    three (both join sides + distinct). The DuckDB oracles keep the
    self-join formulation, so the pair generation itself is
    cross-checked, not replayed. Shared by the graph-analytics family
    (g_triangle_count, g_pagerank); callers cache/track the result.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    return (
        li.groupBy("o")
        .agg(F.sort_array(F.collect_set("p")).alias("parts"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) -> "
                    "transform(slice(parts, i + 2, size(parts) - i - 1), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("ab")
        )
        .select("ab.a", "ab.b")
        .distinct()
    )


# The oracle-side mirror of _cooccurrence_edges (deliberately the
# plain self-join formulation — algorithmic cross-check of the
# array-based Spark edge build).
_COOCCUR_EDGE_CTES = """
lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS (
  SELECT DISTINCT x.p AS a, y.p AS b
  FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p
)"""


def g_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count over the part co-occurrence graph (parts
    sharing an order are adjacent) — the graph-analytics family member
    beyond connected components (functions/dedup.py pointer-jumping):
    triangles are the unit of clustering coefficient / community
    density, the standard graph-shape statistic for a curation corpus
    graph (near-dup graphs, citation graphs).

    Algorithm: degree-ORIENTED wedge counting (Cohen 2009 / Suri &
    Vassilvitskii's MapReduce formulation). Each undirected edge is
    directed from its lower-(degree, id) endpoint to the higher; every
    triangle then has exactly ONE source node with out-edges to the
    other two, so count = wedges (out-edge pairs) that close. The
    orientation bounds out-degree by O(sqrt(m)) regardless of hub
    skew — a hub of degree d contributes wedges only toward HIGHER-
    degree nodes, so the per-node wedge term collapses from d^2 to
    the count above it in the order; this is the difference between
    a shuffle that explodes on hubs and one that doesn't. Three
    hash joins, all on node keys; the DuckDB oracle counts the same
    triangles by plain a<b<c enumeration — algorithmic cross-check,
    not just arithmetic replay.

    The edge list feeds FOUR consumers (degree count, orientation,
    the closing-edge probe, n_edges); without pinning it, Spark
    re-runs the edge-build (a shuffle + two distincts) per consumer.
    Tracked-cache contract: released by settle_drained before returning.

    Broadcasts are MEASURED decisions (the decontaminate pattern,
    functions/dedup.py): the edge count m and node count n — needed
    for the output row anyway, so the sizing jobs are free — gate the
    degree joins (~48 bytes/node) and the adjacency joins (~16
    bytes/entry + ~48/node). Under ``broadcast_limit_bytes`` the big
    edge frame never shuffles after the orientation; over it the hint
    is omitted and Spark plans shuffled hash joins on the node key —
    the genuine degraded mode for a graph whose adjacency exceeds
    executor memory (100 TB shape: billions of edges).
    """
    from db_loader_spark import cache

    # sized to the input like curation_e2e: ~20 jobs over a small graph
    # would otherwise each pay the session's shuffle width in tasks
    with data_sized_shuffle(spark, os.path.join(sf_dir, "lineitem.parquet")):
        broadcast_limit_bytes = 256 << 20

        e = cache.track(_cooccurrence_edges(spark, sf_dir))
        n_edges = e.count()  # cached here; also the output stat
        deg = cache.track(
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        n_nodes = deg.count()  # cached; also the output stat

        def _hint(df: DataFrame, est_bytes: int) -> DataFrame:
            return F.broadcast(df) if est_bytes <= broadcast_limit_bytes else df

        deg_b = _hint(deg, 48 * n_nodes)
        ed = (
            e.join(deg_b.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a")
            .join(deg_b.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
        )
        lower_a = F.struct(F.col("da"), F.col("a")) < F.struct(F.col("db"), F.col("b"))
        oriented = ed.select(
            F.when(lower_a, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(lower_a, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
        # adjacency-array formulation: for each oriented edge (u,v) the
        # triangles it is the LOWEST edge of are |N+(u) ∩ N+(v)| (each
        # triangle x<y<z is counted exactly once, at edge (x,y)). Wedges
        # never materialize as shuffle rows — out-neighborhoods travel as
        # sorted arrays and intersect JVM-side per edge (array_intersect),
        # which cut the wedge-row version's bench time ~2x; broadcasting
        # the adjacency (total size = m entries, one per oriented edge)
        # keeps the per-edge probe shuffle-free. The probe derives each
        # edge (src, dst) by EXPLODING adj itself — the exploded row
        # already carries src's neighbor array, so only dst's array needs
        # a join: one broadcast join instead of two, and `oriented` drops
        # to a single consumer (the adj build) so it is not cached.
        adj = cache.track(
            oriented.groupBy("src").agg(
                F.sort_array(F.collect_list("dst")).alias("nbrs")
            )
        )
        adj_b = _hint(adj, 16 * n_edges + 48 * n_nodes)
        per_edge = (
            adj.select(F.col("nbrs").alias("nu"), F.explode("nbrs").alias("v"))
            .join(
                adj_b.select(F.col("src").alias("v"), F.col("nbrs").alias("nv")),
                "v",
            )
            .select(F.size(F.array_intersect("nu", "nv")).cast("long").alias("k"))
        )
        out = per_edge.agg(
            F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("n_triangles")
        ).select(
            F.lit(n_nodes).cast("long").alias("n_nodes"),
            F.lit(n_edges).cast("long").alias("n_edges"),
            "n_triangles",
        )
        return cache.settle_drained(out)


_TRIANGLE_ORACLE = f"""
WITH {_COOCCUR_EDGE_CTES}
SELECT (SELECT COUNT(DISTINCT node) FROM
          (SELECT a AS node FROM e UNION SELECT b FROM e)) AS n_nodes,
       (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT COUNT(*) FROM e e1
          JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
          JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b) AS n_triangles
"""


def g_pagerank(
    spark: SparkSession, sf_dir: str, iterations: int = 6, damping: float = 0.85
) -> DataFrame:
    """PageRank over the part co-occurrence graph — the iterative
    graph-analytics member beyond counting (g_triangle_count) and
    components (functions/dedup.py pointer-jumping): score mass flows
    along co-purchase edges, ranking "hub" parts the way web PageRank
    ranks pages (Page et al. 1999; the canonical Pregel/GraphX
    workload, here as pure DataFrame ops).

    Power iteration, fixed ``iterations`` rounds: score'(v) =
    (1-d)/n + d * Σ_{{(u,v)}} score(u)/deg(u) over the symmetrized
    edge list. Every node in the graph has degree ≥ 1 by construction
    (edges define membership), so there is no dangling mass.

    Scale shape — ONE lazily-declared linear plan: the per-edge
    contribution list (2m rows, annotated once with 1/deg) is cached;
    each iteration is one hash join of that static frame against the
    previous iteration's score frame plus one map-side-combining
    aggregate on dst. Because each score frame is consumed EXACTLY
    once, the whole power iteration is a linear chain — no
    per-iteration materialization, counting, or checkpointing; the
    driver declares all ``iterations`` rounds and Spark runs them as
    one job. Two hand-built alternatives lost to this on measurement:
    per-iteration cache+count (6 extra jobs, 12→30 s at sf0.1) and a
    broadcast-vector SpMV via `aggregate` HOFs (interpreted, not
    codegen'd; plus Catalyst map lookup is a LINEAR scan — 190 s).

    Exchange elimination (guide §2.4 "two operations keyed the
    same way share one exchange"): when the score table is broadcast-
    sized (measured gate on n AND m — n budgeted for all `iterations`
    concurrently-live relations, m bounding the per-broadcast build
    pass; see the inline comment), the static contrib frame is hash-
    partitioned by ``dst`` ONCE at build and the scores side carries
    an explicit broadcast hint. The per-iteration broadcast join then
    streams contrib in place, the joined rows stay clustered by dst,
    and the groupBy(dst) aggregate reuses that partitioning — ZERO
    per-iteration Exchange (plan pinned in tests/test_plan_shape.py;
    left to AQE, the optimizer instead broadcast the larger contrib
    side and re-shuffled all 2m joined rows every round — measured
    4.3→0.9 s for the 6-round chain at sf0.1). Over the gate the
    hint and the pre-partition are both omitted and AQE plans the
    shuffled join on src — exactly GraphX's distribution — with no
    code change; per-iteration FP sum order changes with the plan,
    which is inside the ppm rounding by the determinism argument
    below.

    Output: top 20 nodes by score with deterministic (rounded-score,
    node) ordering. Scores are compared as micro-PageRank units
    rounded to 2 dp — FP summation order across engines perturbs
    ~1e-13, far inside the rounding; ties in the ROUNDED score break
    by node id on both sides, so the selected set is deterministic.
    """
    from db_loader_spark import cache

    e = cache.track(_cooccurrence_edges(spark, sf_dir))
    directed = e.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(e.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    deg = cache.track(directed.groupBy("src").agg(F.count("*").alias("deg")))
    n = deg.count()  # materializes e + deg; both reused below
    m = e.count()  # cached by the line above — a metadata-cost job
    teleport = (1.0 - damping) / n
    # Measured broadcast gate (~48 bytes per score row), sized for the
    # WORST case the single lazily-declared plan creates:
    #  - memory: every iteration's BroadcastExchange stays referenced
    #    by the one plan until the job finishes, so ALL `iterations`
    #    score relations are live at once — the 256 MB budget divides
    #    by the iteration count (unlike the triangle / decontaminate
    #    gates, which hold one relation at a time);
    #  - build time: each broadcast BUILD runs one full join+agg pass
    #    over the 2m-row contrib frame inside spark.sql.broadcastTimeout
    #    (guide §7.4: "building the broadcast side is itself a slow
    #    job"), so the shape is also bounded by edge count — 2m ≤ 128M
    #    rows is well inside the 300 s default on any plausible
    #    cluster, while an unbounded m (a dense near-gate graph) could
    #    abort the query where the shuffled shape just runs slower.
    # Over either bound: hint and pre-partition omitted, AQE plans the
    # GraphX-style shuffled join — no code change, results identical.
    bcast_scores = (
        48 * n * max(iterations, 1) <= (256 << 20)
        and 2 * m <= (128 << 20)
    )
    contrib = directed.join(F.broadcast(deg), "src").select(
        "src", "dst", (F.lit(1.0) / F.col("deg")).alias("w")
    )
    if bcast_scores:
        # cluster the static frame by the aggregation key ONCE; every
        # iteration's groupBy(dst) then reuses this partitioning. The
        # partition COUNT follows the contrib frame's own volume
        # (~48 B × 2m rows, session.sized_partitions) with the session's
        # spark.sql.shuffle.partitions as a CEILING, not a target: at the
        # local SF the volume asks for the 8-partition floor, so a
        # 4-core session gets 4 and an 8-core one 8; at a gate-boundary
        # graph (2m = 128M rows) it asks for ~192, so a deployment that
        # sets 64 gets 64 and one that sets 512 gets 192. Any count
        # satisfies the groupBy's clustered-distribution requirement, so
        # the zero-in-loop-Exchange pin is unaffected.
        from db_loader_spark.session import sized_partitions

        contrib = contrib.repartition(
            sized_partitions(spark, 48 * 2 * m), "dst"
        )
    contrib = cache.track(contrib)
    scores = deg.select(F.col("src").alias("node"), F.lit(1.0 / n).alias("score"))
    for _ in range(iterations):
        prev = scores.withColumnRenamed("node", "src")
        if bcast_scores:
            prev = F.broadcast(prev)
        scores = (
            contrib.join(prev, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    F.lit(teleport)
                    + F.lit(damping) * F.sum(F.col("score") * F.col("w"))
                ).alias("score")
            )
        )
    out = (
        scores.select(
            "node", F.round(F.col("score") * 1_000_000, 2).alias("score_ppm")
        )
        .orderBy(F.desc("score_ppm"), F.asc("node"))
        .limit(20)
    )
    return cache.settle_drained(out)


def _pagerank_oracle(iterations: int = 6, damping: float = 0.85) -> str:
    """Unrolled power-iteration replay (the BPE-trainer oracle
    pattern, textops._bpe_ctes): one MATERIALIZED CTE per round so
    DuckDB never re-expands the chain exponentially."""
    ctes = [
        _COOCCUR_EDGE_CTES.strip().lstrip(),
        """d AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e)""",
        """deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM d GROUP BY src)""",
        """c AS MATERIALIZED (
  SELECT d.src, d.dst, 1.0 / deg.deg AS w FROM d JOIN deg ON deg.src = d.src)""",
        """nn AS (SELECT COUNT(*) AS n FROM deg)""",
        """s0 AS MATERIALIZED (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS score FROM deg)""",
    ]
    for t in range(iterations):
        ctes.append(f"""s{t + 1} AS MATERIALIZED (
  SELECT c.dst AS node,
         (1 - {damping}) / (SELECT n FROM nn)
           + {damping} * SUM(s.score * c.w) AS score
  FROM c JOIN s{t} s ON s.node = c.src GROUP BY c.dst)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node, ROUND(score * 1000000, 2) AS score_ppm FROM s{iterations}
ORDER BY score_ppm DESC, node LIMIT 20"""
    )


QUERIES: dict[str, QuerySpec] = {
    # The seven keys that rode OUTSIDE the r4 window (r3 evidence) lead
    # the dict for round 5 — rotation rule 1 (oldest evidence first);
    # see the policy in __init__.py.
    "jn1_dim_lookup_join": QuerySpec(jn1_dim_lookup_join, _JN1_ORACLE, "JN1 broadcast dims"),
    "jn2_contains_join": QuerySpec(jn2_contains_join, _JN2_ORACLE, "JN2 contains join"),
    "jn4_anti_join_idempotence": QuerySpec(jn4_anti_join_idempotence, _JN4_ORACLE, "JN4"),
    "jn7_fk_validation": QuerySpec(jn7_fk_validation, _JN7_ORACLE, "JN7 FK anti-joins"),
    "w_topk_per_group": QuerySpec(w_topk_per_group, _WTOPK_ORACLE, "top-k per group"),
    "set_ops": QuerySpec(set_ops, _SETOPS_ORACLE, "intersect/except"),
    "rollup_revenue": QuerySpec(rollup_revenue, _ROLLUP_ORACLE, "rollup subtotals"),
    "a6_run_summary": QuerySpec(a6_run_summary, _A6_ORACLE, "A6 summary collapse"),
    "p10_find_first": QuerySpec(p10_find_first, _P10_ORACLE, "P10 find-first"),
    "w_running_sum": QuerySpec(w_running_sum, _WRUN_ORACLE, "cumulative window"),
    "eav_pivot": QuerySpec(eav_pivot, _EAV_PIVOT_ORACLE, "EAV long→wide"),
    "q1_pricing_summary": QuerySpec(q1_pricing_summary, _Q1_ORACLE, "TPC-H Q1 shape"),
    "q3_segment_revenue": QuerySpec(q3_segment_revenue, _Q3_ORACLE, "3-way star join"),
    "q5_region_revenue": QuerySpec(q5_region_revenue, _Q5_ORACLE, "5-way dim chain JN3"),
    "q_top_customers": QuerySpec(q_top_customers, _TOPCUST_ORACLE, "top-k order+limit"),
    "q10_returned_items": QuerySpec(
        q10_returned_items, _Q10_ORACLE, "TPC-H Q10 returned-item revenue"
    ),
    "a1_distinct_pairs": QuerySpec(a1_distinct_pairs, _A1_ORACLE, "A1 group-by"),
    "a2_max_id": QuerySpec(a2_max_id, _A2_ORACLE, "A2 max"),
    "a3_filtered_count": QuerySpec(a3_filtered_count, _A3_ORACLE, "A3 LIKE count"),
    "a4_count_distinct": QuerySpec(a4_count_distinct, _A4_ORACLE, "A4 count distinct"),
    "a7_id_assignment": QuerySpec(a7_id_assignment, _A7_ORACLE, "A7 max+1 ids"),
    "a_salted_agg": QuerySpec(a_salted_agg, _SALTED_ORACLE, "skew-salted two-phase agg"),
    "a_hash_sample": QuerySpec(a_hash_sample, _HASH_SAMPLE_ORACLE, "deterministic sampling"),
    "jn_fuzzy_join": QuerySpec(
        jn_fuzzy_join, _FUZZY_ORACLE, "blocked levenshtein record linkage"
    ),
    "t_snapshot_upsert": QuerySpec(
        t_snapshot_upsert,
        _SNAPSHOT_UPSERT_ORACLE,
        "copy-on-write MERGE commit through the manifest",
    ),
    "t_snapshot_incremental": QuerySpec(
        t_snapshot_incremental,
        _SNAPSHOT_INCREMENTAL_ORACLE,
        "delta-only aggregate maintenance over append commits",
    ),
    "scan_manifest_pruned": QuerySpec(
        scan_manifest_pruned,
        _MANIFEST_PRUNED_ORACLE,
        "file-level zone-map data skipping through the manifest",
    ),
    "cdc_snapshot_diff": QuerySpec(
        cdc_snapshot_diff, _CDC_ORACLE, "manifest time-travel row-level CDC"
    ),
    "a_table_fingerprint": QuerySpec(
        a_table_fingerprint,
        _fingerprint_oracle(),
        "order-insensitive mergeable table checksum",
    ),
    "g_triangle_count": QuerySpec(
        g_triangle_count, _TRIANGLE_ORACLE, "degree-oriented triangle counting"
    ),
    "g_pagerank": QuerySpec(
        g_pagerank,
        _pagerank_oracle(),
        "power-iteration PageRank (unrolled-CTE oracle)",
    ),
}

def t_mor_delete_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE + row-level UPDATE, oracle-graded:
    an orderkey-clustered orders snapshot gets a scattered MOR delete
    (``k % 131 = 0`` — vectors only, zero data files rewritten) and
    then an UPDATE (``k % 113 = 0`` → cents + 101) whose COW rewrite
    must carry the untouched files' vectors. The aggregate is read
    with the vectors still LIVE (no purge), so the driver-grade value
    check covers the `_apply_deletes` anti-join read path itself —
    a resurrected row, a lost vector through the update's carry, or a
    double-applied update all flip the sum against DuckDB recomputing
    the same DML from the raw table."""
    from db_loader_spark.sinks import manifest as M
    from db_loader_spark.staging import build_stage, source_stamp, stage_path

    root = stage_path(sf_dir, "mor")
    stamp = source_stamp(os.path.join(sf_dir, "orders.parquet")) + ":install=v1"

    def build(scratch: str) -> None:
        base = _t(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderpriority").alias("pr"),
            F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        M.publish(
            base.repartitionByRange(16, F.col("k")),
            scratch,
            snapshot_id="base",
            stats_cols=["k"],
        )
        M.delete_where(
            spark, scratch, "k % 131 = 0", mode="mor", snapshot_id="mordel"
        )
        M.update_where(
            spark, scratch, "k % 113 = 0", {"cents": "cents + 101"},
            snapshot_id="upd",
        )

    build_stage(root, stamp, build)
    return (
        M.read_current(spark, root)
        .groupBy("pr")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )


_MOR_DELETE_UPDATE_ORACLE = """
WITH base AS (
  SELECT o_orderkey AS k, o_orderpriority AS pr,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), live AS (
  SELECT k, pr,
         CASE WHEN k % 113 = 0 THEN cents + 101 ELSE cents END AS cents
  FROM base WHERE k % 131 <> 0
)
SELECT pr, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM live GROUP BY pr
"""


def _clog_paths(sf_dir: str, variant: str = "") -> tuple:
    """(source root, replica root, stamp) for the staged commit-log
    tables — one derivation, so the source and replica stages cannot
    drift apart on a recipe bump. ``variant`` suffixes the prefixes so
    the six-verb pair and the evolving-history pair stage apart while
    sharing key and stamp."""
    from db_loader_spark.staging import source_stamp, stage_path

    return (
        stage_path(sf_dir, f"clog{variant}"),
        stage_path(sf_dir, f"replica{variant}"),
        source_stamp(os.path.join(sf_dir, "orders.parquet")) + ":install=v1",
    )


def _clog_root(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per sf_dir + source stamp) the six-verb commit-log
    history table shared by the t_commit_log_fold and t_replica_sync
    diagnostics: orders-derived, publish → append → MOR delete → MOR
    merge → MOR update → OPTIMIZE, every op deterministic from the raw
    parquet so DuckDB can recompute the final state."""
    from db_loader_spark.sinks import manifest as M
    from db_loader_spark.staging import build_stage

    root, _, stamp = _clog_paths(sf_dir)

    def build(scratch: str) -> None:
        base = _t(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderpriority").alias("pr"),
            F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        M.publish(
            base.repartitionByRange(16, F.col("k")),
            scratch, snapshot_id="base", stats_cols=["k"],
        )
        M.publish(
            base.where("k % 97 = 0").select(
                (F.col("k") + 10_000_000).alias("k"),
                "pr", (F.col("cents") + 1).alias("cents"),
            ),
            scratch, append=True, snapshot_id="a1", stats_cols=["k"],
        )
        M.delete_where(
            spark, scratch, "k % 131 = 0", mode="mor", snapshot_id="d1"
        )
        batch = base.where("k % 127 = 0").select(
            "k", "pr", (F.col("cents") + 7).alias("cents")
        ).unionByName(
            base.where("k % 89 = 0").select(
                (F.col("k") + 20_000_000).alias("k"), "pr", "cents"
            )
        )
        M.merge_upsert(spark, batch, scratch, "k", snapshot_id="m1",
                       mode="mor")
        M.update_where(
            spark, scratch, "k % 113 = 0", {"cents": "cents + 101"},
            mode="mor", snapshot_id="u1",
        )
        M.compact_snapshot(spark, scratch, 4, snapshot_id="c1")

    return build_stage(root, stamp, build)


def t_commit_log_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The commit-log WALK itself, oracle-graded: a staged
    orders-derived manifest table runs a six-verb history — publish →
    append → MOR delete → MOR merge → MOR update → OPTIMIZE — and the query reconstructs the FINAL table purely
    from the changelog: every commit's ``read_event_row_changes``
    frame (each priced by that commit's own changed files) unioned
    with a commit sequence number, folded by last-change-per-key
    (window over ``_seq``), non-deletes kept. The folded aggregate is
    value-checked against DuckDB recomputing the same DML sequence
    from the raw parquet — a missing event, a duplicated or mislabeled
    change row, a wrong old/new side, or a compaction that leaks
    phantom changes all flip the fold. The compaction commit is part
    of the fold on purpose: its row-changes frame must be EMPTY for
    the result to match."""
    from functools import reduce

    from db_loader_spark.streaming.commit_log import (
        CommitLogConsumer,
        read_event_row_changes,
    )

    root = _clog_root(spark, sf_dir)
    events = CommitLogConsumer(root).poll()
    frames = [
        read_event_row_changes(spark, root, ev, ["k"], ["pr", "cents"])
        .select("change_op", "k", "new_pr", "new_cents",
                F.lit(i).alias("_seq"))
        for i, ev in enumerate(events)
    ]
    log = reduce(lambda a, b: a.unionByName(b), frames)
    last = W.partitionBy("k").orderBy(F.desc("_seq"))
    final = (
        log.withColumn("_rn", F.row_number().over(last))
        .where("_rn = 1 AND change_op <> 'delete'")
        .select(F.col("new_pr").alias("pr"),
                F.col("new_cents").alias("cents"))
    )
    return final.groupBy("pr").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


_COMMIT_LOG_FOLD_ORACLE = """
WITH base AS MATERIALIZED (
  SELECT o_orderkey AS k, o_orderpriority AS pr,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), t0 AS (
  SELECT * FROM base
  UNION ALL
  SELECT k + 10000000 AS k, pr, cents + 1 AS cents
  FROM base WHERE k % 97 = 0
), t1 AS (
  SELECT * FROM t0 WHERE k % 131 <> 0
), batch AS MATERIALIZED (
  SELECT k, pr, cents + 7 AS cents FROM base WHERE k % 127 = 0
  UNION ALL
  SELECT k + 20000000 AS k, pr, cents FROM base WHERE k % 89 = 0
), t2 AS (
  SELECT t1.k, t1.pr, t1.cents FROM t1
  WHERE t1.k NOT IN (SELECT k FROM batch)
  UNION ALL
  SELECT * FROM batch
), t3 AS (
  SELECT k, pr,
         CASE WHEN k % 113 = 0 THEN cents + 101 ELSE cents END AS cents
  FROM t2
)
SELECT pr, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM t3 GROUP BY pr
"""


def t_replica_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC APPLY side, oracle-graded: a replica is
    bootstrapped from the staged six-verb table's GENESIS snapshot and
    then synced purely through the change feed —
    ``read_table_changes`` over the whole history applied by
    ``apply_table_changes`` (fold to last change per key →
    ``merge_apply``: mask matched positions, append survivors, one MOR
    commit). The query aggregates the REPLICA, and the oracle is
    DuckDB recomputing the SOURCE's history from raw parquet — a fold
    bug, a lost delete, a double-applied upsert, or a mask/append
    divergence in merge_apply all flip the replica's aggregate against
    the source recomputation. Shares the source staging (and therefore
    the oracle SQL) with t_commit_log_fold."""
    from db_loader_spark.sinks import manifest as M
    from db_loader_spark.staging import build_stage
    from db_loader_spark.streaming.commit_log import (
        apply_table_changes,
        read_table_changes,
    )

    _, root, stamp = _clog_paths(sf_dir)

    def build(scratch: str) -> None:
        # the SOURCE stages lazily, inside build: when the replica
        # stage is already current the source is never read, so the
        # six-verb staging run must not be paid
        src = _clog_root(spark, sf_dir)
        M.publish(
            M.read_snapshot(spark, src, "base"),
            scratch, snapshot_id="boot", stats_cols=["k"],
        )
        cdf = read_table_changes(
            spark, src, ["k"], ["pr", "cents"], start_after="base"
        )
        apply_table_changes(
            spark, cdf, scratch, "k", ["pr", "cents"],
            snapshot_id="sync-c1",
        )

    build_stage(root, stamp, build)
    return (
        M.read_current(spark, root)
        .groupBy("pr")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )


def _clog_ev_paths(sf_dir: str) -> tuple:
    """(source root, replica root, stamp) for the EVOLVING-history
    replica-sync diagnostic — the shared derivation, staged apart from
    the six-verb tables the other two diagnostics use."""
    return _clog_paths(sf_dir, variant="ev")


def t_replica_sync_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC circle ACROSS SCHEMA EVOLUTION, oracle-graded: the
    source runs publish → merge_schema append (new ``tag`` column) →
    MOR update ON the new column → MOR delete;
    a replica bootstrapped from the PRE-evolution genesis is synced
    purely through ``read_table_changes`` (whose pre-evolution commits
    NULL-backfill ``tag``, Delta-CDF semantics) applied by
    ``apply_table_changes(merge_schema=True)`` (metadata-only
    ``evolve_schema`` widen, then the fold). The replica's per-tag
    aggregate is checked against DuckDB recomputing the evolved
    history from raw parquet — a raised old-side scan, a dropped NULL
    backfill, a lost evolution commit, or an apply that misfolds the
    evolved column all flip the aggregate."""
    from db_loader_spark.sinks import manifest as M
    from db_loader_spark.staging import build_stage
    from db_loader_spark.streaming.commit_log import (
        apply_table_changes,
        read_table_changes,
    )

    src_root, rep_root, stamp = _clog_ev_paths(sf_dir)

    def build_src(scratch: str) -> None:
        base = _t(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderpriority").alias("pr"),
            F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        M.publish(
            base.repartitionByRange(8, F.col("k")),
            scratch, snapshot_id="base", stats_cols=["k"],
        )
        M.publish(
            base.where("k % 97 = 0").select(
                (F.col("k") + 10_000_000).alias("k"), "pr", "cents",
                F.lit("new").alias("tag"),
            ),
            scratch, append=True, snapshot_id="e1",
            merge_schema=True, stats_cols=["k"],
        )
        M.update_where(
            spark, scratch, "k % 113 = 0", {"tag": "'touched'"},
            mode="mor", snapshot_id="u1",
        )
        M.delete_where(
            spark, scratch, "k % 131 = 0", mode="mor", snapshot_id="d1"
        )

    def build_rep(scratch: str) -> None:
        src = build_stage(src_root, stamp, build_src)
        M.publish(
            M.read_snapshot(spark, src, "base"),
            scratch, snapshot_id="boot", stats_cols=["k"],
        )
        cdf = read_table_changes(
            spark, src, ["k"], ["pr", "cents", "tag"], start_after="base"
        )
        apply_table_changes(
            spark, cdf, scratch, "k", ["pr", "cents", "tag"],
            snapshot_id="sync-d1", merge_schema=True,
        )

    build_stage(rep_root, stamp, build_rep)
    return (
        M.read_current(spark, rep_root)
        .groupBy(F.coalesce(F.col("tag"), F.lit("none")).alias("tag"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )


_REPLICA_SYNC_EVOLVE_ORACLE = """
WITH base AS MATERIALIZED (
  SELECT o_orderkey AS k, o_orderpriority AS pr,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), t0 AS (
  SELECT k, pr, cents, CAST(NULL AS VARCHAR) AS tag FROM base
  UNION ALL
  SELECT k + 10000000 AS k, pr, cents, 'new' AS tag
  FROM base WHERE k % 97 = 0
), t1 AS (
  SELECT k, pr, cents,
         CASE WHEN k % 113 = 0 THEN 'touched' ELSE tag END AS tag
  FROM t0
), t2 AS (
  SELECT * FROM t1 WHERE k % 131 <> 0
)
SELECT COALESCE(tag, 'none') AS tag, COUNT(*) AS n,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM t2 GROUP BY 1
"""


# a_quantiles is a diagnostic: the registry key a_quantile_sketch
# computes exact per-group quantiles alongside its sketch estimates,
# so a slot for this key would buy no new external evidence. Value
# check retained by tests/test_oracle_queries.py.
DIAGNOSTICS: dict[str, QuerySpec] = {
    "a_quantiles": QuerySpec(
        a_quantiles, _QUANTILES_ORACLE, "exact grouped quantiles (diagnostic)"
    ),
    "t_mor_delete_update": QuerySpec(
        t_mor_delete_update,
        _MOR_DELETE_UPDATE_ORACLE,
        "merge-on-read DELETE vectors + COW UPDATE, read with live vectors",
    ),
    "t_commit_log_fold": QuerySpec(
        t_commit_log_fold,
        _COMMIT_LOG_FOLD_ORACLE,
        "six-verb commit-log walk folded to the final table (r14)",
    ),
    "t_replica_sync": QuerySpec(
        t_replica_sync,
        _COMMIT_LOG_FOLD_ORACLE,
        "replica synced via the CDC apply side equals the source (r14)",
    ),
    "t_replica_sync_evolve": QuerySpec(
        t_replica_sync_evolve,
        _REPLICA_SYNC_EVOLVE_ORACLE,
        "replica follows the source's schema evolution via the feed (r15)",
    ),
}
