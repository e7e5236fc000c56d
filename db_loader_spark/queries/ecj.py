"""ECJ-lifecycle query: the end-to-end star assembly as a driver-checkable
query over the shared tables.

The file-based ECJ loader (plans.ecj.load_ecj: parameter file + log
folder → experiments/experiment/generations star) is exercised by the
pytest e2e on real files; the correctness driver can only see the
parquet tables, so this module re-expresses the SAME pipeline core on
log-shaped lines synthesized deterministically from ``events``:

- each user is a "log file" (file = user_id), ordered by event_id;
- ``error`` events are generation-boundary lines (``Generation: N``,
  P15), ``view`` events are colon-less continuation lines (P14),
  everything else is a ``key: value`` line (P2);
- the full core runs: boundary sectioning → continuation merge →
  kv split + key whitespace strip (ecj_log_eav) → dense trial-id
  assignment (A7 compat mode) → dim resolution against
  customer⋈nation (JN1/JN3 star lookup).

Values are integerized (round(value*100)) before string-building so
Spark's and DuckDB's double→string formatting can never disagree.

Reference lifecycle: src/parse_logs_ecj.clj:41-116 (incomplete there);
table contract scripts/create_tables.sql:1-54.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from db_loader_spark import cache
from db_loader_spark.operators.ids import assign_file_ids
from db_loader_spark.plans.ecj import ecj_log_eav
from db_loader_spark.queries import QuerySpec
from db_loader_spark.tables import load_table


def ecj_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → synthetic ECJ logs → generations EAV joined to the dim
    star: (expid, logname, n_name, genid, param, value).

    ``assign_file_ids(mode='dense')`` derives its file list from
    ``parsed``, so without a fold the line-build → continuation-merge →
    boundary-window chain runs twice: once under the dense-id mapping's
    broadcast and once as the probe side. A lazy ``localCheckpoint``
    computes the chain once for both (a construction-inclusive noop-sink
    A/B measured 1.27→1.10 s at 1x and 5.27→4.44 s at 32x with the
    since-deleted scripts/ecj_scale.py, last at aaf5f59; ``scripts/probe.py
    ecj_star --sf DIR --x 1,4,16`` sweeps the shipped shape, with the
    per-scale wall in bench_history/pr15_scale.jsonl). The result is settled so the checkpoint's blocks can be
    freed before returning. Under ``cache.plan_only()`` no checkpoint is
    taken: AQE runs a checkpoint's shuffle stages as soon as it is
    taken, even a lazy one, and a plan build must run no job."""
    e = load_table(spark, sf_dir, "events")
    payload = F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)")
    lines = e.select(
        F.col("user_id").cast("string").alias("file"),
        F.col("event_id").alias("line_no"),
        F.when(
            F.col("event_type") == "error",
            F.concat(F.lit("Generation: "), F.col("event_id")),
        )
        .when(
            F.col("event_type") == "view",
            F.concat(F.lit("cont "), payload),  # no colon → continuation
        )
        .otherwise(F.concat(F.col("event_type"), F.lit(": "), payload))
        .alias("line"),
    )
    parsed = ecj_log_eav(lines)
    if not cache.planning():
        parsed = parsed.localCheckpoint(eager=False)
    exps = assign_file_ids(parsed, file_col="file", mode="dense")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_nationkey")
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey"), F.col("n_name")
    )
    star = (
        exps.withColumn("userid", F.col("file").cast("long"))
        .join(F.broadcast(cust), F.col("userid") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("id").alias("expid"),
            F.col("file").alias("logname"),
            "n_name",
            F.col("gen_group").cast("long").alias("genid"),
            "param",
            "value",
        )
    )
    return cache.settle_drained(star, checkpoints=(parsed,))


_ECJ_ORACLE = r"""
WITH lines AS (
  SELECT CAST(user_id AS VARCHAR) AS file, event_id AS line_no,
         CASE WHEN event_type = 'error'
                THEN 'Generation: ' || CAST(event_id AS VARCHAR)
              WHEN event_type = 'view'
                THEN 'cont ' || CAST(CAST(ROUND(value * 100, 0) AS BIGINT) AS VARCHAR)
              ELSE event_type || ': ' || CAST(CAST(ROUND(value * 100, 0) AS BIGINT) AS VARCHAR)
         END AS line
  FROM events
),
grouped AS (
  SELECT *, SUM(CASE WHEN line LIKE '%Generation:%' OR line LIKE '%of Run:%'
                     THEN 1 ELSE 0 END)
              OVER (PARTITION BY file ORDER BY line_no ROWS UNBOUNDED PRECEDING)
              AS gen_group
  FROM lines
),
anchored AS (
  SELECT *, MAX(CASE WHEN contains(line, ':') THEN line_no END)
              OVER (PARTITION BY file ORDER BY line_no ROWS UNBOUNDED PRECEDING)
              AS anchor_no
  FROM grouped
),
merged AS (
  SELECT file, anchor_no AS line_no, string_agg(line, ' ' ORDER BY line_no) AS line
  FROM anchored WHERE anchor_no IS NOT NULL
  GROUP BY file, anchor_no
),
regrouped AS (
  SELECT m.file, m.line_no, m.line, g.gen_group
  FROM merged m JOIN grouped g ON m.file = g.file AND m.line_no = g.line_no
),
parsed AS (
  SELECT file, gen_group,
         regexp_replace(trim(substr(line, 1, strpos(line, ': ') - 1)), '\s+', '', 'g')
           AS param,
         trim(substr(line, strpos(line, ': ') + 2)) AS value
  FROM regrouped
  WHERE strpos(line, ': ') > 0
),
eav AS (SELECT * FROM parsed WHERE param <> '' AND value IS NOT NULL),
ids AS (SELECT DISTINCT file FROM eav),
expids AS (SELECT file, CAST(DENSE_RANK() OVER (ORDER BY file) AS BIGINT) AS expid FROM ids)
SELECT e.expid, v.file AS logname, n.n_name,
       CAST(v.gen_group AS BIGINT) AS genid, v.param, v.value
FROM eav v
JOIN expids e ON v.file = e.file
JOIN customer c ON CAST(v.file AS BIGINT) = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
"""


QUERIES: dict[str, QuerySpec] = {
    "ecj_star": QuerySpec(
        ecj_star,
        _ECJ_ORACLE,
        "ECJ end-to-end: log sectionize + merge + kv + ids + dim star",
    ),
}
