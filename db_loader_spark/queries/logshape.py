"""Log-shaped operator queries (SURVEY.md §2.3-§2.4) over the events table.

The reference's signature operator is `seq-split` (J1,
src/db_loader.clj:54-63): split an ordered stream into sections on
delimiter rows. Here the ordered stream is `events` per user (ordered by
event_id) and the delimiter is `event_type = 'error'`. The witnesses
call the operators and parse rules the log pipelines ship
(operators.sessionize, plans.clojush, plans.ecj) with Column flags over
`events` in place of regexes over text lines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from db_loader_spark.operators.sessionize import (
    merge_continuations,
    route_sections,
    seq_split,
)
from db_loader_spark.plans.clojush import run_status, run_uuid
from db_loader_spark.plans.ecj import normalize_key
from db_loader_spark.queries import QuerySpec
from db_loader_spark.session import local_frame
from db_loader_spark.tables import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _sectioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 core: each user's events split on their ``error`` events by
    :func:`seq_split`, the delimiters consumed."""
    return seq_split(
        _events(spark, sf_dir),
        F.col("event_type") == "error",
        file_col="user_id",
        order_col="event_id",
    )


def j1_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 seq-split: delimiter-based sessionization, delimiter consumed
    (src/db_loader.clj:54-63,229)."""
    return _sectioned(spark, sf_dir).groupBy("user_id", "section_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )


_J1_ORACLE = """
SELECT user_id, section_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS session_value
FROM (
  SELECT user_id, event_id, event_type, value,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS section_id
  FROM events
) WHERE event_type <> 'error'
GROUP BY user_id, section_id
"""


def j2_section_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: positional/content section routing (parse-log,
    src/db_loader.clj:228-243): :func:`route_sections` classifies each
    section as header (first), summary (last), or generation (contains
    a ``purchase`` marker) per user."""
    routed = route_sections(
        _sectioned(spark, sf_dir),
        F.col("event_type") == "purchase",
        file_col="user_id",
    )
    return (
        routed.select("user_id", "section_id", "section_kind")
        .distinct()
        .groupBy("user_id", "section_kind")
        .agg(F.count("*").alias("n_sections"))
    )


_J2_ORACLE = """
WITH sections AS (
  SELECT user_id, section_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_marker_i
  FROM (
    SELECT user_id, event_id, event_type,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS section_id
    FROM events
  ) WHERE event_type <> 'error'
  GROUP BY user_id, section_id
), bounds AS (
  SELECT user_id, section_id, has_marker_i,
         MIN(section_id) OVER (PARTITION BY user_id) AS min_sec,
         MAX(section_id) OVER (PARTITION BY user_id) AS max_sec
  FROM sections
)
SELECT user_id,
       CASE WHEN section_id = min_sec THEN 'header'
            WHEN section_id = max_sec THEN 'summary'
            WHEN has_marker_i = 1     THEN 'generation'
            ELSE 'noise' END AS section_kind,
       COUNT(*) AS n_sections
FROM bounds
GROUP BY 1, 2
"""


def p1_kv_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2: key=value / key:value split — extract the 'k' parameter from
    the JSON-ish props string (src/db_loader.clj:230; :175) and aggregate
    the value distribution."""
    e = _events(spark, sf_dir)
    k = F.regexp_extract(F.col("props"), r'"k": (\d+)', 1).cast("int")
    return (
        e.withColumn("k", k)
        .filter(F.col("k").isNotNull())
        .groupBy("k")
        .agg(F.count("*").alias("cnt"))
    )


_P1_ORACLE = """
SELECT CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS k, COUNT(*) AS cnt
FROM events
WHERE regexp_matches(props, '"k": (\\d+)')
GROUP BY 1
"""


def p7_trailing_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: trailing-integer extraction (re-find #"\\d+$",
    src/db_loader.clj:171) — digits before the closing brace of props."""
    e = _events(spark, sf_dir)
    g = F.regexp_extract(F.col("props"), r"(\d+)\}$", 1).cast("int")
    return e.select(g.alias("gen")).agg(
        F.round(F.avg("gen"), 4).alias("avg_gen"),
        F.max("gen").alias("max_gen"),
        F.count(F.col("gen")).alias("n_matched"),
    )


_P7_ORACLE = """
SELECT ROUND(AVG(gen), 4) AS avg_gen, MAX(gen) AS max_gen, COUNT(gen) AS n_matched
FROM (
  SELECT CASE WHEN regexp_matches(props, '(\\d+)\\}$')
              THEN CAST(regexp_extract(props, '(\\d+)\\}$', 1) AS INT) END AS gen
  FROM events
)
"""


def p9_summary_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: SUCCESS/FAILURE summary-line parse (summary-vals,
    src/db_loader.clj:204-209, with the reference's char-class regex bug
    fixed): build status lines from events, parse them back with the
    Clojush plan's :func:`run_status`, aggregate."""
    e = _events(spark, sf_dir)
    line = F.concat(
        F.when(F.col("event_type") == "purchase", F.lit("SUCCESS")).otherwise(
            F.lit("FAILURE")
        ),
        F.lit(" at generation "),
        (F.col("event_id") % 100).cast("string"),
    )
    status, gen = run_status(line)
    parsed = e.select(
        (status == "SUCCESS").alias("successp"), gen.cast("int").alias("maxgen")
    )
    return parsed.groupBy("successp").agg(
        F.count("*").alias("n_runs"), F.max("maxgen").alias("max_maxgen")
    )


_P9_ORACLE = """
WITH lines AS (
  SELECT (CASE WHEN event_type = 'purchase' THEN 'SUCCESS' ELSE 'FAILURE' END
          || ' at generation ' || CAST(event_id % 100 AS VARCHAR)) AS line
  FROM events
)
SELECT regexp_extract(line, '(SUCCESS|FAILURE) at generation (\\d+)', 1) = 'SUCCESS'
         AS successp,
       COUNT(*) AS n_runs,
       MAX(CAST(regexp_extract(line, '(SUCCESS|FAILURE) at generation (\\d+)', 2) AS INT))
         AS max_maxgen
FROM lines GROUP BY 1
"""


def p13_key_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13: the ECJ plan's key normalization (:func:`normalize_key`,
    'Fitness Mean'→'FitnessMean') applied to part names."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(normalize_key(F.col("p_name")).alias("norm_name"))
        .groupBy("norm_name")
        .agg(F.count("*").alias("cnt"))
    )


_P13_ORACLE = """
SELECT regexp_replace(p_name, '\\s+', '', 'g') AS norm_name, COUNT(*) AS cnt
FROM part GROUP BY 1
"""


def p14_continuation_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P14: continuation-line merge (group-gen,
    src/parse_logs_ecj.clj:107-116) by :func:`merge_continuations`:
    non-anchor rows ('view' events) fold into the most recent anchor
    row; bodies concatenate in order."""
    merged = merge_continuations(
        _events(spark, sf_dir),
        F.col("event_type") != "view",
        file_col="user_id",
        order_col="event_id",
        line_col="event_type",
    )
    return merged.groupBy(F.col("event_type").alias("merged_line")).agg(
        F.count("*").alias("cnt")
    )


_P14_ORACLE = """
WITH anchored AS (
  SELECT user_id, event_id, event_type,
         MAX(CASE WHEN event_type <> 'view' THEN event_id END)
           OVER (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING)
           AS anchor_id
  FROM events
), merged AS (
  SELECT user_id, anchor_id,
         string_agg(event_type, ' ' ORDER BY event_id) AS merged_line
  FROM anchored WHERE anchor_id IS NOT NULL
  GROUP BY user_id, anchor_id
)
SELECT merged_line, COUNT(*) AS cnt FROM merged GROUP BY 1
"""


def p16_uuid_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P16: the Clojush plan's filename→uuid extraction
    (:func:`run_uuid`) over synthesized run filenames."""
    d = load_table(spark, sf_dir, "documents")
    fname = F.concat(F.lit("run_"), F.col("source"), F.lit(".log"))
    return (
        d.select(run_uuid(fname).alias("uuid"))
        .groupBy("uuid")
        .agg(F.count("*").alias("n_files"))
    )


_P16_ORACLE = """
SELECT regexp_extract('run_' || source || '.log', '_([^_.]+)\\.', 1) AS uuid,
       COUNT(*) AS n_files
FROM documents GROUP BY 1
"""


def p18_datetime_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P18: epoch→formatted-string datetime rendering
    (src/db_loader.clj:42,106-117) — hourly event histogram as strings."""
    e = _events(spark, sf_dir)
    return (
        e.select(F.date_format("ts", "yyyy-MM-dd HH:00").alias("hour_str"))
        .groupBy("hour_str")
        .agg(F.count("*").alias("cnt"))
    )


_P18_ORACLE = """
SELECT strftime(ts, '%Y-%m-%d %H:00') AS hour_str, COUNT(*) AS cnt
FROM events GROUP BY 1
"""


def p5_nil_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P6/P12: trim + nil-sentinel skip (skip-nils,
    src/db_loader.clj:141-143): count docs whose trimmed lang survives the
    nil/empty filter, per lang."""
    d = load_table(spark, sf_dir, "documents")
    v = F.trim(F.col("lang"))
    return (
        d.filter((v != "nil") & (v != "") & v.isNotNull())
        .groupBy(v.alias("lang_clean"))
        .agg(F.count("*").alias("cnt"))
    )


_P5_ORACLE = """
SELECT TRIM(lang) AS lang_clean, COUNT(*) AS cnt
FROM documents
WHERE TRIM(lang) <> 'nil' AND TRIM(lang) <> '' AND lang IS NOT NULL
GROUP BY 1
"""


def jn5_sidecar_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JN5/JN6: sidecar-index equi-join (uuid→argmap,
    src/db_loader.clj:275,285) — events join a small derived dimension of
    'registered' k values (those seen on signup events), broadcast."""
    e = _events(spark, sf_dir)
    k = F.regexp_extract(F.col("props"), r'"k": (\d+)', 1).cast("int")
    with_k = e.withColumn("k", k)
    dim = (
        with_k.filter(F.col("event_type") == "signup").select("k").distinct()
    )
    return (
        with_k.join(F.broadcast(dim), "k")
        .groupBy("k")
        .agg(F.count("*").alias("n_events"))
    )


_JN5_ORACLE = """
WITH with_k AS (
  SELECT *, CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS k FROM events
), dim AS (
  SELECT DISTINCT k FROM with_k WHERE event_type = 'signup'
)
SELECT w.k, COUNT(*) AS n_events
FROM with_k w JOIN dim d ON w.k = d.k
GROUP BY w.k
"""


CLI_USER_CAP = 50  # fixture slice: bounded (~3.4k events) at every SF


def _stage_cli_logs(spark: SparkSession, sf_dir: str) -> str:
    """Stage a gz Clojush log corpus derived DETERMINISTICALLY from the
    events table: one ``run_<uid>.log.gz`` per user below CLI_USER_CAP,
    holding a header section, one generation section per event (in
    event_id order, carrying the event's integer cents as a ``cents:``
    k/v line), and a summary section — the exact section grammar of
    the reference's logs (tests/test_cli.py's LOG fixture). Deriving
    from a table is what lets the DuckDB oracle recompute the expected
    answer from the ``events`` view with plain SQL.

    Staging is source-stamp-keyed and reused across calls (it is the
    corpus's storage layout, not per-query work). The driver-side
    collect is the FIXTURE GENERATOR, bounded by construction to the
    user_id < CLI_USER_CAP slice (~3.4k short rows at every SF) — the
    operator under test is the CLI plan, which stays fully
    distributed."""
    import gzip
    import os

    from db_loader_spark.staging import build_stage, source_stamp, stage_path

    stage = stage_path(sf_dir, "cli_e2e")
    stamp = (
        source_stamp(os.path.join(sf_dir, "events.parquet"))
        + f":cap={CLI_USER_CAP}:layout=v1:install=v2"
    )

    # installed whole: the glob dispatch ingests every run_*.log.gz in
    # the dir, so a mix of two generations would be read as one corpus
    def build(scratch: str) -> None:
        rows = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("user_id") < CLI_USER_CAP)
            .select(
                "user_id",
                "event_id",
                F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
            )
            .collect()
        )
        by_user: dict[int, list[tuple[int, int]]] = {}
        for r in rows:
            by_user.setdefault(r["user_id"], []).append((r["event_id"], r["cents"]))
        for uid, evs in sorted(by_user.items()):
            evs.sort()
            lines = [f"run-uid = {uid}", "problem-name = e2e"]
            for gen, (_eid, cents) in enumerate(evs):
                lines.append(";;;;;;;;;;")
                lines.append(f";; -*- Report at generation {gen}")
                lines.append(f"cents: {cents}")
            lines.append(";;;;;;;;;;")
            lines.append(f"SUCCESS at generation {len(evs) - 1}")
            with gzip.open(
                os.path.join(scratch, f"run_{uid:04d}.log.gz"), "wt"
            ) as fh:
                fh.write("\n".join(lines) + "\n")

    return build_stage(stage, stamp, build)


def e2e_cli_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE REFERENCE'S FRONT DOOR under the external hash: run the E1
    CLI entry point end-to-end — ``:filename`` glob dispatch over a
    staged ``.log.gz`` corpus → gzip text source → seq-split
    sessionize → section routing → k/v parse → CSV table append
    (``__main__.main``; src/db_loader.clj:302-313,337-344, folder bulk
    loop scripts/load_csv_to_cloud.sh:107-149) — then aggregate the
    loaded generations table per gennum. The fixture derives
    deterministically from ``events`` (one run per user, one
    generation per event), so the oracle recomputes the SAME numbers
    from the events view: any line the pipeline drops, misroutes, or
    misparses shifts a count or a cents sum and fails the hash.

    Per-call state is isolated: a fresh csv-dir (the sink appends by
    design — reusing a dir would double rows) and a throwaway
    ``:config`` store. The result aggregate is gennum-count-sized
    (≤ max events/user), collected before the scratch dir is removed
    — the same bounded-collect epilogue t_stream_dedup documents."""
    import tempfile

    from db_loader_spark.__main__ import main
    from db_loader_spark.session import data_sized_shuffle

    stage = _stage_cli_logs(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="db_loader_cli_e2e_run_")
    # the CLI plan runs ~6 jobs over a bounded fixture; size the
    # shuffle bound to the staged bytes (same rule as curation_e2e —
    # measured 4.1 → 3.6 s; everything materializes inside the scope)
    with data_sized_shuffle(spark, stage):
        return _e2e_cli_run(spark, stage, out, main)


def _e2e_cli_run(spark, stage, out, main) -> DataFrame:
    import os
    import shutil

    try:
        rc = main(
            [
                ":filename", os.path.join(stage, "*.log.gz"),
                ":csv-dir", out,
                ":config", os.path.join(out, "config.edn"),
                ":problemname", "e2e",
            ]
        )
        if rc != 0:
            raise RuntimeError(f"CLI ingest exited {rc}")
        gens = spark.read.option("header", True).csv(os.path.join(out, "generations"))
        agg = (
            gens.filter(F.col("parameter") == "cents")
            .groupBy(F.col("gennum").cast("int").alias("gennum"))
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum(F.col("value").cast("bigint")).alias("sum_cents"),
            )
        )
        table = agg.toArrow()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return local_frame(spark, table)


_E2E_CLI_ORACLE = f"""
WITH ev AS (
  SELECT user_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS gennum,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE user_id < {CLI_USER_CAP}
)
SELECT CAST(gennum AS INT) AS gennum, COUNT(*) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM ev GROUP BY gennum
"""


def p_parse_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION-COMPATIBLE MERGE of the six single-expression parser keys:
    P1/P2 kv split, P5/P6/P12 nil-skip, P7 trailing int, P13 key
    normalize, P16 uuid extract, P18 datetime format (P13 and P16 by
    the log plans' own rules) — each parser's FULL value
    distribution lands in one hashed frame tagged by parser name, so
    the merge spends one driver slot without weakening any parser's
    external evidence (the per-parser functions stay importable and
    keep their standalone oracles in DIAGNOSTICS).

    Shape: (parser, key, cnt, metric). Grouped parsers emit their
    distribution as (key → cnt); P7's scalar summary emits two rows
    (avg_gen carried in `metric`, max_gen in `cnt`). Plan shape: six
    independent scans (events ×3, part, documents ×2) unioned — each
    sub-plan is the exact plan its standalone key compiled, so nothing
    here shuffles differently at 100 TB than the six keys did."""

    def _tag(name: str, df: DataFrame, key, cnt) -> DataFrame:
        return df.select(
            F.lit(name).alias("parser"),
            key.cast("string").alias("key"),
            cnt.cast("long").alias("cnt"),
            F.lit(None).cast("double").alias("metric"),
        )

    # p7's two output rows explode from ONE aggregate row — a union of
    # two selects over the same agg would compile to two events scans
    p7_rows = (
        p7_trailing_int(spark, sf_dir)
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("avg_gen").alias("key"),
                        F.col("n_matched").cast("long").alias("cnt"),
                        F.col("avg_gen").cast("double").alias("metric"),
                    ),
                    F.struct(
                        F.lit("max_gen").alias("key"),
                        F.col("max_gen").cast("long").alias("cnt"),
                        F.lit(None).cast("double").alias("metric"),
                    ),
                )
            ).alias("r")
        )
        .select(
            F.lit("p7_trailing_int").alias("parser"), "r.key", "r.cnt", "r.metric"
        )
    )
    parts = [
        _tag("p1_kv_extract", p1_kv_extract(spark, sf_dir), F.col("k"), F.col("cnt")),
        _tag(
            "p5_nil_skip",
            p5_nil_skip(spark, sf_dir),
            F.col("lang_clean"),
            F.col("cnt"),
        ),
        p7_rows,
        _tag(
            "p13_key_normalize",
            p13_key_normalize(spark, sf_dir),
            F.col("norm_name"),
            F.col("cnt"),
        ),
        _tag(
            "p16_uuid_extract",
            p16_uuid_extract(spark, sf_dir),
            F.col("uuid"),
            F.col("n_files"),
        ),
        _tag(
            "p18_datetime_format",
            p18_datetime_format(spark, sf_dir),
            F.col("hour_str"),
            F.col("cnt"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _parse_suite_oracle() -> str:
    def tag(name: str, sql: str, key: str, cnt: str) -> str:
        return (
            f"SELECT '{name}' AS parser, CAST({key} AS VARCHAR) AS key,"
            f" CAST({cnt} AS BIGINT) AS cnt, CAST(NULL AS DOUBLE) AS metric"
            f" FROM ({sql}) t"
        )

    p7_avg = (
        "SELECT 'p7_trailing_int' AS parser, 'avg_gen' AS key,"
        " CAST(n_matched AS BIGINT) AS cnt, CAST(avg_gen AS DOUBLE) AS metric"
        f" FROM ({_P7_ORACLE}) t"
    )
    p7_max = (
        "SELECT 'p7_trailing_int' AS parser, 'max_gen' AS key,"
        " CAST(max_gen AS BIGINT) AS cnt, CAST(NULL AS DOUBLE) AS metric"
        f" FROM ({_P7_ORACLE}) t"
    )
    return "\nUNION ALL\n".join(
        [
            tag("p1_kv_extract", _P1_ORACLE, "k", "cnt"),
            tag("p5_nil_skip", _P5_ORACLE, "lang_clean", "cnt"),
            p7_avg,
            p7_max,
            tag("p13_key_normalize", _P13_ORACLE, "norm_name", "cnt"),
            tag("p16_uuid_extract", _P16_ORACLE, "uuid", "n_files"),
            tag("p18_datetime_format", _P18_ORACLE, "hour_str", "cnt"),
        ]
    )


QUERIES: dict[str, QuerySpec] = {
    "e2e_cli_ingest": QuerySpec(
        e2e_cli_ingest,
        _E2E_CLI_ORACLE,
        "E1 CLI front door end-to-end: gz glob → parse → route → tables",
    ),
    "j1_sessionize": QuerySpec(j1_sessionize, _J1_ORACLE, "J1 seq-split sessionizer"),
    "j2_section_routing": QuerySpec(j2_section_routing, _J2_ORACLE, "J2 section routing"),
    "p_parse_suite": QuerySpec(
        p_parse_suite,
        _parse_suite_oracle(),
        "P1/P5/P7/P13/P16/P18 parser suite, one tagged union frame",
    ),
    "p9_summary_parse": QuerySpec(p9_summary_parse, _P9_ORACLE, "P9 summary regex"),
    "p14_continuation_merge": QuerySpec(p14_continuation_merge, _P14_ORACLE, "P14 merge"),
    "jn5_sidecar_join": QuerySpec(jn5_sidecar_join, _JN5_ORACLE, "JN5 sidecar join"),
}

# The six merged parser keys keep their STANDALONE oracles here (the
# suite hashes the same distributions externally; these entries keep
# the per-parser isolation for pytest triage).
DIAGNOSTICS: dict[str, QuerySpec] = {
    "p1_kv_extract": QuerySpec(p1_kv_extract, _P1_ORACLE, "P1/P2 kv split"),
    "p5_nil_skip": QuerySpec(p5_nil_skip, _P5_ORACLE, "P5 nil-skip filter"),
    "p7_trailing_int": QuerySpec(p7_trailing_int, _P7_ORACLE, "P7 trailing int"),
    "p13_key_normalize": QuerySpec(p13_key_normalize, _P13_ORACLE, "P13 ws-strip"),
    "p16_uuid_extract": QuerySpec(p16_uuid_extract, _P16_ORACLE, "P16 uuid extract"),
    "p18_datetime_format": QuerySpec(p18_datetime_format, _P18_ORACLE, "P18 datetime fmt"),
}
