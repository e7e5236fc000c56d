"""ECJ log pipeline (src/parse_logs_ecj.clj — completed: the reference's
version does not compile, SURVEY.md §0).

Lifecycle: parameter file (k=v, S6) → EAV ``experiment`` rows; log file →
generation groups (boundary lines ``Generation:`` / ``of Run:``, S7/P15)
with continuation-line folding (P14) and key whitespace-stripping (P13)
→ EAV ``generations`` rows; dimension lookups (JN1/JN3) and idempotence
guards (JN4) are broadcast/anti joins against the dim tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from db_loader_spark.operators.idempotence import anti_join_new
from db_loader_spark.operators.ids import assign_file_ids
from db_loader_spark.operators.sessionize import merge_continuations
from db_loader_spark.sources.text_logs import read_log_lines

BOUNDARY = r"Generation:|of Run:"  # P15 (src/parse_logs_ecj.clj:98-99)


def normalize_key(key: Column) -> Column:
    """P13 key normalization: ``key`` with every whitespace run removed,
    'Fitness Mean' -> 'FitnessMean' (clean-data,
    src/parse_logs_ecj.clj:118-123)."""
    return F.regexp_replace(key, r"\s+", "")


def parse_ecj_params(spark: SparkSession, path: str) -> DataFrame:
    """S6: one ``key=value`` per line → EAV (file, param, value)
    (exp-param-vals, src/parse_logs_ecj.clj:62-65 — fixed)."""
    lines = read_log_lines(spark, path)
    parts = F.split(F.col("line"), "=", 2)
    return (
        lines.filter(F.col("line").contains("="))
        .select(
            "file",
            F.trim(parts.getItem(0)).alias("param"),
            F.trim(parts.getItem(1)).alias("value"),
        )
        .filter(F.col("param") != "")
    )


def ecj_log_eav(lines: DataFrame) -> DataFrame:
    """S7 + P14 + P13 + P2 core on a (file, line_no, line) frame →
    (file, gen_group, param, value).

    gen_group is the 0-based generation-section index per file
    (read-gen, src/parse_logs_ecj.clj:89-105); continuation lines (no
    ':') fold into the previous line (group-gen :107-116); keys lose
    embedded whitespace (clean-data :118-123).

    Plan shape: continuation merge FIRST, then the boundary window on
    the merged frame. Boundary lines always contain ':' (both markers
    do), so every boundary is its own anchor and continuation folding
    can never create or destroy a boundary match — the post-merge
    gen_group equals the raw-lines one, without the join-back to
    re-attach it (which also forced Spark to compute the scan+window
    branch twice)."""
    merged = merge_continuations(
        lines,
        anchor=F.col("line").contains(":"),
        file_col="file",
        order_col="line_no",
    )
    w = (
        W.partitionBy("file")
        .orderBy("line_no")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    grouped = merged.withColumn(
        "gen_group", F.sum(F.col("line").rlike(BOUNDARY).cast("int")).over(w)
    )
    parts = F.split(F.col("line"), ": ", 2)
    return (
        grouped.filter(F.col("line").contains(":"))
        .select(
            "file",
            "gen_group",
            normalize_key(F.trim(parts.getItem(0))).alias("param"),
            F.trim(parts.getItem(1)).alias("value"),
        )
        .filter((F.col("param") != "") & F.col("value").isNotNull())
    )


def parse_ecj_log(spark: SparkSession, path: str) -> DataFrame:
    """S7: read ECJ log files and run :func:`ecj_log_eav` over them."""
    return ecj_log_eav(read_log_lines(spark, path))


def resolve_batch_dims(
    new_batches: DataFrame,
    users: DataFrame,
    problems: DataFrame,
    locations: DataFrame,
) -> DataFrame:
    """JN1/JN2/JN3 (new-batch, src/parse_logs_ecj.clj:41-48): resolve
    username→userid, folder→probid (contains-join), location→locid."""
    out = (
        new_batches.join(F.broadcast(users.select("userid", "username")), "username")
        .join(
            F.broadcast(problems.select("probid", "probname")),
            F.col("probname").contains(F.col("folder")),
        )
        .join(F.broadcast(locations.select("locid", "location")), "location")
    )
    return out


def guard_existing_batches(resolved: DataFrame, existing: DataFrame) -> DataFrame:
    """JN4 (src/parse_logs_ecj.clj:51-59): drop batches whose
    (userid, probid, locid, batchdate) already exists."""
    return anti_join_new(resolved, existing, ["userid", "probid", "locid", "batchdate"])


def load_ecj(
    spark: SparkSession,
    param_path: str,
    log_path: str,
    users: DataFrame,
    problems: DataFrame,
    locations: DataFrame,
    *,
    username: str,
    location_name: str,
    existing_experiments: DataFrame | None = None,
    id_mode: str = "hash",
    base_id: int = 0,
) -> dict[str, DataFrame]:
    """The ECJ end-to-end lifecycle the reference never finished
    (src/parse_logs_ecj.clj:41-116 is incomplete and does not compile;
    the table contract is scripts/create_tables.sql:1-54): parameter
    file + log folder → the ``experiments`` / ``experiment`` /
    ``generations`` star, dim-resolved and idempotence-guarded.

    One batch per log *folder* (new-batch :41-48: batchdate is the
    folder's mtime, here the max file mtime, formatted the reference's
    ``yyyy-MM-dd HH:mm``); one experiment per log *file* (new-exp
    :70-86: the param file's EAV rows are inserted once per trial under
    that trial's expid); generations keyed (expid, genid=gen section).

    Scale shape: dims broadcast (they are lookup tables), the log scan
    is the only big input and is read ONCE (mtime rides the same scan
    via ``_metadata``), ids are per-file hashes (no global counter —
    ``id_mode="dense"`` is the reference-compat path and windows only
    the file *list*), and the idempotence guard is a broadcast anti-join
    against existing batch keys, not a per-row DB probe.
    """
    log_lines = read_log_lines(spark, log_path, with_mtime=True)
    gens_eav = ecj_log_eav(log_lines.select("file", "line_no", "line"))

    # one row per log file, then one batch row per folder
    files = log_lines.groupBy("file").agg(F.max("file_mtime").alias("mtime"))
    files = files.withColumn(
        "folder_path", F.regexp_extract("file", r"^(.*)/[^/]*$", 1)
    )
    batches = files.groupBy("folder_path").agg(
        F.date_format(F.max("mtime"), "yyyy-MM-dd HH:mm").alias("batchdate")
    )
    batches = batches.select(
        "folder_path",
        "batchdate",
        # the contains-join key is the folder's LAST path segment
        # (new-batch :43: (last (s/split folder "/")))
        F.regexp_extract("folder_path", r"([^/]+)$", 1).alias("folder"),
        F.lit(username).alias("username"),
        F.lit(location_name).alias("location"),
    )
    resolved = resolve_batch_dims(batches, users, problems, locations)
    if existing_experiments is not None:
        resolved = guard_existing_batches(resolved, existing_experiments)
    resolved = (
        assign_file_ids(resolved, file_col="folder_path", mode=id_mode, base_id=base_id)
        .withColumnRenamed("id", "batchid")
    )

    experiments = resolved.select(
        "batchid", "userid", "probid", "locid", "batchdate"
    )

    # one experiment per trial (log file), under its folder's batch
    exps = (
        files.join(
            F.broadcast(resolved.select("folder_path", "batchid")), "folder_path"
        )
        .select("file", "batchid")
    )
    exps = assign_file_ids(exps, file_col="file", mode=id_mode, base_id=base_id)
    exps = exps.withColumnRenamed("id", "expid")

    params = parse_ecj_params(spark, param_path).select("param", "value")
    experiment = (
        exps.select("expid", F.col("file").alias("logname"), "batchid")
        .crossJoin(F.broadcast(params))
    )

    generations = gens_eav.join(
        F.broadcast(exps.select("file", "expid")), "file"
    ).select(
        F.col("gen_group").cast("long").alias("genid"), "expid", "param", "value"
    )

    return {
        "experiments": experiments,
        "experiment": experiment,
        "generations": generations,
        "users": users,
        "problems": problems,
        "locations": locations,
    }
