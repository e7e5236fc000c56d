"""Clojush log pipeline: text logs → experiments/experiment/generations/
summary (the reference's E1/E2 lifecycle, src/db_loader.clj:228-243).

One routed line frame carries every per-file value as a window column;
the four tables are filters of it. Its only shuffle is the per-file
hash partitioning the line numbering needs, which every later window
reuses.

The plan is built as SQL text: every regex is matched once per line,
as a Column expression, in the first projection; each window layer and
table projection after it is one ``selectExpr`` over plain columns, a
few py4j calls where the Column API took dozens. No regex and no
caller value (``user``, ``problem_name``) goes into that text, because
``spark.sql.parser.escapedStringLiterals`` changes how a backslash in a
SQL string literal parses; caller values enter as ``F.lit``.

Reference bugs intentionally fixed (SURVEY.md §7): the
``[SUCCESS|FAILURE]`` char-class regex (P9), the NPE on summary-less
logs (we emit no summary row instead), unquoted CSV output (K1 — the
CSV sink quotes). Behavior is identical on well-formed logs.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from db_loader_spark.operators.ids import assign_file_ids
from db_loader_spark.operators.sessionize import route_sections, seq_split
from db_loader_spark.schemas import EXPERIMENTS_SCHEMA
from db_loader_spark.session import local_frame
from db_loader_spark.sources.text_logs import read_log_lines

MARKER = r"-\*-"  # generation header marker (src/db_loader.clj:171,231)
DELIM = r";+$"  # section delimiter (src/db_loader.clj:229)
STATUS = r"(SUCCESS|FAILURE) at generation (\d+)"  # P9, regex fixed
GEN_NO = r"(\d+)\s*$"  # generation number ending a marker line


def run_status(line: Column | str) -> tuple[Column, Column]:
    """P9 summary-line parse (summary-vals, src/db_loader.clj:204-209):
    the ``SUCCESS``/``FAILURE`` word and the generation number of
    ``line``, each ``''`` where ``line`` is no status line."""
    return F.regexp_extract(line, STATUS, 1), F.regexp_extract(line, STATUS, 2)


def run_uuid(filename: Column) -> Column:
    """P16: the run uuid in a log file name, the token after a ``_``
    and before the next ``.`` (src/db_loader.clj:273,283)."""
    return F.regexp_extract(filename, r"_([^_.]+)\.", 1)


class _KV(NamedTuple):
    """SQL text over ``line`` for 'key<sep>value' lines (P1/P2/P4/P6):
    the line holds ``sep`` and a non-empty key; key and value are the
    trimmed text before and after its first occurrence
    (src/db_loader.clj:139-143,175-178). ``sep`` is matched literally,
    so no regex enters the text."""

    is_kv: str
    parameter: str
    value: str


def _kv(sep: str) -> _KV:
    parameter = f"trim(substring_index(line, '{sep}', 1))"
    return _KV(
        f"instr(line, '{sep}') > 0 AND {parameter} != ''",
        parameter,
        f"trim(substring(line, instr(line, '{sep}') + {len(sep)}))",
    )


_HEADER_KV = _kv(" = ")
_GEN_KV = _kv(": ")
# The experiments row per run; ``user`` is a placeholder for its F.lit.
_EXPERIMENTS_COLS = (
    "id",
    "CAST(NULL AS STRING) AS user",
    "CAST(file_mtime AS TIMESTAMP) AS rundate",
    "problem_name",
    "CAST(NULL AS STRING) AS problem_id",
    "clojush_version",
    "file AS logfile_location",
    "current_timestamp() AS csv_write_time",
)


def parse_clojush_logs(
    spark: SparkSession,
    path: str,
    skip_nils: bool = True,
    user: str = "spark",
    problem_map: dict[str, str] | None = None,
    problem_name: str | None = None,
    persist_shared: bool = False,
) -> dict[str, DataFrame]:
    """Parse every log under ``path`` into the four output tables.

    Mirrors parse-log (src/db_loader.clj:228-243) per file, but as one
    distributed plan over all files at once (the reference looped a JVM
    per file, scripts/load_csv_to_cloud.sh:123).
    """
    lines = read_log_lines(spark, path, with_mtime=True)
    return parse_clojush_lines(
        spark,
        lines,
        skip_nils=skip_nils,
        user=user,
        problem_map=problem_map,
        problem_name=problem_name,
        persist_shared=persist_shared,
    )


def parse_clojush_lines(
    spark: SparkSession,
    lines: DataFrame,
    skip_nils: bool = True,
    user: str = "spark",
    problem_map: dict[str, str] | None = None,
    problem_name: str | None = None,
    persist_shared: bool = False,
) -> dict[str, DataFrame]:
    """Core plan over a (file, line_no, line[, file_mtime]) frame —
    shared by the batch path and the Structured Streaming foreachBatch
    path (streaming/file_ingest.py).

    Every per-file computation is a window column on ONE routed line
    frame: sections, section kinds, ``gennum``, and the per-run
    experiments and summary values, each carried by one flagged row
    per run. All those windows partition by ``file`` (or by ``file``
    and ``section_id``), so the line numbering's hash partitioning on
    ``file`` serves them all and the frame costs one exchange. The four
    tables are then filters and projections of it.

    ``persist_shared=True`` eagerly localCheckpoints that frame before
    returning and hands it back under ``"_shared"``: a caller that
    materializes every table (the CLI's four CSV appends, the streaming
    ingest's four per-batch writes) then pays for listing, gzip decode
    and the windows once instead of once per table, and its writes are
    single-stage jobs over the checkpoint blocks that can run
    concurrently. A checkpoint, not ``.persist()``: an in-memory
    relation over this plan measured several times slower than no
    caching at all, its build tasks blocked at near-zero CPU. Eager,
    so the writes never race to materialize it. The caller releases the
    blocks with ``cache.free_local_checkpoint`` once it has written
    every table."""
    # Every regex runs once per line, here, as a Column expression; the
    # windows and table projections below are SQL text over the
    # resulting plain columns.
    if "file_mtime" not in lines.columns:
        lines = lines.withColumn("file_mtime", F.lit(None).cast("timestamp"))
    status, status_gen = run_status("line")
    lines = (
        lines.withColumn("_delim_line", F.regexp_like("line", F.lit(DELIM)))
        .withColumn("_marker_line", F.regexp_like("line", F.lit(MARKER)))
        .withColumn("_gen_no", F.regexp_extract("line", GEN_NO, 1))
        .withColumn("_status", status)
        .withColumn("_status_gen", status_gen)
    )
    lines = assign_file_ids(lines)
    routed = route_sections(
        seq_split(lines, F.expr("_delim_line")), F.expr("_marker_line")
    )

    header_kv = f"section_kind = 'header' AND {_HEADER_KV.is_kv}"
    status = "section_kind = 'summary' AND _status != ''"

    def header_value(name: str) -> str:  # P10 find-first — params are unique per header
        return (
            f"max(CASE WHEN {header_kv} AND {_HEADER_KV.parameter} = '{name}'"
            f" THEN {_HEADER_KV.value} END) OVER (PARTITION BY file)"
        )

    def first_line(flag: str) -> str:  # the one row per run that carries its values
        return f"line_no = min(CASE WHEN {flag} THEN line_no END) OVER (PARTITION BY file)"

    routed = routed.selectExpr(
        "*",
        "max(CASE WHEN section_kind = 'generation' AND _marker_line"
        " THEN CAST(_gen_no AS INT) END) OVER (PARTITION BY file, section_id) AS gennum",
        f"{header_value('Clojush version')} AS clojush_version",
        f"{header_value('problem-name')} AS problem_name",
        f"{first_line(header_kv)} AS is_run_row",
        f"max(CASE WHEN {status} THEN _status = 'SUCCESS' END)"
        " OVER (PARTITION BY file) AS successp",
        f"max(CASE WHEN {status} THEN CAST(_status_gen AS INT) END)"
        " OVER (PARTITION BY file) AS maxgen",
        f"{first_line(status)} AS is_summary_row",
    )
    if persist_shared:
        routed = routed.localCheckpoint(eager=True)

    # --- experiment (EAV header params, src/db_loader.clj:139-143) ----
    experiment = routed.where(header_kv).selectExpr(
        "id", f"{_HEADER_KV.parameter} AS parameter", f"{_HEADER_KV.value} AS value"
    )
    if skip_nils:  # P5 (src/db_loader.clj:141-142)
        experiment = experiment.where("value != 'nil'")

    # --- generations (EAV + gennum, src/db_loader.clj:169-178) --------
    generations = routed.where(
        f"section_kind = 'generation' AND NOT _marker_line AND {_GEN_KV.is_kv}"
    ).selectExpr("id", "gennum", f"{_GEN_KV.parameter} AS parameter", f"{_GEN_KV.value} AS value")
    if skip_nils:
        generations = generations.where("value != 'nil'")

    # --- summary (src/db_loader.clj:204-209, regex fixed) -------------
    summary = routed.where("is_summary_row").selectExpr("id", "successp", "maxgen")

    # --- experiments (context row per run, src/db_loader.clj:103-118) -
    # ``user`` and the :problemname override are caller values: they
    # replace their placeholder columns as F.lit, never as SQL text.
    experiments = routed.where("is_run_row").selectExpr(*_EXPERIMENTS_COLS).withColumn(
        "user", F.lit(user)
    )
    if problem_name is not None:  # CLI :problemname override (P19)
        experiments = experiments.withColumn("problem_name", F.lit(problem_name))
    # JN6: problem_name → problem_id via the config dimension map
    if problem_map:
        dim = local_frame(
            spark, list(problem_map.items()), "problem_name string, problem_id string"
        )
        experiments = (
            experiments.drop("problem_id")
            .join(F.broadcast(dim), "problem_name", "left")
            .selectExpr(*EXPERIMENTS_SCHEMA.fieldNames())
        )

    tables = {
        "experiments": experiments,
        "experiment": experiment,
        "generations": generations,
        "summary": summary,
    }
    if persist_shared:
        tables["_shared"] = routed
    return tables


def append_sidecar_params(
    spark: SparkSession, experiment: DataFrame, experiments: DataFrame, index_path: str
) -> DataFrame:
    """JN5/S5: join the EDN sidecar's argmaps to runs by filename uuid and
    append as extra EAV rows (load-other-params, src/db_loader.clj:282-292).

    ``experiments`` holds one row per run (``id``, ``logfile_location``)
    — the experiments table — so the join needs no de-duplication."""
    from db_loader_spark.sources.edn_index import read_edn_index

    index = read_edn_index(spark, index_path)
    # uuid comes from the BASENAME — a directory component containing
    # '_…'.' would otherwise match first and yield a wrong uuid
    basename = F.element_at(F.split(F.col("logfile_location"), "/"), -1)
    runs = experiments.select("id", run_uuid(basename).alias("uuid"))
    extra = runs.join(F.broadcast(index), "uuid").select("id", "parameter", "value")
    return experiment.unionByName(extra)
