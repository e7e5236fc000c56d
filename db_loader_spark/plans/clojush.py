"""Clojush log pipeline: text logs → experiments/experiment/generations/
summary (the reference's E1/E2 lifecycle, src/db_loader.clj:228-243).

One routed line frame carries every per-file value as a window column;
the four tables are filters of it. Its only shuffle is the per-file
hash partitioning the line numbering needs, which every later window
reuses.

Reference bugs intentionally fixed (SURVEY.md §7): the
``[SUCCESS|FAILURE]`` char-class regex (P9), the NPE on summary-less
logs (we emit no summary row instead), unquoted CSV output (K1 — the
CSV sink quotes). Behavior is identical on well-formed logs.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from db_loader_spark.operators.ids import assign_file_ids
from db_loader_spark.operators.sessionize import route_sections, seq_split
from db_loader_spark.session import local_frame
from db_loader_spark.sources.text_logs import read_log_lines

MARKER = r"-\*-"  # generation header marker (src/db_loader.clj:171,231)
DELIM = r";+$"  # section delimiter (src/db_loader.clj:229)


class _KV(NamedTuple):
    is_kv: Column
    parameter: Column
    value: Column


def _kv_split(where: Column, sep: str) -> _KV:
    """P1/P2/P4/P6: split 'key<sep>value' lines; keep only 2-arity rows;
    trim both sides (src/db_loader.clj:139-143,175-178). Columns, not a
    frame, so the run-level windows can aggregate over the same rows."""
    parts = F.split(F.col("line"), sep, 2)
    parameter = F.trim(parts.getItem(0))
    return _KV(
        where & F.col("line").contains(sep) & (parameter != ""),
        parameter,
        F.trim(parts.getItem(1)),
    )


def parse_clojush_logs(
    spark: SparkSession,
    path: str,
    skip_nils: bool = True,
    id_mode: str = "hash",
    base_id: int = 0,
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
        id_mode=id_mode,
        base_id=base_id,
        user=user,
        problem_map=problem_map,
        problem_name=problem_name,
        persist_shared=persist_shared,
    )


def parse_clojush_lines(
    spark: SparkSession,
    lines: DataFrame,
    skip_nils: bool = True,
    id_mode: str = "hash",
    base_id: int = 0,
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
    if "file_mtime" not in lines.columns:
        lines = lines.withColumn("file_mtime", F.lit(None).cast("timestamp"))
    lines = assign_file_ids(lines, mode=id_mode, base_id=base_id)
    routed = route_sections(seq_split(lines, DELIM), MARKER)

    kind = F.col("section_kind")
    is_marker = F.col("line").rlike(MARKER)
    header_kv = _kv_split(kind == "header", " = ")
    gen_kv = _kv_split((kind == "generation") & ~is_marker, ": ")
    status_re = r"(SUCCESS|FAILURE) at generation (\d+)"
    status = F.regexp_extract(F.col("line"), status_re, 1)
    is_status = (kind == "summary") & (status != "")
    per_file = W.partitionBy("file")

    def header_value(name: str) -> Column:  # P10 find-first — params are unique per header
        return F.max(F.when(header_kv.is_kv & (header_kv.parameter == name), header_kv.value))

    def first_line(flag: Column) -> Column:  # the one row per run that carries its values
        return F.col("line_no") == F.min(F.when(flag, F.col("line_no"))).over(per_file)

    routed = routed.select(
        "*",
        F.max(
            F.when(
                (kind == "generation") & is_marker,
                F.regexp_extract(F.col("line"), r"(\d+)\s*$", 1).cast("int"),
            )
        )
        .over(W.partitionBy("file", "section_id"))
        .alias("gennum"),
        header_value("Clojush version").over(per_file).alias("clojush_version"),
        header_value("problem-name").over(per_file).alias("problem_name"),
        first_line(header_kv.is_kv).alias("is_run_row"),
        F.max(F.when(is_status, status == "SUCCESS")).over(per_file).alias("successp"),
        F.max(
            F.when(is_status, F.regexp_extract(F.col("line"), status_re, 2).cast("int"))
        )
        .over(per_file)
        .alias("maxgen"),
        first_line(is_status).alias("is_summary_row"),
    )
    if persist_shared:
        routed = routed.localCheckpoint(eager=True)

    # --- experiment (EAV header params, src/db_loader.clj:139-143) ----
    experiment = routed.filter(header_kv.is_kv).select(
        "id", header_kv.parameter.alias("parameter"), header_kv.value.alias("value")
    )
    if skip_nils:  # P5 (src/db_loader.clj:141-142)
        experiment = experiment.filter(F.col("value") != "nil")

    # --- generations (EAV + gennum, src/db_loader.clj:169-178) --------
    generations = routed.filter(gen_kv.is_kv).select(
        "id", "gennum", gen_kv.parameter.alias("parameter"), gen_kv.value.alias("value")
    )
    if skip_nils:
        generations = generations.filter(F.col("value") != "nil")

    # --- summary (src/db_loader.clj:204-209, regex fixed) -------------
    summary = routed.filter("is_summary_row").select("id", "successp", "maxgen")

    # --- experiments (context row per run, src/db_loader.clj:103-118) -
    pname = F.col("problem_name")
    if problem_name is not None:  # CLI :problemname override (P19)
        pname = F.lit(problem_name).alias("problem_name")
    experiments = routed.filter("is_run_row").select(
        "id",
        F.lit(user).alias("user"),
        F.col("file_mtime").cast("timestamp").alias("rundate"),
        pname,
        "clojush_version",
        F.col("file").alias("logfile_location"),
        F.current_timestamp().alias("csv_write_time"),
    )
    # JN6: problem_name → problem_id via the config dimension map
    if problem_map:
        dim = local_frame(
            spark, list(problem_map.items()), "problem_name string, problem_id string"
        )
        experiments = experiments.join(F.broadcast(dim), "problem_name", "left")
    else:
        experiments = experiments.withColumn("problem_id", F.lit(None).cast("string"))
    experiments = experiments.select(
        "id",
        "user",
        "rundate",
        "problem_name",
        "problem_id",
        "clojush_version",
        "logfile_location",
        "csv_write_time",
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
    runs = experiments.select(
        "id", F.regexp_extract(basename, r"_([^_.]+)\.", 1).alias("uuid")
    )
    extra = runs.join(F.broadcast(index), "uuid").select("id", "parameter", "value")
    return experiment.unionByName(extra)
