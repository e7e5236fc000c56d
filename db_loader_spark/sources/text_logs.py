"""Text-log source: ordered (file, line_no, line) frames from log files.

Replaces the reference's lazy line reader + shell-out decompression
(S1/S2/S4, src/db_loader.clj:229,337-344):

- ``spark.read.text`` handles ``.log`` and ``.gz`` transparently (Spark's
  codec layer replaces the reference's gunzip/gzip round-trip, and gzip
  files are unsplittable so they arrive in file order for free).
- Extension routing (the reference's ``cond`` dispatch) becomes a glob:
  ``read_log_lines(spark, dir, glob="*.{log,gz}")``.
- Line order is recovered per file: ``monotonically_increasing_id`` is
  ascending within a partition, so a row_number window partitioned by
  file yields exact per-file line numbers **as long as a file maps to
  one partition**. Log files are small (FIXTURES.md: ≤5k lines); for
  logs beyond ``maxPartitionBytes`` raise that conf or pre-split —
  documented SURVEY.md §7 hard-part 3.

At 100 TB: millions of small log files is the scale profile here; one
``read.text`` over a glob produces one task per file-group, no
driver-side per-file loop (the reference spawned a JVM per file,
scripts/load_csv_to_cloud.sh:123).

Plans are built as SQL text, one ``selectExpr`` per projection: a
Column-API call costs several py4j round trips, a SQL string a few per
projection. No regex or caller value enters that text, only
backtick-quoted column names (``session.sql_ident``), because
``spark.sql.parser.escapedStringLiterals`` changes how a backslash in a
SQL string literal parses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from db_loader_spark.session import sql_ident


def number_lines(raw: DataFrame, file_col: str = "file") -> DataFrame:
    """Attach 0-based per-file ``line_no`` to a (file, line, …) frame.

    ``monotonically_increasing_id`` is ascending within each partition,
    which recovers file order when a file maps to one split. For files
    LARGER than ``maxPartitionBytes`` Spark's split-packing does NOT
    hand partitions out in offset order, so ``_mid`` alone would silently
    misorder lines; when the frame carries a ``_block_start`` column
    (the split's byte offset, selected from ``_metadata.file_block_start``
    at read time — see :func:`read_log_lines`) the window orders by
    (block offset, _mid), which is correct for any file size."""
    cols = raw.columns
    order = "_block_start, _mid" if "_block_start" in cols else "_mid"
    keep = [sql_ident(c) for c in cols if c != "_block_start"]
    return raw.selectExpr("*", "monotonically_increasing_id() AS _mid").selectExpr(
        *keep,
        f"row_number() OVER (PARTITION BY {sql_ident(file_col)} ORDER BY {order}) - 1"
        " AS line_no",
    )


def read_log_lines(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    with_mtime: bool = False,
) -> DataFrame:
    """Read text logs → DataFrame(file, line_no, line[, file_mtime]).

    ``path`` may be a file, directory, or glob; ``glob`` adds a
    ``pathGlobFilter`` (extension dispatch, S4). line_no is 0-based
    within each file (order is load-bearing for sectionization).
    """
    reader = spark.read
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    cols = [
        "input_file_name() AS file",
        "value AS line",
        # Split byte-offset: makes line numbering correct even when one
        # file spans several input splits (ADVICE r01 — split-packing is
        # not offset-ordered). Dropped again inside number_lines.
        "_metadata.file_block_start AS _block_start",
    ]
    if with_mtime:
        cols.append("_metadata.file_modification_time AS file_mtime")
    return number_lines(reader.text(path).selectExpr(*cols))
