"""Sessionization operators — the reference's signature computation.

J1 ``seq-split`` (src/db_loader.clj:54-63): split an ordered line stream
into sections on delimiter lines, consuming the delimiters. In Spark
this is ONE cumulative-sum window per file — no iteration, no UDF:

    section_id = sum(is_delim) over (partition by file order by line_no
                                     rows unbounded preceding)

J2 (parse-log, src/db_loader.clj:228-243): positional routing — first
section is the experiment header, last is the run summary, middle
sections holding a marker line are generations.

P14 (group-gen, src/parse_logs_ecj.clj:107-116): continuation lines
(no anchor pattern) fold into the most recent anchor line.

Scale: the window partitions by file, so parallelism = number of files;
no global ordering or single-partition stage anywhere.

Plan construction: each regex is matched once, as a Column expression,
into a boolean column; every window over it is then one ``selectExpr``
of SQL text. A Column-API call costs several py4j round trips, so the
windows built as Columns cost dozens of them per operator. No regex or caller
value enters the SQL text — ``spark.sql.parser.escapedStringLiterals``
changes how a backslash in a SQL string literal parses, so a regex
there could silently match something else — only backtick-quoted
column names (``session.sql_ident``) do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from db_loader_spark.session import sql_ident


def _cum_window(file_col: str, order_col: str):
    return (
        W.partitionBy(file_col)
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )


def _flag(frame: DataFrame, name: str, pattern: str | Column, line_col: str) -> DataFrame:
    """``frame`` plus boolean column ``name``: ``line_col`` matched
    against the regex ``pattern``, or ``pattern`` itself when the
    caller already projected the flag as a Column."""
    if isinstance(pattern, str):
        pattern = F.col(line_col).rlike(pattern)
    return frame.withColumn(name, pattern)


def seq_split(
    lines: DataFrame,
    delim: str | Column = r";+$",
    file_col: str = "file",
    order_col: str = "line_no",
    line_col: str = "line",
    keep_delimiters: bool = False,
) -> DataFrame:
    """Add ``section_id`` (0-based per file); drop delimiter rows.

    ``delim`` is a regex matched against ``line_col``, or a boolean
    Column the caller already computed (so its regex runs once).
    Section 0 = lines before the first delimiter — matching the
    reference where the delimiter starts a new group and is consumed.
    Runs of consecutive delimiters simply yield empty sections, which
    never materialize as rows (same observable output as the reference).
    """
    f, o = sql_ident(file_col), sql_ident(order_col)
    out = _flag(lines, "_is_delim", delim, line_col).selectExpr(
        "*",
        f"SUM(CAST(_is_delim AS INT)) OVER (PARTITION BY {f} ORDER BY {o}"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        " - CAST(_is_delim AS INT) AS section_id",
    )
    if not keep_delimiters:
        out = out.where("NOT _is_delim")
    return out.drop("_is_delim")


def route_sections(
    sectioned: DataFrame,
    marker: str | Column = "-\\*-",
    file_col: str = "file",
    line_col: str = "line",
) -> DataFrame:
    """J2: tag each row with its section's kind:
    header (first section) / summary (last) / generation (has marker) /
    noise. ``marker`` is a regex or a precomputed boolean Column, as
    ``delim`` in :func:`seq_split`. Pure window columns over
    ``(file, section_id)`` and ``(file)``: the per-file hash
    partitioning that :func:`seq_split` already needs satisfies both,
    so routing adds no exchange and scans the input once."""
    f = sql_ident(file_col)
    return (
        _flag(sectioned, "_is_marker", marker, line_col)
        .selectExpr(
            "*",
            f"CASE WHEN section_id = min(section_id) OVER (PARTITION BY {f}) THEN 'header'"
            f" WHEN section_id = max(section_id) OVER (PARTITION BY {f}) THEN 'summary'"
            f" WHEN max(_is_marker) OVER (PARTITION BY {f}, section_id) THEN 'generation'"
            " ELSE 'noise' END AS section_kind",
        )
        .drop("_is_marker")
    )


def merge_continuations(
    lines: DataFrame,
    anchor: Column,
    file_col: str = "file",
    order_col: str = "line_no",
    line_col: str = "line",
    sep: str = " ",
) -> DataFrame:
    """P14: rows where ``anchor`` is false append to the latest anchor row.

    Returns one row per anchor: (file, line_no=anchor's, line=merged).
    Leading continuation lines with no anchor are dropped (reference
    behavior: they'd be appended to nothing)."""
    w = _cum_window(file_col, order_col)
    anchored = lines.withColumn(
        "_anchor_no", F.max(F.when(anchor, F.col(order_col))).over(w)
    ).filter(F.col("_anchor_no").isNotNull())
    return (
        anchored.groupBy(file_col, F.col("_anchor_no").alias(order_col))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col(order_col).alias("o"), F.col(line_col).alias("l")))
                    ),
                    lambda s: s.l,
                ),
                sep,
            ).alias(line_col)
        )
    )
