"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (5-way dimension-chain star
join) at sf0.001; ``queries()`` / ``oracle_sql()`` expose every
implemented operator from SURVEY.md §2 plus the LLM-pipeline operators
(dedup / similarity / text / multimodal), each with a DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from db_loader_spark.queries import all_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from db_loader_spark.queries.relational import q5_region_revenue

    return q5_region_revenue(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.spark for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query."""
    return {name: spec.oracle for name, spec in all_queries().items()}
