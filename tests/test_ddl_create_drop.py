"""K7: ``sinks.ddl.create_all`` / ``drop_all`` create and drop the seven
ECJ tables with exactly the ``ECJ_TABLES`` columns."""

from __future__ import annotations

from db_loader_spark.sinks.ddl import ECJ_TABLES, create_all, drop_all


def _tables(spark, db):
    # listTables also lists the session's temporary views
    return {t.name for t in spark.catalog.listTables(db) if not t.isTemporary}


def test_create_all_then_drop_all(spark, tmp_path):
    db = "k7_ddl"
    prior = spark.catalog.currentDatabase()
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path / 'warehouse'}'")
    try:
        spark.catalog.setCurrentDatabase(db)
        create_all(spark, str(tmp_path / "tables"))
        assert _tables(spark, db) == set(ECJ_TABLES)
        for name, cols in ECJ_TABLES.items():
            got = spark.table(f"{db}.{name}").schema
            want = spark.createDataFrame([], cols).schema
            assert [(f.name, f.dataType) for f in got] == [
                (f.name, f.dataType) for f in want
            ], name
            assert spark.table(f"{db}.{name}").count() == 0
        drop_all(spark)
        assert _tables(spark, db) == set()
    finally:
        spark.catalog.setCurrentDatabase(prior)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
