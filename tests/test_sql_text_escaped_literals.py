"""The SQL-text plan builders hold up under a driver that sets
``spark.sql.parser.escapedStringLiterals``.

That conf changes how a backslash in a SQL string literal parses, so a
regex written into SQL text would silently match something else. The
builders keep every regex and caller value out of their SQL text; under
the conf, the Clojush tables and the MinHash/LSH pairs must equal the
default-conf run.
"""

from __future__ import annotations

from db_loader_spark.plans.clojush import parse_clojush_logs
from db_loader_spark.queries.dedup import dedup_minhash_lsh
from db_loader_spark.session import scoped_conf

ESCAPED = {"spark.sql.parser.escapedStringLiterals": "true"}

LOGS = {
    "run_a1.log": """\
Clojush version = 1.2
problem-name = demo
max-generations = 3
noise line without separator
;;;;;;;;;;
;; -*- Report at generation 0
best-fitness: 7
err: nil
;;;;;;;;;;
;; -*- Report at generation 12
best-fitness: 3
;;;;;;;;;;
SUCCESS at generation 12
""",
    "run_b2.log": """\
Clojush version = 1.3
problem-name = other
tail = x;
;; -*- Report at generation 1
a: b: c
;;;;;;;;;;
FAILURE at generation 1
""",
}


def _clojush_rows(spark, path):
    tables = parse_clojush_logs(spark, path, problem_map={"demo": "1"})
    tables["experiments"] = tables["experiments"].drop("csv_write_time")
    return {name: sorted(map(tuple, df.collect())) for name, df in tables.items()}


def _minhash_rows(spark, sf_dir):
    return sorted(map(tuple, dedup_minhash_lsh(spark, sf_dir).collect()))


def test_conf_changes_regex_literals_in_sql_text(spark):
    """The hazard is real in this session: the same SQL-text regex
    matches a digit by default and no longer under the conf."""
    probe = r"'7' rlike '\\d' AS m"
    assert spark.range(1).selectExpr(probe).first().m
    with scoped_conf(spark, ESCAPED):
        assert not spark.range(1).selectExpr(probe).first().m


def test_builders_ignore_escaped_string_literals(spark, sf_dir, tmp_path):
    for name, text in LOGS.items():
        (tmp_path / name).write_text(text)
    path = str(tmp_path / "*.log")
    clojush, minhash = _clojush_rows(spark, path), _minhash_rows(spark, sf_dir)
    assert all(clojush.values()) and minhash
    with scoped_conf(spark, ESCAPED):
        assert _clojush_rows(spark, path) == clojush
        assert _minhash_rows(spark, sf_dir) == minhash
