"""Golden end-to-end tests: synthetic Clojush logs (FIXTURES.md §A1) →
the four output tables, compared against hand-computed expectations."""

from __future__ import annotations

import pytest

from db_loader_spark.plans.clojush import append_sidecar_params, parse_clojush_logs

LOG_A = """\
population-size = 1000
Clojush version = 3f9a2c1
problem-name = regression
bad-param = nil
noise line without separator
;;;;;;;;;;
;; -*- Report at generation 0
best-fitness: 0.5
mean: 10.2
nil-param: nil
just noise
;;;;;;;;;;
;; -*- Report at generation 1
best-fitness: 0.25
;;;;;;;;;;
SUCCESS at generation 1
"""

LOG_B = """\
population-size = 500
Clojush version = deadbee
problem-name = parity
;;;;;;;;;;
;; -*- Report at generation 42
err: 3.5
;;;;;;;;;;
FAILURE at generation 42
"""

INDEX_EDN = """\
{:command-maps [{:uuid "abc123" :argmap {:max-points 50 :trivial-geography true}}
                {:uuid "nomatch" :argmap {:ignored 1}}]}
"""


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("clojush_logs")
    (d / "run_abc123.log").write_text(LOG_A)
    (d / "run_def456.log").write_text(LOG_B)
    (d / "index.clj").write_text(INDEX_EDN)
    return d


@pytest.fixture(scope="module")
def tables(spark, log_dir):
    return parse_clojush_logs(
        spark,
        str(log_dir) + "/*.log",
        skip_nils=True,
        id_mode="dense",
        base_id=100,
        user="tester",
        problem_map={"regression": "7", "parity": "9"},
    )


def _by_file(tables, spark, log_dir):
    """id of each file under dense mode: sorted file names → 101, 102."""
    return {"a": 101, "b": 102}  # run_abc123.log < run_def456.log


def test_experiment_eav(tables, spark, log_dir):
    rows = {(r.id, r.parameter): r.value for r in tables["experiment"].collect()}
    assert rows[(101, "population-size")] == "1000"
    assert rows[(101, "Clojush version")] == "3f9a2c1"
    assert rows[(101, "problem-name")] == "regression"
    assert (101, "bad-param") not in rows  # skip-nils (P5)
    assert rows[(102, "population-size")] == "500"
    assert len(rows) == 6


def test_skip_nils_off(spark, log_dir):
    tables = parse_clojush_logs(
        spark, str(log_dir) + "/*.log", skip_nils=False, id_mode="dense", base_id=100
    )
    rows = {(r.id, r.parameter): r.value for r in tables["experiment"].collect()}
    assert rows[(101, "bad-param")] == "nil"  # literal-"nil" compat


def test_generations_eav(tables):
    rows = {(r.id, r.gennum, r.parameter): r.value for r in tables["generations"].collect()}
    assert rows[(101, 0, "best-fitness")] == "0.5"
    assert rows[(101, 0, "mean")] == "10.2"
    assert rows[(101, 1, "best-fitness")] == "0.25"
    assert rows[(102, 42, "err")] == "3.5"
    assert (101, 0, "nil-param") not in rows  # skip-nils in generations too
    assert len(rows) == 4


def test_summary(tables):
    rows = {r.id: (r.successp, r.maxgen) for r in tables["summary"].collect()}
    assert rows[101] == (True, 1)
    assert rows[102] == (False, 42)


def test_experiments_context(tables):
    rows = {r.id: r for r in tables["experiments"].collect()}
    a = rows[101]
    assert a.user == "tester"
    assert a.problem_name == "regression"
    assert a.problem_id == "7"  # JN6 config-map dimension join
    assert a.clojush_version == "3f9a2c1"
    assert a.logfile_location.endswith("run_abc123.log")
    assert a.rundate is not None and a.csv_write_time is not None
    assert rows[102].problem_id == "9"


def test_sidecar_join(tables, spark, log_dir):
    merged = append_sidecar_params(
        spark, tables["experiment"], tables["experiments"], str(log_dir / "index.clj")
    )
    # a list, not a dict: a duplicated run row would duplicate EAV rows
    assert sorted(merged.collect()) == sorted(
        [
            (101, "population-size", "1000"),
            (101, "Clojush version", "3f9a2c1"),
            (101, "problem-name", "regression"),
            (101, "max-points", "50"),  # JN5 uuid join (P16)
            (101, "trivial-geography", "true"),
            (102, "population-size", "500"),
            (102, "Clojush version", "deadbee"),
            (102, "problem-name", "parity"),
        ]
    )  # the unmatched uuid's "ignored" param is dropped


def test_idempotent_reingest(tables, spark, log_dir):
    """JN4/T2: re-parsing and anti-joining against existing yields zero."""
    from db_loader_spark.operators.idempotence import anti_join_new

    again = parse_clojush_logs(
        spark, str(log_dir) + "/*.log", id_mode="dense", base_id=100
    )
    new = anti_join_new(
        again["experiments"].select("id", "logfile_location"),
        tables["experiments"].select("id", "logfile_location"),
        ["id", "logfile_location"],
    )
    assert new.count() == 0
