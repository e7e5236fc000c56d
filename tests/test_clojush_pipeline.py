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
        user="tester",
        problem_map={"regression": "7", "parity": "9"},
    )


@pytest.fixture(scope="module")
def ids(tables):
    """The run ids of LOG_A's and LOG_B's files."""
    by_name = {
        r.logfile_location.rsplit("/", 1)[-1]: r.id
        for r in tables["experiments"].collect()
    }
    return by_name["run_abc123.log"], by_name["run_def456.log"]


def test_experiment_eav(tables, spark, log_dir, ids):
    a, b = ids
    rows = {(r.id, r.parameter): r.value for r in tables["experiment"].collect()}
    assert rows[(a, "population-size")] == "1000"
    assert rows[(a, "Clojush version")] == "3f9a2c1"
    assert rows[(a, "problem-name")] == "regression"
    assert (a, "bad-param") not in rows  # skip-nils (P5)
    assert rows[(b, "population-size")] == "500"
    assert len(rows) == 6


def test_skip_nils_off(spark, log_dir, ids):
    a, _ = ids
    tables = parse_clojush_logs(spark, str(log_dir) + "/*.log", skip_nils=False)
    rows = {(r.id, r.parameter): r.value for r in tables["experiment"].collect()}
    assert rows[(a, "bad-param")] == "nil"  # literal-"nil" compat


def test_generations_eav(tables, ids):
    a, b = ids
    rows = {(r.id, r.gennum, r.parameter): r.value for r in tables["generations"].collect()}
    assert rows[(a, 0, "best-fitness")] == "0.5"
    assert rows[(a, 0, "mean")] == "10.2"
    assert rows[(a, 1, "best-fitness")] == "0.25"
    assert rows[(b, 42, "err")] == "3.5"
    assert (a, 0, "nil-param") not in rows  # skip-nils in generations too
    assert len(rows) == 4


def test_summary(tables, ids):
    a, b = ids
    rows = {r.id: (r.successp, r.maxgen) for r in tables["summary"].collect()}
    assert rows[a] == (True, 1)
    assert rows[b] == (False, 42)


def test_experiments_context(tables, ids):
    a, b = ids
    rows = {r.id: r for r in tables["experiments"].collect()}
    run = rows[a]
    assert run.user == "tester"
    assert run.problem_name == "regression"
    assert run.problem_id == "7"  # JN6 config-map dimension join
    assert run.clojush_version == "3f9a2c1"
    assert run.logfile_location.endswith("run_abc123.log")
    assert run.rundate is not None and run.csv_write_time is not None
    assert rows[b].problem_id == "9"


def test_sidecar_join(tables, spark, log_dir, ids):
    a, b = ids
    merged = append_sidecar_params(
        spark, tables["experiment"], tables["experiments"], str(log_dir / "index.clj")
    )
    # a list, not a dict: a duplicated run row would duplicate EAV rows
    assert sorted(merged.collect()) == sorted(
        [
            (a, "population-size", "1000"),
            (a, "Clojush version", "3f9a2c1"),
            (a, "problem-name", "regression"),
            (a, "max-points", "50"),  # JN5 uuid join (P16)
            (a, "trivial-geography", "true"),
            (b, "population-size", "500"),
            (b, "Clojush version", "deadbee"),
            (b, "problem-name", "parity"),
        ]
    )  # the unmatched uuid's "ignored" param is dropped


def test_idempotent_reingest(tables, spark, log_dir):
    """JN4/T2: re-parsing and anti-joining against existing yields zero."""
    from db_loader_spark.operators.idempotence import anti_join_new

    again = parse_clojush_logs(spark, str(log_dir) + "/*.log")
    new = anti_join_new(
        again["experiments"].select("id", "logfile_location"),
        tables["experiments"].select("id", "logfile_location"),
        ["id", "logfile_location"],
    )
    assert new.count() == 0
