"""Building the two timed plans costs a few JVM calls per projection.

Every Column-API call is a py4j round trip (several, with PySpark's
call-site capture), so a plan assembled expression by expression spends
most of a small op's wall in the driver before the first job. The
MinHash/LSH and Clojush builders emit SQL text instead; these guards
count the py4j commands sent while *building* (not executing) each
plan, after a warm-up build, so the schema memo and class lookups are
warm. Memory-release commands are not counted: py4j sends one whenever
Python frees a proxy, at times set by the garbage collector, not by the
plan being built.
"""

from __future__ import annotations

import gc

from db_loader_spark import cache
from db_loader_spark.functions import dedup as D
from db_loader_spark.queries.dedup import dedup_minhash_lsh
from db_loader_spark.tables import load_table
from db_loader_spark.trace import trace

MAX_COMMANDS = 300

CLOJUSH_LOG = """\
Clojush version = 1.2
problem-name = demo
;;;;;;;;;;
;; -*- Report at generation 0
f: 7
;;;;;;;;;;
SUCCESS at generation 0
"""


def _build_commands(spark, build) -> int:
    build()  # warm-up
    gc.collect()
    with trace(spark) as traced:
        build()
    return traced["py4j_commands"]


def test_minhash_lsh_plan_builds_in_few_commands(spark, sf_dir):
    def build():
        with cache.plan_only():
            dedup_minhash_lsh(spark, sf_dir)

    n = _build_commands(spark, build)
    assert n <= MAX_COMMANDS, n


def test_clojush_plan_builds_in_few_commands(spark, tmp_path):
    from db_loader_spark.plans.clojush import parse_clojush_logs

    for i in range(3):
        (tmp_path / f"run_u{i}.log").write_text(CLOJUSH_LOG)
    path = str(tmp_path / "*.log")
    n = _build_commands(
        spark, lambda: parse_clojush_logs(spark, path, problem_map={"demo": "1"})
    )
    assert n <= MAX_COMMANDS, n


def test_minhash_signatures_tokenize_once(spark, sf_dir):
    """The text is split once per row: the n gram slices and the size
    read the projected token column, not n copies of the tokenizer."""
    sig = D.minhash_signatures(load_table(spark, sf_dir, "documents"), num_hashes=8)
    plan = sig._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
