#!/usr/bin/env python
"""Time registry keys with the bench protocol and trace where the wall went.

Usage: python scripts/probe.py KEY [KEY ...] [--sf DIR] [--x 1,4,16] [--plan]

Per key, in one session: a warm run (its wall is ``warm_s``; for a key
that stages an on-disk index, the index build is in it), ``System.gc``,
then ``bench``'s own ``_timed_runs`` (with its ``RESET_BEFORE_TIMING``
hook and an unpersist between samples), which runs the samples inside
``trace.trace``. Prints one JSON line per key: the median, the relative
spread and every trace field, summed over the ``runs`` samples.

``--x 1,4,16`` runs every key on each x-fold replica of the sf tables
(``tables.replica``, staged once per source version) instead of on the
sf dir itself, one line per key per x, so a sweep compares across code
versions the way a bench row does.

``--plan`` instead builds each key twice under ``cache.plan_only()``
and traces the second build, so its line counts what building the plan
costs once schemas are memoized (py4j commands, and any job a build
should not run), and adds the formatted physical plan as ``plan``.

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``, the directory bench.py reads.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import RESET_BEFORE_TIMING, _timed_runs
from db_loader_spark import cache
from db_loader_spark.queries import all_queries
from db_loader_spark.session import get_spark
from db_loader_spark.tables import replica
from db_loader_spark.trace import trace


def probe(spark, spec, key: str, sf_dir: str, plan: bool) -> dict:
    if plan:
        with cache.plan_only():
            spec.spark(spark, sf_dir)  # warm: table schemas, class lookups
            with trace(spark) as traced:
                df = spec.spark(spark, sf_dir)
        explain = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        return {"key": key, **traced, "plan": explain}
    t0 = time.perf_counter()
    warm = spec.spark(spark, sf_dir)
    warm.count()
    warm_s = round(time.perf_counter() - t0, 3)
    warm.unpersist()
    spark._jvm.System.gc()

    def run_once():
        df = spec.spark(spark, sf_dir)
        df.count()
        return df

    med, spread, traced = _timed_runs(
        spark, run_once, reset=RESET_BEFORE_TIMING.get(key), cleanup=lambda df: df.unpersist()
    )
    return {"key": key, "warm_s": warm_s, "median_s": med, "spread": spread, **traced}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("keys", nargs="+", metavar="KEY")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--x", type=lambda v: [int(k) for k in v.split(",")], default=[None])
    ap.add_argument("--plan", action="store_true")
    args = ap.parse_args()
    if not args.sf:
        ap.error("pass --sf DIR or set SPARK_GRAFT_SF_DIR")
    registry = all_queries()
    unknown = [k for k in args.keys if k not in registry]
    if unknown:
        ap.error(f"not registry keys: {unknown}")
    stdout = sys.stdout
    with contextlib.redirect_stdout(sys.stderr):  # engine prints stay off the JSON lines
        spark = get_spark("probe")
        registry["a2_max_id"].spark(spark, args.sf).collect()  # session warm
        for x in args.x:
            data = args.sf if x is None else replica(spark, args.sf, x)
            for key in args.keys:
                line = probe(spark, registry[key], key, data, args.plan)
                print(json.dumps({"sf": args.sf, "x": x, **line}), file=stdout, flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
