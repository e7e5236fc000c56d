#!/usr/bin/env python
"""Measure the driver-window sweep cost per key at sf0.01.

The external correctness harness runs each WINDOW key's Spark query
AND its DuckDB oracle; if it dies on a wall-clock cap mid-sweep, only
the prefix lands rows. This script measures that per-key cost (Spark
toPandas + oracle execute, same work the driver does) so the WINDOW
can be ordered cheapest-first (VERDICT r8 #4 — harness insurance):
a partial run then lands the maximum number of rows.

Usage: python scripts/window_cost.py [sf_dir] [--complement]
Prints one line per key (cost-sorted) plus a python list literal of
the window in cheapest-first order, ready to paste into
queries/__init__.py. With --complement, measures the 50 registry keys
NOT in the current window instead — the next round's cohort — so its
rotation can be pre-ordered before the round starts.
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from db_loader_spark.oracle import compare, duck_connection
from db_loader_spark.queries import WINDOW, all_queries
from db_loader_spark.session import get_spark


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--complement"]
    complement = "--complement" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = get_spark("window-cost")
    con = duck_connection(sf_dir)
    specs = all_queries()
    keys = (
        [k for k in specs if k not in set(WINDOW)] if complement else list(WINDOW)
    )
    # one throwaway action first: JVM + codegen warmup must not be
    # attributed to whichever key happens to run first
    specs[keys[0]].spark(spark, sf_dir).count()
    costs: dict[str, float] = {}
    for name in keys:
        spec = specs[name]
        t0 = time.perf_counter()
        df = spec.spark(spark, sf_dir)
        if spec.oracle is None:
            ok = df.count() >= 0
        else:
            ok = compare(name, df, spec.oracle, con).ok
        costs[name] = time.perf_counter() - t0
        print(f"{'OK  ' if ok else 'FAIL'} {name:32s} {costs[name]:7.2f}s", flush=True)
    ordered = sorted(costs, key=costs.get)
    total = sum(costs.values())
    print(f"\ntotal window sweep: {total:.1f}s over {len(costs)} keys")
    print("\ncheapest-first order:")
    for name in ordered:
        print(f'    "{name}",  # {costs[name]:.2f}s')
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
