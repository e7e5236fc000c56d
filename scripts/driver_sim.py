"""The registry sweep under the external driver's conditions.

    cd /tmp && python <repo>/scripts/driver_sim.py [--sf DIR] [KEY ...]

It builds a vanilla ``SparkSession``, not ``db_loader_spark.session.get_spark``:
Spark's default driver heap (1g) and shuffle partitions (200). It runs
the ``entry()`` smoke, then compares every registry key, or the named
KEYs (which may also be diagnostics), against its DuckDB oracle at
``--sf`` (default /root/testdata/sf0.01). It prints one line per key and
exits 1 on any red row.

Run it from outside the repository. The script puts its own checkout on
the driver's ``sys.path`` only, so a Python worker that needs to import
the package fails here as it does under the driver.

The master is ``local[32]``: every external CORRECTNESS row came from a
32-slot session, and on a smaller box it is also the harsher setting,
with oversubscribed task threads sharing the 1g heap. The engine must
size itself from the box, not from the session's parallelism, and this
is where a key that does not shows it.

A full-registry run writes ``bench_history/driver_sim_<sf>.json``: per
key, the ``CORRECTNESS_r*.json`` row (``rows_match``, ``schema_match``,
``hash_match``, ``spark_rows``, ``oracle_rows``, ``err``) and its seconds
``s``. It then prints ``queries.derive_window()``: the window literal to
paste into ``db_loader_spark/queries/__init__.py``, and the CORRECTNESS
artifacts that held no evidence. A named-key run writes nothing.
"""
import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession

import __spark_entry__ as e
from db_loader_spark.oracle import run_all
from db_loader_spark.queries import GREEN, SWEEP, WINDOW, all_queries, derive_window

# (rows_match, schema_match, hash_match) by the first check that failed;
# oracle.compare checks columns, rows, dtypes, then values, so a check
# it never reached is not green. Any other failure leaves none green.
FLAGS = {
    "": (True, True, True),
    "values": (True, True, False),
    "dtypes": (True, False, False),
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    spark = SparkSession.builder.master("local[32]").appName("driver-sim").getOrCreate()
    df = e.entry(spark)
    print(f"entry(): {df.count()} rows, schema={df.schema.simpleString()}")

    rows = {}
    for key in args.keys or list(all_queries()):
        t0 = time.perf_counter()
        [r] = run_all(spark, args.sf, only=[key])
        s = round(time.perf_counter() - t0, 2)
        status = "OK  " if r.ok else "FAIL"
        print(f"{status} {key:30s} rows={r.spark_rows:<8d} {s:7.2f}s {r.detail}", flush=True)
        flags = FLAGS.get(r.failed, (False, False, False))
        rows[key] = {
            **dict(zip(GREEN, flags)),
            "spark_rows": r.spark_rows,
            "oracle_rows": r.oracle_rows,
            "err": r.detail or None,
            "s": s,
        }
    bad = [k for k, row in rows.items() if not all(row[f] for f in GREEN)]

    if not args.keys:
        sf_name = os.path.basename(os.path.normpath(args.sf))
        out = os.path.join(REPO, "bench_history", f"driver_sim_{sf_name}.json")
        with open(out, "w") as fh:
            json.dump(rows, fh, indent=1)
            fh.write("\n")
        print(f"wrote {out}")
        window, ignored = derive_window()
        for name in ignored:
            print(f"ignored {name}: empty or unreadable, no evidence")
        with open(os.path.join(REPO, SWEEP)) as fh:
            seconds = json.load(fh)
        print("WINDOW = [")
        for key in window:
            print(f'    "{key}",  # {seconds[key]["s"]:.2f}s')
        print("]")
        print("WINDOW is", "current" if window == WINDOW else "STALE: paste the list above")

    print(f"{len(rows) - len(bad)}/{len(rows)} passed")
    print("DRIVER-SIM", "FAIL" if bad else "PASS")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
