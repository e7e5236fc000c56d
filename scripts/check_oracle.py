#!/usr/bin/env python
"""Run every registered query against its DuckDB oracle and report.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from db_loader_spark.oracle import run_all
from db_loader_spark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2:] or None
    spark = get_spark("oracle-check")
    results = run_all(spark, sf_dir, only=only)
    n_bad = 0
    for r in results:
        status = "OK  " if r.ok else "FAIL"
        print(f"{status} {r.name:30s} rows={r.spark_rows:<8d} {r.detail}")
        n_bad += 0 if r.ok else 1
    print(f"\n{len(results) - n_bad}/{len(results)} passed")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
