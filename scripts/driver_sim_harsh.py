"""Hostile-harness simulation: the FULL driver window under the
HARSHEST plausible external-session config — a vanilla SparkSession
with DEFAULT driver memory (1g) and DEFAULT shuffle partitions (200),
run from a foreign cwd (``cd /tmp && python <repo>/scripts/driver_sim_harsh.py``;
the script puts its own checkout on ``sys.path``).

driver_sim.py mirrors the driver contract at a comfortable 8g;
this variant exists because the external harness's session config is
unknown and unknowable, and r9 established how expensive an
environment-sensitivity blind spot is (the DuckDB-default-config one
cost two rounds of correctness evidence). A key that only passes with
a generous driver heap — an oversized collect, an unbounded broadcast
— fails HERE first. r9 baseline: 50/50 PASS.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[32]")
    .appName("driver-sim-harsh")
    .getOrCreate()
)

from db_loader_spark.oracle import run_all
from db_loader_spark.queries import WINDOW

results = run_all(spark, "/root/testdata/sf0.01", only=list(WINDOW))
bad = [r for r in results if not r.ok]
for r in results:
    print(("OK  " if r.ok else "FAIL"), r.name, r.spark_rows, r.detail, flush=True)
print("HARSH-SIM", "PASS" if not bad else "FAIL")
sys.exit(1 if bad else 0)
