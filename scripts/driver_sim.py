"""Simulate the external driver: vanilla SparkSession, foreign cwd.

Run it from outside the repository, e.g. ``cd /tmp && python
<repo>/scripts/driver_sim.py``: it puts its own checkout on ``sys.path``.
"""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.driver.memory", "8g")
    .appName("driver-sim")
    .getOrCreate()
)

import __spark_entry__ as e

df = e.entry(spark)
rows = df.count()
print(f"entry(): {rows} rows, schema={df.schema.simpleString()}")
assert rows >= 0

from db_loader_spark.oracle import run_all
from db_loader_spark.queries import WINDOW

# r9: the sample is the FULL driver window — this script is the
# closest local mirror of the external gate that produced two empty
# artifacts, so it now exercises exactly what that gate will run
# (all 50 windowed keys, vanilla session, foreign cwd, value-compared
# against their DuckDB oracles at the driver's sf0.01) — plus the
# historically pickle-sensitive non-window keys below, which cover
# executor-closure classes the window doesn't.
sample = list(WINDOW) + [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_lsh_topk",
    "ann_sq_rerank",
    "ecj_star",          # events table: ts decode in a VANILLA session
    "text_tfidf_topterms",
    "t_session_window",  # events again, different decode path
    "curation_shard_assign", # r4: scan-side hash sharding
    "ann_ivf_topk",          # r4: session-scoped index cache on a vanilla session
]
results = run_all(spark, "/root/testdata/sf0.01", only=sample)
bad = [r for r in results if not r.ok]
for r in results:
    print(("OK  " if r.ok else "FAIL"), r.name, r.spark_rows, r.detail)

# EXTERNAL-EVIDENCE AUDIT (VERDICT r7 #1: CORRECTNESS_r07 came back
# as a 2-byte `{}` and the round's rotation ledger silently rode on
# it). An empty or unparseable driver artifact is a LOUD condition:
# the affected round has NO external rows, its window must be
# re-fronted, and round notes must not cite it as evidence.
import glob
import json

for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
    try:
        with open(path) as fh:
            payload = json.load(fh)
    except (OSError, ValueError):
        payload = None
    if not payload:
        print(
            f"WARNING: {path} is EMPTY/unreadable — that round has ZERO "
            "external correctness rows; re-front its window and do not "
            "cite it in round notes"
        )

print("DRIVER-SIM", "PASS" if not bad else "FAIL")
sys.exit(1 if bad else 0)
