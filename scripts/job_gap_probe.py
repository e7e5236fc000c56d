#!/usr/bin/env python
"""Event-log decomposition of one registry key's timed run: per-job
wall intervals and the inter-job driver gaps between them.

Usage: python scripts/job_gap_probe.py KEY [sf_dir]

Methodology: fresh session with the repo's standard confs plus the
event log enabled, bench-style warm run (codegen + caches), System.gc,
then ONE timed run whose [start, end] window is decomposed from the
event log into job intervals (merged where they overlap — concurrent
jobs count once) and the gaps between them (driver-side planning,
py4j, broadcast sequencing, collect handling). Prints one JSON line:
{key, wall, in_jobs, gaps, n_jobs, jobs: [{desc, t0, t1}...],
 gap_list: [{after_job, len}...]}.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    key = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    import shutil

    log_dir = "/tmp/db_loader_eventlog"
    os.makedirs(log_dir, exist_ok=True)
    for f in glob.glob(os.path.join(log_dir, "*")):
        shutil.rmtree(f) if os.path.isdir(f) else os.remove(f)

    from pyspark.sql import SparkSession

    from db_loader_spark.session import DEFAULT_CPUS as cpus

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("gap-probe")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", log_dir)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from bench import RESET_BEFORE_TIMING
    from db_loader_spark.queries import all_queries

    registry = all_queries()
    registry["a2_max_id"].spark(spark, sf_dir).collect()  # session warm
    spec = registry[key]
    warm = spec.spark(spark, sf_dir)
    warm.count()
    warm.unpersist()
    spark._jvm.System.gc()
    reset = RESET_BEFORE_TIMING.get(key)
    if reset:
        reset()
    t0_ms = int(time.time() * 1000)
    t0 = time.perf_counter()
    df = spec.spark(spark, sf_dir)
    df.count()
    wall = time.perf_counter() - t0
    t1_ms = int(time.time() * 1000)
    df.unpersist()
    spark.stop()

    jobs = []
    sql_execs = []  # (start_ms, end_ms, exec_id, first line of physical plan desc)
    sql_starts: dict[int, tuple[int, str]] = {}
    starts: dict[int, tuple[int, str]] = {}
    paths = [
        p
        for p in glob.glob(os.path.join(log_dir, "*"))
        + glob.glob(os.path.join(log_dir, "*", "*"))
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    ]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    starts[ev["Job ID"]] = (
                        ev["Submission Time"],
                        props.get("spark.job.description", "")[:90],
                    )
                elif ev.get("Event") == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in starts:
                        s, desc = starts.pop(jid)
                        jobs.append((s, ev["Completion Time"], jid, desc))
                elif ev.get("Event", "").endswith("SQLExecutionStart"):
                    sql_starts[ev["executionId"]] = (
                        ev["time"],
                        (ev.get("description") or "")[:80],
                    )
                elif ev.get("Event", "").endswith("SQLExecutionEnd"):
                    eid = ev["executionId"]
                    if eid in sql_starts:
                        s, d = sql_starts.pop(eid)
                        sql_execs.append((s, ev["time"], eid, d))
    jobs = [
        (max(s, t0_ms), min(e, t1_ms), jid, d)
        for s, e, jid, d in sorted(jobs)
        if e >= t0_ms and s <= t1_ms
    ]
    merged: list[list] = []
    for s, e, jid, d in jobs:
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
            merged[-1][2].append(jid)
        else:
            merged.append([s, e, [jid], d])
    in_jobs = sum(e - s for s, e, _, _ in merged) / 1000.0
    gap_list = []
    prev_end = t0_ms
    for s, e, jids, d in merged:
        if s - prev_end > 20:
            gap_list.append(
                {"before_jobs": jids[:3], "desc": d, "len": round((s - prev_end) / 1000.0, 3)}
            )
        prev_end = e
    if t1_ms - prev_end > 20:
        gap_list.append({"before_jobs": [], "desc": "tail", "len": round((t1_ms - prev_end) / 1000.0, 3)})
    out = {
        "key": key,
        "wall": round(wall, 3),
        "in_jobs": round(in_jobs, 3),
        "gaps": round(wall - in_jobs, 3),
        "n_jobs": len(jobs),
        "n_job_spans": len(merged),
        "job_spans": [
            {"jids": jids, "len": round((e - s) / 1000.0, 3), "desc": d}
            for s, e, jids, d in merged
        ],
        "gap_list": gap_list,
        "sql_execs": [
            {
                "eid": eid,
                "t0_rel": round((s - t0_ms) / 1000.0, 3),
                "len": round((e - s) / 1000.0, 3),
                "desc": d,
            }
            for s, e, eid, d in sorted(sql_execs)
            if e >= t0_ms and s <= t1_ms
        ],
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
