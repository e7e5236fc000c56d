"""Per-layer numbers, gathered from outside the engine.

Four sources only, so the engine itself is unchanged:

- timed calls into each module's public functions (the ``*_layers``
  probes), materialized through Spark's ``noop`` sink so no output is
  written;
- Spark's event log (``EventLog``), enabled through
  ``PYSPARK_SUBMIT_ARGS`` by ``run.py`` and read after the session
  stops; each op's jobs, SQL executions and tasks are the ones that
  started inside the op's wall-clock window (ops run one at a time);
- a ``StreamingQueryListener`` (``stream_listener``) for micro-batch
  durations and state-store commits;
- ``SparkContext.getRDDStorageInfo`` (``rdd_blocks``) for storage still
  held after an op.
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import time


def rdd_blocks(spark) -> int:
    """RDDs that still hold storage blocks."""
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def noop(df) -> float:
    """Wall seconds to compute ``df`` in full and discard it."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def stream_listener(sink: list):
    """A listener appending one dict per micro-batch progress to ``sink``
    (addBatch and batch durations, state-store commit time and rows)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            state = p.stateOperators or []
            sink.append(
                {
                    "t_start": _epoch_ms(p.timestamp),
                    "batch_ms": p.batchDuration,
                    "add_batch_ms": (p.durationMs or {}).get("addBatch", 0),
                    "commit_ms": sum(s.commitTimeMs for s in state),
                    "state_rows": sum(s.numRowsTotal for s in state),
                    "rows": p.numInputRows,
                    "stateful": bool(state),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


def _epoch_ms(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


class EventLog:
    """Job, SQL-execution and task records of one Spark event log."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".crc")]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.jobs: dict[int, list[float]] = {}
        self.sql_starts: list[float] = []
        self.tasks: list[tuple[float, float, float]] = []  # finish ms, shuffle MB, spill MB
        with open(files[0]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    self.jobs[ev["Job ID"]] = [ev["Submission Time"], ev["Submission Time"]]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in self.jobs:
                    self.jobs[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    self.sql_starts.append(ev["time"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    shuffle = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    spill = m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    self.tasks.append((ev["Task Info"]["Finish Time"], shuffle / 2**20, spill / 2**20))

    def window(self, t0: float, t1: float) -> dict:
        """Spark work of the op that ran from ``t0`` to ``t1`` (epoch ms)."""
        spans = sorted(
            (max(s, t0), min(e, t1)) for s, e in self.jobs.values() if t0 <= s <= t1
        )
        busy, end = 0.0, t0
        for s, e in spans:  # union of job intervals
            if e > end:
                busy += e - max(s, end)
                end = e
        tasks = [t for t in self.tasks if t0 <= t[0] <= t1]
        return {
            "jobs": len(spans),
            "sql_execs": sum(1 for t in self.sql_starts if t0 <= t <= t1),
            "tasks": len(tasks),
            "job_busy_s": busy / 1000,
            "driver_gap_s": (t1 - t0 - busy) / 1000,
            "shuffle_write_mb": sum(t[1] for t in tasks),
            "spill_mb": sum(t[2] for t in tasks),
        }


def clojush_layers(spark, path: str, csv_out: str) -> dict:
    """Self times of the Clojush pipeline's layers, innermost first: text
    source read, sessionize routing, the four table plans, CSV writes."""
    from db_loader_spark.operators.ids import assign_file_ids
    from db_loader_spark.operators.sessionize import route_sections, seq_split
    from db_loader_spark.plans.clojush import DELIM, MARKER, parse_clojush_lines
    from db_loader_spark.sinks.csv_sink import write_csv_table
    from db_loader_spark.sources.text_logs import read_log_lines

    read_s = noop(read_log_lines(spark, path, with_mtime=True))
    lines = read_log_lines(spark, path, with_mtime=True)
    routed = route_sections(seq_split(assign_file_ids(lines), DELIM), MARKER)
    route_s = noop(routed) - read_s
    tables = parse_clojush_lines(spark, read_log_lines(spark, path, with_mtime=True), persist_shared=True)
    shared = tables.pop("_shared")
    noop(shared)  # materializes the shared routed frame
    parse_s = 0.0
    for name in tables:  # computed once up front, so the timed writes only write
        tables[name] = tables[name].persist()
        parse_s += noop(tables[name])
    write_s = 0.0
    for name, df in tables.items():
        t0 = time.perf_counter()
        write_csv_table(df, os.path.join(csv_out, name))
        write_s += time.perf_counter() - t0
    for df in (*tables.values(), shared):
        df.unpersist()
    return {
        "sources.text_logs.read_s": read_s,
        "operators.sessionize.route_s": route_s,
        "plans.clojush.parse_s": parse_s,
        "sinks.csv_sink.write_s": write_s,
    }


def ecj_layers(wl, parquet_out: str) -> dict:
    """ECJ read and parse self times, parquet write self time, and how
    much of the reload's parse the idempotence guard keeps."""
    from db_loader_spark.plans.ecj import ecj_log_eav
    from db_loader_spark.sources.text_logs import read_log_lines

    spark = wl.spark
    path = os.path.join(wl.corpus, "ecj", "b*/*/*.log")
    read_s = noop(read_log_lines(spark, path))
    parse_s = noop(ecj_log_eav(read_log_lines(spark, path))) - read_s
    tables = wl.load_ecj("b*/*/*.log")
    names = ("experiments", "experiment", "generations")
    for t in names:  # computed once up front, so the timed writes only write
        tables[t] = tables[t].persist()
        noop(tables[t])
    t0 = time.perf_counter()
    for t in names:
        tables[t].write.mode("overwrite").parquet(os.path.join(parquet_out, t))
    write_s = time.perf_counter() - t0
    for t in names:
        tables[t].unpersist()
    reload_glob = os.path.join(wl.corpus, "ecj", "*/*/*.log")
    parsed = ecj_log_eav(read_log_lines(spark, reload_glob)).count()
    existing = spark.read.parquet(os.path.join(parquet_out, "experiments"))
    kept = wl.load_ecj("*/*/*.log", existing)["generations"].count()
    return {
        "ecj_read_s": read_s,
        "plans.ecj.parse_s": parse_s,
        "sinks.parquet.write_s": write_s,
        "plans.ecj.reload_parsed_lines": parsed,
        "operators.idempotence.kept_ratio": kept / parsed,
    }


def dedup_layers(wl) -> tuple[dict, tuple[float, float]]:
    """MinHash+LSH candidate pairs, then connected components over the
    checkpointed pairs; returns the times and the components' window."""
    from db_loader_spark import cache
    from db_loader_spark.functions import dedup as D
    from db_loader_spark.tables import load_table

    docs = load_table(wl.spark, wl.sf_dir, "documents")
    keep = D.exact_duplicates(docs).select("keep_id")
    s1 = docs.join(keep.withColumnRenamed("keep_id", "doc_id"), "doc_id", "left_semi")
    t0 = time.perf_counter()
    sig = D.minhash_signatures(s1, num_hashes=8)
    pairs = D.lsh_candidate_pairs(sig, num_hashes=8, band_size=2, min_est_sim=0.5)
    pairs = pairs.localCheckpoint(eager=True)
    lsh_s = time.perf_counter() - t0
    w0 = time.time() * 1000
    cc_s = noop(D.connected_components(pairs))
    w1 = time.time() * 1000
    cache.release()
    cache.free_local_checkpoint(pairs)
    return {"functions.dedup.minhash_lsh_s": lsh_s, "functions.dedup.cc_s": cc_s}, (w0, w1)
