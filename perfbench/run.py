"""Benchmark of spark-graft's log loading, streaming ingest and curation.

Run from the repository root:

    python3 perfbench/run.py --workload log_load --seed 1 --seconds 12 --trace 0

Workloads and the op each one times (``workloads.OPS``):

- ``log_load``: the CLI's Clojush load of a seeded gz corpus to CSV;
- ``curation``: the ``dedup_minhash_lsh`` registry key over a seeded
  sf0.01 replica.

One process, one local session sized to this box (``SPARK_GRAFT_CPUS`` =
usable cores, ``SPARK_GRAFT_DRIVER_MEM`` = a quarter of RAM, at most
16g).  Set-up starts the session, generates the seeded inputs, runs the
DuckDB oracle and repeats the op untimed until two calls in a row agree
within ``STEADY`` (``MIN_WARMUP_PASSES`` to ``MAX_WARMUP_PASSES`` calls);
``setup_s`` covers all of it.  The measurement then
repeats the op for ``--seconds`` (at least ``MIN_PASSES`` times) and
reports the median as ``op_s``.  Every output is checked; a failed check
counts in ``failed``.  An op that leaves a streaming query active stops
the run with an error.

``--trace 1`` runs the same with Spark's event log on and a streaming
listener attached, then runs the workload's ``workloads.TRACED_OPS``
once each and times each layer alone, and prints the per-layer metrics.
Its ``trace.overhead_s`` is its op median minus the op median of the
last untraced run of the workload in this checkout (or of the archived
baseline when there is none).  A one-line JSON summary goes to stderr;
the last stdout line is the result.  Scratch files live under
``perfbench/_work`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
BASELINE = os.path.join(HERE, "baseline", "cpus4-set1.json")
SPARK_FIELDS = (
    ("jobs", "count"), ("sql_execs", "count"), ("tasks", "count"),
    ("job_busy_s", "s"), ("driver_gap_s", "s"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
)
ALL_OPS = (
    "clojush_load", "ecj_load", "ecj_reload", "stream_drain", "stream_join", "minhash_lsh", "bpe_train",
)
END_TO_END = (("setup_s", "s"), ("op_s", "s"))
PER_LAYER = (
    ("ops_failed_share", "ratio"),
    ("box.cpus", "count"),
    ("box.driver_mem_gb", "GB"),
    ("setup.session_s", "s"),
    ("setup.inputs_s", "s"),
    ("setup.oracle_s", "s"),
    ("setup.warmup_s", "s"),
    ("warmup.rounds", "count"),
    ("warmup.cold_first_op_s", "s"),
    ("trace.op_s", "s"),
    ("trace.overhead_s", "s"),
    ("cache.leftover_rdds", "count"),
    ("streams.active_after_ops", "count"),
) + tuple((f"{op}_s", "s") for op in ALL_OPS) + (
    ("sources.text_logs.read_s", "s"),
    ("operators.sessionize.route_s", "s"),
    ("plans.clojush.parse_s", "s"),
    ("sinks.csv_sink.write_s", "s"),
    ("cli.overhead_s", "s"),
    ("plans.ecj.parse_s", "s"),
    ("sinks.parquet.write_s", "s"),
    ("plans.ecj.reload_parsed_lines", "count"),
    ("operators.idempotence.kept_ratio", "ratio"),
    ("streaming.batches", "count"),
    ("streaming.batch_ms_p50", "ms"),
    ("streaming.add_batch_ms_p50", "ms"),
    ("streaming.machinery_ms_p50", "ms"),
    ("streaming.state_commit_ms", "ms"),
    ("streaming.state_rows", "count"),
    ("functions.dedup.minhash_lsh_s", "s"),
    ("functions.dedup.cc_s", "s"),
    ("functions.dedup.cc_sql_execs", "count"),
    ("functions.bpe.train_sql_execs", "count"),
) + tuple((f"{op}.spark.{f}", unit) for op in ALL_OPS for f, unit in SPARK_FIELDS)
MIN_PASSES = 3
MIN_WARMUP_PASSES = 4  # JIT keeps speeding calls up for a few calls after the first
MAX_WARMUP_PASSES = 6
STEADY = 0.10  # warm-up ends when a call is within 10% of the one before


class LiveQueryError(RuntimeError):
    """An op returned while a streaming query was still active."""


def box_size() -> tuple[int, int]:
    """(usable cores, driver heap in GB) for this box."""
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return cpus, max(1, min(16, int(ram_gb // 4)))


def configure_env(work: str, trace: bool, cpus: int, mem_gb: int) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    ``work`` and size the session, before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        for conf in ("enabled=true", "compress=false", "rolling.enabled=false", f"dir=file://{log_dir}"):
            args += ["--conf", f"spark.eventLog.{conf}"]
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": shlex.join(args + ["pyspark-shell"]),
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class Runner:
    """Runs ops one at a time and keeps what the metrics need."""

    def __init__(self, wl, spark):
        self.wl, self.spark = wl, spark
        self.ops = wl.ops(workloads.OPS[wl.name])
        self.attempted = 0
        self.errors: list[str] = []
        self.walls: dict[str, list[float]] = {op: [] for op in ALL_OPS}
        self.windows: dict[str, list[tuple[float, float]]] = {op: [] for op in ALL_OPS}
        self.leftover_rdds = 0

    def run_op(self, op, record: bool = True) -> float:
        from layers import rdd_blocks

        self.attempted += 1
        if op.reset is not None:
            op.reset()
        t_ms = time.time() * 1000
        t0 = time.perf_counter()
        try:
            out = op.run()
            wall = time.perf_counter() - t0
            err = op.check(out)
            if op.cleanup is not None:
                op.cleanup(out)
        except Exception as exc:  # a failed op is counted, the run goes on
            wall, err = time.perf_counter() - t0, f"{type(exc).__name__}: {exc}"
        if record:
            self.walls[op.name].append(wall)
            self.windows[op.name].append((t_ms, t_ms + wall * 1000))
        if err:
            self.errors.append(f"{op.name}: {err}")
        gc.collect()  # drops the Python handles first, so the JVM can free what they held
        self.spark._jvm.System.gc()
        active = self.spark.streams.active
        if active:
            raise LiveQueryError(f"{op.name} left {len(active)} streaming queries active")
        self.leftover_rdds = max(self.leftover_rdds, rdd_blocks(self.spark))
        return wall

    def one_pass(self, record: bool) -> float:
        return sum(self.run_op(op, record) for op in self.ops)

    def warm_up(self) -> list[float]:
        """Untimed passes until one is within ``STEADY`` of the one
        before, at least ``MIN_WARMUP_PASSES`` and at most
        ``MAX_WARMUP_PASSES`` of them; returns their walls."""
        walls: list[float] = []
        while len(walls) < MAX_WARMUP_PASSES:
            walls.append(self.one_pass(record=False))
            if len(walls) >= MIN_WARMUP_PASSES and abs(walls[-1] - walls[-2]) <= STEADY * walls[-2]:
                break
        return walls

    def measure(self, seconds: float) -> list[float]:
        passes = []
        t_end = time.perf_counter() + seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
            passes.append(self.one_pass(record=True))
        return passes


def untraced_op_s(workload: str) -> float:
    """``op_s`` of the last untraced run of ``workload`` in this checkout,
    else the median of the archived baseline's first set."""
    last = os.path.join(WORK, f"op_s-{workload}.json")
    if os.path.exists(last):
        with open(last) as fh:
            return json.load(fh)["op_s"]
    with open(BASELINE) as fh:
        runs = json.load(fh)["runs"][workload]
    return _median(r["metrics"]["op_s"]["value"] for r in runs)


def layer_metrics(wl, runner, probes: dict, progress: list[dict]) -> dict:
    """The per-layer metrics the probes, the listener and the event log
    give for this workload (0 where a layer is not exercised)."""
    from layers import EventLog

    m = dict(probes)
    m["sources.text_logs.read_s"] = probes.get("sources.text_logs.read_s", 0.0) + m.pop("ecj_read_s", 0.0)
    if wl.name == "log_load":
        cli_layers = sum(
            probes[k] for k in ("sources.text_logs.read_s", "operators.sessionize.route_s",
                                "plans.clojush.parse_s", "sinks.csv_sink.write_s")
        )
        m["cli.overhead_s"] = _median(runner.walls["clojush_load"]) - cli_layers
        drain = [p for p in progress if not p["stateful"] and p["rows"]]
        stateful = [p for p in progress if p["stateful"]]
        m["streaming.batches"] = len(drain)
        m["streaming.batch_ms_p50"] = _median(p["batch_ms"] for p in drain)
        m["streaming.add_batch_ms_p50"] = _median(p["add_batch_ms"] for p in drain)
        m["streaming.machinery_ms_p50"] = _median(p["batch_ms"] - p["add_batch_ms"] for p in drain)
        m["streaming.state_commit_ms"] = sum(p["commit_ms"] for p in stateful)
        m["streaming.state_rows"] = max((p["state_rows"] for p in stateful), default=0)
    log = EventLog(os.path.join(wl.work, "eventlog"))
    for op, windows in runner.windows.items():
        stats = [log.window(t0, t1) for t0, t1 in windows]
        for field, _ in SPARK_FIELDS:
            m[f"{op}.spark.{field}"] = _median(s[field] for s in stats)
    if wl.name == "curation":
        m["functions.dedup.cc_sql_execs"] = log.window(*probes.pop("cc_window"))["sql_execs"]
        m["functions.bpe.train_sql_execs"] = m["bpe_train.spark.sql_execs"]
    m.pop("cc_window", None)
    return m


def run(args, work: str) -> tuple[dict, dict]:
    """Set up, measure and return (result line, stderr summary)."""
    t_setup = time.perf_counter()
    cpus, mem_gb = box_size()
    configure_env(work, bool(args.trace), cpus, mem_gb)
    sys.path.insert(0, ROOT)
    from db_loader_spark.session import get_spark

    spark = get_spark("perfbench")
    try:
        spark.range(1).count()
        session_s = time.perf_counter() - t_setup
        wl = workloads.Workload(args.workload, spark, work, args.seed)
        t0 = time.perf_counter()
        wl.stage_inputs()
        inputs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.stage_oracle()
        oracle_s = time.perf_counter() - t0
        runner = Runner(wl, spark)
        t0 = time.perf_counter()
        warm = runner.warm_up()
        warmup_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_setup

        if not args.trace:
            passes = runner.measure(args.seconds)
        else:
            import layers

            progress: list[dict] = []
            listener = layers.stream_listener(progress)
            spark.streams.addListener(listener)
            passes = runner.measure(args.seconds)
            for op in wl.ops(workloads.TRACED_OPS[wl.name]):
                runner.run_op(op)
            time.sleep(1.0)  # let the last progress events arrive
            spark.streams.removeListener(listener)
            probe_dir = os.path.join(work, "probe")
            probes: dict = {}
            if wl.name == "log_load":
                clj = os.path.join(wl.corpus, "clojush", "*.log.gz")
                probes.update(layers.clojush_layers(spark, clj, os.path.join(probe_dir, "csv")))
                probes.update(layers.ecj_layers(wl, os.path.join(probe_dir, "parquet")))
            if wl.name == "curation":
                dedup, probes["cc_window"] = layers.dedup_layers(wl)
                probes.update(dedup)
            active_after = len(spark.streams.active)
    finally:
        stop_session(spark)

    op_s = _median(passes)
    summary = {
        "workload": wl.name,
        "seed": args.seed,
        "cpus": cpus,
        "driver_mem": f"{mem_gb}g",
        "warm_passes": [round(x, 2) for x in warm],
        "passes": [round(x, 2) for x in passes],
        "setup": [round(x, 2) for x in (session_s, inputs_s, oracle_s, warmup_s)],
        "errors": runner.errors[:5],
        **{f"{op}_s": _median(w) for op, w in runner.walls.items() if w},
    }
    if args.trace:
        values = {name: 0.0 for name, _ in PER_LAYER}
        values.update(layer_metrics(wl, runner, probes, progress))
        values.update(
            {
                "ops_failed_share": len(runner.errors) / runner.attempted,
                "box.cpus": cpus,
                "box.driver_mem_gb": mem_gb,
                "setup.session_s": session_s,
                "setup.inputs_s": inputs_s,
                "setup.oracle_s": oracle_s,
                "setup.warmup_s": warmup_s,
                "warmup.rounds": len(warm),
                "warmup.cold_first_op_s": warm[0],
                "trace.op_s": op_s,
                "trace.overhead_s": op_s - untraced_op_s(wl.name),
                "cache.leftover_rdds": runner.leftover_rdds,
                "streams.active_after_ops": active_after,
            }
        )
        for op, walls in runner.walls.items():
            values[f"{op}_s"] = _median(walls)
        units = dict(PER_LAYER)
    else:
        values = {"setup_s": setup_s, "op_s": op_s}
        units = dict(END_TO_END)
        with open(os.path.join(WORK, f"op_s-{wl.name}.json"), "w") as fh:
            json.dump({"op_s": op_s}, fh)
    result = {
        "correct": not runner.errors,
        "attempted": runner.attempted,
        "failed": len(runner.errors),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    return result, summary


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark (see module docstring)")
    ap.add_argument("--workload", choices=tuple(workloads.OPS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "db_loader_spark")):
        print(f"no db_loader_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        with contextlib.redirect_stdout(sys.stderr):  # engine prints stay off the result stream
            result, summary = run(args, work)
    except LiveQueryError as exc:
        print(f"FAILED: {exc}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(summary), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
