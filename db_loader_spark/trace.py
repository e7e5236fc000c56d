"""Where a scope's wall went, read from Spark's own status store.

``trace(spark)`` is a context manager; the dict it yields is filled in
when the scope exits::

    with trace(spark) as t:
        df.collect()
    t["jobs"], t["driver_gap_s"]

A scope owns the jobs and SQL executions that *started* inside its
wall-clock window, whichever thread started them, so the jobs of a pool
of writer threads count with or without py4j's pinned threads and
without a job group. The listener bus is drained before the status
store is read, and if the store has already dropped a job, stage or SQL
execution of the window (``spark.ui.retainedJobs``,
``spark.ui.retainedStages``, ``spark.sql.ui.retainedExecutions``) the
trace raises instead of undercounting.

Fields:

- ``wall_s``: wall-clock seconds of the scope;
- ``jobs``, ``tasks``: jobs started in the scope and the tasks they ran;
- ``sql_execs``: SQL executions started in the scope;
- ``job_busy_s``: the union of those jobs' intervals; ``driver_gap_s``
  is the rest of the wall (planning, py4j, Python between jobs);
- ``shuffle_write_mb``, ``spill_mb``: of the stages the scope ran;
- ``py4j_commands``: commands the driver sent to the JVM, not counting
  the memory-release commands the Python garbage collector sends;
- ``codegen_compiles``, ``jit_ms``, ``gc_ms``: deltas of process-wide
  JVM counters (generated classes compiled, JIT compiler time, GC
  time), so work outside the scope that overlaps it counts too;
- ``rdds_held``: RDDs that hold storage at exit and held none at entry;
- ``checkpoint_release_failures``: ``cache.free_local_checkpoint``
  calls in the scope that could not free the blocks.
"""

from __future__ import annotations

import contextlib
import time

from py4j.protocol import MEMORY_COMMAND_NAME, Py4JJavaError

_OPEN: list[dict] = []


def count(field: str) -> None:
    """Add 1 to ``field`` of every open trace."""
    for t in _OPEN:
        t[field] += 1


@contextlib.contextmanager
def trace(spark):
    """Trace the body; see the module docstring for the fields."""
    sc = spark.sparkContext._jsc.sc()
    sql = spark._jsparkSession.sharedState().statusStore()
    dag = sc.dagScheduler()
    sc.listenerBus().waitUntilEmpty()
    job0, stage0 = dag.numTotalJobs(), dag.nextStageId()
    exec0 = _last_execution(sql)
    jvm0 = _jvm_counters(spark._jvm)
    rdds0 = _rdd_ids(sc)
    out = {"checkpoint_release_failures": 0}
    sent = []
    client = spark.sparkContext._gateway._gateway_client
    shadowed = vars(client).get("send_command")
    send = client.send_command

    def counting(command, *args, **kwargs):
        if not command.startswith(MEMORY_COMMAND_NAME):
            sent.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    _OPEN.append(out)
    t0 = time.time() * 1000
    p0 = time.perf_counter()
    try:
        yield out
    finally:
        wall_s = time.perf_counter() - p0
        _OPEN[:] = [t for t in _OPEN if t is not out]  # equal dicts may be other traces
        if shadowed is None:
            del client.send_command
        else:
            client.send_command = shadowed
    t1 = t0 + wall_s * 1000
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    jobs = [_lookup(store.job, j) for j in range(job0, dag.numTotalJobs())]
    if None in jobs:
        raise RuntimeError(
            f"the status store dropped {jobs.count(None)} jobs of this trace; "
            "raise spark.ui.retainedJobs"
        )
    # The store evicts skipped stages first, then the oldest completed
    # ones, so a stage of the scope that is gone was skipped and wrote
    # nothing, unless the scope made nearly as many stages as it keeps.
    stage1 = dag.nextStageId()
    if stage1 - stage0 > 0.8 * sc.conf().getInt("spark.ui.retainedStages", 1000):
        raise RuntimeError(
            f"this trace made {stage1 - stage0} stages, too many for the status store; "
            "raise spark.ui.retainedStages"
        )
    stages = [_lookup(store.lastStageAttempt, s) for s in range(stage0, stage1)]
    spans, tasks = [], 0
    for job in jobs:
        start = job.submissionTime().get().getTime()
        end = job.completionTime()
        spans.append((max(start, t0), min(end.get().getTime() if end.isDefined() else t1, t1)))
        tasks += job.numCompletedTasks() + job.numFailedTasks() + job.numKilledTasks()
    busy, edge = 0.0, t0
    for s, e in sorted(spans):  # union of job intervals
        if e > edge:
            busy += e - max(s, edge)
            edge = e
    shuffle = spill = 0
    for stage in filter(None, stages):
        shuffle += stage.shuffleWriteBytes()
        spill += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
    exec1 = _last_execution(sql)
    if exec1 > exec0 and sql.execution(exec0 + 1).isEmpty():
        raise RuntimeError(
            f"the status store dropped SQL execution {exec0 + 1} of this trace; "
            "raise spark.sql.ui.retainedExecutions"
        )
    jvm1 = _jvm_counters(spark._jvm)
    out.update(
        wall_s=round(wall_s, 4),
        jobs=len(jobs),
        sql_execs=exec1 - exec0,
        tasks=tasks,
        job_busy_s=round(busy / 1000, 4),
        driver_gap_s=round((t1 - t0 - busy) / 1000, 4),
        shuffle_write_mb=round(shuffle / 2**20, 3),
        spill_mb=round(spill / 2**20, 3),
        py4j_commands=len(sent),
        codegen_compiles=jvm1[0] - jvm0[0],
        jit_ms=jvm1[1] - jvm0[1],
        gc_ms=jvm1[2] - jvm0[2],
        rdds_held=len(_rdd_ids(sc) - rdds0),
    )


def _lookup(getter, key: int):
    """``getter(key)`` from the status store, None if it holds no such entry."""
    try:
        return getter(key)
    except Py4JJavaError as exc:
        if exc.java_exception.getClass().getName() != "java.util.NoSuchElementException":
            raise
        return None


def _last_execution(sql) -> int:
    """Id of the newest SQL execution in the store, -1 if none; ids are
    handed out in order, one per execution."""
    n = sql.executionsCount()
    return sql.executionsList(n - 1, 1).head().executionId() if n else -1


def _jvm_counters(jvm) -> tuple[int, int, int]:
    """(codegen compiles, JIT ms, GC ms) of the driver JVM so far."""
    mf = jvm.java.lang.management.ManagementFactory
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME().getCount()
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return compiles, mf.getCompilationMXBean().getTotalCompilationTime(), gc


def _rdd_ids(sc) -> set[int]:
    return {info.id() for info in sc.getRDDStorageInfo()}
