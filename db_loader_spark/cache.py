"""Session-scoped registry of persisted intermediate frames.

Operators that persist a shared intermediate (the MinHash/SimHash
signature frames, the embedding-LSH prepared frame, decontamination's
eval-shingle set) register it here via :func:`track` instead of calling
``.persist()`` anonymously. Registry query wrappers then release every
tracked frame the moment the (small) result is materialized::

    from db_loader_spark import cache
    ...
    return cache.settle_drained(result)

This is the cache-lifetime discipline: without it, each
``materialize=True`` operator call would pin MEMORY_AND_DISK blocks
for the whole session (bounded only by CacheManager's plan-level
dedup), and the caller would have no handle to unpersist — the frames
are function locals. With it, the only blocks alive after a registry
query returns are the settled result itself (a few rows) and
deliberately long-lived indexes (the IVF serving index, which has its
own keyed cache + eviction in queries.similarity).

The registry is a THREAD-LOCAL list, not keyed: construction of one
registry query is single-threaded and drains what it tracked before
returning, so entries never interleave across queries on the same
thread — and a threaded harness (e.g. a parallel bench) running
queries on separate threads gets one registry per thread, so a
concurrent wrapper's drain can no longer steal frames tracked by
another in-flight query. Long-lived sessions that call the
*functions* layer directly (bypassing the wrappers) can call
:func:`release` at any point to drop everything tracked so far on the
calling thread.

Known wart, deliberate: a wrapper's drain releases EVERYTHING tracked
on its thread at that moment — if a session tracks frames via the
functions layer and then invokes a settling registry query before
using them, its frames are unpersisted too. The consequence is
recomputation, never a wrong result (persist is purely a performance
marker); keeping the registry unkeyed is what makes the no-leak
guarantee auditable.
"""

from __future__ import annotations

import contextlib
import threading
import warnings

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

from db_loader_spark import trace

_TLS = threading.local()


def _tracked() -> list[DataFrame]:
    if not hasattr(_TLS, "tracked"):
        _TLS.tracked = []
    return _TLS.tracked


_PLAN_ONLY = False


@contextlib.contextmanager
def plan_only():
    """Disable persistence and settling inside the context — for
    plan-shape tests that need the full LAZY plan of a registry query
    whose wrapper normally settles (a settled result explains as one
    InMemoryTableScan, hiding the joins/exchanges under test). The
    cached plan IS the plan built here, so asserting on it is faithful
    to what executes."""
    global _PLAN_ONLY
    prev = _PLAN_ONLY
    _PLAN_ONLY = True
    try:
        yield
    finally:
        _PLAN_ONLY = prev


def planning() -> bool:
    """True inside :func:`plan_only`."""
    return _PLAN_ONLY


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for later release via
    :func:`drain`/:func:`release`. Returns the persisted frame."""
    if _PLAN_ONLY:
        return df
    df = df.persist()
    _tracked().append(df)
    return df


def settle_drained(
    result: DataFrame, *extra: DataFrame, checkpoints: tuple[DataFrame, ...] = ()
) -> DataFrame:
    """The registry-wrapper epilogue: materialize the SMALL ``result``
    while the tracked caches are hot, then release them (plus any
    ``extra`` stage frames the wrapper persisted itself) and free the
    ``checkpoints``, the ``localCheckpoint`` frames ``result`` was
    computed from (:func:`free_local_checkpoint`).

    Without it, queries that persist big intermediates would pin
    MEMORY_AND_DISK blocks for the whole session, and in a driver run
    of 70+ queries those leaks accumulate and skew later timings.
    Afterwards the only block still pinned is the result itself, and
    the caller's later ``.collect()`` reads that tiny cache instead of
    recomputing the released stages. Only for results that are small
    by construction (counts, top-k), never fact-sized frames. No-op
    under :func:`plan_only`: nothing persists and no job runs."""
    if _PLAN_ONLY:
        _tracked().clear()
        return result
    out = result.persist()
    out.count()  # one cheap job: stages are hot, result is tiny
    for df in (*extra, *drain()):
        df.unpersist()
    for df in checkpoints:
        free_local_checkpoint(df)
    return out


def drain() -> tuple[DataFrame, ...]:
    """Hand the tracked frames to the caller (who unpersists them) and
    clear the registry."""
    reg = _tracked()
    out = tuple(reg)
    reg.clear()
    return out


def release() -> int:
    """Unpersist every tracked frame now. Returns the number released.
    The escape hatch for sessions driving the functions layer directly."""
    n = 0
    for df in drain():
        df.unpersist()
        n += 1
    return n


def free_local_checkpoint(df: DataFrame) -> None:
    """Release a ``localCheckpoint`` frame's storage blocks NOW instead
    of waiting for the ContextCleaner to GC the Python/JVM references
    (guide §5). Iterative fixpoint loops (connected components, BPE
    training) would otherwise keep every round's checkpoint live until
    the cleaner gets around to it — storage that grows with the round
    count — and a loader would hold its shared line frame past its
    writes.

    ``df`` must be a frame returned by ``DataFrame.localCheckpoint``
    whose data is no longer needed: the unpersist truncates it
    irrecoverably (locally checkpointed RDDs drop their lineage), so a
    loop only passes round k-1's frame AFTER round k's checkpoint has
    materialized, and a loader only after its last write.

    Any other frame raises ``ValueError``: its analyzed plan is not a
    ``LogicalRDD``, so there are no checkpoint blocks to free and the
    caller's storage bound would silently not hold. The release itself
    goes through ``LogicalRDD.rdd()``, which is internal API; if that
    reach-through fails, a ``RuntimeWarning`` says so, every open
    ``trace.trace`` counts it in ``checkpoint_release_failures``, and
    the blocks stay until the ContextCleaner reclaims them."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() != "LogicalRDD":
        raise ValueError(
            "free_local_checkpoint needs a localCheckpoint frame; "
            f"this frame's analyzed plan is {plan.nodeName()}"
        )
    try:
        plan.rdd().unpersist(False)
    except Py4JError as exc:
        trace.count("checkpoint_release_failures")
        warnings.warn(
            f"free_local_checkpoint could not release the checkpoint blocks ({exc}); "
            "they stay in executor storage until the ContextCleaner reclaims them",
            RuntimeWarning,
            stacklevel=2,
        )
