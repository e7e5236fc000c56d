"""Manifest-committed table layout: snapshot-atomic publish over any
filesystem, including object stores where directory rename is not
atomic.

The rename-based swaps elsewhere in this package (``ddl.
compact_partitions_if_needed``, the epoch-overwrite streaming sinks)
are atomic on POSIX/HDFS but explicitly NOT on S3-class stores, whose
"rename" is copy+delete with visible intermediate states. The industry
answer (Iceberg/Delta/Hudi, in miniature here) is to never let readers
list directories at all: data files are immutable and write-once under
``data/``, a MANIFEST file enumerates exactly which files constitute a
snapshot, and publishing a new snapshot is ONE small-object write plus
ONE pointer update. Readers resolve pointer → manifest → file list, so
they see a complete old snapshot or a complete new one — never a mix,
regardless of how non-atomic the underlying store's directory
operations are. Old snapshots stay readable (time travel) until
vacuumed.

Mapped onto the reference's transactional-load semantics: ``publish``
is K6's staging+atomic-publish and T5's transactional flush;
``vacuum`` is K8's clean; snapshot ids are the retry token (a replayed
publish of a fully committed writer epoch is a pure no-op; one that
crashed pre-commit restages invisibly and re-points — idempotent
either way). file:line parity: the reference's
closest analog is the CSV flush-then-load loop in
scripts/load_csv_to_cloud.sh:107-149.

Commit protocol details that carry the correctness weight:
- Data files are written under ``data/`` with a snapshot-unique
  prefix, so a crashed writer leaves only unreferenced files —
  invisible to every reader, reclaimed by ``vacuum``.
- The manifest (one JSON object per snapshot) is written COMPLETE
  before the pointer moves; a crash between the two leaves the old
  pointer valid.
- The pointer is a GENERATION LOG (``_CURRENT.gen/<n>``): commit
  = compare-and-swap via ``os.link`` of a fully-written scratch file
  onto the next generation number — atomic-exclusive, so exactly one
  writer wins each generation. On an object store each generation
  entry maps to a conditional PUT (If-None-Match) of that key — the
  one mutation primitive such stores provide. A best-effort legacy
  ``_CURRENT`` mirror file is kept for humans and for roots that
  predate the log (which the reader falls back to as generation 0).
- Readers never list ``data/``: ``read_current`` loads the manifest's
  explicit file list, so partial uploads and stale files cannot leak
  into a scan.
- CONCURRENCY CONTRACT: concurrent COMMITS against one root are safe
  and serialize through the pointer CAS. Concurrent APPEND commits all land — a loser
  rebuilds its manifest on the fresh parent and re-CASes (its staged
  files are parent-independent). A losing MERGE or COMPACTION — whose
  content was DERIVED from the superseded parent — auto-REBASES
  (the Delta/Iceberg OCC retry loop, ``_occ_loop``): the DML verbs
  and ``compact_snapshot`` catch the typed ``ConcurrentPublishError``,
  re-read the fresh current, RE-DERIVE their content against it, and
  re-commit, up to ``rebase_retries`` times. Re-derivation IS the
  conflict resolution: the retry literally re-executes the operation
  on the winner's result, so the final lineage equals some serial
  order of the racing commits (merge-after-append sees the appended
  rows; two merges land last-writer-wins per key — the serial
  outcome). ``rebase_retries=0`` restores raise-to-the-caller. A
  losing plain overwrite (``parent_check``) still raises — its
  content is caller-derived, so only the caller can re-derive.
  No commit is ever clobbered, torn, or silently orphaned. Two
  residual exclusions, both inherent to the semantics rather than the
  mechanism: (1) SAME-TOKEN replays are at-least-once-SEQUENTIAL
  (the Structured Streaming checkpoint contract — two live replays of
  one epoch corrupt any sink); (2) ``vacuum`` still requires quiesced
  writers — it reaps unreferenced data prefixes, which is exactly
  what an in-flight commit's staged files look like (the same
  retention caveat every table format documents).
- ONE TOKEN RULE: every commit path asks ``_replayed`` whether its
  ``snapshot_id`` already committed — ``publish`` before staging,
  ``_occ_loop`` (DML, compaction, restore, schema evolution) before
  every derivation — so a replay is judged the same way everywhere:
  landed tokens no-op, provable residue is replaced, and a token the
  lineage walk cannot prove (vacuum horizon) is refused.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from db_loader_spark.session import local_frame

_DATA = "data"
_MANIFESTS = "_manifests"
_CURRENT = "_CURRENT"
_GEN = "_CURRENT.gen"
# How many pointer races one commit absorbs before declaring the root
# pathologically contended. Each retry rebuilds the manifest against
# the fresh parent, so 16 lost races means 16 other commits landed
# during ours — far past any in-contract writer count.
_COMMIT_RETRIES = 16
# Generation entries vacuum leaves behind (newest-first). Never below
# 1 (the max entry IS the pointer); the tail exists only so a reader
# that listed the directory just before a prune can still resolve.
_GEN_KEEP = 16
# Lost derivation races a merge/compaction re-derives through before
# giving up. Each retry re-reads the fresh parent and re-runs the
# Spark derivation, so 3 lost races means 3 full interloping commits
# landed DURING our derive+commit — already pathological contention
# for content-sized operations (contrast _COMMIT_RETRIES=16 for
# appends, whose retry is metadata-only).
_REBASE_RETRIES = 3

# Sentinel for publish's ``_require_parent``: "this commit's content
# was derived from NO parent" (an empty table at derivation time).
# ``None`` can't express that — it means "no pin at all" — and an
# unpinned empty-table merge would drop the rows of a first writer
# that landed between the OCC loop's read and publish's: with the
# sentinel, publish requires the observed current to STILL be None
# and raises ConcurrentPublishError otherwise, so the OCC loop rebases
# into the real merge path against the interloper.
_NO_PARENT = "<derived-from-empty-table>"


class ConcurrentPublishError(RuntimeError):
    """A commit whose content was derived from a parent snapshot lost
    the pointer race: another writer committed between the derivation
    read and this commit's CAS. The derivation is stale — re-derive on
    the NEW current and retry (``merge_upsert``/``compact_snapshot``
    do this automatically via their ``rebase_retries`` loop).

    Typed (it subclasses RuntimeError, so callers matching the message
    keep working) so the OCC retry loop can catch exactly the
    re-derivable failure and let every other error — the
    horizon-truncated token refusal, pathological-contention
    exhaustion, IO faults — propagate untouched."""


def _read_pointer(root: str) -> tuple[int, str | None]:
    """(generation, snapshot id) of the current pointer.

    The pointer is a GENERATION LOG: ``_CURRENT.gen/<n>`` files, each
    holding one snapshot id, created exclusively via ``os.link`` — the
    highest generation wins. A root with no generation entries falls
    back to the legacy single-file ``_CURRENT`` pointer (pre-r12
    roots), which reads as generation 0; the first CAS commit against
    such a root starts the log at generation 1. The retry loop covers
    the one benign race: vacuum pruning the entry we just listed as
    max while a newer max exists — re-list and resolve again.
    """
    gen_dir = os.path.join(root, _GEN)
    for _ in range(64):  # bounded: each retry implies a concurrent prune
        try:
            entries = [e for e in os.listdir(gen_dir) if e.isdigit()]
        except FileNotFoundError:
            entries = []
        if not entries:
            try:
                with open(os.path.join(root, _CURRENT)) as fh:
                    return 0, fh.read().strip() or None
            except OSError:
                return 0, None
        top = max(entries, key=int)
        try:
            with open(os.path.join(gen_dir, top)) as fh:
                return int(top), fh.read().strip() or None
        except FileNotFoundError:
            continue  # max pruned between list and read: re-list
    raise RuntimeError(
        f"pointer at {root!r} would not settle after 64 reads — "
        "generation entries are being pruned faster than they can be "
        "resolved (a vacuum loop racing readers, out of contract)"
    )


def _advance_pointer(root: str, expect_gen: int, new_sid: str) -> bool:
    """Compare-and-swap the pointer from generation ``expect_gen`` to
    ``expect_gen + 1`` naming ``new_sid``. Returns False on a lost race.

    The CAS primitive is ``os.link`` of a fully-written (fsync'd)
    scratch file onto the next generation name: link is atomic-
    exclusive (EEXIST if any other writer took that generation) and
    the name appears with its complete content — no reader can observe
    a created-but-unwritten pointer, which an O_EXCL ``open`` would
    expose. On an object store this maps 1:1 to a conditional PUT
    (If-None-Match) of the generation key — the primitive the module
    docstring always named as the scale path.

    Defense-in-depth (documented, not load-bearing): generation reuse
    is impossible while vacuum honors its quiesced-writers contract
    (entries only ever grow; vacuum prunes only old ones). If a vacuum
    DID race us — pruning the very generation we are about to take,
    after ≥``_GEN_KEEP`` newer commits — our link would succeed at a
    stale generation and the commit would be silently invisible. The
    post-link check below detects that case when the successor lineage
    is still walkable and raises loudly instead.
    """
    gen_dir = os.path.join(root, _GEN)
    os.makedirs(gen_dir, exist_ok=True)
    scratch = os.path.join(gen_dir, f".tmp-{uuid.uuid4().hex[:12]}")
    with open(scratch, "w") as fh:
        fh.write(new_sid)
        fh.flush()
        os.fsync(fh.fileno())
    new_gen = expect_gen + 1
    try:
        os.link(scratch, os.path.join(gen_dir, f"{new_gen:020d}"))
    except FileExistsError:
        return False
    finally:
        os.unlink(scratch)
    # best-effort legacy mirror: gen-aware readers ignore it the moment
    # the log is non-empty, so staleness under concurrency is harmless;
    # it keeps pre-r12 tools and humans able to read the pointer.
    mirror_tmp = os.path.join(root, f"{_CURRENT}.tmp-{uuid.uuid4().hex[:12]}")
    try:
        with open(mirror_tmp, "w") as fh:
            fh.write(new_sid)
        os.replace(mirror_tmp, os.path.join(root, _CURRENT))
    except OSError:
        try:
            os.unlink(mirror_tmp)
        except OSError:
            pass
    # the stale-generation detector described above
    try:
        entries = [e for e in os.listdir(gen_dir) if e.isdigit()]
        top = max(int(e) for e in entries)
    except (FileNotFoundError, ValueError):
        return True
    if top > new_gen:
        # Newer generations exist. Normal cause: we committed and were
        # immediately superseded — then the current lineage descends
        # from us. Pathological cause (vacuum raced an in-flight
        # commit): we linked a PRUNED generation and the current
        # lineage does not contain us. Walk the successor's parents;
        # a truncated walk (vacuumed ancestor manifest) is accepted —
        # it cannot be distinguished, and vacuum running at all means
        # the quiesced-writers contract is already broken louder ways.
        _, cur = _read_pointer(root)
        sid = cur
        seen: set[str] = set()
        while sid is not None and sid not in seen:
            if sid == new_sid:
                return True
            seen.add(sid)
            try:
                sid = _manifest(root, sid)["parent"]
            except FileNotFoundError:
                return True  # truncated history: cannot adjudicate
        raise RuntimeError(
            f"commit {new_sid!r} at {root!r} landed on a stale pointer "
            f"generation ({new_gen} vs current {top}) and the live "
            "lineage does not descend from it — a vacuum pruned "
            "generation entries while this commit was in flight "
            "(vacuum requires quiesced writers)"
        )
    return True


def _relax_type_json(t):
    """A Spark type-JSON value with nullable/containsNull/
    valueContainsNull forced True at EVERY level — the relaxed dual of
    ``_type_fingerprint``'s strip. Top-level-only relaxation (the r12
    shape) recorded the FIRST writer's nested nullability verbatim;
    because ``_type_fingerprint`` ignores nested nullability, a later
    append with legal NULLs in a nested field validated fine yet all
    reads bound to the parent's non-nullable declaration — Spark may
    skip null checks for data the lineage legally holds (ADVICE r12
    #2)."""
    if isinstance(t, dict):
        kind = t.get("type")
        if kind == "struct":
            return {
                **t,
                "fields": [
                    {
                        **f,
                        "nullable": True,
                        "type": _relax_type_json(f["type"]),
                    }
                    for f in t["fields"]
                ],
            }
        if kind == "array":
            return {
                **t,
                "containsNull": True,
                "elementType": _relax_type_json(t["elementType"]),
            }
        if kind == "map":
            return {
                **t,
                "valueContainsNull": True,
                "keyType": _relax_type_json(t["keyType"]),
                "valueType": _relax_type_json(t["valueType"]),
            }
        return t
    return t


def _schema_json(df: DataFrame) -> dict:
    """The snapshot schema a commit records in its manifest, as Spark
    StructType JSON with every field — at every nesting level — forced
    NULLABLE. Nullable is the only honest nullability for a
    manifest-recorded schema: schema evolution means old files can
    lack a later column entirely (read as NULL), and parquet read-back
    surfaces nullable fields anyway — recording a non-nullable field
    (top-level OR nested) would promise more than an evolved lineage
    can keep."""
    return _relax_type_json(df.schema.jsonValue())


def _type_fingerprint(t):
    """A Spark type-JSON value with every NULLABILITY and METADATA
    annotation stripped, recursively — the comparison key for "same
    type, no cast needed". Nested nullable/containsNull/
    valueContainsNull and field metadata differ freely between a
    createDataFrame DDL schema and a written-then-recorded one;
    treating them as type conflicts would refuse batches whose types
    genuinely align (r12 close review, pass 2)."""
    if isinstance(t, dict):
        kind = t.get("type")
        if kind == "struct":
            return (
                "struct",
                tuple(
                    (f["name"], _type_fingerprint(f["type"]))
                    for f in t["fields"]
                ),
            )
        if kind == "array":
            return ("array", _type_fingerprint(t["elementType"]))
        if kind == "map":
            return (
                "map",
                _type_fingerprint(t["keyType"]),
                _type_fingerprint(t["valueType"]),
            )
        if kind == "udt":
            return ("udt", t.get("class"))
        return ("other", json.dumps(t, sort_keys=True))
    return t


def _merge_schemas(
    parent: dict | None, new: dict | None, allow_new: bool, root: str
) -> dict | None:
    """The schema an APPEND commit records: the parent's columns, in
    the parent's order, plus any columns the appended frame adds (at
    the end — the Delta mergeSchema shape). Shared column names must
    have IDENTICAL types — no implicit casts, ever; a type conflict is
    a loud error, not a coerced read. New columns require the caller
    to opt in (``merge_schema=True``): silently widening a table's
    contract is how downstream readers break at 3am. Appending a
    SUBSET of the parent's columns is always fine — the missing
    columns read as NULL through the recorded schema. A legacy parent
    (no recorded schema — pre-evolution lineage) stays legacy: the old
    files' columns are unknown, so inventing a contract that might not
    cover them would hide data."""
    if parent is None or new is None:
        return None
    ptypes = {f["name"]: f["type"] for f in parent["fields"]}
    out = [dict(f) for f in parent["fields"]]
    for f in new["fields"]:
        if f["name"] in ptypes:
            if _type_fingerprint(ptypes[f["name"]]) != _type_fingerprint(
                f["type"]
            ):
                raise ValueError(
                    f"schema conflict appending to {root!r}: column "
                    f"{f['name']!r} is {ptypes[f['name']]!r} in the table "
                    f"but {f['type']!r} in the appended frame — no "
                    "implicit casts; align the types explicitly"
                )
        else:
            if not allow_new:
                raise ValueError(
                    f"append to {root!r} adds column {f['name']!r} not in "
                    "the table schema; pass merge_schema=True to evolve "
                    "the schema (old files will read it as NULL)"
                )
            out.append(dict(f))
    # relax the WHOLE result, parent fields included: a lineage whose
    # schema was recorded before the recursive relaxation (top-level-
    # only, pre-r13) would otherwise perpetuate nested non-nullable
    # declarations through every append forever — the exact skipped-
    # null-check hazard _relax_type_json closes (r13 review)
    return _relax_type_json({"type": "struct", "fields": out})


def _manifest_reader(spark: SparkSession, man: dict, legacy_union: bool = False):
    """A DataFrameReader for ``man``'s files: the manifest-recorded
    schema when present (NO footer reads — the point of recording it;
    files missing an evolved column surface it as NULL), else the
    plain parquet reader (legacy lineages). ``legacy_union=True``
    makes the legacy fallback a FOOTER-UNION read (mergeSchema) — the
    survivor-rewriting operations (merge, delete) must see every
    column of a heterogeneous pre-r12b lineage or they would silently
    drop the ones the inferring footer lacks."""
    from pyspark.sql.types import StructType

    if man.get("schema"):
        return spark.read.schema(StructType.fromJson(man["schema"]))
    if legacy_union:
        return spark.read.option("mergeSchema", "true")
    return spark.read


def _paths(root: str) -> tuple[str, str, str]:
    return (
        os.path.join(root, _DATA),
        os.path.join(root, _MANIFESTS),
        os.path.join(root, _CURRENT),
    )


def _rel_file_expr():
    """Column expression: the manifest-relative path
    ``data/<sid>/<part>`` of the file each row was read from, derived
    from the hidden parquet ``_metadata`` column (OSS Spark 3.5+).
    Relative — never the absolute URI — so deletion vectors stay valid
    if the table root moves."""
    from pyspark.sql import functions as F

    return F.concat_ws(
        "/", F.slice(F.split(F.col("_metadata.file_path"), "/"), -3, 3)
    )


def _apply_deletes(
    spark: SparkSession,
    root: str,
    man: dict,
    df: DataFrame,
    files: list[str] | None = None,
) -> DataFrame:
    """Mask merge-on-read deleted rows out of a scan of ``man``'s
    files: anti-join on (file, row position) against the snapshot's
    deletion vectors (``man["deletes"]``). Row positions come from the
    parquet reader's own ``_metadata.row_index`` — stable per file by
    construction, the same identity Iceberg positional deletes and
    Delta deletion vectors key on. No deletes → the scan is returned
    UNTOUCHED (zero plan overhead for tables that never used MOR).

    ``files`` (optional) names the manifest-relative data files ``df``
    actually scans (a pruned subset); DV files containing positions
    only for other data files are then skipped entirely — the
    manifest's per-file association is what keeps a pruned read's DV
    fetch proportional to the slice, not the table's delete history.

    At 100 TB: the DV side is matched-rows-sized (the whole point of
    MOR); Spark/AQE broadcasts it when small, shuffles both sides on
    the (file, pos) key otherwise — either way the data side is
    scanned once with no driver materialization."""
    from pyspark.sql import functions as F

    dels = man.get("deletes") or {}
    if files is not None:
        scanned = set(files)
        dels = {f: e for f, e in dels.items() if f in scanned}
    if not dels:
        return df
    # collision-proof scratch names (the compact_snapshot zkey rule)
    tag = uuid.uuid4().hex[:8]
    rc, pc = f"_dv_rel_{tag}", f"_dv_pos_{tag}"
    ann = df.withColumn(rc, _rel_file_expr()).withColumn(
        pc, F.col("_metadata.row_index")
    )
    return _dv_anti_join(spark, root, dels, ann, rc, pc).drop(rc, pc)


# masked-file count above which the DV prefilter switches from an
# isin literal (embeds one expression per file in the plan) to a
# broadcast semi-join (plan size constant in the mask count)
_DV_ISIN_MAX = 64


def _dv_anti_join(
    spark: SparkSession, root: str, dels: dict, ann: DataFrame,
    rc: str, pc: str,
) -> DataFrame:
    """THE deletion-vector join (one definition — r13 review: the
    read path and the DML derivation path must never diverge on how
    vectors are loaded or matched): anti-join ``ann`` — a scan already
    annotated with ``rc`` (relative path, as ``_metadata`` renders it:
    URL-encoded) and ``pc`` (row position) — against the vectors in
    ``dels``, which the caller has restricted to the scanned files.
    The dv-file list is the per-file association recorded at commit
    time, so a pruned scan reads only the sidecars covering its slice;
    positions for other data files fail the join condition by
    construction. Empty ``dels`` → ``ann`` untouched."""
    from pyspark.sql import functions as F

    if not dels:
        return ann
    dv_files = sorted({p for e in dels.values() for p in e["dv"]})
    dv = spark.read.schema("f string, pos long").parquet(
        *[os.path.join(root, p) for p in dv_files]
    )
    # prefilter the vector rows to the scanned files (second r13
    # review: dropped in the unification, and it is free — a commit's
    # positions hash-cluster into _DV_FILES shared sidecars, so a
    # pruned one-file read would otherwise feed the sidecar's WHOLE
    # position set into the join build side; rows for other files
    # store the path as _metadata renders it, URL-encoded). Small
    # masked-file sets inline as an IN literal (min-max'd by codegen);
    # past the threshold an isin literal embeds O(n) expressions in
    # the plan — after sustained MOR ingest thousands of masked files
    # would bloat analysis time (ADVICE r13 #2) — so large sets go
    # through a broadcast semi-join against a file-count-sized frame.
    rels = [_uri_rel(f) for f in dels]
    if len(rels) <= _DV_ISIN_MAX:
        dv = dv.where(F.col("f").isin(rels))
    else:
        scanned = local_frame(spark, [(r,) for r in rels], "f string")
        dv = dv.join(F.broadcast(scanned), "f", "left_semi")
    return ann.join(
        dv, (F.col(rc) == dv["f"]) & (F.col(pc) == dv["pos"]), "left_anti"
    )


def _file_stats(path: str, cols: list[str]) -> dict:
    """Per-file zone-map entry from the parquet FOOTER (no data read):
    row count + min/max per requested column, aggregated across row
    groups. Values come back as plain JSON-able Python scalars."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}

    def jsonable(v):
        # pyarrow surfaces BYTE_ARRAY (string/binary) stats as bytes in
        # some versions; decode or drop — a stat that can't serialize
        # must not kill the commit (absent stats only cost pruning)
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, (int, float, str, bool)):
            return v
        return None

    stats: dict[str, list] = {}
    nulls: dict[str, int] = {}
    for c in cols:
        if c not in idx:
            # the file PREDATES this column (schema evolution) or the
            # frame staged without it (subset append): every read
            # surfaces NULL, which IS a complete null-count stat —
            # range predicates can prune the whole file on it
            nulls[c] = md.num_rows
            continue
        lo = hi = None
        nc = 0
        minmax_ok = True  # a poisoned bound must not leak partial ranges
        for rg in range(md.num_row_groups):
            rgmd = md.row_group(rg)
            s = rgmd.column(idx[c]).statistics
            if s is None or s.null_count is None:
                nc = None  # any countless group poisons the null stat
            elif nc is not None:
                nc += s.null_count
            if minmax_ok:
                if s is None:
                    minmax_ok = False
                elif not s.has_min_max:
                    # legal when the group is PROVABLY all-null (no
                    # values to bound — contributes nothing); any other
                    # min/max-less group (stats disabled, unorderable)
                    # poisons the file's bounds
                    if not (s.null_count is not None
                            and s.null_count == rgmd.num_rows):
                        minmax_ok = False
                else:
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        if not minmax_ok:
            lo = hi = None
        lo, hi = jsonable(lo), jsonable(hi)
        if lo is not None and hi is not None:
            stats[c] = [lo, hi]
        if nc is not None:
            nulls[c] = nc
    out = {"rows": md.num_rows, "stats": stats}
    if nulls:
        out["nulls"] = nulls
    return out


def _new_sid() -> str:
    """A fresh snapshot id: millisecond commit time, then a random tag."""
    return f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"


def publish(
    df: DataFrame,
    root: str,
    snapshot_id: str | None = None,
    parent_check: bool = True,
    stats_cols: list[str] | None = None,
    append: bool = False,
    merge_schema: bool = False,
    _inherit_files: list[str] | None = None,
    _inherit_meta: dict | None = None,
    _inherit_deletes: dict | None = None,
    _require_parent: str | None = None,
    _record_schema: bool = True,
) -> str:
    """Write ``df`` as a new snapshot of the table at ``root`` and
    atomically make it current. Returns the snapshot id.

    ``snapshot_id`` doubles as the idempotent retry token (the
    at-least-once foreachBatch contract). Before anything is staged,
    ``_replayed`` — the one token rule every commit path shares —
    decides whether the token already committed: a replay of a landed
    commit (current, superseded, or finished here from a torn
    pre-flip state) is a pure no-op returning ``snapshot_id``, since
    restaging would delete live files out from under concurrent
    readers; provable residue of a lost attempt is removed and the
    token commits fresh; a token the lineage walk cannot prove
    (truncated at the vacuum horizon) is refused with a RuntimeError.
    The pointer advance is a CAS on the generation log, so concurrent
    commits SERIALIZE: append losers rebuild on the fresh parent and
    retry inside ``_commit_staged`` (all appends land); an overwrite
    that lost the race with ``parent_check`` (default) fails loudly
    instead of silently clobbering, and the manifest records the
    snapshot it superseded.

    ``_require_parent`` (internal): commits whose CONTENT was derived
    from a specific parent snapshot (the copy-on-write DML rewrite,
    compact_snapshot) pass the snapshot they read. If the pointer has
    already moved past it by publish time, the commit raises
    ``ConcurrentPublishError`` instead of committing stale derivations
    on top of the interloper.

    ``stats_cols`` adds per-file ZONE MAPS to the manifest (rows +
    min/max per column, harvested from the parquet footers already
    written — no second data pass): the Delta/Iceberg data-skipping
    design in miniature. ``read_pruned`` then drops whole files from
    the scan before Spark ever lists them — at 100 TB the win over
    row-group skipping is METADATA-scale: files that can't match never
    become tasks, never have their footers fetched. The footer walk
    here is a driver-side loop over the snapshot's own staged files
    (bounded by files-per-snapshot); a cluster writer records the same
    stats executor-side at write time, as Delta's add-file actions do.

    ``append=True`` makes this an APPEND commit: the new manifest lists
    the parent's files PLUS the newly staged ones (data files stay
    immutable — appending writes only the delta, exactly Delta's
    add-only commit). ``added_files``/``read_added`` then give the
    incremental scan between two snapshots — downstream stages process
    the delta files only, never rescanning the corpus (the Iceberg
    incremental-scan design operators/cdc.py argues from).

    SCHEMA-ON-MANIFEST: every commit records its snapshot schema, so
    reads bind to the manifest's contract with ZERO footer reads (at
    millions of files the metadata win the manifest exists for).
    Appends validate against the parent's recorded schema: identical
    types on shared names (no implicit casts), new columns only with
    ``merge_schema=True`` (Delta's opt-in; old files read the evolved
    column as NULL), appended column subsets always fine. A legacy
    lineage (no recorded schema) stays legacy until overwritten."""
    data_dir, man_dir, _ = _paths(root)
    os.makedirs(man_dir, exist_ok=True)
    sid = snapshot_id or _new_sid()
    if snapshot_id is not None and _replayed(root, sid):
        return sid
    if _require_parent is None:
        observed_gen, observed = _read_pointer(root)
    else:
        observed = None if _require_parent == _NO_PARENT else _require_parent
        observed_gen = _pinned_gen(root, observed, "commit's content")
    # stage: snapshot-unique prefix; overwrite = idempotent retry
    staged = os.path.join(data_dir, sid)
    df.write.mode("overwrite").parquet(staged)
    files = sorted(
        f for f in os.listdir(staged) if f.endswith(".parquet")
    )
    new_files = [os.path.join(_DATA, sid, f) for f in files]
    new_meta = (
        {
            os.path.join(_DATA, sid, f): _file_stats(
                os.path.join(staged, f), stats_cols
            )
            for f in files
        }
        if stats_cols
        else {}
    )
    return _commit_staged(
        root,
        sid,
        new_files,
        new_meta=new_meta,
        append=append,
        parent_check=parent_check,
        inherit_files=_inherit_files,
        inherit_meta=_inherit_meta,
        deletes=_inherit_deletes,
        observed_gen=observed_gen,
        observed=observed,
        # _record_schema=False: merge/delete rewriting a LEGACY
        # (pre-schema) lineage must not record the survivors' frame as
        # the table contract — carried files may hold columns it lacks
        # (the legacy-stays-legacy rule _merge_schemas applies to
        # appends)
        schema=_schema_json(df) if _record_schema else None,
        merge_schema=merge_schema,
    )


def _pinned_gen(root: str, parent: str | None, what: str) -> int:
    """The pointer generation a commit whose ``what`` was derived from
    ``parent`` (None: an empty table) CASes from. Raises
    ``ConcurrentPublishError`` when the pointer has moved since the
    derivation read, so the OCC loop re-derives on the new current."""
    gen, observed = _read_pointer(root)
    if observed != parent:
        src = "an empty table" if parent is None else repr(parent)
        raise ConcurrentPublishError(
            f"concurrent publish detected at {root!r}: current is "
            f"{observed!r}, but this {what} derived from {src}; "
            "re-derive on top of the new current snapshot"
        )
    return gen


def _replayed(root: str, sid: str) -> bool:
    """Whether replay token ``sid`` has already committed — the one
    token rule. ``publish`` asks it before staging and ``_occ_loop``
    before every derivation, so every commit path reaches it. In order:

    1. The pointer names ``sid``: the pointer moves last, so the
       commit is complete.
    2. A manifest for ``sid`` whose parent is the current snapshot is
       a torn commit — the manifest is written only after its data, so
       both are complete and only the pointer flip is missing. Finish
       it with the CAS; a lost CAS still counts as landed when a
       same-token twin finished it.
    3. Any other manifest is either a commit since superseded or the
       residue of a lost attempt. Committed snapshots are exactly the
       pointer's linear history (each commit's parent is the
       generation value its CAS replaced, and nothing moves the
       pointer backward), so a parent walk from the current snapshot
       decides: meeting ``sid`` means landed; completing without it
       proves residue, which is removed. A walk truncated at the
       vacuum horizon proves neither — overwriting a possibly
       committed manifest would write a cycle into the chain — so the
       token is refused with a RuntimeError.
    4. No manifest, but ``data/<sid>`` is referenced by the live
       lineage: the token committed and vacuum reaped its manifest
       while its files live on (``_prefix_live``).

    False means no committed life of the token is visible: stage and
    commit it."""
    gen, cur = _read_pointer(root)
    if cur == sid:
        return True
    man_path = os.path.join(root, _MANIFESTS, f"{sid}.json")
    if os.path.exists(man_path):
        if _manifest(root, sid).get("parent") == cur:
            if _advance_pointer(root, gen, sid):
                return True
            _, cur = _read_pointer(root)
            if cur == sid:
                return True  # a same-token twin finished the commit
        landed = _committed_in_lineage(root, sid, cur)
        if landed is None:
            raise RuntimeError(
                f"snapshot token {sid!r} has a manifest at {root!r} but "
                f"is not the current snapshot ({cur!r}) and the lineage "
                "walk truncated at the vacuum horizon — cannot prove it "
                "superseded vs lost-race residue; retry with a fresh "
                "snapshot_id"
            )
        if landed:
            return True
        os.unlink(man_path)
    return os.path.isdir(os.path.join(root, _DATA, sid)) and _prefix_live(
        root, sid
    )


def _commit_staged(
    root: str,
    sid: str,
    new_files: list[str],
    *,
    new_meta: dict,
    append: bool,
    parent_check: bool,
    inherit_files: list[str] | None,
    inherit_meta: dict | None,
    observed_gen: int,
    observed: str | None,
    schema: dict | None = None,
    merge_schema: bool = False,
    deletes: dict | None = None,
) -> str:
    """Commit already-staged data files as snapshot ``sid``: write the
    manifest, then CAS the pointer — the one loop over
    ``_COMMIT_RETRIES`` in the module. Callers have already asked
    ``_replayed`` about ``sid`` (``publish`` directly, the DML,
    restore and evolve paths through ``_occ_loop``).

    - The pointer advance is a compare-and-swap on the generation log
      (``_advance_pointer``), so two concurrent commits SERIALIZE —
      exactly one wins each generation; nothing is ever clobbered or
      silently orphaned.
    - A lost race on an APPEND commit retries on the fresh parent:
      the staged files are parent-independent, so the manifest is
      rebuilt to inherit the new current's file list and the CAS is
      re-attempted — concurrent appends ALL land, serialized, each
      lineage step containing the union so far.
    - A lost race on an overwrite with ``parent_check`` (default) or
      on an ``inherit_files`` commit (content DERIVED from the parent,
      unsafe to re-point blindly) raises ``ConcurrentPublishError``;
      ``_occ_loop`` re-derives against the new current.
      ``parent_check=False`` overwrites retry like appends (last-
      writer-wins, but serialized — both snapshots exist in the
      lineage, one supersedes).

    SAME-TOKEN concurrency stays at-least-once-SEQUENTIAL (the
    Structured Streaming checkpoint contract: two live replays of one
    epoch against one checkpoint corrupt any sink): a benign overlap
    where a twin finished our commit returns success, but concurrent
    twins interleaving manifest REWRITES of one token are out of
    contract — only different-token writers get the CAS guarantee.

    Side effect on a lost+raised race: ``sid``'s manifest file remains
    on disk (parent = the superseded snapshot) — inert residue,
    unreferenced by any pointer, reaped by vacuum. ``_occ_loop``
    scrubs it before re-deriving, and ``_replayed`` removes any that a
    crash left behind once its lineage walk proves it never committed.
    """
    man_dir = os.path.join(root, _MANIFESTS)
    for _ in range(_COMMIT_RETRIES):
        parent = observed
        # carried-by-reference files: append inherits the whole parent;
        # merge_upsert passes the untouched subset explicitly
        inherited = list(inherit_files or [])
        inherited_meta = dict(inherit_meta or {})
        recorded_schema = schema
        recorded_deletes = dict(deletes or {})
        if append and parent is not None:
            pm = _manifest(root, parent)
            inherited = pm["files"] + inherited
            inherited_meta = {**pm.get("files_meta", {}), **inherited_meta}
            # schema validation + merge happens INSIDE the retry loop:
            # each retry lands on a fresh parent whose schema may have
            # evolved since the lost attempt
            recorded_schema = _merge_schemas(
                pm.get("schema"), schema, merge_schema, root
            )
            # deletion vectors ride with the files they mask: an append
            # carries the parent's files unchanged, so their DV entries
            # carry too — dropping them would RESURRECT merge-on-read
            # deleted rows on the very next append
            recorded_deletes = {
                **pm.get("deletes", {}), **recorded_deletes
            }
        manifest = {
            "snapshot_id": sid,
            "parent": parent,
            "files": inherited + new_files,
            "row_count": None,  # filled below when stats are requested
        }
        if recorded_schema is not None:
            manifest["schema"] = recorded_schema
        if recorded_deletes:
            manifest["deletes"] = recorded_deletes
        # files_meta is written whenever ANY stats exist — harvested
        # for this commit's files OR inherited from the parent. Gating
        # on stats_cols alone would let one stats-less append silently
        # strip the parent's zone maps from the whole lineage,
        # permanently degrading read_pruned to full scans and
        # merge_upsert to full rewrites (later stats appends re-inherit
        # from the already-stripped parent). Inherited-only meta keeps
        # the old files prunable; the new stats-less files are
        # conservatively kept by every consumer, and row_count stays
        # None unless every file has an entry.
        meta = {**inherited_meta, **new_meta}
        if meta:
            manifest["files_meta"] = meta
            if len(meta) == len(manifest["files"]):
                # LOGICAL rows: files_meta records physical
                # per-file counts, but the snapshot's row count is what
                # a reader gets — masked deletion-vector positions
                # subtract, or metadata tooling disagrees with
                # read_snapshot by the full masked amount
                manifest["row_count"] = sum(
                    m["rows"] for m in meta.values()
                ) - sum(e["rows"] for e in recorded_deletes.values())
        man_path = os.path.join(man_dir, f"{sid}.json")
        tmp = f"{man_path}.tmp-{uuid.uuid4().hex[:12]}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, man_path)
        if _advance_pointer(root, observed_gen, sid):
            return sid  # THE commit point: one conditional pointer step
        observed_gen, observed = _read_pointer(root)
        if observed == sid:
            return sid  # a same-token twin finished this commit
        if not append and (parent_check or inherit_files is not None):
            raise ConcurrentPublishError(
                f"concurrent publish detected at {root!r}: current moved "
                f"from {parent!r} to {observed!r}; retry on top of the "
                "new current snapshot"
            )
    raise RuntimeError(
        f"commit of {sid!r} at {root!r} lost {_COMMIT_RETRIES} "
        "consecutive pointer races — the root is pathologically "
        "contended (or a writer loop is republishing in a tight cycle)"
    )


def _committed_in_lineage(root: str, sid: str, cur: str | None) -> bool | None:
    """Whether ``sid`` is an ancestor-or-self of ``cur``.

    True — found: the token committed (and was later superseded).
    False — the walk COMPLETED to the lineage root without meeting it:
    provably never committed, because committed snapshots are exactly
    the pointer's linear history (each commit's parent is the
    generation value its CAS replaced, and nothing moves the pointer
    backward). None — the walk was truncated at the vacuum retention
    horizon: ONLY ``FileNotFoundError`` on an ancestor manifest means
    truncation; any other error is transient IO and propagates rather
    than masquerading as an adjudication."""
    seen: set[str] = set()
    while cur is not None and cur not in seen:
        if cur == sid:
            return True
        seen.add(cur)
        try:
            cur = _manifest(root, cur)["parent"]
        except FileNotFoundError:
            return None
    return False


def current_snapshot(root: str) -> str | None:
    return _read_pointer(root)[1]


def _manifest(root: str, sid: str) -> dict:
    with open(os.path.join(root, _MANIFESTS, f"{sid}.json")) as fh:
        return json.load(fh)


def _committed_at(root: str, sid: str) -> float:
    """Epoch seconds of ``sid``'s commit: its manifest file's mtime."""
    return os.path.getmtime(os.path.join(root, _MANIFESTS, f"{sid}.json"))


def read_snapshot(
    spark: SparkSession, root: str, sid: str, merge_schema: bool = False
) -> DataFrame:
    """Read an explicit snapshot (time travel). The scan is built from
    the manifest's file list — never a directory listing.

    Snapshots committed since r12b RECORD their schema in the manifest
    (the Delta design), and the scan binds to it with zero footer
    reads — evolved lineages surface columns a file predates as NULL.
    ``merge_schema=True`` is the legacy fallback for pre-schema
    manifests only: it unions the file schemas by reading every footer
    up front, the metadata cost the recorded schema eliminates."""
    man = _manifest(root, sid)
    files = [os.path.join(root, f) for f in man["files"]]
    if not files:
        raise ValueError(f"snapshot {sid!r} has no files")
    reader = _manifest_reader(spark, man)
    if merge_schema and not man.get("schema"):
        reader = reader.option("mergeSchema", "true")
    # merge-on-read deletes (r13): mask DV positions before the frame
    # leaves the module — every consumer (CDC diff, compaction, the
    # registry keys) sees the LOGICAL table
    return _apply_deletes(spark, root, man, reader.parquet(*files))


def read_pruned(
    spark: SparkSession,
    root: str,
    col: str,
    lower,
    upper,
    sid: str | None = None,
) -> DataFrame:
    """Scan of the snapshot restricted to ``lower <= col <= upper``,
    with FILE-LEVEL pruning from the manifest's zone maps: a file
    whose [min, max] for ``col`` cannot intersect the range is dropped
    from the read plan entirely (never listed, never a task), as is a
    file whose recorded NULL COUNT equals its row count — every value
    NULL, including files that simply PREDATE the column under schema
    evolution (a range predicate can never match NULL). Files with no
    recorded stats are kept — pruning is conservative, so a stats-less
    manifest degrades to a full scan, never to wrongness. The residual
    row-level predicate is ALWAYS applied (file granularity
    over-approximates), so the result is exactly the filtered
    snapshot."""
    from pyspark.sql import functions as F

    sid = sid or current_snapshot(root)
    if sid is None:
        raise FileNotFoundError(f"no current snapshot at {root!r}")
    m = _manifest(root, sid)
    kept_rel = _zone_kept(m, m["files"], col, lower, upper)
    kept = [os.path.join(root, f) for f in kept_rel]
    residual = (F.col(col) >= F.lit(lower)) & (F.col(col) <= F.lit(upper))
    if not kept:
        # zone maps exclude every file: the empty result, with the
        # snapshot's real schema (from the full file list, zero rows)
        return read_snapshot(spark, root, sid).filter(F.lit(False))
    scan = _apply_deletes(
        spark, root, m, _manifest_reader(spark, m).parquet(*kept),
        files=kept_rel,
    )
    return scan.filter(residual)


def _zone_kept(
    man: dict, files: list[str], col: str, lower, upper
) -> list[str]:
    """The ``files`` of ``man`` whose zone maps may hold a ``col``
    value in ``[lower, upper]``: a file is dropped when its recorded
    [min, max] misses the range or its NULL count equals its row count
    (a range never matches NULL). Files without stats are kept."""
    meta = man.get("files_meta", {})

    def may_match(rel: str) -> bool:
        fm = meta.get(rel, {})
        nc = fm.get("nulls", {}).get(col)
        if nc is not None and nc == fm.get("rows"):
            return False
        st = fm.get("stats", {}).get(col)
        return st is None or (st[1] >= lower and st[0] <= upper)

    return [f for f in files if may_match(f)]


def _prefix_live(root: str, sid: str) -> bool:
    """True iff any manifest in the live lineage references a file
    under ``data/<sid>/`` — data files inherited forward by appends/
    merges, or deletion-vector sidecars still masking live files.

    This is step 4 of ``_replayed``, the one replay case the
    manifest-exists walks cannot see: a token whose
    manifest was VACUUM-REAPED but whose staged files live on because
    newer manifests reference them. Staging ``data/<sid>`` again
    (mode=overwrite) would destroy files concurrent readers resolve —
    the reference proves the token COMMITTED (only a committed
    snapshot's files are ever inherited), so the at-least-once answer
    is an idempotent no-op. A committed-reaped-AND-unreferenced token
    is locally indistinguishable from a never-committed one; replaying
    a checkpoint from beyond the vacuum retention window is the
    documented out-of-contract case every table format shares."""
    prefix = f"{_DATA}/{sid}/"
    # one inline parent walk, newest first — snapshots() + per-sid
    # re-reads would parse every manifest twice; the horizon break
    # mirrors snapshots()' normal post-vacuum truncation
    cur = current_snapshot(root)
    seen: set[str] = set()
    while cur is not None and cur not in seen:
        seen.add(cur)
        try:
            man = _manifest(root, cur)
        except FileNotFoundError:
            break  # retention horizon: older history is reaped
        if any(f.startswith(prefix) for f in man["files"]):
            return True
        if any(
            p.startswith(prefix)
            for e in man.get("deletes", {}).values()
            for p in e["dv"]
        ):
            return True
        cur = man.get("parent")
    return False


def _scrub_lost_attempt(
    root: str, sid: str | None, derived_parent: str | None
) -> None:
    """Remove the manifest residue a LOST same-token commit attempt
    left behind, so an OCC rebase retry of that token does not have to
    prove it residue by a lineage walk (a walk truncated at the vacuum
    horizon could not). Only scrubs a manifest provably
    written by the lost attempt: its recorded parent must equal the
    parent the attempt derived against. A manifest from an earlier
    COMMITTED life of the token can never satisfy that — its parent is
    a strict ANCESTOR of the current we just derived from (the pointer
    never moves backward), so live-lineage manifests are untouchable
    here. No-op for auto-minted tokens (each attempt gets a fresh sid;
    residue is inert and vacuum-reaped) and when the lost attempt
    failed publish's pre-check before writing any manifest."""
    if sid is None:
        return
    if _read_pointer(root)[1] == sid:
        return  # a same-token twin finished the commit: manifest is live
    try:
        if _manifest(root, sid).get("parent") == derived_parent:
            os.unlink(os.path.join(root, _MANIFESTS, f"{sid}.json"))
    except OSError:
        pass  # no residue (pre-check loss) or already scrubbed


def _occ_loop(
    root: str, snapshot_id: str | None, retries: int | None, attempt
) -> tuple[str, bool]:
    """The OCC retry protocol every derived commit speaks — the DML
    verbs, compaction, restore and schema evolution: read the current
    snapshot, ask ``_replayed`` whether the token already committed
    (re-deriving a landed token would apply the batch to ITS OWN
    RESULT; an unprovable token raises), run ``attempt(parent)`` (the
    op-specific derive + commit, returning ``(sid, committed)``), and
    on a lost pointer race scrub the same-token residue and re-derive
    on the fresh current, up to ``retries`` times (None means
    ``_REBASE_RETRIES``). Exhaustion re-raises the final
    ``ConcurrentPublishError``. A replay resolved here returns
    ``(snapshot_id, False)``: this call minted nothing."""
    retries = _REBASE_RETRIES if retries is None else retries
    for i in range(retries + 1):
        parent = current_snapshot(root)
        if snapshot_id is not None and _replayed(root, snapshot_id):
            return snapshot_id, False
        try:
            return attempt(parent)
        except ConcurrentPublishError:
            if i == retries:
                raise
            _scrub_lost_attempt(root, snapshot_id, parent)
    raise AssertionError("unreachable: every attempt returns or raises")


def merge_upsert(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    key_col: str,
    snapshot_id: str | None = None,
    rebase_retries: int | None = None,
    mode: str = "cow",
) -> str:
    """Row-level upsert as a COPY-ON-WRITE commit (Delta's MERGE in
    miniature): rows in ``df`` replace current rows with the same
    ``key_col`` value; unmatched keys insert. Data files stay
    immutable — the commit rewrites ONLY the files that can contain a
    matched key and lists every other parent file unchanged, so the
    write is sized to the touched slice, not the table. An empty
    batch against an existing snapshot is the documented no-op
    (parent id, no commit).

    Touched-file targeting uses the manifest's zone maps when present:
    a parent file whose [min, max] for ``key_col`` contains ANY update
    key (binary search of the sorted key set against each file's
    bounds) is rewritten — its rows anti-joined against the update
    keys, then the updates unioned in; all other files carry over by
    reference. Without stats every file is "touched" — the
    conservative full rewrite, correct but unpruned, same degradation
    contract as read_pruned. The rewritten+new rows are staged under
    the new snapshot's prefix and committed with the usual one-pointer
    publish, so readers see the old table or the new one, never a mix.

    At 100 TB: clustering the table on the merge key (repartitionByRange
    at publish) is what makes the touched set small — the same layout
    decision that makes read_pruned selective. The anti-join's left
    side is only the touched files' rows; the update side is typically
    broadcast-sized (a CDC batch).

    ``df`` is persisted for the duration of the merge: it is consumed
    three times (duplicate-key check, key collection, staged write),
    and without pinning, a non-deterministic source could pass the
    duplicate check yet stage different rows. The persist makes every
    consumer read the SAME materialization; sources should still be
    deterministic (every table format demands it of MERGE batches).

    CONCURRENCY (the Delta/Iceberg OCC retry loop): a merge that loses
    the pointer race to an interloping commit auto-REBASES up to
    ``rebase_retries`` times (default ``_REBASE_RETRIES``): re-read the
    fresh current, RE-DERIVE survivors against it, and re-commit.
    Re-derivation IS the conflict resolution — the retry re-executes
    the merge on the winner's result, so the outcome equals the serial
    order "winner, then this merge": a concurrent append's rows are
    seen (and updated if their keys match the batch); a concurrent
    merge's result is merged into last-writer-wins per key.
    ``rebase_retries=0`` restores raise-to-caller
    (``ConcurrentPublishError``). Exhaustion re-raises.

    ``mode="mor"`` (Delta's deletion-vector MERGE shape): mask the
    matched rows' positions with vectors and APPEND the batch as new
    files — no parent file rewritten, commit write cost sized to the
    BATCH. Same logical result as COW (pinned by test), same OCC loop
    and token; the right mode for scattered-key CDC batches against
    huge clustered tables, where COW's touched set degrades toward a
    full rewrite. See ``_mor_write``."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"merge_upsert mode must be 'cow' or 'mor', got {mode!r}")

    def derive(pm):
        n = _merge_contract_checks(df, pm, key_col, "merge_upsert")
        keys = df.select(key_col).distinct()
        return _Edit(
            _key_touched_files(keys, key_col, pm), keys=keys,
            key_col=key_col, batch=df, batch_rows=n,
        )

    def first_publish():
        # Empty table: a plain publish, PINNED to "derived from no
        # parent" (_NO_PARENT) — a concurrent first-writer landing
        # between the OCC loop's current_snapshot() read and publish's
        # own pointer read raises ConcurrentPublishError at the
        # pre-check, and the rebase loop re-enters through the real
        # merge path against it. (parent_check alone only fires when
        # the CAS itself loses, i.e. commits landing AFTER publish's
        # pointer read.)
        return publish(
            df, root, snapshot_id=snapshot_id, _require_parent=_NO_PARENT
        )

    return _row_dml(
        spark, root, snapshot_id, rebase_retries, mode, "merge_upsert",
        derive, src=df, on_empty=first_publish,
    )[0]


def delete_where(
    spark: SparkSession,
    root: str,
    predicate: str,
    snapshot_id: str | None = None,
    rebase_retries: int | None = None,
    mode: str = "cow",
) -> str:
    """Row-level DELETE — the third leg of the DML triad next to
    ``merge_upsert`` (MERGE) and ``compact_snapshot`` (OPTIMIZE). Rows
    where ``predicate`` (a Spark SQL boolean expression) evaluates
    TRUE are removed; rows where it is NULL are KEPT (SQL DELETE
    semantics — a null predicate does not match). A predicate matching
    nothing commits NOTHING — the parent snapshot stays current
    (documented no-op, returns the parent id).

    ``mode="cow"`` (copy-on-write, the default): touched-file
    targeting is exact, not stats-approximate — one scan of the
    snapshot (deletion-vector-masked, so already-deleted rows never
    count) collects the DISTINCT files containing matching rows,
    driver-bounded by files-per-snapshot. Only those files are
    rewritten (surviving rows restaged); every other file carries over
    by reference — WITH its deletion-vector entries, while the
    rewritten files' entries drop (their rewrite materializes the
    mask). The write is sized to the TOUCHED FILES.

    ``mode="mor"`` (merge-on-read — Delta deletion vectors / Iceberg
    positional deletes): no data file is rewritten at all. The
    matched rows' (file, position) pairs are staged as parquet
    deletion-vector sidecars under the new snapshot's prefix and the
    commit records, per touched data file, WHICH DV file masks it plus
    the masked row count. Readers anti-join the positions away
    (``_apply_deletes``); ``compact_snapshot`` absorbs the vectors
    back into clean files. The write is sized to the MATCHED ROWS —
    the scattered-delete case (GDPR ``id IN …`` touching thousands of
    files for a few thousand rows) commits in seconds where COW
    rewrites terabytes. That asymmetry is measured in
    ``scripts/manifest_scale.py``.

    At 100 TB: cluster on the delete column and COW's touched set is
    the few files whose range covers the predicate — the right mode
    for range deletes (retention drops). For scattered deletes, MOR's
    commit cost is matched-rows-sized by construction; its read-side
    cost is one matched-rows-sized anti-join until the next OPTIMIZE.
    Pick per workload; both compose (a COW delete after MOR deletes
    carries the untouched files' vectors).

    CONCURRENCY: same OCC rebase loop as merge_upsert — a lost pointer
    race re-derives against the fresh current, up to
    ``rebase_retries`` (0 restores raise-to-caller); ``snapshot_id``
    is the exactly-once replay token. The no-match no-op is returned
    WITHOUT a CAS, which is still linearizable: a concurrent commit
    adding matching rows after our read serializes AFTER this (empty)
    delete — exactly the outcome the parent-id return describes."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"delete_where mode must be 'cow' or 'mor', got {mode!r}")
    return _row_dml(
        spark, root, snapshot_id, rebase_retries, mode, "delete_where",
        lambda pm: _Edit(pm["files"], predicate=predicate),
    )[0]


def update_where(
    spark: SparkSession,
    root: str,
    predicate: str,
    set_exprs: dict[str, str],
    snapshot_id: str | None = None,
    rebase_retries: int | None = None,
    mode: str = "cow",
) -> str:
    """Row-level ``UPDATE … SET … WHERE …`` as a manifest commit.
    Rows where ``predicate`` evaluates TRUE get each ``set_exprs``
    column replaced by its Spark SQL expression (evaluated against the
    PRE-update row, standard SQL UPDATE semantics — ``{"a": "b",
    "b": "a"}`` swaps); rows where it is NULL or FALSE are untouched.
    A predicate matching nothing is the documented no-op (parent id
    returned, no commit).

    ``mode="cow"`` (default) is ``delete_where``'s touched-file
    machinery with a column rewrite instead of a row drop: only files
    containing matching rows are rewritten; every other file carries
    over by reference with its deletion-vector entries intact. Write
    cost = the TOUCHED FILES.

    ``mode="mor"`` is the MOR merge's mask-and-append machinery keyed
    by the predicate instead of a batch join: the matched positions
    are masked with deletion-vector sidecars and the updated versions
    of exactly those rows are appended as new data files — no parent
    file is rewritten, so the commit's write cost is sized to the
    MATCHED ROWS. The scattered small update (a handful of rows across
    thousands of clustered files — where COW degrades toward a
    full-table rewrite) commits at rows-matched cost; read-side pays
    the usual vector anti-join until
    ``purge_deletes``/``compact_snapshot`` absorbs. Result is pinned
    row-for-row ≡ the COW update in tests/test_mor_delete.py.

    ``set_exprs`` may only name EXISTING columns and each expression
    must preserve the column's exact type — no implicit casts, ever
    (the module-wide rule). Cast explicitly if you mean it.

    CONCURRENCY: the same OCC rebase loop and exactly-once
    ``snapshot_id`` token as the other DML verbs; a lost pointer race
    re-derives the matched set against the fresh current."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"update_where mode must be cow|mor, got {mode!r}")
    return _row_dml(
        spark, root, snapshot_id, rebase_retries, mode, "update_where",
        lambda pm: _Edit(pm["files"], predicate=predicate, set_exprs=set_exprs),
    )[0]


def merge_apply(
    spark: SparkSession,
    batch: DataFrame,
    root: str,
    key_col: str,
    delete_col: str = "_delete",
    snapshot_id: str | None = None,
    rebase_retries: int | None = None,
    return_status: bool = False,
) -> str | tuple[str, bool]:
    """MERGE with deletes in ONE merge-on-read commit (Delta's
    ``WHEN MATCHED [AND cond] DELETE`` / the CDC-apply primitive):
    ``batch`` carries the table's full schema plus a boolean
    ``delete_col``. Every batch key's current position is MASKED with
    deletion vectors (zone-map-targeted scan, same machinery as the
    MOR merge); only the NON-delete rows are appended. The result
    equals delete-then-upsert, in one atomic snapshot and at
    batch-sized write cost — exactly what applying a change-feed
    micro-batch to a downstream replica needs
    (``streaming.commit_log.apply_table_changes`` is that glue).

    Contract: batch keys unique; batch-minus-flag columns must equal
    the recorded table schema exactly (the shared MERGE contract);
    ``delete_col`` must be BOOLEAN and non-NULL. Deleting an absent
    key is a no-op (its position scan finds nothing); an EMPTY batch
    is the documented no-op (parent id, no commit), as is a batch
    that nets to nothing (absent-key deletes only). Same OCC rebase
    loop and exactly-once ``snapshot_id`` token as every DML verb.

    ``return_status=True`` returns ``(sid, committed)`` where
    ``committed`` says whether THIS CALL minted a new snapshot —
    False on every no-op path (empty batch, nets-to-zero, and the
    tokened replay whose commit already exists). Callers that must
    distinguish "this range minted a commit" from "the head moved"
    (the untokened CDC apply path) need the flag: inferring it from a
    pre-read head races a concurrent writer committing between the
    read and a net-zero apply."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import BooleanType

    if delete_col not in batch.columns:
        raise ValueError(
            f"merge_apply batch is missing the {delete_col!r} flag column"
        )
    if not isinstance(batch.schema[delete_col].dataType, BooleanType):
        raise ValueError(
            f"merge_apply {delete_col!r} must be BOOLEAN, got "
            f"{batch.schema[delete_col].dataType}"
        )

    def derive(pm):
        # one probe job for emptiness + the NULL-flag guard: separate
        # jobs would multiply under the OCC retry loop
        probe = batch.agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col(delete_col).isNull(), 1)).alias("nulls"),
        ).first()
        if probe["n"] == 0:
            return None  # empty batch: the table is unchanged
        if probe["nulls"]:
            raise ValueError(
                f"merge_apply {delete_col!r} must be non-NULL (TRUE=delete, "
                "FALSE=upsert) — NULL is refused, not guessed"
            )
        _merge_contract_checks(
            batch.drop(delete_col), pm, key_col,
            f"merge_apply (flag column {delete_col!r} stripped)",
        )
        keys = batch.select(key_col).distinct()
        upserts = batch.where(~F.col(delete_col)).drop(delete_col)
        return _Edit(
            _key_touched_files(keys, key_col, pm), keys=keys,
            key_col=key_col, batch=upserts, batch_rows=upserts.count(),
        )

    out, committed = _row_dml(
        spark, root, snapshot_id, rebase_retries, "mor", "merge_apply",
        derive, src=batch,
    )
    return (out, committed) if return_status else out


def purge_deletes(
    spark: SparkSession,
    root: str,
    min_masked_fraction: float = 0.0,
    snapshot_id: str | None = None,
    rebase_retries: int | None = None,
) -> str:
    """REORG: materialize deletion vectors back into clean data files
    by rewriting ONLY the masked files (Delta's ``REORG TABLE … APPLY
    (PURGE)``) — the targeted middle ground between leaving vectors to
    accumulate read-side anti-join cost and ``compact_snapshot``'s
    whole-table rewrite. Files whose masked fraction (vector rows /
    file rows, from the manifest's own metadata — zero footer I/O) is
    at least ``min_masked_fraction`` are rewritten with their masks
    applied; every other file — unmasked, or masked below the
    threshold — carries by reference, keeping its vectors. The default
    0.0 purges every masked file; 0.3 is the "mostly-dead files only"
    sweep a retention pipeline runs nightly. A table with no vectors
    (or none over threshold) is the documented no-op (parent id, no
    commit). A masked file with NO recorded row count purges
    conservatively (fraction treated as 1.0 — correctness never
    depends on optional stats).

    At 100 TB: write cost is sized to the files you CHOOSE to clean,
    and the choice is made from manifest metadata alone. Same OCC
    rebase loop and exactly-once ``snapshot_id`` token as every other
    DML verb."""

    def derive(pm):
        dels = pm.get("deletes") or {}
        meta = pm.get("files_meta", {})

        def masked_fraction(f: str) -> float:
            rows = meta.get(f, {}).get("rows")
            if not rows:
                return 1.0  # no row count recorded: purge conservatively
            return dels[f]["rows"] / rows

        touched = [
            f for f in pm["files"]
            if f in dels and masked_fraction(f) >= min_masked_fraction
        ]
        # nothing masked, or every mask below the threshold: no-op
        return _Edit(touched) if touched else None

    return _row_dml(
        spark, root, snapshot_id, rebase_retries, "cow", "purge_deletes",
        derive,
    )[0]


class _Edit(NamedTuple):
    """One row-level change against a pinned parent, as a verb hands
    it to the DML core once validation has passed: which parent files
    to scan, how a row matches (a SQL predicate or a batch-key
    semi-join; neither = purge, nothing matches) and what replaces a
    matched row (nothing, the SET expressions, or the batch rows,
    which are appended whether or not their key matched)."""

    files: list[str]
    predicate: str | None = None
    keys: DataFrame | None = None
    key_col: str | None = None
    set_exprs: dict[str, str] | None = None
    batch: DataFrame | None = None
    batch_rows: int = 0


def _row_dml(
    spark: SparkSession,
    root: str,
    snapshot_id: str | None,
    rebase_retries: int | None,
    mode: str,
    verb: str,
    derive,
    src: DataFrame | None = None,
    on_empty=None,
) -> tuple[str, bool]:
    """The DML core every row-level verb runs through, inside the OCC
    loop (whose ``_replayed`` check settles a replayed token before
    any Spark work): a table with no snapshot runs ``on_empty``
    (FileNotFoundError without one); the parent's manifest is pinned;
    ``derive(pm)`` validates against the parent and returns the
    ``_Edit`` (None: a no-op); the copy-on-write or merge-on-read
    writer commits it. ``src``, the
    caller's batch, stays persisted for the whole call so every
    consumer reads the SAME materialization.

    The one no-op rule both writers share: nothing matched and nothing
    appended returns the parent id and writes nothing under ``data/``.
    Returns ``(sid, committed)``."""

    def attempt(parent):
        if parent is None:
            if on_empty is None:
                raise FileNotFoundError(f"no current snapshot at {root!r}")
            return on_empty(), True
        pm = _manifest(root, parent)
        sid = snapshot_id or _new_sid()
        edit = derive(pm)
        if edit is None:
            return parent, False
        write = _mor_write if mode == "mor" else _cow_write
        return write(spark, root, sid, pm, edit, verb)

    if src is not None:
        src.persist()
    try:
        return _occ_loop(root, snapshot_id, rebase_retries, attempt)
    finally:
        if src is not None:
            src.unpersist()


def _edit_scan(spark: SparkSession, root: str, pm: dict, edit: _Edit):
    """``(scan, rc, pc)``: the annotated, vector-masked scan of
    ``edit.files`` (None when there is none) and its scratch column
    names. UPDATE's SET contract is checked here, before any job: only
    existing columns may be named — UPDATE never adds columns."""
    tag = uuid.uuid4().hex[:8]
    rc, pc = f"_dml_rel_{tag}", f"_dml_pos_{tag}"
    if not edit.files:
        return None, rc, pc
    ann = _annotated_scan(spark, root, pm, edit.files, rc, pc)
    if edit.set_exprs is not None:
        data_cols = [c for c in ann.columns if c not in (rc, pc)]
        unknown = sorted(set(edit.set_exprs) - set(data_cols))
        if unknown:
            raise ValueError(
                f"update_where SET names columns {unknown} not in the "
                f"table (columns: {data_cols}) — UPDATE cannot add "
                "columns; use merge_schema on an append for evolution"
            )
    return ann, rc, pc


def _cow_write(
    spark: SparkSession, root: str, sid: str, pm: dict, edit: _Edit,
    verb: str,
) -> tuple[str, bool]:
    """The copy-on-write writer: rewrite the touched files — matched
    rows dropped or SET-rewritten, the rest restaged, the batch
    unioned in — and carry every other parent file by reference WITH
    its deletion-vector entries, while the rewritten files' entries
    drop (the masked scan materializes them). One ``publish`` pinned
    to the parent; the write is sized to the TOUCHED FILES.

    A predicate's touched set is exact, not stats-approximate: one
    masked scan collects the DISTINCT files holding a matching row
    (driver-bounded by files-per-snapshot). Key and purge edits
    rewrite ``edit.files`` as given."""
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    ann, rc, pc = _edit_scan(spark, root, pm, edit)
    touched = edit.files
    if edit.predicate is not None and touched:
        # _metadata.file_path is URL-encoded (a space is %20): decode
        # before matching against the manifest's raw relative paths
        hit = {
            unquote(r["f"])
            for r in ann.where(edit.predicate)
            .select(F.col(rc).alias("f"))
            .distinct()
            .collect()
        }
        touched = [f for f in pm["files"] if f in hit]
        if len(touched) != len(hit):
            raise RuntimeError(
                f"{verb} at {root!r}: {len(hit)} hit files resolved to "
                f"{len(touched)} manifest entries — file-name mapping is "
                "out of contract"
            )
        if touched:
            # second scan over ONLY the touched files (file-list
            # pruning in the plan itself, not a post-scan filter on the
            # derived path column), vector-masked so previously
            # MOR-deleted rows are never resurrected into the rewrite
            ann = _annotated_scan(spark, root, pm, touched, rc, pc)
    if not touched and not edit.batch_rows:
        return pm["snapshot_id"], False  # nothing matched or appended
    pschema = pm.get("schema")
    out = None
    if touched:
        cond = (  # a NULL predicate does not match
            F.coalesce(F.expr(edit.predicate), F.lit(False))
            if edit.predicate is not None
            else None
        )
        if edit.set_exprs is not None:
            out = _apply_set_exprs(ann, edit.set_exprs, cond, (rc, pc))
        elif edit.keys is not None:
            out = ann.join(edit.keys, edit.key_col, "left_anti").drop(rc, pc)
        elif cond is not None:
            out = ann.where(~cond).drop(rc, pc)
        else:  # purge: every unmasked row survives
            out = ann.drop(rc, pc)
    if edit.batch is not None and out is None:
        # No file touched: the batch alone is staged. Bind its COLUMN
        # ORDER to the parent's recorded schema — the contract check
        # is order-insensitive and the touched-file path records the
        # survivors' order, so without this select the recorded field
        # order would churn across merges depending on whether any
        # file was touched.
        out = (
            edit.batch.select([f["name"] for f in pschema["fields"]])
            if pschema is not None
            else edit.batch
        )
    elif edit.batch is not None:
        # On a RECORDED lineage the contract check guarantees the
        # column sets match and this is a plain union. On a LEGACY
        # lineage the footer-union survivors may carry columns the
        # batch lacks (and vice versa) — allowMissingColumns fills
        # either side with NULL, the merge semantics a schema-less
        # table can honestly offer.
        out = out.unionByName(edit.batch, allowMissingColumns=pschema is None)
    meta = pm.get("files_meta", {})
    dels = pm.get("deletes") or {}
    touched_set = set(touched)
    carried = [f for f in pm["files"] if f not in touched_set]
    return publish(
        out,
        root,
        snapshot_id=sid,
        stats_cols=_stats_cols(meta) or None,
        _inherit_files=carried,
        _inherit_meta={f: meta[f] for f in carried if f in meta},
        _inherit_deletes={f: dels[f] for f in carried if f in dels},
        # the rewrite was derived from pm's snapshot: a commit racing
        # in between must surface, not be clobbered by stale content
        _require_parent=pm["snapshot_id"],
        # a LEGACY (pre-schema) lineage must not record the survivors'
        # frame as its contract — carried files may hold columns it
        # lacks (the legacy-stays-legacy rule)
        _record_schema=pschema is not None,
    ), True


# Data files a MOR commit's position shuffle lands in — per-commit
# deletion-vector file count. Positions hash-cluster by DATA FILE, so
# each data file's positions live in exactly ONE DV file and the
# manifest records that exact association (a pruned read fetches only
# the DV files covering its slice). Commit cost stays matched-rows-
# sized; raise for commits deleting billions of positions.
_DV_FILES = 4


def _mor_write(
    spark: SparkSession, root: str, sid: str, pm: dict, edit: _Edit,
    verb: str,
) -> tuple[str, bool]:
    """The merge-on-read writer: no parent file is rewritten. The
    matched rows' (file, position) pairs are staged as deletion-vector
    sidecars, and the replacement rows — the SET-rewritten matches or
    the batch — are appended as new zone-mapped data files; a delete
    is the mask-only case. The logical result is exactly the COW
    writer's (masked old rows ≡ dropped rows; appended rows ≡
    rewritten or unioned rows; ``tests/test_mor_delete.py`` pins the
    equivalence row-for-row), but the commit's write cost is sized to
    the MATCHED ROWS plus the batch, not the touched files.

    At 100 TB this is the CDC-ingest shape: a stream of small upsert
    batches against a huge clustered table pays per-batch cost even
    when the batch's keys scatter across thousands of files — the case
    where COW's touched-set rewrite degrades to a near-full-table
    write. Key edits scan only the files whose zone maps CAN contain a
    batch key; a predicate is pushed into the parquet reader
    (row-group stats skip non-matching groups). Read-side cost is the
    usual vector anti-join until ``purge_deletes``/``compact_snapshot``
    absorbs."""
    from pyspark.sql import functions as F

    ann, rc, pc = _edit_scan(spark, root, pm, edit)
    meta = pm.get("files_meta", {})
    dv_tmp = os.path.join(root, _DATA, f"{sid}.dvtmp")
    matched = None
    if ann is None:  # no parent file can match: mask nothing
        hits = spark.createDataFrame([], "f string, pos long")
    else:
        matched = (
            ann.where(edit.predicate)
            if edit.keys is None
            else ann.join(edit.keys, edit.key_col, "left_semi")
        )
        if edit.set_exprs is not None:
            # matched-rows-sized: the vector write and the updated-row
            # write share one scan
            matched = matched.persist()
        # one shuffle sized to the MATCHED ROWS: positions hash-cluster
        # by data file so each file's mask lives in exactly one sidecar
        hits = matched.select(
            F.col(rc).alias("f"), F.col(pc).alias("pos")
        ).repartition(_DV_FILES, "f")
    try:
        hits.write.mode("overwrite").parquet(dv_tmp)
        # the driver-bounded per-data-file association: (f, n, parts)
        assoc = (
            spark.read.schema("f string, pos long").parquet(dv_tmp)
            .groupBy("f")
            .agg(
                F.count("*").alias("n"),
                F.sort_array(
                    F.collect_set(
                        F.element_at(
                            F.split(F.col("_metadata.file_path"), "/"), -1
                        )
                    )
                ).alias("parts"),
            )
            .collect()
        )
        batch, rows, cluster = edit.batch, edit.batch_rows, edit.key_col
        if edit.set_exprs is not None:
            sc = _stats_cols(meta)
            rows, cluster = sum(r["n"] for r in assoc), sc[0] if sc else None
        if not assoc and not rows:
            shutil.rmtree(dv_tmp, ignore_errors=True)
            return pm["snapshot_id"], False  # nothing matched or appended
        if edit.set_exprs is not None:
            # every matched row satisfies the predicate, so the gate is
            # constant-true — routed through the same when/otherwise as
            # the COW writer so type coercion cannot diverge by mode
            batch = _apply_set_exprs(
                matched, edit.set_exprs, F.lit(True), (rc, pc)
            )
        # bound the appended FILE COUNT to the rows, not the scan: the
        # matched rows inherit the table-sized scan partitioning and a
        # CDC batch its shuffle partitioning, either of which would
        # strew row-sized files on every commit. Clustering keeps the
        # appended files' zone maps selective.
        sized = _sized_batch(batch, rows, meta, cluster) if rows else None
        return _mor_mask_append_commit(
            root, sid, pm, dv_tmp, assoc, sized, verb
        ), True
    finally:
        if matched is not None and edit.set_exprs is not None:
            matched.unpersist()


def _mor_mask_append_commit(
    root: str,
    sid: str,
    pm: dict,
    dv_tmp: str,
    assoc: list,
    batch: DataFrame | None,
    verb: str,
) -> str:
    """The merge-on-read commit tail: stage ``batch`` as the appended
    data files, move the freshly written vector parts in beside them
    under ``dv-`` names, harvest zone maps for the new files, extend
    the parent's delete map, pin the pointer to the derivation parent,
    and CAS-commit the parent's file list verbatim
    plus the appends."""
    from urllib.parse import unquote

    parent = pm["snapshot_id"]
    meta = pm.get("files_meta", {})
    staged = os.path.join(root, _DATA, sid)
    # stage the BATCH as the appended data files, then move the
    # vectors in beside them (the overwrite clears any prior attempt's
    # residue first, so the move must come after). batch=None is the
    # mask-only commit: no data file is written, not even a 0-row part.
    if batch is not None:
        batch.write.mode("overwrite").parquet(staged)
    else:
        shutil.rmtree(staged, ignore_errors=True)  # prior-attempt residue
        os.makedirs(staged, exist_ok=True)
    for p in os.listdir(dv_tmp):
        if p.endswith(".parquet"):
            os.replace(
                os.path.join(dv_tmp, p), os.path.join(staged, f"dv-{p}")
            )
    shutil.rmtree(dv_tmp, ignore_errors=True)
    data_files = sorted(
        f for f in os.listdir(staged)
        if f.endswith(".parquet") and not f.startswith("dv-")
    )
    stats_cols = _stats_cols(meta)
    new_meta = {
        os.path.join(_DATA, sid, f): _file_stats(
            os.path.join(staged, f), stats_cols
        )
        for f in data_files
    } if stats_cols else {}
    # every matched file must be in the parent manifest: a mapping miss
    # is out of contract, never silently recorded
    known = set(pm["files"])
    deletes = {f: dict(e) for f, e in (pm.get("deletes") or {}).items()}
    for r in assoc:
        f = unquote(r["f"])
        if f not in known:
            raise RuntimeError(
                f"{verb} at {root!r}: matched file {f!r} is not in the "
                "parent manifest — file-name mapping is out of contract"
            )
        entry = deletes.setdefault(f, {"dv": [], "rows": 0})
        entry["dv"] = entry["dv"] + [
            os.path.join(_DATA, sid, f"dv-{p}") for p in r["parts"]
        ]
        entry["rows"] += r["n"]
    return _commit_staged(
        root,
        sid,
        [os.path.join(_DATA, sid, f) for f in data_files],
        new_meta=new_meta,
        append=False,
        parent_check=True,
        inherit_files=list(pm["files"]),
        inherit_meta=dict(meta),
        # the derivation pin: the positions were read from ``parent``
        observed_gen=_pinned_gen(root, parent, f"{verb}'s positions"),
        observed=parent,
        schema=pm.get("schema"),
        deletes=deletes,
    )


def _stats_cols(meta: dict) -> list[str]:
    """Every column any file's zone map records — the one derivation
    every write path (both DML writers, compaction) uses for the
    columns it records."""
    return sorted({c for m in meta.values() for c in m.get("stats", {})})


def _sized_batch(df: DataFrame, rows: int, meta: dict, cluster_col):
    """Bound an appended batch's FILE COUNT to its ROW count: size the
    output like the table's own files (average rows/file from manifest
    metadata; 1M-row default on stat-less tables, 256-file cap) so a
    mask-and-append commit can never strew scan-partition-count tiny
    files. ``cluster_col`` range-clusters the output so the new files
    carry selective zone maps — round-robin would give every appended
    file the full key range and poison later pruning. The shuffle this
    costs is batch-sized."""
    per_file = [m["rows"] for m in meta.values() if m.get("rows")]
    target = max(1, sum(per_file) // len(per_file)) if per_file else 1_000_000
    n_out = min(256, max(1, -(-rows // target)))
    if cluster_col is not None:
        return df.repartitionByRange(n_out, cluster_col)
    return df.repartition(n_out)


def _key_touched_files(keys: DataFrame, key_col: str, pm: dict) -> list[str]:
    """Parent files whose zone maps CAN contain any batch key — the
    targeting of both the COW merge's rewrite set and the MOR merge's
    position scan. Per-file check against the key SET, not its global
    range: a single far-away insert key would otherwise widen
    [min, max] to cover every file. CDC batches are driver-bounded by
    nature; past the cap, fall back to the range check (conservative —
    more files scanned/rewritten, never wrongness). Files without
    stats are conservatively included; an empty key set touches
    nothing."""
    import bisect

    from pyspark.sql import functions as F

    meta = pm.get("files_meta", {})
    key_cap = 100_000
    sample = [r[0] for r in keys.limit(key_cap + 1).collect()]
    if not sample:
        return []
    key_sorted = sorted(sample) if len(sample) <= key_cap else None
    lo = hi = None
    if key_sorted is None:
        b = keys.agg(
            F.min(key_col).alias("lo"), F.max(key_col).alias("hi")
        ).first()
        lo, hi = b["lo"], b["hi"]

    def touched(rel: str) -> bool:
        fm = meta.get(rel, {})
        nc = fm.get("nulls", {}).get(key_col)
        if nc is not None and nc == fm.get("rows"):
            return False  # key provably all-NULL: no batch key matches
        st = fm.get("stats", {}).get(key_col)
        if st is None:
            return True  # no stats -> must assume it can match
        if key_sorted is not None:
            i = bisect.bisect_left(key_sorted, st[0])
            return i < len(key_sorted) and key_sorted[i] <= st[1]
        return lo is not None and st[1] >= lo and st[0] <= hi

    return [f for f in pm["files"] if touched(f)]


def _merge_contract_checks(
    df: DataFrame, pm: dict, key_col: str, verb: str
) -> int:
    """The MERGE batch contract, shared by both merge verbs and both
    writers: batch columns must equal the recorded table schema exactly
    (every format's rule — a narrower batch would record a narrower
    schema / hide carried columns), shared names must have IDENTICAL
    types (no implicit casts, ever — a widened batch type would be
    recorded as the table contract and bind carried files' parquet
    wrongly), and source keys must be unique (duplicated batch keys
    would land as duplicated TABLE rows — fail loudly, never corrupt).
    Errors name ``verb``. Returns the batch row count."""
    from pyspark.sql import functions as F

    pschema = pm.get("schema")
    if pschema is not None:
        want = {f["name"]: f["type"] for f in pschema["fields"]}
        # raw df.columns, not a dict: a dict would collapse DUPLICATE
        # batch column names and let them through to a confusing
        # AnalysisException downstream
        if sorted(df.columns) != sorted(want):
            raise ValueError(
                f"{verb} batch columns {sorted(df.columns)} != "
                f"table schema columns {sorted(want)} at the manifest root"
            )
        got = {
            f["name"]: f["type"] for f in df.schema.jsonValue()["fields"]
        }
        clash = [
            c for c in want
            if _type_fingerprint(got[c]) != _type_fingerprint(want[c])
        ]
        if clash:
            raise ValueError(
                f"{verb} batch type mismatch on {clash} (batch "
                f"{[got[c] for c in clash]} vs table "
                f"{[want[c] for c in clash]}) — no implicit casts; "
                "align the types explicitly"
            )
    counts = df.agg(
        F.count("*").alias("n"),
        F.count(key_col).alias("k"),
        F.countDistinct(key_col).alias("d"),
    ).first()
    if counts["k"] != counts["n"]:
        # countDistinct ignores NULL, so without this check a NULL key
        # would be reported as a duplicate
        raise ValueError(
            f"{verb} batch has NULL {key_col!r} values "
            f"({counts['n'] - counts['k']} of {counts['n']} rows) — "
            "a merge key must be non-NULL"
        )
    if counts["n"] != counts["d"]:
        raise ValueError(
            f"{verb} batch has duplicate {key_col!r} values "
            f"({counts['n']} rows, {counts['d']} distinct)"
        )
    return counts["n"]


def _apply_set_exprs(df, set_exprs: dict, cond, scratch: tuple):
    """Project ``df``'s data columns (all but the ``scratch`` ones)
    with each SET expression applied where ``cond`` holds (evaluated
    against the PRE-update row — standard SQL UPDATE semantics;
    ``{"a": "b", "b": "a"}`` swaps), enforcing the module-wide
    no-implicit-casts rule: an expression that changes the column's
    exact type is refused (a widened type would be recorded as the
    table contract and bind every carried file's parquet to the wrong
    type). One definition for both writers so the when/otherwise type
    coercion can never diverge between them."""
    from pyspark.sql import functions as F

    updated = df.select(
        *[
            (
                F.when(cond, F.expr(set_exprs[c]))
                .otherwise(F.col(c))
                .alias(c)
                if c in set_exprs
                else F.col(c)
            )
            for c in df.columns
            if c not in scratch
        ]
    )
    before = {
        f.name: f.dataType for f in df.schema.fields if f.name in set_exprs
    }
    clash = [
        c for c, t in before.items() if updated.schema[c].dataType != t
    ]
    if clash:
        raise ValueError(
            f"update_where SET changes column types on {clash} "
            f"({[str(updated.schema[c].dataType) for c in clash]} vs "
            f"table {[str(before[c]) for c in clash]}) — no implicit "
            "casts; cast explicitly in the expression"
        )
    return updated


def _annotated_scan(
    spark: SparkSession,
    root: str,
    pm: dict,
    rel_files: list[str],
    rc: str,
    pc: str,
) -> DataFrame:
    """The DML derivation scan: ``pm``'s listed ``rel_files`` with two
    scratch columns — ``rc`` (manifest-relative file path) and ``pc``
    (parquet row position) — projected AT SCAN TIME, then the
    snapshot's deletion vectors anti-joined away. Projecting the
    ``_metadata`` fields before any join matters: the hidden column
    resolves only against the file-source relation, so every DML
    operation derives (file, position) identity here, first, and then
    composes joins/filters freely. The read binds to the recorded
    schema; a legacy lineage gets the footer-union read so
    heterogeneous files keep every column they physically hold."""
    from pyspark.sql import functions as F

    ann = (
        _manifest_reader(spark, pm, legacy_union=True)
        .parquet(*[os.path.join(root, f) for f in rel_files])
        .withColumn(rc, _rel_file_expr())
        .withColumn(pc, F.col("_metadata.row_index"))
    )
    scanned = set(rel_files)
    dels = {
        f: e for f, e in (pm.get("deletes") or {}).items() if f in scanned
    }
    return _dv_anti_join(spark, root, dels, ann, rc, pc)


def _uri_rel(rel: str) -> str:
    """The URL-encoded form of a manifest-relative path, as
    ``_metadata.file_path``'s last components will render it."""
    from urllib.parse import quote

    return quote(rel, safe="/")


def compact_snapshot(
    spark: SparkSession,
    root: str,
    target_files: int,
    snapshot_id: str | None = None,
    rebase_retries: int | None = None,
    zorder_cols: tuple[str, str] | None = None,
) -> str:
    """OPTIMIZE: rewrite the current snapshot's data into
    ``target_files`` right-sized files and commit the result as a new
    snapshot — the manifest-native twin of ddl.compact_parquet (the
    shattered-table bench measured small files at 5× pure overhead),
    but SNAPSHOT-SAFE: readers of the old manifest keep
    their exact file list while the rewrite runs; the pointer flip is
    the only visible event, and the old files remain until vacuum.
    This is what absorbs the per-micro-batch file debris a
    foreachBatch append pipeline accumulates (one tiny file per
    epoch). Zone-map columns recorded by the parent are re-harvested
    for the compacted files.

    ``zorder_cols=(a, b)`` makes this OPTIMIZE ZORDER BY (Delta's
    two-dimensional clustering): the rewrite range-partitions and
    sorts on the bit-interleaved Z key (ddl.zorder_key), so each
    compacted file covers a small rectangle of (a, b) space and the
    re-harvested zone maps prune ``read_pruned`` scans on EITHER
    column — the layout decision that turns a two-predicate 100 TB
    scan into a few-file read. Both columns are force-added to the
    harvested stats. Costs one shuffle (the clustering itself) where
    plain compaction is a coalesce.

    CONCURRENCY: a commit landing between the compaction's
    parent read and its own commit loses the CAS and auto-REBASES —
    re-read the fresh current, re-run the rewrite on IT, re-commit
    (up to ``rebase_retries``, default ``_REBASE_RETRIES``; 0 restores
    raise-to-caller). Unlike a merge there is no cross-commit
    semantics question: a compaction is content-neutral, so rebasing
    simply compacts the winner's table, and rows a racing append
    landed survive into the compacted snapshot."""

    def attempt(parent):
        if parent is None:
            raise FileNotFoundError(f"no current snapshot at {root!r}")
        pm = _manifest(root, parent)
        stats_set = set(_stats_cols(pm.get("files_meta", {})))
        # merge_schema: ignored on recorded lineages (schema wins); on
        # a LEGACY lineage the rewrite must see every column of every
        # file — a plain inferring read would drop whole columns from
        # the compacted table
        df = read_snapshot(spark, root, parent, merge_schema=True)
        if zorder_cols is not None:
            from db_loader_spark.sinks.ddl import zorder_key

            a, b = zorder_cols
            # collision-proof scratch column: a fixed "_zkey" would
            # silently overwrite-and-drop a real column of that name
            zc = f"_zkey_{uuid.uuid4().hex[:8]}"
            df = (
                df.withColumn(zc, zorder_key(df, a, b))
                .repartitionByRange(target_files, zc)
                .sortWithinPartitions(zc)
                .drop(zc)
            )
            stats_set |= {a, b}
        else:
            df = df.coalesce(target_files)
        # the rewrite is parent's content: commit conditionally on it —
        # an append landing mid-compaction must not vanish from current
        return publish(
            df,
            root,
            snapshot_id=snapshot_id,
            stats_cols=sorted(stats_set) or None,
            _require_parent=parent,
            _record_schema=pm.get("schema") is not None,
        ), True

    return _occ_loop(root, snapshot_id, rebase_retries, attempt)[0]


def restore_snapshot(
    root: str, sid: str, snapshot_id: str | None = None
) -> str:
    """RESTORE (Delta ``RESTORE TABLE ... TO VERSION``, Iceberg
    rollback): make the table's current state equal snapshot ``sid``
    again, as a NEW commit — metadata only, zero data movement. The
    new manifest inherits the target's file list, zone maps, schema and
    deletion vectors by reference (files are immutable and, within the
    vacuum retention window, still on disk), so a 100 TB rollback is
    one JSON write + one pointer CAS.

    The pointer never moves BACKWARD: restore mints a fresh snapshot
    that is a CHILD of the current one. That keeps the lineage linear,
    which every adjudication in ``_replayed`` and the ``snapshots()``
    cycle guard rely on. A restore that re-pointed at the OLD sid
    would need manifest tombstones; a restore that REUSED a committed
    token would write a cycle into the parent chain — both are refused.

    Rules:
    - ``snapshot_id`` is the replay token, judged by ``_replayed``
      before the target is looked at: a replay of a restore that
      already committed no-ops even if the TARGET has since been
      vacuumed (the committed restore carries the files under its own
      manifest), and an unprovable token is refused.
    - The target must be a COMMITTED snapshot in the current lineage
      (walk-proven). A residue manifest, or a target past the vacuum
      horizon (manifest reaped — FileNotFoundError — or any listed
      data file already vacuumed), is refused: committing a manifest
      over missing files would tear every future read.
    - Restoring to the current snapshot is a documented no-op
      returning ``sid`` (nothing to change; Delta's behavior).
    - The restore runs on ``_occ_loop`` with ``_COMMIT_RETRIES``
      retries: its content derives from the immutable TARGET, not
      from the parent, so a lost pointer race costs only a metadata
      rebuild on the fresh current.
    """
    new_sid = snapshot_id or _new_sid()

    def attempt(parent):
        if parent == sid:
            return sid, False  # already AT the target state: no-op
        tm = _manifest(root, sid)  # FileNotFoundError: reaped target
        needed = list(tm["files"]) + sorted(
            # the target's deletion vectors are part of its state: a
            # restore that lost them would RESURRECT the deleted rows
            {p for e in tm.get("deletes", {}).values() for p in e["dv"]}
        )
        missing = [
            f for f in needed
            if not os.path.exists(os.path.join(root, f))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore {root!r} to {sid!r}: {len(missing)} of "
                f"its data/deletion-vector files were vacuumed "
                f"(first: {missing[0]!r})"
            )
        if _committed_in_lineage(root, sid, parent) is not True:
            raise RuntimeError(
                f"cannot restore {root!r} to {sid!r}: not a committed "
                "snapshot of the live lineage (a lost-commit residue "
                "manifest, or the walk truncated at the vacuum horizon)"
            )
        return _commit_staged(
            root,
            new_sid,
            [],
            new_meta={},
            append=False,
            parent_check=True,
            inherit_files=list(tm["files"]),
            inherit_meta=dict(tm.get("files_meta", {})),
            observed_gen=_pinned_gen(root, parent, "restore"),
            observed=parent,
            schema=tm.get("schema"),  # the restored contract
            deletes=dict(tm.get("deletes", {})),  # restored mask
        ), True

    return _occ_loop(root, snapshot_id, _COMMIT_RETRIES, attempt)[0]


def evolve_schema(root: str, add, snapshot_id: str | None = None) -> str:
    """ALTER TABLE ADD COLUMNS (Delta/Iceberg metadata evolution): a
    METADATA-ONLY commit that widens the recorded schema with ``add``
    (a StructType, a list of StructFields, or a schema-json dict of
    the columns to add) — zero data movement, the same economics as
    ``restore_snapshot``. Old files read the new columns as NULL
    through the recorded schema (``_manifest_reader``), exactly as a
    ``merge_schema=True`` append would bind them, but without needing
    rows to carry. The CDC apply side uses this to make a replica
    follow its source's evolution before applying an evolved range.

    Rules (the ``_merge_schemas`` append contract): an added name
    that already exists must have the IDENTICAL type (conflict = loud
    error, never a cast); adding only already-present columns is the
    documented idempotent no-op returning the current sid; a legacy
    lineage (no recorded schema) cannot evolve by metadata — its old
    files' columns are unknown — use a ``merge_schema`` append there.
    Runs on ``_occ_loop`` with ``_COMMIT_RETRIES`` retries, as restore
    does: ``snapshot_id`` is judged by ``_replayed``, and a lost
    pointer race re-merges the schema on the fresh current."""
    from pyspark.sql.types import StructType

    if isinstance(add, StructType):
        add_json = add.jsonValue()
    elif isinstance(add, (list, tuple)):
        add_json = StructType(list(add)).jsonValue()
    else:
        add_json = add
    new_sid = snapshot_id or _new_sid()

    def attempt(parent):
        if parent is None:
            raise FileNotFoundError(f"no current snapshot at {root!r}")
        pm = _manifest(root, parent)
        if pm.get("schema") is None:
            raise ValueError(
                f"cannot evolve {root!r} by metadata: the lineage has no "
                "recorded schema (legacy), so old files' columns are "
                "unknown; evolve it with a merge_schema=True append"
            )
        merged = _merge_schemas(pm["schema"], add_json, True, root)
        existing = {f["name"] for f in pm["schema"]["fields"]}
        if all(f["name"] in existing for f in add_json["fields"]):
            return parent, False  # every column already present: no-op
        return _commit_staged(
            root,
            new_sid,
            [],
            new_meta={},
            append=False,
            parent_check=True,
            inherit_files=list(pm["files"]),
            inherit_meta=dict(pm.get("files_meta", {})),
            observed_gen=_pinned_gen(root, parent, "schema evolution"),
            observed=parent,
            schema=merged,
            deletes=dict(pm.get("deletes", {})),
        ), True

    return _occ_loop(root, snapshot_id, _COMMIT_RETRIES, attempt)[0]


def added_files(root: str, from_sid: str | None, to_sid: str) -> list[str]:
    """Data files in ``to_sid``'s manifest that ``from_sid``'s lacks —
    the incremental scan set between two snapshots. Files are immutable
    and write-once, so path set difference IS the data delta for
    append-only lineages (``from_sid=None`` means everything). Order is
    the manifest's (stable)."""
    old = set() if from_sid is None else set(_manifest(root, from_sid)["files"])
    return [f for f in _manifest(root, to_sid)["files"] if f not in old]


def read_added(
    spark: SparkSession, root: str, from_sid: str | None, to_sid: str
) -> DataFrame:
    """Scan ONLY the files added between two snapshots: the
    reprocess-the-delta primitive (a downstream aggregate folds this
    slice into its saved state instead of rescanning the corpus —
    at 100 TB the difference between a per-drop job sized to the drop
    and one sized to the table). Empty delta → empty frame with the
    snapshot's schema."""
    from pyspark.sql import functions as F

    delta = added_files(root, from_sid, to_sid)
    if not delta:
        return read_snapshot(spark, root, to_sid).filter(F.lit(False))
    man = _manifest(root, to_sid)
    # deletion vectors apply here too (r13 review): with from_sid=None
    # (or any from_sid predating a later-masked file) the delta
    # includes files whose rows ``to_sid`` has MOR-deleted — an
    # incremental consumer must see the logical table's delta, never
    # resurrected rows
    return _apply_deletes(
        spark, root, man,
        _manifest_reader(spark, man).parquet(
            *[os.path.join(root, f) for f in delta]
        ),
        files=delta,
    )


def read_current(
    spark: SparkSession, root: str, merge_schema: bool = False
) -> DataFrame:
    sid = current_snapshot(root)
    if sid is None:
        raise FileNotFoundError(f"no current snapshot at {root!r}")
    return read_snapshot(spark, root, sid, merge_schema=merge_schema)


def snapshots(root: str) -> list[str]:
    """All LISTABLE snapshot ids, oldest first (lineage via parents).

    The walk ends at the retention horizon: a parent whose manifest is
    gone was reaped by ``vacuum``, which deletes old manifests but
    cannot rewrite the survivors' parent pointers (manifests are
    immutable) — so a truncated history is the NORMAL post-vacuum
    state, not corruption (r10 fix: the walk used to raise on the
    first reaped ancestor, which broke every ``snapshots`` consumer —
    including a second ``vacuum`` — after the first reaping vacuum).
    A missing manifest for the CURRENT pointer itself is still an
    error: the pointer only ever flips to a fully committed snapshot,
    so that can only be out-of-contract interference.

    Only ``FileNotFoundError`` means "reaped" (r11, ADVICE r10): a
    TRANSIENT OSError on an ancestor (EMFILE, EACCES, EIO) must
    propagate, not masquerade as the horizon — ``vacuum`` derives its
    keep set from this walk, so a transiently truncated lineage would
    make it reap manifests and uniquely-referenced data of snapshots
    INSIDE the keep window. Propagating aborts the vacuum instead;
    retrying after the transient condition clears is always safe."""
    chain: list[str] = []
    seen: set[str] = set()
    sid = current_snapshot(root)
    while sid is not None:
        if sid in seen:  # defensive: a corrupted lineage must not hang
            raise RuntimeError(f"snapshot lineage cycle at {sid!r} in {root!r}")
        seen.add(sid)
        try:
            parent = _manifest(root, sid)["parent"]
        except FileNotFoundError:
            if not chain:
                raise  # pointer names a missing manifest: corruption
            break  # reaped ancestor: history truncated here
        chain.append(sid)
        sid = parent
    return list(reversed(chain))


def history(root: str) -> list[dict]:
    """Commit metadata for the walkable lineage, NEWEST FIRST — the
    DESCRIBE HISTORY face (the ops view ``snapshot_as_of`` resolves
    against: a user picks a ``committed_at`` from here and time-travels
    to it). Each entry:

    - ``snapshot_id`` / ``parent`` — the lineage edge
    - ``committed_at`` — UTC-naive datetime from the manifest file's
      mtime, the same clock ``snapshot_as_of`` / ``vacuum keep_hours``
      / the CDF's ``_commit_timestamp`` trust
    - ``n_files`` — data files in the snapshot
    - ``row_count`` — LOGICAL rows (vector-masked positions already
      subtracted, the number ``read_snapshot`` returns); None when a
      stats-less file leaves it unknown
    - ``masked_rows`` — positions deleted merge-on-read and not yet
      purged (the REORG PURGE debt gauge)

    Metadata only — ONE newest-first walk, one JSON read + one stat
    per walkable commit, no data I/O, so at 100 TB the driver answers
    from manifests alone. The walk ends at the vacuum horizon like
    ``snapshots()`` — including a manifest reaped by a CONCURRENT
    vacuum mid-walk (a separate snapshots() pass then per-sid re-reads
    would race that window and crash on the re-read); a lineage cycle
    raises the same RuntimeError snapshots() gives, never a silent
    truncation."""
    import datetime as _dt

    out: list[dict] = []
    sid = current_snapshot(root)
    seen: set[str] = set()
    while sid is not None:
        if sid in seen:
            raise RuntimeError(
                f"snapshot lineage cycle at {sid!r} in {root!r}"
            )
        seen.add(sid)
        try:
            mt = _committed_at(root, sid)
            man = _manifest(root, sid)
        except FileNotFoundError:
            if not out:
                raise  # pointer names a missing manifest: corruption
            break  # vacuum horizon (possibly a concurrent vacuum)
        out.append(
            {
                "snapshot_id": sid,
                "parent": man.get("parent"),
                "committed_at": _dt.datetime.utcfromtimestamp(mt),
                "n_files": len(man["files"]),
                "row_count": man.get("row_count"),
                "masked_rows": sum(
                    e["rows"] for e in (man.get("deletes") or {}).values()
                ),
            }
        )
        sid = man.get("parent")
    return out


def snapshot_as_of(root: str, ts) -> str:
    """Resolve the NEWEST lineage snapshot committed at or before
    ``ts`` — timestamp time travel (Delta's ``timestampAsOf``), the
    query-side sibling of ``vacuum(keep_hours=...)`` and the CDF's
    ``_commit_timestamp``: all three trust the SAME clock, the
    manifest file's mtime (snapshot ids are caller-chosen tokens and
    cannot carry time; the filesystem's commit stamp is the local
    analog of an object store's commit-object timestamp).

    ``ts`` may be a UTC-naive ``datetime`` (the repo's timestamp
    convention), an ISO-8601 string, or epoch seconds. A ``ts`` at or
    after the newest commit resolves to the newest snapshot (asking
    for "the table as of now" on a quiet table must work); a ``ts``
    before the OLDEST WALKABLE commit raises ``ValueError`` naming the
    earliest available commit time — the requested state is behind
    the vacuum horizon, the same before-earliest-version contract
    every table format documents. Compose with ``read_snapshot`` /
    ``read_pruned(sid=...)``; the batch ``manifest`` format serves the
    same resolution as ``.option("timestampAsOf", ...)``.

    The walk is newest-first and stats only as far as the answer: on a
    warm table the common "recent ts" case reads one mtime, not the
    lineage. A manifest reaped between the pointer read and its stat
    (concurrent vacuum) terminates the walk as the horizon — older
    history is gone either way.

    Comparison is at MICROSECOND grain (both sides floored): datetime
    carries µs while the filesystem stamp carries ~ns, so an exact
    round-trip — resolve the ``committed_at`` that ``history()`` just
    reported — would otherwise land fractionally BEFORE the commit it
    names and miss it."""
    target = int(_epoch_seconds(ts) * 1_000_000)
    sid = current_snapshot(root)
    if sid is None:
        raise FileNotFoundError(f"no current snapshot at {root!r}")
    earliest: tuple[float, str] | None = None
    seen: set[str] = set()
    while sid is not None:
        if sid in seen:
            # same contract as snapshots(): corruption is never
            # diagnosed as retention truncation
            raise RuntimeError(
                f"snapshot lineage cycle at {sid!r} in {root!r}"
            )
        seen.add(sid)
        try:
            mt = _committed_at(root, sid)
        except FileNotFoundError:
            if earliest is None:
                raise  # pointer names a missing manifest: corruption
            break  # vacuum horizon: older history is gone
        earliest = (mt, sid)
        if int(mt * 1_000_000) <= target:
            # the hit needs no manifest read at all — the warm
            # "recent ts" case is ONE stat, as documented
            return sid
        try:
            sid = _manifest(root, sid)["parent"]
        except FileNotFoundError:
            break  # reaped between the stat and the read: horizon
    assert earliest is not None  # loop ran at least once to get here
    raise ValueError(
        f"timestamp {ts!r} predates the earliest available commit at "
        f"{root!r} ({earliest[1]!r}, committed epoch {earliest[0]:.3f})"
        " — the requested state is behind the vacuum horizon"
    )


def _epoch_seconds(ts) -> float:
    """Normalize a datetime / ISO string / epoch number to epoch
    seconds. Naive datetimes are UTC (the repo convention — the
    container runs UTC and every oracle assumes UTC-naive)."""
    import datetime as _dt

    if isinstance(ts, (int, float)):
        return float(ts)
    if isinstance(ts, str):
        try:
            return float(ts)
        except ValueError:
            ts = _dt.datetime.fromisoformat(ts)
    if isinstance(ts, _dt.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_dt.timezone.utc)
        return ts.timestamp()
    raise TypeError(f"cannot interpret {ts!r} as a commit timestamp")


def vacuum(
    root: str, keep: int = 1, keep_hours: float | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Delete data files and manifests of all but the ``keep`` most
    recent snapshots IN THE CURRENT LINEAGE, plus any unreferenced
    data prefixes (crashed writers). Returns removed snapshot prefixes.
    Safe order: old pointers are unreachable the moment ``_CURRENT``
    moved, so deletion can't race a reader that resolved the pointer
    recently unless it held the manifest across the vacuum — the usual
    retention-window caveat every table format documents.

    ``keep_hours`` widens the keep set by TIME (the Delta
    ``RETAIN n HOURS`` knob): every lineage snapshot whose manifest
    was committed within the window survives, in addition to the
    ``keep`` newest. Commit time is the manifest file's mtime — the
    filesystem's own stamp, the local analog of an object store's
    commit-object timestamp (snapshot ids are caller-chosen tokens, so
    they cannot carry trusted time). Errors reading an mtime propagate
    and abort the vacuum (the r11 rule: a transient fault must never
    shrink the keep set and reap snapshots inside the window).

    ``dry_run=True`` (the Delta ``VACUUM ... DRY RUN`` shape) computes
    and returns the SAME data-prefix list a real call would remove —
    same keep set, same liveness walk — but deletes nothing and skips
    the manifest/generation-log trims entirely. Retention tuning
    composes with ``history()``: read the commit times, dry-run the
    candidate ``keep_hours``, inspect what would go, then run it."""
    data_dir, man_dir, _ = _paths(root)
    lineage = snapshots(root)
    keep_ids = set(lineage[-keep:]) if keep > 0 else set()
    if keep_hours is not None:
        cutoff = time.time() - keep_hours * 3600.0
        for sid in lineage:
            if os.path.getmtime(os.path.join(man_dir, f"{sid}.json")) >= cutoff:
                keep_ids.add(sid)
    removed = []
    live = set()
    for sid in keep_ids:
        man = _manifest(root, sid)
        live.update(os.path.basename(os.path.dirname(f)) for f in man["files"])
        # deletion-vector sidecars live under their own commit's
        # data/<sid> prefix: referenced vectors must survive any
        # vacuum that keeps a snapshot masking rows with them
        live.update(
            os.path.basename(os.path.dirname(p))
            for e in man.get("deletes", {}).values()
            for p in e["dv"]
        )
    if os.path.isdir(data_dir):
        for prefix in os.listdir(data_dir):
            if prefix not in live and prefix not in keep_ids:
                if not dry_run:
                    shutil.rmtree(
                        os.path.join(data_dir, prefix), ignore_errors=True
                    )
                removed.append(prefix)
    if dry_run:
        return removed
    if os.path.isdir(man_dir):
        for mf in os.listdir(man_dir):
            sid = mf[: -len(".json")] if mf.endswith(".json") else None
            if sid and sid not in keep_ids:
                os.remove(os.path.join(man_dir, mf))
            elif ".tmp-" in mf:
                # crashed commit's manifest scratch (writer-unique name,
                # never reused) — plain residue
                os.remove(os.path.join(man_dir, mf))
    # Generation-log pruning: the pointer log grows one ~40-byte file
    # per commit (one per micro-batch under streaming), so vacuum trims
    # it to the newest _GEN_KEEP entries. The max entry IS the pointer
    # and is always kept; the tail behind it only serves readers that
    # listed the directory moments before the prune. Like data-prefix
    # reaping above, this step assumes no writer is mid-commit (the
    # vacuum contract): an in-flight writer holding a pruned generation
    # number is what the _advance_pointer stale-generation detector
    # exists to catch.
    gen_dir = os.path.join(root, _GEN)
    if os.path.isdir(gen_dir):
        live_gens = sorted(
            (e for e in os.listdir(gen_dir) if e.isdigit()), key=int
        )
        for e in live_gens[:-_GEN_KEEP]:
            os.remove(os.path.join(gen_dir, e))
        for e in os.listdir(gen_dir):
            if e.startswith(".tmp-"):
                os.remove(os.path.join(gen_dir, e))
    return removed
