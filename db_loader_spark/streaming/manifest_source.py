"""Two Spark data sources over a manifest table (``sinks/manifest.py``),
built on PySpark 4's Python DataSource API.

``manifest_cdc`` is the commit log as a streaming and batch source. A
``SimpleDataSourceStreamReader``'s offset IS the commit-log cursor (one
snapshot id), so Structured Streaming's own checkpointing gives the
consumer durable, exactly-once-per-commit delivery: ``read`` polls a
``CommitLogConsumer`` from the offset and emits one row per physical
change; ``readBetweenOffsets`` replays a committed range
deterministically after a restart. Batch reads
(``spark.read.format("manifest_cdc")``) replay the walkable history.
Row schema (``commit_log.CommitEvent`` flattened)::

    snapshot_id string, parent string, change string, file string,
    rows bigint

``change`` ∈ {add_file, remove_file, dv_add, dv_remove}; ``rows`` is
the file's recorded row count for file changes (NULL when the manifest
has no stats) and the masked/un-masked position count for vector
changes.

``manifest`` is the table itself as a batch format, the DataFrame-
reader face of ``read_snapshot`` / ``read_pruned`` / ``read_added``::

    df = spark.read.format("manifest").option("path", root).load()
    old = ...option("snapshot", sid)...          # time travel by id
    ts  = ...option("timestampAsOf", "2026-08-16T12:00:00")...
    rng = (...option("pruneCol", "k")            # zone-map pruning
              .option("pruneLower", "10")
              .option("pruneUpper", "99")...)    # + residual filter
    inc = ...option("startingSnapshot", sid)...  # read_added face

``partitions()`` is driver-side metadata work (one manifest JSON; the
zone maps drop files before any task exists, by the rule ``read_pruned``
uses), then one InputPartition per kept data file, read as Arrow record
batches (pyarrow scan + vectorized vector mask + residual range
filter). The function faces stay the JVM-native scan path and the
recommendation for fact-sized hot paths; this format is the interop
face, paying one Arrow hop. ``pruneLower``/``pruneUpper`` arrive as
strings and are parsed by the prune column's declared type
(int/long/float/double/string/date). A lineage without a recorded
schema takes its schema from the first file's footer.

Registration by value: Spark plans and reads a Python data source in
worker processes that unpickle the DataSource class with cloudpickle. A
class pickled by reference would make every worker import
``db_loader_spark``, which fails when only the driver put the package
on ``sys.path`` (a foreign cwd). ``register_manifest_cdc`` and
``register_manifest_table`` therefore pickle the package BY VALUE for
the one ``spark.dataSource.register`` call (Spark pickles the class
there, once): the class travels with the functions it calls from
``sinks/manifest.py`` and ``commit_log``. This module imports those
functions by name, never a module object — a module pickled by value
carries its whole namespace.

The format stays read-only: a write face would be a second commit path
beside ``publish``; writes stay the function calls
(``publish``/``merge_upsert``/…).
"""

from __future__ import annotations

import os

from pyspark import cloudpickle
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

import db_loader_spark
from db_loader_spark.sinks.manifest import (
    _manifest,
    _uri_rel,
    _zone_kept,
    added_files,
    current_snapshot,
    snapshot_as_of,
    snapshots,
)
from db_loader_spark.streaming.commit_log import (
    CommitLogConsumer,
    _diff,
    _through,
)


def _root(options, fmt: str) -> str:
    root = options.get("path")
    if not root:
        raise ValueError(f"{fmt} requires .option('path', <table root>)")
    return root


def _cdc_rows(triples) -> list[tuple]:
    """One row per physical change of each ``(event, manifest,
    parent_manifest)`` triple."""
    out = []
    for ev, man, pman in triples:
        sid, parent = ev.snapshot_id, ev.parent
        meta = man.get("files_meta", {})
        pmeta = (pman or {}).get("files_meta", {})
        out += [
            (sid, parent, "add_file", f, meta.get(f, {}).get("rows"))
            for f in ev.added_files
        ]
        out += [
            (sid, parent, "remove_file", f, pmeta.get(f, {}).get("rows"))
            for f in ev.removed_files
        ]
        out += [
            (sid, parent, "dv_remove", f, n) for f, n in ev.dv_removed.items()
        ]
        out += [(sid, parent, "dv_add", f, n) for f, n in ev.dv_added.items()]
    return out


class _Rows(InputPartition):
    def __init__(self, rows):
        self.rows = rows


class ManifestCDCStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        self.root = _root(options, "manifest_cdc")
        self.start_after = options.get("startingsnapshot")

    def initialOffset(self):
        return {"sid": self.start_after}

    def read(self, start):
        consumer = CommitLogConsumer(self.root, start.get("sid"))
        rows = _cdc_rows(consumer.poll_full())
        return iter(rows), {"sid": consumer.cursor}

    def readBetweenOffsets(self, start, end):
        if end.get("sid") == start.get("sid"):
            return iter([])
        cursor = start.get("sid")
        triples = CommitLogConsumer(self.root, cursor).poll_full()
        return iter(_cdc_rows(_through(triples, end["sid"], self.root, cursor)))

    def commit(self, end):
        pass


class ManifestCDCBatchReader(DataSourceReader):
    def __init__(self, options):
        self.root = _root(options, "manifest_cdc")
        self.start_after = options.get("startingsnapshot")

    def partitions(self):
        # the walk is driver-side metadata work; the rows ship to the
        # executor as data inside the one partition. With a
        # startingSnapshot the cursor must resolve exactly, like the
        # stream's; without one the read replays the history still
        # walkable after a vacuum: the oldest snapshot diffs against
        # nothing (the bootstrap event), then a consumer polls after it
        if self.start_after is not None:
            consumer = CommitLogConsumer(self.root, self.start_after)
            triples = consumer.poll_full()
        else:
            lineage = snapshots(self.root)
            triples = []
            if lineage:
                first = _manifest(self.root, lineage[0])
                triples = [(_diff(first, None), first, None)]
                triples += CommitLogConsumer(self.root, lineage[0]).poll_full()
        return [_Rows(_cdc_rows(triples))]

    def read(self, partition):
        return iter(partition.rows)


class ManifestCDCDataSource(DataSource):
    @classmethod
    def name(cls):
        return "manifest_cdc"

    def schema(self):
        return (
            "snapshot_id string, parent string, change string, "
            "file string, rows bigint"
        )

    def simpleStreamReader(self, schema):
        return ManifestCDCStreamReader(self.options)

    def reader(self, schema):
        return ManifestCDCBatchReader(self.options)


def _parse_bound(raw, tname: str):
    if tname in ("integer", "long", "short", "byte"):
        return int(raw)
    if tname in ("double", "float"):
        return float(raw)
    if tname == "date":
        import datetime

        return datetime.date.fromisoformat(raw)
    if tname == "string":
        return raw
    raise ValueError(
        f"manifest format cannot parse a {tname!r} prune bound from an "
        "option string; use read_pruned or .filter instead"
    )


class _FilePart(InputPartition):
    def __init__(self, abs_file, dv_abs, rel, lo, hi, col, tname):
        self.abs_file = abs_file
        self.dv_abs = dv_abs  # absolute dv parquet paths masking rel
        self.rel = rel  # manifest-relative name (dv rows key on it)
        self.lo, self.hi, self.col = lo, hi, col
        self.tname = tname  # prune column's Spark type name


class ManifestTableReader(DataSourceReader):
    def __init__(self, options, schema, sid):
        self.root = _root(options, "manifest format")
        # the DataSource pinned ``sid`` at plan time: schema() and
        # every partitions() call bind the same snapshot, so a commit
        # landing between plan and (re-)execution cannot pair one
        # snapshot's schema with another's files
        self.sid = sid
        self.start_after = options.get("startingsnapshot")
        self.prune_col = options.get("prunecol")
        self.prune_lower = options.get("prunelower")
        self.prune_upper = options.get("pruneupper")
        if self.prune_col and (
            self.prune_lower is None or self.prune_upper is None
        ):
            raise ValueError(
                "pruneCol requires both pruneLower and pruneUpper"
            )
        self.schema_struct = schema

    def partitions(self):
        if self.sid is None:
            raise FileNotFoundError(f"no current snapshot at {self.root!r}")
        man = _manifest(self.root, self.sid)
        kept = man["files"]
        if self.start_after is not None:
            # the read_added face; the pinned snapshot's vectors still
            # mask the delta below
            try:
                kept = added_files(self.root, self.start_after, self.sid)
            except FileNotFoundError:
                raise RuntimeError(
                    f"startingSnapshot {self.start_after!r} at "
                    f"{self.root!r} is behind the vacuum horizon; read "
                    "the full snapshot instead and resume increments "
                    "from its id"
                ) from None
        lo = hi = tname = None
        if self.prune_col:
            for f in (man.get("schema") or {}).get("fields") or []:
                if f["name"] == self.prune_col:
                    t = f["type"]
                    tname = t if isinstance(t, str) else "other"
            if tname is None:
                # a legacy lineage records no schema: type the column
                # from the declared (footer-inferred) one
                for f in self.schema_struct.fields:
                    if f.name == self.prune_col:
                        tname = f.dataType.typeName()
            if tname is None:
                raise ValueError(
                    f"pruneCol {self.prune_col!r} is not a column of "
                    f"{self.root!r}"
                )
            lo = _parse_bound(self.prune_lower, tname)
            hi = _parse_bound(self.prune_upper, tname)
            kept = _zone_kept(man, kept, self.prune_col, lo, hi)
        dels = man.get("deletes", {}) or {}
        return [
            _FilePart(
                os.path.join(self.root, rel),
                [
                    os.path.join(self.root, p)
                    for p in dels.get(rel, {}).get("dv", [])
                ],
                rel, lo, hi, self.prune_col or None, tname,
            )
            for rel in kept
        ]

    def read(self, part):
        # PySpark calls read(None) when partitions() returned an empty
        # list (zone maps excluded every file, or an empty delta): that
        # is the empty DataFrame
        if part is None:
            return
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_type

        # parquet-level column pruning: the declared columns the file
        # physically holds, plus the prune column (read for the filter,
        # dropped from the projection). A file holding no needed column
        # still reads one physical column, for the row count the NULL
        # backfill and the vector mask need
        declared = {f.name for f in self.schema_struct.fields}
        need = declared | ({part.col} if part.col is not None else set())
        physical = pq.read_schema(part.abs_file).names
        sel = sorted(need & set(physical)) or physical[:1]
        tbl = pq.read_table(part.abs_file, columns=sel)
        if part.dv_abs:
            import numpy as np

            # vector rows key on the URL-ENCODED relative path (the
            # _metadata.file_path form); matching the raw path would
            # resurrect deleted rows of any path that encodes differently
            enc = _uri_rel(part.rel)
            masked = set()
            for p in part.dv_abs:
                dv = pq.read_table(p, columns=["f", "pos"])
                hit = pc.equal(dv.column("f"), pa.scalar(enc))
                masked.update(dv.filter(hit).column("pos").to_pylist())
            if masked:
                keep = np.ones(tbl.num_rows, dtype=bool)
                keep[np.fromiter(masked, dtype=np.int64)] = False
                tbl = tbl.filter(pa.array(keep))
        # residual range filter BEFORE the projection, on the file's
        # own rows (the prune column may not be declared)
        if part.col is not None:
            if part.col in tbl.column_names:
                at = {
                    "integer": pa.int32(), "long": pa.int64(),
                    "short": pa.int16(), "byte": pa.int8(),
                    "float": pa.float32(), "double": pa.float64(),
                    "string": pa.string(), "date": pa.date32(),
                }[part.tname]
                c = tbl.column(part.col).cast(at)
                keep = pc.and_kleene(
                    pc.greater_equal(c, pa.scalar(part.lo, type=at)),
                    pc.less_equal(c, pa.scalar(part.hi, type=at)),
                )
                tbl = tbl.filter(pc.fill_null(keep, False))
            else:
                # the file predates the prune column: every value reads
                # NULL, and a range never matches NULL
                tbl = tbl.slice(0, 0)
        # bind to the DECLARED schema (the manifest's recorded one, or
        # a user-passed subset): declared order and arrow types; a
        # column the file predates reads NULL
        cols = {}
        for f in self.schema_struct.fields:
            at = to_arrow_type(f.dataType)
            cols[f.name] = (
                tbl.column(f.name).cast(at)
                if f.name in tbl.column_names
                else pa.nulls(tbl.num_rows, type=at)
            )
        yield from pa.table(cols).to_batches()


class ManifestTableDataSource(DataSource):
    """The snapshot is resolved ONCE, at construction (plan time), and
    every later schema()/partitions() binds it: two actions on one
    DataFrame read the same table. Re-``load()`` to see a newer
    snapshot, the ``spark.read`` convention every table format
    follows."""

    def __init__(self, options):
        super().__init__(options)
        root = options.get("path")
        self._sid = None
        if root:
            by_id = options.get("snapshot")
            by_ts = options.get("timestampasof")
            if by_id and by_ts:
                raise ValueError(
                    "snapshot and timestampAsOf are mutually exclusive — "
                    "pick one time-travel axis"
                )
            self._sid = (
                snapshot_as_of(root, by_ts)
                if by_ts
                else by_id or current_snapshot(root)
            )

    @classmethod
    def name(cls):
        return "manifest"

    def schema(self):
        root = _root(self.options, "manifest format")
        if self._sid is None:
            raise FileNotFoundError(f"no current snapshot at {root!r}")
        man = _manifest(root, self._sid)
        if man.get("schema"):
            from pyspark.sql.types import StructType

            return StructType.fromJson(man["schema"])
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        if not man["files"]:
            raise ValueError(f"snapshot {self._sid!r} has no files")
        return from_arrow_schema(
            pq.read_schema(os.path.join(root, man["files"][0]))
        )

    def reader(self, schema):
        return ManifestTableReader(self.options, schema, self._sid)


def _register(spark, source) -> None:
    """Register ``source`` with the package pickled by value. Spark
    pickles the class once, here, so the by-value scope ends with the
    call: left on, every later UDF from the package would pickle by
    value too."""
    cloudpickle.register_pickle_by_value(db_loader_spark)
    try:
        spark.dataSource.register(source)
    finally:
        cloudpickle.unregister_pickle_by_value(db_loader_spark)


def register_manifest_cdc(spark) -> None:
    """Register the ``manifest_cdc`` format on this session (idempotent
    per session — Spark replaces a same-name registration). Usage::

        register_manifest_cdc(spark)
        events = (spark.readStream.format("manifest_cdc")
                  .option("path", root).load())
    """
    _register(spark, ManifestCDCDataSource)


def register_manifest_table(spark) -> None:
    """Register the batch ``manifest`` format on this session
    (idempotent per session)."""
    _register(spark, ManifestTableDataSource)
