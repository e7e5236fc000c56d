"""CLI entry point — reference-parity command surface (P20 + E1/E2).

The reference is driven as ``lein run -m db_loader :filename f.log
[:problemname p] [:mysql {…}] [:clean t] [:skip-nils false]``
(README:6-8; argmap parse src/db_loader.clj:300-313). This module
accepts the SAME keyword-style arguments:

    python -m db_loader_spark :filename runs/f.log :problemname regression
    python -m db_loader_spark :filename 'runs/*.log.gz' :csv-dir out/
    python -m db_loader_spark :clean all :csv-dir out/
    python -m db_loader_spark :filename f.log :jdbc-url jdbc:mysql://h/db
    python -m db_loader_spark :sql 'SELECT COUNT(*) FROM events' \
        :data-dir /root/testdata/sf0.01 [:limit 100]

Differences from the reference, by design (SURVEY.md §7):
- one Spark job over ALL matching files, not a JVM per file;
- ``.tgz`` archives are actually extracted (the reference's ``tar czf``
  bug created archives instead, src/db_loader.clj:342-343);
- CSV output is quoted (unquoted commas corrupted reference rows);
- no id-reservation protocol — ids are hash-stable per file.
"""

from __future__ import annotations

import sys
import tarfile
import tempfile
from pathlib import Path

TABLE_NAMES = ("experiments", "experiment", "generations", "summary")


def parse_argmap(argv: list[str]) -> dict[str, str]:
    """P20: ``:kw val`` pairs → dict (flags with no value → '')."""
    argmap: dict[str, str] = {}
    key = None
    for tok in argv:
        if tok.startswith(":"):
            if key is not None:
                argmap[key] = ""
            key = tok[1:]
        elif key is not None:
            argmap[key] = tok
            key = None
        else:
            raise SystemExit(f"positional arg {tok!r}; expected :keyword value pairs")
    if key is not None:
        argmap[key] = ""
    return argmap


def normalize_path(path: str) -> str:
    """P17: shell-escaped spaces (``"\\ "``) → plain spaces.

    Paths pasted from a shell (tab completion emits ``my\\ log.txt``)
    would otherwise fail to resolve (reference src/db_loader.clj:229)."""
    return path.replace("\\ ", " ")


def extract_tgz(path: str, workdir: str | None = None) -> str:
    """S3 (fixed): extract a .tgz of logs, return the directory of
    extracted files (the reference's ``tar czf`` created archives
    instead of extracting)."""
    out = workdir or tempfile.mkdtemp(prefix="db_loader_tgz_")
    with tarfile.open(path, "r:gz") as tf:
        tf.extractall(out, filter="data")
    return out


def main(argv: list[str] | None = None) -> int:
    import os

    from db_loader_spark.config import (
        default_config_path,
        load_config,
        save_config,
    )

    argmap = parse_argmap(argv if argv is not None else sys.argv[1:])

    # S10: the reference's ~/.db_config EDN store (load-config,
    # src/db_loader.clj:67-74,325-327). ``:config`` overrides the path.
    # An existing config supplies the output dir (data_dir), the user,
    # and the problem_name→problem_id map; explicit CLI args win.
    config_path = argmap.get("config") or default_config_path()
    config_exists = os.path.exists(config_path)
    cfg = load_config(config_path)
    csv_dir = argmap.get("csv-dir") or (cfg.data_dir if config_exists else ".")
    if not config_exists:
        # first run creates the store (README:17 promise the reference
        # broke): record THIS run's output dir as data_dir so later bare
        # runs keep writing to the same place, reference-sticky style —
        # not the reference's ~/data_dir/ default, which would silently
        # redirect output between the first and second run.
        cfg.data_dir = csv_dir

    if "clean" in argmap:
        from db_loader_spark.sinks.csv_sink import clean_csvs

        # ':clean all' means the four OUTPUT tables, never every child
        # dir of csv-dir (which defaults to cwd — rmtree there would be
        # catastrophic). Anything not in TABLE_NAMES is rejected so a
        # stray ':clean ..' or ':clean /etc' can't escape csv-dir.
        if argmap["clean"] in ("all", ""):
            tables = list(TABLE_NAMES)
        elif argmap["clean"] in TABLE_NAMES:
            tables = [argmap["clean"]]
        else:
            raise SystemExit(
                f":clean target {argmap['clean']!r} not one of "
                f"{('all',) + TABLE_NAMES}"
            )
        for p in clean_csvs(csv_dir, tables):
            print(f"removed {p}")
        # ':clean all' also resets the config store (reference parity,
        # src/db_loader.clj:252-253).
        if argmap["clean"] in ("all", "") and config_exists:
            os.remove(config_path)
            print(f"removed {config_path}")
        return 0

    if "sql" in argmap:
        # Engine surface beyond the reference loader: ad-hoc SQL over a
        # directory of parquet tables (``:data-dir``, default the config
        # data_dir) — every ``<name>.parquet`` file/dir registers as a
        # temp view. Output is TSV with a header, capped by ``:limit``
        # (default 100) so an un-LIMITed query can't flood the terminal.
        from db_loader_spark.session import get_spark
        from db_loader_spark.tables import load_table

        data_dir = argmap.get("data-dir") or csv_dir
        spark = get_spark("db_loader_sql")
        registered = []
        for entry in sorted(os.listdir(data_dir)):
            if entry.endswith(".parquet"):
                name = entry[: -len(".parquet")]
                try:
                    df = load_table(spark, data_dir, name)
                except Exception:  # non-canonical table: raw read
                    df = spark.read.parquet(os.path.join(data_dir, entry))
                df.createOrReplaceTempView(name)
                registered.append(name)
        if not registered:
            raise SystemExit(f"no .parquet tables under {data_dir!r}")
        limit = int(argmap.get("limit", "100"))
        out = spark.sql(argmap["sql"])
        rows = out.take(limit + 1)

        def cell(v) -> str:
            # TSV framing: a string value containing a tab/newline
            # would silently shift every later column — replace with
            # spaces (escaping, not truncation; the cap above already
            # bounds volume). Floats render via repr round-trip, which
            # is the shortest exact form — stable across runs.
            if v is None:
                return ""
            return str(v).replace("\t", " ").replace("\r", " ").replace("\n", " ")

        print("\t".join(out.columns))
        for r in rows[:limit]:
            print("\t".join(cell(v) for v in r))
        if len(rows) > limit:
            print(f"... (truncated at :limit {limit})", file=sys.stderr)
        return 0

    if "filename" not in argmap:
        print(__doc__)
        return 2

    from db_loader_spark.plans.clojush import parse_clojush_logs
    from db_loader_spark.session import get_spark

    path = normalize_path(argmap["filename"])
    if path.endswith((".tgz", ".tar.gz")):
        path = extract_tgz(path)
    skip_nils = argmap.get("skip-nils", "true").lower() != "false"

    # K9/save-config FIRST (reference order, src/db_loader.clj:325-327):
    # bump the run counter and register an unseen :problemname under
    # max(problem id)+1 BEFORE parsing, so this very load's JN6 join
    # already resolves the fresh problem_id (registering after the parse
    # would leave the first load's rows with a NULL problem_id).
    cfg = save_config(config_path, cfg, argmap.get("problemname"))

    spark = get_spark("db_loader_cli")
    # persist_shared: the four writes below all derive from ONE routed
    # line frame; the eager checkpoint scans, decodes and routes it once
    # instead of once per table.
    tables = parse_clojush_logs(
        spark,
        path,
        skip_nils=skip_nils,
        problem_map=cfg.problem_data,  # JN6 dim map from the config store
        problem_name=argmap.get("problemname"),
        user=argmap.get("user", cfg.user if config_exists else "spark"),
        persist_shared=True,
    )
    shared_lines = tables.pop("_shared")
    try:
        # S5/JN5: auto-detect the EDN sidecar index next to the logs and
        # append its argmap rows to the experiment EAV table, keyed by the
        # uuid embedded in each filename (src/db_loader.clj:332-336,282-292).
        p = Path(path)
        index_file = (p if p.is_dir() else p.parent) / "index.clj"
        if index_file.exists():
            from db_loader_spark.plans.clojush import append_sidecar_params

            tables["experiment"] = append_sidecar_params(
                spark, tables["experiment"], tables["experiments"], str(index_file)
            )
            print(f"joined sidecar index {index_file}")

        jdbc_url = argmap.get("jdbc-url")
        if jdbc_url:
            from db_loader_spark.sinks.jdbc_sink import jdbc_write

            for name in TABLE_NAMES:
                jdbc_write(tables[name], jdbc_url, name)
                print(f"loaded {name} via jdbc")
        else:
            _append_all(spark, tables, csv_dir)
    finally:
        from db_loader_spark.cache import free_local_checkpoint

        free_local_checkpoint(shared_lines)
    return 0


def _append_all(spark, tables: dict, csv_dir: str) -> None:
    """Append the four tables to their CSV dirs at the same time.

    Each is a single-stage job over the already materialized checkpoint,
    appending to its own dir, so running them from a small thread pool
    lets one job's straggler tail back-fill with the others' tasks
    instead of idling the executors. The JDBC branch stays sequential:
    one remote DB. Appends were never atomic ACROSS tables (a failure
    always left earlier tables appended); running them together widens
    that to in-flight siblings of a failed write — same recovery either
    way: fix the cause, ':clean', re-run."""
    from concurrent.futures import ThreadPoolExecutor

    from db_loader_spark.session import thread_target
    from db_loader_spark.sinks.csv_sink import write_csv_table

    def append(name: str) -> str:
        dest = str(Path(csv_dir) / name)
        write_csv_table(tables[name], dest)
        return f"appended {name} -> {dest}"

    with ThreadPoolExecutor(max_workers=len(TABLE_NAMES)) as pool:
        for msg in pool.map(thread_target(spark, append), TABLE_NAMES):
            print(msg)


if __name__ == "__main__":
    raise SystemExit(main())
