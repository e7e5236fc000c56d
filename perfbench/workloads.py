"""The benchmark's workloads: their inputs, timed ops and output checks.

Every op calls the engine only through its public entry points and
returns a handle that the untimed ``check`` verifies against results
computed outside the engine (the corpus model in ``corpus.py`` or the
repo's DuckDB oracle).  ``OPS`` are the ops each workload times;
``TRACED_OPS`` run once each, after those, in the traced run only.
"""

from __future__ import annotations

import contextlib
import glob
import io
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import pyarrow.dataset as ds

import corpus
import replica

# One timed op a workload.  On a 4-core box the session starts in about
# 12 s and an op's first call costs three to five warm calls, so one op,
# its warm-up and a few timed calls already take most of a minute.
OPS = {
    "log_load": ("clojush_load",),
    "curation": ("minhash_lsh",),
}
TRACED_OPS = {
    "log_load": ("ecj_load", "ecj_reload", "stream_drain", "stream_join"),
    "curation": ("bpe_train",),
}
REGISTRY_KEYS = {
    "stream_join": "t_stream_join",
    "minhash_lsh": "dedup_minhash_lsh",
    "bpe_train": "text_bpe_train",
}
TABLES = ("experiments", "experiment", "generations", "summary")
ECJ_TABLES = ("experiments", "experiment", "generations")
STREAM_FILES_PER_TRIGGER = 6  # two micro-batches a drain


@dataclass
class Op:
    name: str
    run: Callable[[], object]  # timed; returns what ``check`` inspects
    check: Callable[[object], str | None]  # untimed; an error text or None
    reset: Callable[[], None] | None = None  # untimed, before ``run``
    cleanup: Callable[[object], None] | None = None  # untimed, after ``check``


def _read_csv_dir(path: str):
    import pandas as pd

    parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    frames = [pd.read_csv(p, dtype=str, keep_default_na=False) for p in parts]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def _parquet(path: str):
    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()


def _mismatch(what: str, got, want) -> str | None:
    return None if got == want else f"{what}: got {got!r}, want {want!r}"


def check_clojush(tables: dict, expected: dict, sidecar: bool) -> str | None:
    """Row counts, the per-gennum checksum and the success count of the
    four Clojush tables (pandas frames) against ``expected``; without
    ``sidecar`` the argmap rows of the EDN index are not expected."""
    exp = expected["clojush"]
    want = dict(exp["tables"])
    if not sidecar:
        want["experiment"] -= exp["sidecar_rows"]
    for name in TABLES:
        err = _mismatch(f"{name} rows", len(tables[name]), want[name])
        if err:
            return err
    gens = tables["generations"]
    got = {}
    for g, grp in gens.groupby(gens["gennum"].astype(int)):
        bte = grp.loc[grp["parameter"] == "best-total-error", "value"].astype(int).sum()
        got[str(g)] = [len(grp), int(grp["value"].str.len().sum()), int(bte)]
    err = _mismatch("per-gennum checksum", got, exp["per_gennum"])
    if err:
        return err
    succ = tables["summary"]["successp"].astype(str).str.lower().eq("true").sum()
    return _mismatch("successes", int(succ), exp["successes"]) or _mismatch(
        "distinct run ids", tables["experiments"]["id"].nunique(), exp["tables"]["experiments"]
    )


def check_ecj(out: str, exp: dict, batchdates: list[str] | None = None) -> str | None:
    got = {t: _parquet(os.path.join(out, t)) for t in ECJ_TABLES}
    for what, value, want in (
        ("batches", len(got["experiments"]), exp["batches"]),
        ("distinct batch ids", got["experiments"]["batchid"].nunique(), exp["batches"]),
        ("experiment rows", len(got["experiment"]), exp["experiment"]),
        ("trials", got["experiment"]["expid"].nunique(), exp["trials"]),
        ("generation rows", len(got["generations"]), exp["generations"]),
        ("generation groups", len(got["generations"][["expid", "genid"]].drop_duplicates()), exp["gen_groups"]),
    ):
        err = _mismatch(what, int(value), want)
        if err:
            return err
    if batchdates is not None:
        return _mismatch("new batch dates", sorted(got["experiments"]["batchdate"]), batchdates)
    return None


class _Frozen:
    """An already collected pandas frame behind the two calls
    ``oracle.compare`` makes (``toPandas`` on the engine side,
    ``execute(sql).df()`` on the DuckDB side)."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf

    def execute(self, _sql):
        return self

    def df(self):
        return self.pdf


class Workload:
    """Inputs and ops of one workload over a work directory."""

    def __init__(self, name: str, spark, work: str, seed: int):
        self.name, self.spark, self.work, self.seed = name, spark, work, seed
        self.runs = 0  # per-op output dirs are numbered, never reused

    # -- set-up ---------------------------------------------------------
    def stage_inputs(self) -> None:
        """Generate the seeded inputs (no Spark work)."""
        if self.name == "log_load":
            self.corpus = os.path.join(self.work, "corpus")
            self.expected = corpus.generate(self.corpus, self.seed)
        self.sf_dir = os.path.join(self.work, "replica")
        replica.generate(self.sf_dir, self.seed)

    def stage_oracle(self) -> None:
        """Run the repo's DuckDB oracle once for each registry key used."""
        from db_loader_spark import oracle
        from db_loader_spark.queries import all_queries

        self.registry = all_queries()
        self.oracle_frames = {}
        ops = OPS[self.name] + TRACED_OPS[self.name]
        keys = [REGISTRY_KEYS[o] for o in ops if o in REGISTRY_KEYS]
        if not keys:
            return
        con = oracle.duck_connection(self.sf_dir)
        try:
            for key in keys:
                self.oracle_frames[key] = con.execute(self.registry[key].oracle).df()
        finally:
            con.close()

    # -- ops ------------------------------------------------------------
    def ops(self, names: tuple[str, ...]) -> list[Op]:
        return [getattr(self, f"_op_{name}")(name) for name in names]

    def out_dir(self, tag: str) -> str:
        self.runs += 1
        return os.path.join(self.work, "out", f"{tag}{self.runs:04d}")

    def _op_clojush_load(self, name: str) -> Op:
        from db_loader_spark.__main__ import main as cli_main

        cfg = os.path.join(self.work, "db_config.edn")

        def run():
            out = self.out_dir("clj")
            argv = [":filename", os.path.join(self.corpus, "clojush", "*.log.gz"),
                    ":csv-dir", out, ":config", cfg]
            with contextlib.redirect_stdout(io.StringIO()):
                rc = cli_main(argv)
            if rc != 0:
                raise RuntimeError(f"CLI exited {rc}")
            return out

        def check(out):
            tables = {t: _read_csv_dir(os.path.join(out, t)) for t in TABLES}
            return check_clojush(tables, self.expected, sidecar=True)

        return Op(name, run, check, cleanup=lambda out: shutil.rmtree(out, ignore_errors=True))

    def load_ecj(self, log_glob: str, existing=None) -> dict:
        from db_loader_spark.plans.ecj import load_ecj

        spark = self.spark
        return load_ecj(
            spark,
            os.path.join(self.corpus, "ecj", "params.txt"),
            os.path.join(self.corpus, "ecj", log_glob),
            spark.createDataFrame([corpus.ECJ_USER], "userid long, username string"),
            spark.createDataFrame(list(corpus.ECJ_PROBLEMS), "probid long, probname string"),
            spark.createDataFrame([corpus.ECJ_LOCATION], "locid long, location string"),
            username=corpus.ECJ_USER[1],
            location_name=corpus.ECJ_LOCATION[1],
            existing_experiments=existing,
        )

    def write_ecj(self, tables: dict, tag: str) -> str:
        out = self.out_dir(tag)
        for t in ECJ_TABLES:
            tables[t].write.mode("overwrite").parquet(os.path.join(out, t))
        return out

    def _op_ecj_load(self, name: str) -> Op:
        """The first ECJ load: the ``b*`` folders to parquet.  Its output
        stays until the reload that follows it has read it."""

        def run():
            self.ecj_first = self.write_ecj(self.load_ecj("b*/*/*.log"), "ecj")
            return self.ecj_first

        return Op(name, run, lambda out: check_ecj(out, self.expected["ecj"]["first"]))

    def _op_ecj_reload(self, name: str) -> Op:
        """Every folder again, with the first load's experiments as the
        idempotence guard's input: only the added ``n*`` batches may come
        back."""
        exp = self.expected["ecj"]

        def run():
            existing = self.spark.read.parquet(os.path.join(self.ecj_first, "experiments"))
            return self.write_ecj(self.load_ecj("*/*/*.log", existing), "reload")

        def cleanup(out):
            shutil.rmtree(out, ignore_errors=True)
            shutil.rmtree(self.ecj_first, ignore_errors=True)

        return Op(name, run, lambda out: check_ecj(out, exp["new"], exp["new_batchdates"]), cleanup=cleanup)

    def _op_stream_drain(self, name: str) -> Op:
        from db_loader_spark.streaming.file_ingest import stream_log_tables

        def run():
            out = self.out_dir("stream")
            q = stream_log_tables(
                self.spark,
                os.path.join(self.corpus, "clojush", "*.log.gz"),
                os.path.join(out, "tables"),
                os.path.join(out, "ckpt"),
                max_files_per_trigger=STREAM_FILES_PER_TRIGGER,
            )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            self.last_progress = [p for p in q.recentProgress if p["numInputRows"]]
            return out

        def check(out):
            tables = {t: _parquet(os.path.join(out, "tables", t)) for t in TABLES}
            want = -(-corpus.CLOJUSH_FILES // STREAM_FILES_PER_TRIGGER)
            # the stream must load exactly what the batch CLI loads
            return _mismatch("micro-batches", len(self.last_progress), want) or check_clojush(
                tables, self.expected, sidecar=False
            )

        return Op(name, run, check, cleanup=lambda out: shutil.rmtree(out, ignore_errors=True))

    def registry_op(self, name: str, reset=None) -> Op:
        """A registry key timed through collection of its result and
        compared with the DuckDB oracle's answer."""
        from db_loader_spark import oracle

        key = REGISTRY_KEYS[name]
        spec = self.registry[key]

        def run():
            df = spec.spark(self.spark, self.sf_dir)
            return df, df.toPandas()

        def check(out):
            res = oracle.compare(key, _Frozen(out[1]), "", _Frozen(self.oracle_frames[key]))
            return None if res.ok else f"{key} vs oracle: {res.detail}"

        def cleanup(out):
            out[0].unpersist()
            if reset is not None:
                reset()  # drop what the op cached, so nothing outlives it

        return Op(name, run, check, reset=reset, cleanup=cleanup)

    _op_stream_join = _op_minhash_lsh = registry_op

    def _op_bpe_train(self, name: str) -> Op:
        from db_loader_spark.queries.textops import _BPE_TRAINED

        # the training cache is cleared before every call: the op prices
        # training, not a cache hit
        return self.registry_op(name, reset=_BPE_TRAINED.clear)
