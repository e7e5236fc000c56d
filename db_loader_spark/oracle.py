"""Local mirror of the driver's DuckDB-oracle comparison.

Runs a Spark query and its DuckDB oracle side-by-side on the same
parquet tables and compares row count, column names, and values
(order-insensitively) — so oracle breakage is caught in pytest before
the driver's CORRECTNESS gate sees it.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import duckdb
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from db_loader_spark.tables import TABLE_NAMES


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    detail: str = ""
    # the first check that failed, in ``compare``'s order: "columns",
    # "rows", "dtypes", "values"; "raised" when the query raised
    failed: str = ""


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # Bound DuckDB: its default memory limit is ~80% of system RAM and
    # the heavy oracles (recursive-CTE closures, unrolled k-means,
    # 64-vote SimHash pipelines) will happily use it — alongside the
    # Spark JVM in the same process that intermittently exhausted the
    # machine (observed: malloc failure mid-sweep). With an explicit
    # limit + temp_directory DuckDB SPILLS instead of dying; fewer
    # threads also shrinks peak concurrent allocation (the oracle is a
    # correctness mirror, not a benchmark — slow is fine, dead is not).
    import tempfile

    spill = os.path.join(tempfile.gettempdir(), "duck_oracle_spill")
    os.makedirs(spill, exist_ok=True)
    # Relative cap: a hardcoded 16GB would RAISE DuckDB's limit above
    # its default on small hosts (default is 80% of RAM). Take the
    # smaller of 16GB and 40% of detected RAM so the bound always
    # tightens, never loosens, next to the Spark JVM.
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        limit_gb = max(1, min(16, int(ram * 0.4 / 2**30)))
    except (ValueError, OSError, AttributeError):
        limit_gb = 4
    con.execute(f"SET memory_limit='{limit_gb}GB'")
    con.execute(f"SET temp_directory='{spill}'")
    con.execute("SET threads TO 8")
    _register_views(con, sf_dir)
    return con


def _register_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(path):
            continue
        if os.path.isdir(path):  # a staged table (``tables.replica``)
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")


def duck_default_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DRIVER-CONDITIONS connection: DuckDB defaults, no memory limit,
    threads = n_cpus — exactly how the external harness runs oracles.
    Only for the subprocess probes (scripts/oracle_cost.py,
    tests/test_oracle_driver_conditions.py): an oracle that only
    survives the bounded connection above is a harness-killer (r9)."""
    con = duckdb.connect()
    _register_views(con, sf_dir)
    return con


def probe_default(name: str, sf_dir: str) -> dict:
    """Run one registry oracle on a default connection; return timing
    and row count. The single shared body behind the driver-conditions
    probes — run it IN A FRESH SUBPROCESS (``python -m
    db_loader_spark.oracle <name> <sf_dir>``): a plan explosion under
    default config can terminate() the host process."""
    import time

    from db_loader_spark.queries import all_queries

    sql = all_queries()[name].oracle
    con = duck_default_connection(sf_dir)
    t0 = time.time()
    rows = len(con.execute(sql).fetchall())
    return {"name": name, "rows": rows, "wall_s": round(time.time() - t0, 2)}


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    out = out[sorted(out.columns)]
    for c in out.columns:
        col = out[c]
        if col.dtype == object:
            out[c] = col.astype(str)
        elif str(col.dtype).startswith(("float", "Float")):
            out[c] = col.astype("float64")
        elif str(col.dtype).startswith(("int", "Int", "uint", "UInt")):
            out[c] = col.astype("int64")
        elif str(col.dtype).startswith("bool"):
            out[c] = col.astype(bool)
    return out.sort_values(by=list(out.columns), ignore_index=True)


def _values_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(af) and math.isnan(bf):
            return True
        # Exact — mirrors the driver's value-hash compare. Queries are
        # designed (rounding, fixed-order FP) to be bit-identical.
        # BIT-faithful, not ==-faithful (r9 lesson): the driver's hash
        # distinguishes -0.0 from +0.0, while IEEE == does not — the
        # exact blind spot that let curation_dsir_weight ship a red
        # row. Compare sign bits when both sides are zero (the only
        # case where == reports equal across a bit difference).
        if af == 0.0 and bf == 0.0:
            return math.copysign(1.0, af) == math.copysign(1.0, bf)
        return af == bf
    return a == b


def compare(
    name: str, spark_df: DataFrame, oracle: str, con: duckdb.DuckDBPyConnection
) -> CompareResult:
    sp = spark_df.toPandas()
    du = con.execute(oracle).df()
    if sorted(sp.columns) != sorted(du.columns):
        return CompareResult(
            name, False, len(sp), len(du),
            f"column mismatch: spark={sorted(sp.columns)} duck={sorted(du.columns)}",
            "columns",
        )
    if len(sp) != len(du):
        return CompareResult(
            name, False, len(sp), len(du), "row count mismatch", "rows"
        )
    # Strict dtype parity (pre-normalization): the driver's schema check
    # may distinguish int32 from int64 etc. — catch it locally first.
    for c in sorted(sp.columns):
        a, b = str(sp[c].dtype), str(du[c].dtype)
        if a != b:
            return CompareResult(
                name, False, len(sp), len(du),
                f"dtype mismatch in {c!r}: spark={a} duck={b}",
                "dtypes",
            )
    nsp, ndu = _normalize(sp), _normalize(du)
    for col in nsp.columns:
        sv, dv = nsp[col].tolist(), ndu[col].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            if not _values_equal(a, b):
                return CompareResult(
                    name, False, len(sp), len(du),
                    f"value mismatch in {col!r} row {i}: spark={a!r} duck={b!r}",
                    "values",
                )
    return CompareResult(name, True, len(sp), len(du))


def run_all(
    spark: SparkSession, sf_dir: str, only: list[str] | None = None
) -> list[CompareResult]:
    """Compare every registry query (or the ``only`` names, which may
    also be diagnostics-tier specs) against its oracle. A query that
    raises is recorded as a failed ``CompareResult`` (rows -1, the
    exception's repr as detail) and the sweep goes on to the next."""
    from db_loader_spark.queries import all_queries, diagnostic_queries

    specs = all_queries()
    if only:
        specs = {**specs, **diagnostic_queries()}
        unknown = sorted(set(only) - set(specs))
        if unknown:
            raise KeyError(f"no registry or diagnostics query named {unknown}")
    con = duck_connection(sf_dir)
    results = []
    for name, spec in specs.items():
        if only and name not in only:
            continue
        try:
            results.append(compare(name, spec.spark(spark, sf_dir), spec.oracle, con))
        except Exception as e:  # noqa: BLE001 - recorded, sweep goes on
            results.append(CompareResult(name, False, -1, -1, repr(e), "raised"))
    return results


if __name__ == "__main__":  # python -m db_loader_spark.oracle <name> <sf_dir>
    import json as _json
    import resource as _resource
    import sys as _sys

    _out = probe_default(_sys.argv[1], _sys.argv[2])
    _out["peak_rss_mb"] = round(
        _resource.getrusage(_resource.RUSAGE_SELF).ru_maxrss / 1024
    )
    print(_json.dumps(_out))
