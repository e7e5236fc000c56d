"""Seeded replica of the registry tables the benchmark's registry keys read.

Stages ``documents``, ``events``, ``orders`` and ``lineitem`` from the
sf0.01 snapshot in ``perfbench/data`` (a verbatim copy of the repo's
sf0.01 test data, TESTDATA.md).  Each id column is re-keyed by a
seed-keyed bijection ``id -> (a * id + b) mod P`` (P prime, so ids stay
distinct, non-negative and below P; ``l_orderkey`` uses the same map as
``o_orderkey``) and the rows of every table are shuffled.  A seed thus
changes ids, md5 splits and partition placement, but never table sizes
or value distributions.

    python3 perfbench/replica.py --seed 7 --out /tmp/replica
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
P = 1_000_003  # prime above every id in the snapshot
# table -> {column: id namespace}; columns sharing a namespace share a map
ID_COLUMNS = {
    "documents": {"doc_id": "doc"},
    "events": {"event_id": "event", "user_id": "user"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
}


def generate(out: str, seed: int) -> dict[str, int]:
    """Write the re-keyed, shuffled tables under ``out``; return row counts."""
    rng = np.random.default_rng(seed)
    spaces = sorted({ns for cols in ID_COLUMNS.values() for ns in cols.values()})
    maps = {ns: (int(rng.integers(1, P)), int(rng.integers(0, P))) for ns in spaces}
    os.makedirs(out, exist_ok=True)
    rows = {}
    for name, cols in ID_COLUMNS.items():
        table = pq.read_table(os.path.join(DATA, f"{name}.parquet"))
        for col, ns in cols.items():
            a, b = maps[ns]
            ids = table[col].to_numpy().astype(np.int64)
            table = table.set_column(
                table.schema.get_field_index(col), col, pa.array((a * ids + b) % P)
            )
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(generate(args.out, args.seed))


if __name__ == "__main__":
    main()
