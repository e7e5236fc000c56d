"""Per-oracle DuckDB cost probe, DRIVER-CONDITIONS mirror.

The external correctness harness runs each oracle on ITS OWN DuckDB
connection with DEFAULT settings (no memory_limit, threads = n_cpus)
next to a live Spark JVM. Two consecutive empty CORRECTNESS artifacts
(r7, r8) traced to exactly this config: the non-materialized trainer
CTEs exploded under default threads and std::bad_alloc killed the
harness (fix: similarity.py _KM_CELLS_CTES, r9). This probe runs every
registry oracle the driver's way — default connection, each in a
FRESH SUBPROCESS (`python -m db_loader_spark.oracle`, the shared body
tests/test_oracle_driver_conditions.py also uses) — and flags any
oracle that crashes, hangs past the per-key timeout, or exceeds the
wall/RSS thresholds. MANDATORY for new/changed oracles (see the
registry docstring and the verify skill). Exit code 1 if any suspect.

Usage: python scripts/oracle_cost.py [sf_dir] [--window-only]
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PER_KEY_TIMEOUT_S = 600


def main() -> int:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1 and not sys.argv[1].startswith("-")
        else "/root/testdata/sf0.01"
    )
    window_only = "--window-only" in sys.argv
    from db_loader_spark.queries import WINDOW, all_queries

    names = list(WINDOW if window_only else all_queries())
    worst: list = []
    for name in names:
        try:
            r = subprocess.run(
                [sys.executable, "-m", "db_loader_spark.oracle", name, sf_dir],
                capture_output=True,
                text=True,
                timeout=PER_KEY_TIMEOUT_S,
                cwd=REPO,
            )
        except subprocess.TimeoutExpired:
            # a hung oracle is precisely the class this probe hunts —
            # record it and keep sweeping (the summary must print)
            print(json.dumps({"name": name, "error": f"TIMEOUT>{PER_KEY_TIMEOUT_S}s"}))
            worst.append((name, "TIMEOUT"))
            continue
        if r.returncode != 0:
            print(json.dumps({"name": name, "error": r.stderr[-300:]}))
            worst.append((name, "CRASH"))
            continue
        try:
            line = r.stdout.strip().splitlines()[-1]
            d = json.loads(line)
            wall, rss = d["wall_s"], d["peak_rss_mb"]
        except (IndexError, ValueError, KeyError, TypeError):
            # rc=0 but the stdout tail is not the probe dict (stray
            # atexit prints, empty stdout, bare JSON scalar): record
            # and keep sweeping — the SUSPECTS summary must always
            # print (r9 review, both passes)
            print(json.dumps({"name": name, "error": "BAD-OUTPUT"}))
            worst.append((name, "BAD-OUTPUT"))
            continue
        print(line, flush=True)
        if wall > 20 or rss > 4096:
            worst.append((name, d))
    print("---")
    print("SUSPECTS:", json.dumps(worst) if worst else "none")
    return 1 if worst else 0


if __name__ == "__main__":
    sys.exit(main())
