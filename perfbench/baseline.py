"""Record a set of benchmark runs as an archived baseline.

Runs ``run.py`` once per seed on every workload with tracing off, then
once more per workload with tracing on, and writes every result line to
one JSON file labelled with the box's core count:

    python3 perfbench/baseline.py --seeds 1-10 --seconds 15 \\
        --out perfbench/baseline/cpus4-set1.json

Each end-to-end metric's median and quartile spread (the distance between
the first and third quartile as a share of the median) is printed and
stored with the runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

import run
import workloads


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=run.ROOT, capture_output=True, text=True, check=True)
    summary = json.loads(proc.stderr.strip().splitlines()[-1])
    return {"result": json.loads(proc.stdout.strip().splitlines()[-1]), "summary": summary}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    first, last = (int(x) for x in args.seeds.split("-"))
    cpus, mem_gb = run.box_size()
    archive = {"cpus": cpus, "driver_mem_gb": mem_gb, "seconds": args.seconds,
               "seeds": [first, last], "runs": {}, "traced": {}, "spreads": {}}
    for wl in workloads.OPS:
        runs = [one_run(wl, seed, args.seconds, 0) for seed in range(first, last + 1)]
        archive["runs"][wl] = [r["result"] for r in runs]
        archive["traced"][wl] = one_run(wl, last + 1, args.seconds, 1)
        archive["spreads"][wl] = {
            name: spread([r["result"]["metrics"][name]["value"] for r in runs])
            for name, _ in run.END_TO_END
        }
        for name, s in archive["spreads"][wl].items():
            print(f"{wl:10s} {name:8s} median {s['median']:8.3f}  spread {s['spread']:.3f}", flush=True)
        archive.setdefault("summaries", {})[wl] = [r["summary"] for r in runs]
    with open(args.out, "w") as fh:
        json.dump(archive, fh, indent=1)


if __name__ == "__main__":
    main()
