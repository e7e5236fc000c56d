"""Seeded Clojush / ECJ log corpus generator with its expected results.

Writes the log grammars of FIXTURES.md A1-A4 under ``--out``:

    clojush/run_<uuid>.log.gz       A1 Clojush run logs (gzip)
    clojush/index.clj               A2 EDN sidecar, one argmap per run
    ecj/params.txt                  A4 ECJ parameter file
    ecj/b<NNN>/<problem>/trial_<k>.log     A3 ECJ logs, first load
    ecj/n<NNN>/<problem>/trial_<k>.log     A3 ECJ logs, added for the reload
    expected.json                   counts and checksums of the outputs

The expected values are computed here from a plain-Python model of the
reference grammar (src/db_loader.clj:139-209, src/parse_logs_ecj.clj:
62-123), never from the engine, so every load the benchmark times can be
checked against them.  The same seed always yields byte-identical files.

    python3 perfbench/corpus.py --seed 7 --out /tmp/corpus
"""

from __future__ import annotations

import argparse
import calendar
import gzip
import json
import os
import random
import time
import uuid

HEADER_PARAMS = (
    "population-size",
    "max-generations",
    "max-points",
    "tournament-size",
    "mutation-probability",
    "crossover-probability",
    "error-threshold",
    "parent-selection",
    "genetic-operator-probabilities",
    "use-lexicase-selection",
    "print-history",
    "random-seed",
)
GEN_PARAMS = (
    "best-total-error",
    "best-size",
    "best-mean-error",
    "median-total-error",
    "population-diversity",
    "lexicase-best-program",
)
PROBLEMS = ("regression", "knapsack", "parity", "multiplexer")
# ECJ dimension rows: every folder's last path segment must be contained
# in exactly one problem name (the reference's contains-join, new-batch
# src/parse_logs_ecj.clj:43).
ECJ_PROBLEMS = (
    (1, "symbolic regression"),
    (2, "0-1 knapsack"),
    (3, "even parity"),
    (4, "boolean multiplexer"),
)
ECJ_USER = (1, "etosch")
ECJ_LOCATION = (3, "swarm")
# ECJ folder mtimes: one hour apart, so every batch has its own
# minute-resolution batchdate (the idempotence guard's key).
ECJ_EPOCH = calendar.timegm((2024, 3, 1, 0, 0, 0))
# Corpus size, the same for every seed.
CLOJUSH_FILES = 12
ECJ_FOLDERS = 3  # first load
ECJ_NEW_FOLDERS = 1  # added for the reload
TRIALS = 3  # logs per ECJ folder


def _value(rng: random.Random) -> str:
    kind = rng.random()
    if kind < 0.08:
        return "nil"
    if kind < 0.45:
        return str(rng.randint(0, 5000))
    if kind < 0.8:
        return f"{rng.random():.6f}"
    return rng.choice(("true", "false", ":tournament", "(integer_add in1)"))


def clojush_log(rng: random.Random, problem: str) -> tuple[list[str], dict]:
    """One A1 run log as lines, and its expected rows.

    Sections are separated by ``;``-runs; section 0 is the header
    (``k = v``), the last is the summary, marked middle sections are
    generation reports (``k: v``), unmarked middle sections are noise."""
    lines = [f"Clojush version = {rng.getrandbits(28):07x}", f"problem-name = {problem}"]
    header = [("Clojush version",), ("problem-name",)]
    for p in rng.sample(HEADER_PARAMS, rng.randint(6, len(HEADER_PARAMS))):
        v = _value(rng)
        lines.append(f"{p} = {v}")
        header.append((p, v))
    lines.append("Registered instructions follow")  # no ' = ': not a param
    n_gen = rng.randint(4, 40)
    gens: dict[int, list[int]] = {}  # gennum -> [rows, value chars, best-total-error sum]
    for g in range(n_gen):
        lines.append(";" * rng.randint(3, 20))
        if rng.random() < 0.1:  # an unmarked section: noise, never parsed
            lines += ["Producing offspring...", "Installing next generation...", ";;;;;"]
        lines.append(f";; -*- Report at generation {g}")
        lines.append("Computing errors...")  # no ': ': dropped by the arity filter
        acc = gens.setdefault(g, [0, 0, 0])
        for p in GEN_PARAMS:
            if p == "best-total-error":
                v = str(rng.randint(0, 10_000))
            elif p == "lexicase-best-program":
                v = "(in1 integer_mult: 3)"  # a value holding ': ' keeps its tail
            else:
                v = _value(rng)
            pad = " " * rng.randint(1, 3)
            lines.append(f"{p}:{pad}{v}")
            if v != "nil":
                acc[0] += 1
                acc[1] += len(v)
                if p == "best-total-error":
                    acc[2] += int(v)
    lines.append(";" * 10)
    success = rng.random() < 0.4
    lines.append(f"{'SUCCESS' if success else 'FAILURE'} at generation {n_gen - 1}")
    exp_rows = sum(1 for h in header if len(h) == 1 or h[1] != "nil")
    return lines, {"experiment": exp_rows, "gens": gens, "success": success}


def ecj_log(rng: random.Random) -> list[str]:
    """One A3 ECJ trial log: ``Generation:`` / ``of Run:`` boundaries,
    keys with spaces and continuation lines without ':'.  No line holds a
    ':' without a following space: ``plans.ecj`` indexes the second half
    of the ': ' split, which fails under ANSI mode for such lines."""
    lines = []
    for g in range(rng.randint(3, 25)):
        lines.append(f"Generation: {g}")
        lines.append(f"Best Individual: {rng.random():.6f}")
        lines.append(f"Subpop 0 best fitness: {rng.random():.6f}")
        lines.append(f"Size : {rng.randint(1, 400)}")
        for _ in range(rng.randint(0, 2)):
            lines.append("   " + rng.choice(("overflow", "(+ x (* x x))", "tree depth 7")))
        lines.append(f"Evaluations: {rng.randint(100, 10_000)}")
    lines.append(f"of Run: {rng.randint(0, 9)}")
    lines.append(f"Best of run fitness: {rng.random():.6f}")
    return lines


def ecj_generation_rows(lines: list[str]) -> tuple[int, int]:
    """(EAV rows, generation groups) of one ECJ log under the reference
    rules: continuation lines fold into the previous ':'-line with one
    space, groups start at boundary lines, rows need a ': ' split with a
    non-empty whitespace-free key."""
    merged: list[str] = []
    for line in lines:
        if ":" in line:
            merged.append(line)
        elif merged:
            merged[-1] = merged[-1] + " " + line
    rows = 0
    groups = set()
    group = 0
    for line in merged:
        if "Generation:" in line or "of Run:" in line:
            group += 1
        if ": " in line:
            key, _ = line.split(": ", 1)
            if "".join(key.split()):
                rows += 1
                groups.add(group)
    return rows, len(groups)


def ecj_params(rng: random.Random) -> tuple[list[str], int]:
    lines = ["# ECJ parameter file", ""]
    for i in range(rng.randint(8, 16)):
        sep = rng.choice(("=", " = ", "= "))
        lines.append(f"pop.subpop.0.species.param{i}{sep}{rng.randint(0, 999)}")
    lines.append("stat.file=")  # empty value: kept as ''
    n_params = sum(1 for ln in lines if "=" in ln and ln.split("=", 1)[0].strip())
    return lines, n_params


def _write(path: str, lines: list[str], mtime: float | None = None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = ("\n".join(lines) + "\n").encode()
    if path.endswith(".gz"):
        with open(path, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as gz:
            gz.write(data)
    else:
        with open(path, "wb") as fh:
            fh.write(data)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def generate(out: str, seed: int) -> dict:
    """Write the corpus under ``out`` and return (and save) its expected
    results.  The ``experiment`` count includes the sidecar's argmap rows,
    which only the CLI joins; ``sidecar_rows`` says how many they are."""
    rng = random.Random(seed)
    clj_dir = os.path.join(out, "clojush")
    total = {"experiments": 0, "experiment": 0, "generations": 0, "summary": 0}
    n_success = 0
    per_gen: dict[int, list[int]] = {}
    argmaps = []
    sidecar_rows = 0
    for _ in range(CLOJUSH_FILES):
        run_id = str(uuid.UUID(int=rng.getrandbits(128)))
        lines, exp = clojush_log(rng, rng.choice(PROBLEMS))
        _write(os.path.join(clj_dir, f"run_{run_id}.log.gz"), lines)
        argmap = {"host": f"node{rng.randint(1, 64)}", "trial": rng.randint(0, 99)}
        argmaps.append((run_id, argmap))
        sidecar_rows += len(argmap)
        total["experiments"] += 1
        total["summary"] += 1
        n_success += exp["success"]
        total["experiment"] += exp["experiment"] + len(argmap)
        for g, (n, chars, bte) in exp["gens"].items():
            acc = per_gen.setdefault(g, [0, 0, 0])
            acc[0] += n
            acc[1] += chars
            acc[2] += bte
            total["generations"] += n
    edn = " ".join(
        f'{{:uuid "{u}" :argmap {{:host "{a["host"]}" :trial {a["trial"]}}}}}'
        for u, a in argmaps
    )
    _write(os.path.join(clj_dir, "index.clj"), [f"{{:command-maps [{edn}]}}"])

    ecj_dir = os.path.join(out, "ecj")
    params, n_params = ecj_params(rng)
    _write(os.path.join(ecj_dir, "params.txt"), params)
    ecj = {"first": _ecj_zero(), "new": _ecj_zero()}
    new_batchdates = []
    for i in range(ECJ_FOLDERS + ECJ_NEW_FOLDERS):
        is_new = i >= ECJ_FOLDERS
        part = "new" if is_new else "first"
        folder = f"{'n' if is_new else 'b'}{i:03d}"
        problem = rng.choice(PROBLEMS)
        mtime = ECJ_EPOCH + 3600 * i
        ecj[part]["batches"] += 1
        if is_new:
            new_batchdates.append(time.strftime("%Y-%m-%d %H:%M", time.gmtime(mtime)))
        for k in range(TRIALS):
            lines = ecj_log(rng)
            rows, groups = ecj_generation_rows(lines)
            _write(os.path.join(ecj_dir, folder, problem, f"trial_{k}.log"), lines, mtime)
            ecj[part]["trials"] += 1
            ecj[part]["experiment"] += n_params
            ecj[part]["generations"] += rows
            ecj[part]["gen_groups"] += groups

    expected = {
        "seed": seed,
        "clojush": {
            "tables": total,
            "sidecar_rows": sidecar_rows,
            "successes": n_success,
            # gennum -> [rows, summed value length, summed best-total-error]
            "per_gennum": {str(g): v for g, v in sorted(per_gen.items())},
        },
        "ecj": {**ecj, "new_batchdates": sorted(new_batchdates), "params": n_params},
    }
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
    return expected


def _ecj_zero() -> dict:
    return {"batches": 0, "trials": 0, "experiment": 0, "generations": 0, "gen_groups": 0}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    exp = generate(args.out, args.seed)
    print(json.dumps(exp["clojush"]["tables"]))


if __name__ == "__main__":
    main()
