"""Cross-PROCESS storms for the lock-free commit protocols.

The thread storms witness the invariants under concurrent threads, but
both protocols' real contract is concurrent SESSIONS — separate
processes (a bench run racing a test session). Threads share the GIL,
which serializes bytecode and can mask interleavings that real
processes hit; these tests re-run the storms across genuine fork
boundaries:

- ``staging.build_stage``: N processes race the same layout transition
  (and an opposing-layouts variant) on one stage path. Invariant: the
  live dir is only ever a COMPLETE SINGLE-GENERATION build; no
  scratch/doomed residue; every process exits 0.
- the manifest commit: N processes race append commits against one
  table root. Invariant: no commit is lost and the lineage is
  contiguous.

Workers rendezvous on a start-marker file (subprocess spawn jitter
would otherwise serialize them) and re-check the invariants after
every call, so a violation is attributed to the protocol, not the
final state. Workers import only the pure-filesystem helpers — no
SparkSession is created in any subprocess.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_STAGE_WORKER = """
import os, sys, time
sys.path.insert(0, {repo!r})
from db_loader_spark.staging import build_stage as _build_stage, stage_current as _stage_current

stage, start_marker, gen, n_files, rounds = (
    sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4]), int(sys.argv[5])
)
GENS = {{"new": {{f"new_{{i}}.parquet" for i in range(2)}},
        "old": {{f"old_{{i}}.parquet" for i in range(4)}},
        "b":   {{f"b_{{i}}.parquet" for i in range(3)}}}}

def build(scratch):
    os.makedirs(scratch, exist_ok=True)
    for i in range(n_files):
        with open(os.path.join(scratch, f"{{gen}}_{{i}}.parquet"), "w") as f:
            f.write(gen)
        time.sleep(0.001)

while not os.path.exists(start_marker):
    time.sleep(0.001)
for _ in range(rounds):
    _build_stage(stage, f"src:{{gen}}", build)
    try:
        live = {{f for f in os.listdir(stage) if f.endswith(".parquet")}}
    except FileNotFoundError:
        continue  # another racer's swap window: loud crash-class, ok
    if live not in GENS.values():
        print("MIXED:", sorted(live), file=sys.stderr)
        sys.exit(7)
print("ok")
"""

def _run_storm(script: str, args_per_proc: list[list[str]], start_marker: str):
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, *args],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for args in args_per_proc
    ]
    time.sleep(1.0)  # let every worker reach the rendezvous spin
    with open(start_marker, "w") as f:
        f.write("go")
    out = [(p.wait(timeout=120), *p.communicate()) for p in procs]
    for rc, stdout, stderr in out:
        assert rc == 0, (rc, stdout, stderr[-2000:])
    return out


def test_stage_build_cross_process_layout_transition(tmp_path):
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    for i in range(4):
        with open(os.path.join(stage, f"old_{i}.parquet"), "w") as f:
            f.write("old")
    with open(os.path.join(stage, "_SOURCE_STAMP"), "w") as f:
        f.write("src:old")

    start = str(tmp_path / "go")
    script = _STAGE_WORKER.format(repo=REPO)
    _run_storm(script, [[stage, start, "new", "2", "6"]] * 6, start)

    live = {f for f in os.listdir(stage) if f.endswith(".parquet")}
    assert live == {f"new_{i}.parquet" for i in range(2)}
    with open(os.path.join(stage, "_SOURCE_STAMP")) as f:
        assert f.read() == "src:new"
    residue = [
        d for d in os.listdir(tmp_path) if ".build-" in d or ".doomed-" in d
    ]
    assert residue == []


def test_stage_build_cross_process_opposing_layouts(tmp_path):
    stage = str(tmp_path / "stage")
    start = str(tmp_path / "go")
    script = _STAGE_WORKER.format(repo=REPO)
    args = [
        [stage, start, ("new" if i % 2 else "b"), ("2" if i % 2 else "3"), "6"]
        for i in range(6)
    ]
    _run_storm(script, args, start)

    live = {f for f in os.listdir(stage) if f.endswith(".parquet")}
    assert live in (
        {f"new_{i}.parquet" for i in range(2)},
        {f"b_{i}.parquet" for i in range(3)},
    ), sorted(live)
    residue = [
        d for d in os.listdir(tmp_path) if ".build-" in d or ".doomed-" in d
    ]
    assert residue == []


_MANIFEST_WORKER = """
import os, sys, time
sys.path.insert(0, {repo!r})
from db_loader_spark.sinks.manifest import _commit_staged, _read_pointer, snapshots

root, start_marker, wid, rounds = (
    sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
)
while not os.path.exists(start_marker):
    time.sleep(0.001)
for i in range(rounds):
    sid = f"w{{wid}}-c{{i}}"
    staged = os.path.join(root, "data", sid)
    os.makedirs(staged, exist_ok=True)
    with open(os.path.join(staged, "part-0.parquet"), "w") as f:
        f.write(sid)
    out = None
    og, ob = _read_pointer(root)
    out = _commit_staged(
        root, sid, [os.path.join("data", sid, "part-0.parquet")],
        new_meta={{}}, append=True, parent_check=True,
        inherit_files=None, inherit_meta=None,
        observed_gen=og, observed=ob,
    )
    if out != sid:
        print("BAD-RETURN:", sid, out, file=sys.stderr)
        sys.exit(7)
    chain = snapshots(root)
    if sid not in chain:
        print("LOST:", sid, chain, file=sys.stderr)
        sys.exit(7)
print("ok")
"""


def test_manifest_commit_cross_process_storm(tmp_path):
    """N processes race APPEND commits against one manifest root
    through the REAL commit protocol — ``_commit_staged`` with its
    manifest rebuild-and-retry loop over the ``os.link`` generation
    CAS (``publish`` minus only Spark's parquet staging, which is
    parent-independent and uncontended).
    Invariants: every process exits 0; every commit is in the final
    lineage (NO lost snapshot — the upgrade's headline guarantee);
    each lineage step strictly grows the file set (appends serialized,
    nothing clobbered); the final snapshot lists every staged file
    exactly once; and the generation log is contiguous with exactly
    one entry per commit.

    Sizing note: 4 workers x 5 commits keeps the worst-case
    interference for one commit (3 x 5 = 15 rival commits landing
    while it retries) strictly under _COMMIT_RETRIES=16, so even an
    adversarial scheduler cannot produce a spurious retry-exhaustion
    failure."""
    from db_loader_spark.sinks import manifest as M

    root = str(tmp_path / "tbl")
    # bootstrap commit so every worker contends on a non-empty root
    os.makedirs(os.path.join(root, "_manifests"))
    staged = os.path.join(root, "data", "base")
    os.makedirs(staged)
    with open(os.path.join(staged, "part-0.parquet"), "w") as f:
        f.write("base")
    M._commit_staged(
        root, "base", [os.path.join("data", "base", "part-0.parquet")],
        new_meta={}, append=True, parent_check=True,
        inherit_files=None, inherit_meta=None,
        observed_gen=0, observed=None,
    )
    marker = str(tmp_path / "go")
    n_procs, rounds = 4, 5
    script = _MANIFEST_WORKER.format(repo=REPO)
    _run_storm(
        script,
        [[root, marker, str(w), str(rounds)] for w in range(n_procs)],
        marker,
    )
    chain = M.snapshots(root)
    want = {"base"} | {
        f"w{w}-c{i}" for w in range(n_procs) for i in range(rounds)
    }
    assert set(chain) == want  # every process's every commit landed
    prev: set[str] = set()
    for sid in chain:
        listed = M._manifest(root, sid)["files"]
        files = set(listed)
        assert len(files) == len(listed), f"{sid} double-lists a file"
        assert prev < files, f"{sid} dropped an ancestor's files"
        prev = files
    assert len(prev) == len(want)  # final snapshot: each staged file once
    gens = sorted(
        int(e)
        for e in os.listdir(os.path.join(root, M._GEN))
        if e.isdigit()
    )
    assert gens == list(range(1, len(want) + 1))
