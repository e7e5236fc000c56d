"""scripts/driver_sim.py, run the way the external driver runs: from a
foreign cwd, with the package only on the driver's ``sys.path``."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_named_keys_pass_from_a_foreign_cwd_and_write_no_artifact(tmp_path):
    history = ROOT / "bench_history"
    before = {p.name: p.stat().st_mtime_ns for p in history.iterdir()}
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and Path(p).resolve() != ROOT
    )
    r = subprocess.run(
        [
            sys.executable, str(ROOT / "scripts" / "driver_sim.py"),
            "--sf", "/root/testdata/sf0.001", "a2_max_id", "multimodal_decode_png",
        ],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path), env=env,
    )
    assert r.returncode == 0, r.stdout[-3000:] + r.stderr[-3000:]
    rows = [line.split()[:2] for line in r.stdout.splitlines() if line.startswith(("OK", "FAIL"))]
    assert rows == [["OK", "a2_max_id"], ["OK", "multimodal_decode_png"]]
    assert {p.name: p.stat().st_mtime_ns for p in history.iterdir()} == before
