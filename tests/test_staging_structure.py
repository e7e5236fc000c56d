"""``staging.py`` is the only module that knows where a stage lives, how
a source is fingerprinted and how a stage is installed.

Scans the package and ``bench.py`` (the code that stages or cleans up
layouts) for the formats and for the retired install protocols."""

from __future__ import annotations

import hashlib
import os
import tempfile
from pathlib import Path

import pytest

from db_loader_spark.staging import source_stamp, stage_path

ROOT = Path(__file__).resolve().parents[1]
STAGING = ROOT / "db_loader_spark" / "staging.py"
SCANNED = sorted((ROOT / "db_loader_spark").rglob("*.py")) + [ROOT / "bench.py"]
# The lakehouse table format keeps its own commit pointer, also named
# _CURRENT; it is a table's snapshot log, not a stage install.
MANIFEST_FORMAT = {
    ROOT / "db_loader_spark" / "sinks" / "manifest.py",
    ROOT / "db_loader_spark" / "streaming" / "manifest_source.py",
    ROOT / "db_loader_spark" / "streaming" / "commit_log.py",
}


def _offenders(token: str, skip: set[Path]) -> list[str]:
    return [
        str(p.relative_to(ROOT))
        for p in SCANNED
        if p not in skip and token in p.read_text()
    ]


@pytest.mark.parametrize(
    "token", ["md5(os.path.abspath(", "st_mtime_ns", '"_SOURCE_STAMP"']
)
def test_stage_formats_live_only_in_staging(token):
    assert _offenders(token, {STAGING}) == []


@pytest.mark.parametrize(
    "token",
    ["_versioned_artifact", "_SUPERSEDED_AT", "_layout_current", "_write_stamp"],
)
def test_retired_install_protocols_are_gone(token):
    assert _offenders(token, set()) == []


def test_no_stage_pointer_outside_the_manifest_format():
    assert _offenders("_CURRENT", MANIFEST_FORMAT) == []


def test_stage_names_and_stamps_keep_their_formats(tmp_path):
    """Warm stages stay warm: the path and a one-source stamp are the
    exact strings the inline derivations produced."""
    src = tmp_path / "events.parquet"
    src.write_bytes(b"12345")
    mtime = os.stat(src).st_mtime_ns
    assert source_stamp(str(src)) == f"5:{mtime}"
    assert source_stamp(str(src), str(tmp_path / "gone")) == f"5:{mtime},-"
    key = hashlib.md5(os.path.abspath(str(tmp_path)).encode()).hexdigest()[:8]
    assert stage_path(str(tmp_path), "cdc") == os.path.join(
        tempfile.gettempdir(), f"db_loader_cdc_{key}"
    )
