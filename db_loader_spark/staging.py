"""The one install protocol for derived, source-stamped directories.

A stage is a directory derived from source files (a re-sharded table,
a manifest history, an on-disk ANN index, a bench layout). This module
owns the three things every stage needs:

- where it lives: ``stage_path(sf_dir, tag)``;
- what it was built from: ``source_stamp(*paths)`` (size and mtime of
  each source), plus any layout suffix the caller appends;
- how it is installed: ``build_stage(stage, stamp, build)``.

Protocol: build into a builder-unique scratch, write the stamp INSIDE
the scratch as the last file, move any other generation aside with an
atomic rename, and publish with one atomic rename. Thread and process
storms pin it (tests/test_stage_build_race.py,
tests/test_multiprocess_races.py).

Reader contract:

- the stage path only ever holds a COMPLETE SINGLE-GENERATION build;
- a superseded generation is deleted when the new one installs, so a
  reader still holding paths into it (lazy parquet scans) fails loudly
  with FileNotFound on its next action — it never reads mixed values;
- a session cache over a stage must therefore key on the source stamp,
  so a re-shipped source is never served from the superseded build.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

_STAMP_FILE = "_SOURCE_STAMP"  # underscore-prefixed: parquet scans skip it


def stage_path(sf_dir: str, tag: str) -> str:
    """``<tmp>/db_loader_<tag>_<key>``, keyed by the absolute sf_dir."""
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    return os.path.join(tempfile.gettempdir(), f"db_loader_{tag}_{key}")


def source_stamp(*paths: str) -> str:
    """``size:mtime_ns`` of each path, comma-joined. Testdata can be
    re-shipped in place, so a stage keyed on a bare done-marker would
    keep serving stale derived data. A missing path stamps as ``-``:
    its build then fails loudly, and a cache keyed on it rebuilds once
    the file appears."""
    parts = []
    for p in paths:
        try:
            st = os.stat(p)
        except FileNotFoundError:
            parts.append("-")
            continue
        parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    return ",".join(parts)


def stage_current(stage: str, stamp: str) -> bool:
    """True if ``stage`` carries exactly ``stamp``. The stamp is the
    last file written into the build scratch and the scratch is renamed
    into place whole, so a validating stage is always a complete
    single-generation build."""
    try:
        with open(os.path.join(stage, _STAMP_FILE)) as f:
            return f.read() == stamp
    except OSError:
        return False


def mark_current(stage: str, stamp: str) -> None:
    """Write ``stamp`` into ``stage``. ``build_stage`` writes it last
    into its scratch. Called directly only for locations a catalog owns
    (``saveAsTable``), which cannot be renamed into place: the caller
    drops and rebuilds the whole location before stamping it, with no
    concurrent builder."""
    with open(os.path.join(stage, _STAMP_FILE), "w") as f:
        f.write(stamp)


def build_stage(stage: str, stamp: str, build) -> str:
    """Install ``build(scratch)``'s output at ``stage`` atomically and
    return ``stage``.

    - same-stamp racers: one rename wins; the loser sees the winner's
      stamp validate and discards its identical scratch copy
      (deterministic bytes, so either copy is correct);
    - different-stamp racers: the other generation is moved aside to a
      doomed name (an atomic rename) before install, so generations
      never share the live path; the last installer wins and every
      intermediate state is a complete build of one generation;
    - a reader listing files during the swap can hit FileNotFound —
      loud, never silently wrong values.

    The install retries a bounded number of times: between the
    move-aside and the rename another racer can occupy the path (its
    install rename is atomic), failing ours with ENOTEMPTY. Each
    attempt either adopts a same-stamp winner, installs, or moves the
    other generation aside; the bound only trips under a pathological
    persistent storm.
    """
    import shutil
    import uuid as _uuid

    if stage_current(stage, stamp):
        return stage
    scratch = f"{stage}.build-{_uuid.uuid4().hex[:8]}"
    try:
        # pre-create the scratch so builders that only write files
        # (gzip, manifest publishes) need no makedirs boilerplate;
        # Spark writers tolerate an existing empty dir in overwrite mode
        os.makedirs(scratch, exist_ok=True)
        build(scratch)
        mark_current(scratch, stamp)  # last write: rename publishes data + proof
        for _ in range(16):
            if stage_current(stage, stamp):
                # a same-stamp racer finished first: its copy is
                # identical — keep it live (a reader may already be on
                # it) and discard ours
                return stage
            doomed = None
            if os.path.isdir(stage):
                doomed = f"{stage}.doomed-{_uuid.uuid4().hex[:8]}"
                try:
                    os.rename(stage, doomed)  # atomic: other gen leaves the path
                except FileNotFoundError:
                    doomed = None  # a racing builder already moved it
            try:
                os.rename(scratch, stage)  # atomic: complete build lands whole
                installed = True
            except OSError:
                installed = False  # path re-occupied mid-dance: retry
            if doomed is not None:
                shutil.rmtree(doomed, ignore_errors=True)
            if installed:
                return stage
        raise RuntimeError(
            f"stage install contention did not settle after 16 attempts: {stage}"
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
