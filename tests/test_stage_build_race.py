"""Thread-storm witnesses for the scratch+rename stage-build protocol
(``staging.build_stage``).

An in-place protocol (clear + write chunks + stamp last) can
interleave under two sessions racing a LAYOUT TRANSITION into a
mixed-generation stage whose stamp validates while stale chunks from
the other generation linger — and the file-source stream reads every
parquet in the dir, so the mix silently changes VALUES. These tests
pin the invariant the protocol buys: the stage path only ever holds
COMPLETE SINGLE-GENERATION builds, under both same-stamp and
different-stamp racers, with no scratch/doomed residue left behind.

Pure-filesystem tests (no Spark): build_stage is layout-agnostic —
the real callers pass Spark writers as the build fn, but the protocol
under test is the install dance itself.
"""

from __future__ import annotations

import os
import threading
import time

from db_loader_spark.staging import build_stage as _build_stage, stage_current as _stage_current

N_THREADS = 8
N_ROUNDS = 6


def _write_generation(scratch: str, gen: str, n_files: int) -> None:
    """Simulate a multi-file stage build with interleave-widening
    sleeps between file writes (what made the in-place protocol mix)."""
    os.makedirs(scratch, exist_ok=True)
    for i in range(n_files):
        with open(os.path.join(scratch, f"{gen}_{i}.parquet"), "w") as f:
            f.write(gen)
        time.sleep(0.001)


def _generation_of(stage: str) -> set[str]:
    return {f for f in os.listdir(stage) if f.endswith(".parquet")}


def _assert_single_generation(stage: str, expected: dict[str, set[str]]) -> str:
    """The live stage must be EXACTLY one generation's complete file
    set — any union/subset is the mixed/torn state the protocol bans."""
    files = _generation_of(stage)
    for gen, fileset in expected.items():
        if files == fileset:
            return gen
    raise AssertionError(f"mixed or torn stage: {sorted(files)}")


def _assert_no_residue(parent: str) -> None:
    leftovers = [
        d for d in os.listdir(parent) if ".build-" in d or ".doomed-" in d
    ]
    assert leftovers == [], leftovers


def test_storm_layout_transition_single_generation(tmp_path):
    """Many threads racing the SAME layout transition (stale 4-shard
    stage → 2-shard stamp): every intermediate and the final state is
    a complete single-generation dir, no thread errors, no residue."""
    stage = str(tmp_path / "stage")
    old_files = {f"old_{i}.parquet" for i in range(4)}
    _write_generation(stage, "old", 4)
    with open(os.path.join(stage, "_SOURCE_STAMP"), "w") as f:
        f.write("src:shards4")

    new_stamp = "src:shards2"
    new_files = {f"new_{i}.parquet" for i in range(2)}
    expected = {"old": old_files, "new": new_files}
    errors: list[BaseException] = []
    barrier = threading.Barrier(N_THREADS)

    def racer():
        barrier.wait()
        for _ in range(N_ROUNDS):
            try:
                _build_stage(
                    stage, new_stamp, lambda s: _write_generation(s, "new", 2)
                )
                # post-install observation: never a mixed generation
                _assert_single_generation(stage, expected)
            except FileNotFoundError:
                # observed during another racer's swap window — loud
                # crash-class by contract, not an invariant breach
                pass
            except BaseException as e:  # noqa: BLE001 — collected for assert
                errors.append(e)

    threads = [threading.Thread(target=racer) for _ in range(N_THREADS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert errors == [], errors
    assert all(not t.is_alive() for t in threads)
    assert _stage_current(stage, new_stamp)
    assert _assert_single_generation(stage, expected) == "new"
    _assert_no_residue(str(tmp_path))


def test_storm_opposing_layouts_never_mix(tmp_path):
    """The worst case the in-place protocol lost: two cohorts racing
    OPPOSING layout transitions (A rebuilds at 4 shards, B at 2) on
    one stage path. Whoever wins, the live dir must be one complete
    generation with its matching stamp — never a union of both."""
    stage = str(tmp_path / "stage")
    stamps = {"a": "src:shardsA", "b": "src:shardsB"}
    gens = {
        "a": {f"a_{i}.parquet" for i in range(4)},
        "b": {f"b_{i}.parquet" for i in range(2)},
    }
    errors: list[BaseException] = []
    barrier = threading.Barrier(N_THREADS)

    def racer(gen: str, n: int):
        barrier.wait()
        for _ in range(N_ROUNDS):
            try:
                _build_stage(
                    stage,
                    stamps[gen],
                    lambda s, g=gen, k=n: _write_generation(s, g, k),
                )
                live = _generation_of(stage)
                if live not in (gens["a"], gens["b"]):
                    raise AssertionError(f"mixed stage observed: {sorted(live)}")
            except FileNotFoundError:
                # a reader-side listing race during a swap is loud
                # crash-class by contract, not an invariant breach
                pass
            except BaseException as e:  # noqa: BLE001
                errors.append(e)

    threads = [
        threading.Thread(target=racer, args=("a", 4) if i % 2 else ("b", 2))
        for i in range(N_THREADS)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert errors == [], errors
    assert all(not t.is_alive() for t in threads)
    winner = _assert_single_generation(stage, gens)
    assert _stage_current(stage, stamps[winner])
    _assert_no_residue(str(tmp_path))


def test_warm_stage_is_served_without_rebuilding(tmp_path):
    stage = str(tmp_path / "stage")
    calls = []

    def build(s):
        calls.append(1)
        _write_generation(s, "g", 2)

    assert _build_stage(stage, "stamp1", build) == stage
    assert _build_stage(stage, "stamp1", build) == stage
    assert len(calls) == 1  # warm fast path: no rebuild, no reinstall


def test_same_stamp_loser_keeps_winners_live_copy(tmp_path):
    """A same-stamp racer that finishes building AFTER the winner
    installed must keep the winner's dir live (a reader may already be
    streaming it) and discard its own identical scratch copy."""
    stage = str(tmp_path / "stage")
    stamp = "src:shards2"

    def winner_build(s):
        _write_generation(s, "win", 2)

    def loser_build(s):
        # the racing winner completes a full install mid-build
        _build_stage(stage, stamp, winner_build)
        _write_generation(s, "lose", 2)

    _build_stage(stage, stamp, loser_build)
    assert _stage_current(stage, stamp)
    # winner's inode survived — the loser did not swap it out
    assert _generation_of(stage) == {f"win_{i}.parquet" for i in range(2)}
    _assert_no_residue(str(tmp_path))


def test_failed_build_leaves_prior_stage_live_and_no_residue(tmp_path):
    stage = str(tmp_path / "stage")
    _build_stage(stage, "stamp1", lambda s: _write_generation(s, "g1", 2))

    def broken(s):
        _write_generation(s, "g2", 1)
        raise RuntimeError("simulated mid-build crash")

    try:
        _build_stage(stage, "stamp2", broken)
    except RuntimeError:
        pass
    else:  # pragma: no cover
        raise AssertionError("build error must propagate")
    # the prior generation is untouched and still current
    assert _stage_current(stage, "stamp1")
    assert _generation_of(stage) == {f"g1_{i}.parquet" for i in range(2)}
    _assert_no_residue(str(tmp_path))
