"""lsh_candidate_pairs emits each pair once, from its first colliding band.

The band self-join keeps a joined row only in the lowest-numbered band
whose components all agree, instead of de-duplicating afterwards. These
tests hand-write signature rows whose band overlaps are known, and
compare against a pure-Python banding of the same rows.
"""

from __future__ import annotations

import pytest

from db_loader_spark import cache
from db_loader_spark.functions import dedup as D
from db_loader_spark.session import local_frame

NUM_HASHES = 8
SIG_DDL = "id long, " + ", ".join(f"h{i} long" for i in range(NUM_HASHES))


def _sig(base: int, equal_to: list[int] | None = None, shared: set[int] = frozenset()):
    """Eight components from ``base``; those at positions in ``shared``
    are copied from ``equal_to`` instead."""
    own = [base + i for i in range(NUM_HASHES)]
    return [equal_to[i] if i in shared else own[i] for i in range(NUM_HASHES)]


def _rows():
    # (1, 2): equal in all four 2-row bands -> est_sim 8/8
    s1 = _sig(100)
    # (3, 4): equal in bands 1 and 3 only -> est_sim 4/8
    s3 = _sig(200)
    s4 = _sig(300, s3, {2, 3, 6, 7})
    # (5, 6): one shared band (band 2) -> est_sim 2/8
    s5 = _sig(400)
    s6 = _sig(500, s5, {4, 5})
    sigs = {1: s1, 2: list(s1), 3: s3, 4: s4, 5: s5, 6: s6}
    return [(i, *h) for i, h in sigs.items()]


def _py_pairs(rows, band_size: int, min_est_sim: float | None):
    """Sorted (doc_a, doc_b, est_sim) rows of a plain-Python banding."""
    out = []
    for a in rows:
        for b in rows:
            if a[0] >= b[0]:
                continue
            ha, hb = a[1:], b[1:]
            collides = any(
                ha[k : k + band_size] == hb[k : k + band_size]
                for k in range(0, NUM_HASHES, band_size)
            )
            est = round(sum(x == y for x, y in zip(ha, hb)) / NUM_HASHES, 4)
            if collides and (min_est_sim is None or est >= min_est_sim):
                out.append((a[0], b[0], est))
    return sorted(out)


def _collect(df):
    return sorted((r["doc_a"], r["doc_b"], r["est_sim"]) for r in df.collect())


def test_first_band_emits_each_pair_once(spark):
    sig = local_frame(spark, _rows(), SIG_DDL)
    got = _collect(
        D.lsh_candidate_pairs(sig, NUM_HASHES, band_size=2, min_est_sim=0.375)
    )
    assert got == [(1, 2, 1.0), (3, 4, 0.5)]


@pytest.mark.parametrize("band_size", [1, 2, 4, 8])
@pytest.mark.parametrize("min_est_sim", [None, 0.375])
def test_first_band_matches_python_banding(spark, band_size, min_est_sim):
    rows = _rows()
    sig = local_frame(spark, rows, SIG_DDL)
    got = _collect(D.lsh_candidate_pairs(sig, NUM_HASHES, band_size, min_est_sim=min_est_sim))
    assert got == _py_pairs(rows, band_size, min_est_sim)


def test_tuned_band_size_emits_each_pair_once(spark):
    """The self-tuning path (band_size=None) persists the signature for
    the tuner and then joins with the same first-band rule."""
    rows = _rows()
    sig = local_frame(spark, rows, SIG_DDL)
    cache.release()
    try:
        width = D.tuned_band_size(sig, NUM_HASHES)
        got = _collect(
            D.lsh_candidate_pairs(sig, NUM_HASHES, band_size=None, min_est_sim=0.375)
        )
        assert len(cache._tracked()) == 1
    finally:
        cache.release()
    assert got == _py_pairs(rows, width, 0.375)
    assert (1, 2, 1.0) in got


def test_fixed_band_size_persists_nothing(spark):
    sig = local_frame(spark, _rows(), SIG_DDL)
    cache.release()
    D.lsh_candidate_pairs(sig, NUM_HASHES, band_size=2, min_est_sim=0.375)
    assert not cache._tracked()
