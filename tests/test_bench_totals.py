"""bench.py sums the scaled data-path witness rows apart from the
headline value, so the headline total compares across runs."""

from __future__ import annotations


def test_scaled_witnesses_leave_headline_value():
    import bench

    timings = {"a1_distinct_pairs": 1.25, "g_pagerank": 2.0, "g_pagerank_x8": 9.5, "curation_e2e_x4": 4.0}
    assert bench._totals(timings) == (3.25, 13.5)
    assert bench._totals({"a1_distinct_pairs": 1.25}) == (1.25, 0.0)
