"""Driver-contract guards: the external driver consumes the registry,
bench headline list, and entry file blindly — these tests fail fast on
the drift that would otherwise only surface in the driver's round run."""

from __future__ import annotations

import inspect

from pyspark.sql import functions as F


def test_every_registry_entry_well_formed():
    from db_loader_spark.queries import all_queries

    qs = all_queries()
    assert len(qs) >= 72
    for name, spec in qs.items():
        assert callable(spec.spark), name
        # the driver calls q(spark, sf_dir) positionally
        params = [
            p
            for p in inspect.signature(spec.spark).parameters.values()
            if p.default is inspect.Parameter.empty
        ]
        assert len(params) == 2, f"{name}: signature must be (spark, sf_dir)"
        assert isinstance(spec.oracle, str) and "SELECT" in spec.oracle.upper(), (
            f"{name}: oracle must be SQL"
        )


def test_driver_window_is_exactly_sized_and_fronted():
    """The driver witnesses exactly the first DRIVER_WINDOW_SIZE
    registry keys: WINDOW must hold exactly that many names and front
    the registry — a miscounted window edit silently changes which keys
    get external evidence."""
    from db_loader_spark.queries import (
        DRIVER_WINDOW_SIZE,
        WINDOW,
        all_queries,
        diagnostic_queries,
    )

    assert len(WINDOW) == DRIVER_WINDOW_SIZE
    ordered = list(all_queries())
    assert ordered[:DRIVER_WINDOW_SIZE] == WINDOW
    # diagnostics live outside the driver registry entirely
    assert not set(diagnostic_queries()) & set(ordered)


def test_committed_window_is_derived_from_the_committed_evidence():
    """WINDOW is derive_window's output over the committed CORRECTNESS
    files and sweep artifact, and that sweep is a green run of exactly
    the registry's keys."""
    import json
    import os

    from db_loader_spark.queries import (
        GREEN,
        REPO,
        SWEEP,
        WINDOW,
        all_queries,
        derive_window,
    )

    with open(os.path.join(REPO, SWEEP)) as fh:
        sweep = json.load(fh)
    assert set(sweep) == set(all_queries())
    assert [k for k, row in sweep.items() if not all(row[f] for f in GREEN)] == []
    assert derive_window()[0] == WINDOW


def test_derive_window_rules(tmp_path):
    """Oldest green evidence first: empty and unreadable artifacts are
    no evidence, a red newest row falls back to the older green one,
    never-green keys come first, ties keep registry order, and the
    window runs cheapest-first."""
    import json

    from db_loader_spark.queries import DRIVER_WINDOW_SIZE, GREEN, SWEEP, derive_window

    keys = [f"k{i:02d}" for i in range(60)]
    green = dict.fromkeys(GREEN, True)
    red = {**green, "hash_match": False}

    def artifact(n: int, rows) -> None:
        (tmp_path / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(rows))

    artifact(1, {k: green for k in keys[:59]})
    artifact(2, {})
    (tmp_path / "CORRECTNESS_r03.json").write_text("{")
    artifact(4, {k: red if k in ("k05", "k07") else green for k in keys[:59]})
    artifact(5, {k: green for k in keys[20:59]})
    (tmp_path / SWEEP).parent.mkdir()
    # cost falls with registry position
    (tmp_path / SWEEP).write_text(
        json.dumps({k: {"s": (60 - i) / 10} for i, k in enumerate(keys)})
    )

    window, ignored = derive_window(str(tmp_path), keys)
    assert ignored == ["CORRECTNESS_r02.json", "CORRECTNESS_r03.json"]
    # k59 never green; k05/k07 newest green r01; k00-k19 r04; k20-k58
    # r05, of which registry order admits the first 29
    fronted = ["k59", "k05", "k07"] + [k for k in keys[:20] if k not in ("k05", "k07")]
    members = fronted + keys[20 : DRIVER_WINDOW_SIZE - len(fronted) + 20]
    assert len(members) == DRIVER_WINDOW_SIZE
    assert window == sorted(members, reverse=True)


def test_bench_headline_names_resolve():
    """A renamed query must break HERE, not in the driver's bench run."""
    import bench
    from db_loader_spark.queries import all_queries

    qs = all_queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert missing == []


def test_entry_module_contract():
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    assert set(oracles) <= set(qs)
    # every oracle the driver runs is a non-empty SQL string
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())


def test_sq_rerank_recall_is_exact(spark, sf_dir):
    """VERDICT r01 #3 acceptance: the engine must ship an ANN arm with
    recall ≥ 0.9 at k=3. SQ-rerank is that arm — on this corpus it is
    EXACT (1.0); a drop means the surrogate-candidate margin broke."""
    from db_loader_spark.queries.similarity import ann_recall

    rec = (
        ann_recall(spark, sf_dir)
        .filter(F.col("method") == "sq")
        .agg(F.min("recall_at_3").alias("worst"))
        .collect()[0]
    )
    assert rec.worst == 1.0


def test_bench_deadline_sheds_samples_never_rows():
    """r10: the soft budget degrades SAMPLE COUNT when the projected
    final wall exceeds budget minus the tail reserve; a healthy
    projection keeps full N_TIMED, and a zero/negative budget means
    "no deadline" rather than instant degradation (the guard for a
    misconfigured env var). r11 (ADVICE r10): the 1-sample tier
    anchors at the BUDGET — the old room*1.2 boundary (864 s) sat
    above the 780 s budget, so a run already projected past the
    number the shedding insures against still kept 2 samples."""
    import bench

    room = 780 - bench.TAIL_RESERVE_S
    assert bench._samples_for_projection(0.0, 780) == bench.N_TIMED
    # r9-weather healthy wall (~620 s) must NOT degrade at the default
    assert bench._samples_for_projection(620.0, 780) == bench.N_TIMED
    assert bench._samples_for_projection(room, 780) == bench.N_TIMED
    assert bench._samples_for_projection(room + 1, 780) == 2
    # a projection at the budget keeps 2 samples; past it drops to 1
    assert bench._samples_for_projection(780.0, 780) == 2
    assert bench._samples_for_projection(780.1, 780) == 1
    assert bench._samples_for_projection(room * 1.2, 780) == 1
    assert bench._samples_for_projection(1e9, 780) == 1
    # no-deadline sentinel: budget <= 0 never degrades
    assert bench._samples_for_projection(1e9, 0) == bench.N_TIMED
    assert bench._samples_for_projection(1e9, -1) == bench.N_TIMED
