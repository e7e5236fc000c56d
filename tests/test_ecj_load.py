"""End-to-end ECJ lifecycle (plans.ecj.load_ecj): parameter file + log
folder → experiments/experiment/generations star, dim-resolved,
idempotence-guarded (reference src/parse_logs_ecj.clj:41-116, completed
here; table contract scripts/create_tables.sql:1-54)."""

import pytest
from pyspark.sql import functions as F

from db_loader_spark.plans.ecj import load_ecj
from db_loader_spark.sinks.ddl import ECJ_TABLES

LOG = (
    "Generation: 0\n"
    "Fitness: 0.5\n"
    "Size : 12\n"
    "  overflow\n"
    "of Run: 1\n"
    "Best: 0.9\n"
)


@pytest.fixture(scope="module")
def dims(spark):
    users = spark.createDataFrame(
        [(1, "etosch"), (2, "other")], "userid long, username string"
    )
    problems = spark.createDataFrame(
        [(7, "the regression problem"), (8, "knapsack")],
        "probid long, probname string",
    )
    locations = spark.createDataFrame(
        [(3, "swarm"), (4, "cluster")], "locid long, location string"
    )
    return users, problems, locations


@pytest.fixture()
def ecj_dir(tmp_path):
    folder = tmp_path / "regression"
    folder.mkdir()
    for i in range(2):
        (folder / f"run{i}.log").write_text(LOG)
    (tmp_path / "params.txt").write_text("pop.size=200\nmutation = 0.1\n")
    return tmp_path


def test_load_ecj_star(spark, ecj_dir, dims):
    users, problems, locations = dims
    t = load_ecj(
        spark,
        str(ecj_dir / "params.txt"),
        str(ecj_dir / "regression"),
        users,
        problems,
        locations,
        username="etosch",
        location_name="swarm",
        id_mode="dense",
    )
    # one batch: the folder resolved against all three dims
    [batch] = t["experiments"].collect()
    assert (batch.userid, batch.probid, batch.locid) == (1, 7, 3)
    assert len(batch.batchdate) == len("2026-01-01 00:00")

    # one experiment per trial log, param-file EAV inserted per trial
    exp = t["experiment"].collect()
    assert len(exp) == 2 * 2  # 2 logs x 2 params
    assert {r.expid for r in exp} == {1, 2}
    assert {(r.param, r.value) for r in exp} == {
        ("pop.size", "200"),
        ("mutation", "0.1"),
    }
    assert all(r.batchid == batch.batchid for r in exp)

    # generations: sectioned on the boundary lines, continuation merged,
    # keys whitespace-stripped
    gen = {
        (r.expid, r.genid, r.param): r.value for r in t["generations"].collect()
    }
    assert gen[(1, 1, "Generation")] == "0"
    assert gen[(1, 1, "Fitness")] == "0.5"
    assert gen[(1, 1, "Size")] == "12   overflow"  # P14 continuation merge
    assert gen[(1, 2, "ofRun")] == "1"  # P13 key whitespace strip
    assert gen[(1, 2, "Best")] == "0.9"
    assert {k[0] for k in gen} == {1, 2}

    # schema matches the DDL contract for every star table
    for name in ("experiments", "experiment", "generations"):
        want = [c.split()[0] for c in ECJ_TABLES[name].split(", ")]
        assert t[name].columns == want


def test_load_ecj_idempotence_guard(spark, ecj_dir, dims):
    users, problems, locations = dims
    kwargs = dict(
        username="etosch", location_name="swarm", id_mode="dense"
    )
    first = load_ecj(
        spark,
        str(ecj_dir / "params.txt"),
        str(ecj_dir / "regression"),
        users,
        problems,
        locations,
        **kwargs,
    )
    again = load_ecj(
        spark,
        str(ecj_dir / "params.txt"),
        str(ecj_dir / "regression"),
        users,
        problems,
        locations,
        existing_experiments=first["experiments"],
        **kwargs,
    )
    # JN4: the whole batch (and its children) are skipped on re-load
    assert again["experiments"].count() == 0
    assert again["experiment"].count() == 0
    assert again["generations"].count() == 0


def test_load_ecj_hash_ids_stable(spark, ecj_dir, dims):
    users, problems, locations = dims
    t1 = load_ecj(
        spark,
        str(ecj_dir / "params.txt"),
        str(ecj_dir / "regression"),
        users,
        problems,
        locations,
        username="etosch",
        location_name="swarm",
    )
    t2 = load_ecj(
        spark,
        str(ecj_dir / "params.txt"),
        str(ecj_dir / "regression"),
        users,
        problems,
        locations,
        username="etosch",
        location_name="swarm",
    )
    assert sorted(t1["experiment"].collect()) == sorted(t2["experiment"].collect())
    # hash ids: one per trial file, distinct
    assert t1["experiment"].select("expid").distinct().count() == 2


def test_schemas_lockstep_with_ddl():
    """schemas.py ECJ constants and sinks.ddl.ECJ_TABLES are two
    spellings of ONE contract — drift broke a round-2 review, so it is
    now a test."""
    from db_loader_spark import schemas as S
    from db_loader_spark.sinks.ddl import ECJ_TABLES

    mapping = {
        "experiments": S.BATCHES_SCHEMA,
        "experiment": S.ECJ_EXPERIMENT_SCHEMA,
        "generations": S.ECJ_GENERATIONS_SCHEMA,
        "users": S.USERS_SCHEMA,
        "systems": S.SYSTEMS_SCHEMA,
        "problems": S.PROBLEMS_SCHEMA,
        "locations": S.LOCATIONS_SCHEMA,
    }
    assert set(mapping) == set(ECJ_TABLES)
    for name, schema in mapping.items():
        ddl_cols = [
            (c.split()[0], c.split()[1].lower())
            for c in ECJ_TABLES[name].split(", ")
        ]
        got = [(f.name, f.dataType.simpleString()) for f in schema.fields]
        assert got == ddl_cols, f"{name}: schemas.py vs ddl.py drift"


def test_ecj_star_plans_without_jobs_and_frees_its_checkpoint(spark, sf_dir):
    """Under AQE even a lazy localCheckpoint runs its shuffle stages when
    it is taken, so a plan build must take none; and a collected result
    must leave no checkpoint blocks behind."""
    from db_loader_spark import cache
    from db_loader_spark.queries.ecj import ecj_star
    from db_loader_spark.trace import trace

    with cache.plan_only():
        ecj_star(spark, sf_dir)  # warm: table schemas
        with trace(spark) as traced:
            ecj_star(spark, sf_dir)
    assert traced["jobs"] == 0, traced
    with trace(spark) as traced:
        df = ecj_star(spark, sf_dir)
        df.collect()
        df.unpersist()
    assert traced["rdds_held"] == 0, traced
