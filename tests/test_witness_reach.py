"""Each SURVEY.md §2.10 registry witness runs the code its row names.

A witness that carries a private copy of an operator checks the copy:
the external DuckDB comparison then says nothing about the module the
engine ships. For every mapped key, a plan-only build at sf0.001 runs
under a ``sys.setprofile`` hook, and some function defined in the row's
module must be called during it.

Three rows have no registry key that reaches their module; the tests
named in UNWITNESSED witness them instead.
"""

from __future__ import annotations

import ast
import importlib
import pathlib
import sys

import pytest

from db_loader_spark import cache
from db_loader_spark.queries import all_queries

PKG = "db_loader_spark"

# module a §2.10 row names -> the registry keys that witness it
ROWS = {
    f"{PKG}.operators.sessionize": (  # J1-J2, P14
        "j1_sessionize",
        "j2_section_routing",
        "p14_continuation_merge",
    ),
    f"{PKG}.operators.idempotence": (  # JN4, JN7
        "jn4_anti_join_idempotence",
        "jn7_fk_validation",
    ),
    f"{PKG}.plans.clojush": ("p9_summary_parse", "p_parse_suite"),  # P9, P16
    f"{PKG}.plans.ecj": ("p_parse_suite", "ecj_star"),  # P13, S6-S7
    f"{PKG}.functions.dedup": (
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_embedding_components",
        "dedup_simhash",
        "text_decontaminate",
    ),
    f"{PKG}.functions.similarity": (
        "ann_bruteforce_topk",
        "ann_lsh_topk",
        "ann_ivf_topk",
        "ann_sq_rerank",
    ),
    f"{PKG}.functions.text": (
        "text_lang_id",
        "text_quality_score",
        "text_fingerprint",
        "text_bpe_pack",
        "text_pii_scrub",
    ),
    f"{PKG}.operators.skew": ("a_salted_agg",),
    f"{PKG}.functions.multimodal": (
        "multimodal_features",
        "multimodal_frame_sample",
        "multimodal_decode_jpeg",
    ),
    f"{PKG}.functions.sketch": ("text_kmv_vocab",),
}

# rows whose registry key does not reach the named module
UNWITNESSED = {
    "a7_id_assignment": "max+1 ids over a dimension delta; operators/ids.py "
    "is witnessed by tests/test_operators.py and the log-load tests",
    "jn5_sidecar_join": "joins a derived dimension and reads no EDN; "
    "sources/edn_index.py is witnessed by tests/test_clojush_pipeline.py "
    "and tests/test_property_edn.py",
    "t_session_window": "native session_window; streaming/stateful.py is "
    "witnessed by tests/test_stateful_streaming.py",
}

CASES = [(module, key) for module, keys in ROWS.items() for key in keys]


def _files_called(build) -> set[str]:
    files: set[str] = set()

    def hook(frame, event, _arg):
        if event == "call":
            files.add(frame.f_code.co_filename)

    sys.setprofile(hook)
    try:
        build()
    finally:
        sys.setprofile(None)
    return files


@pytest.mark.parametrize(("module", "key"), CASES, ids=[f"{k}-{m}" for m, k in CASES])
def test_witness_calls_its_module(spark, sf_dir, module, key):
    target = importlib.import_module(module).__file__  # imported before the hook
    build = all_queries()[key].spark
    with cache.plan_only():
        called = _files_called(lambda: build(spark, sf_dir))
    assert target in called, f"{key} never calls into {module}"


def test_unwitnessed_rows_are_registry_keys():
    mapped = {key for _module, key in CASES}
    assert set(UNWITNESSED) <= set(all_queries()) - mapped


# Parse rules the registry witnesses share with the log plans; each
# literal must live in one helper under plans/.
STATUS = r"(SUCCESS|FAILURE) at generation (\d+)"
RUN_UUID = r"_([^_.]+)\."
KEY_SPACE = r"\s+"  # as the pattern of a regexp_replace: key normalization


def _rule_literals(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text())
    found = [
        n.value
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and n.value in (STATUS, RUN_UUID)
    ]
    for call in ast.walk(tree):
        if not isinstance(call, ast.Call):
            continue
        name = getattr(call.func, "attr", getattr(call.func, "id", None))
        if name == "regexp_replace":
            found += [
                a.value
                for a in call.args
                if isinstance(a, ast.Constant) and a.value == KEY_SPACE
            ]
    return found


def test_parse_rule_literals_live_only_in_plans():
    root = pathlib.Path(importlib.import_module(PKG).__file__).parent
    where: dict[str, list[str]] = {STATUS: [], RUN_UUID: [], KEY_SPACE: []}
    for path in sorted(root.rglob("*.py")):
        for literal in _rule_literals(path):
            where[literal].append(str(path.relative_to(root)))
    assert where == {
        STATUS: ["plans/clojush.py"],
        RUN_UUID: ["plans/clojush.py"],
        KEY_SPACE: ["plans/ecj.py"],
    }
