"""Every top-level package definition has a caller.

A ``def`` or ``class`` at module level in ``db_loader_spark/`` must
occur, as a whole word, somewhere other than its own definition line
in the package, ``bench.py``, ``__spark_entry__.py``, ``perfbench/``
or ``scripts/``. Tests do not count as callers: code that only its own
tests reach serves no registry key, CLI path or bench row.

A definition whose only callers are outside this repository (a public
API a SURVEY row names) is listed in ``EXCEPTIONS`` with that row.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "db_loader_spark"
CALLER_PATHS = ("db_loader_spark", "bench.py", "__spark_entry__.py", "perfbench", "scripts")

# name -> the SURVEY row that makes it public API with no in-repo caller
EXCEPTIONS = {
    "create_all": "K7 (sinks/ddl.py: create the ECJ tables)",
    "drop_all": "K7 (sinks/ddl.py: drop the ECJ tables)",
    "parse_ecj_log": "S7 (plans/ecj.py: parse one ECJ log)",
    "jdbc_read_options": "S8-S9 (sinks/jdbc_sink.py: JDBC query source options)",
}

_WORD = re.compile(r"\w+")


def _caller_words() -> Counter:
    words: Counter = Counter()
    for rel in CALLER_PATHS:
        p = ROOT / rel
        for path in sorted(p.rglob("*.py")) if p.is_dir() else [p]:
            words.update(_WORD.findall(path.read_text()))
    return words


def _top_level_defs() -> Counter:
    defs: Counter = Counter()
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[node.name] += 1
    return defs


def test_every_top_level_definition_has_a_caller():
    words = _caller_words()
    orphans = sorted(
        name
        for name, n_defs in _top_level_defs().items()
        if words[name] <= n_defs and name not in EXCEPTIONS
    )
    assert not orphans, (
        f"top-level definitions with no caller outside tests: {orphans} — "
        "delete them, or name the SURVEY row that needs them in EXCEPTIONS"
    )


def test_exceptions_are_still_orphans_and_defined():
    """An exception that gained a caller, or whose definition is gone,
    is stale and must leave the list."""
    defs, words = _top_level_defs(), _caller_words()
    for name in EXCEPTIONS:
        assert name in defs, f"{name}: exception names no definition"
        assert words[name] <= defs[name], f"{name}: has a caller now; drop the exception"
