"""Property test (hypothesis): parse_clojush_lines against a plain-Python
model of the Clojush log grammar (src/db_loader.clj:139-209, J1/J2).

The model is written from the grammar, not from the engine: delimiter
lines (``;+$``, so ``k = v;`` counts) split a file into sections and are
consumed; the first section is the header, the last the summary, middle
sections with a ``-*-`` marker are generations, the rest noise."""

from __future__ import annotations

import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from db_loader_spark.cache import free_local_checkpoint
from db_loader_spark.operators.ids import assign_file_ids
from db_loader_spark.plans.clojush import parse_clojush_lines
from db_loader_spark.session import local_frame

DELIM = re.compile(r";+$")
MARKER = re.compile(r"-\*-")
STATUS = re.compile(r"(SUCCESS|FAILURE) at generation (\d+)")
GEN_NO = re.compile(r"(\d+)\s*$")


def _kv(line: str, sep: str) -> tuple[str, str] | None:
    if sep not in line:
        return None
    k, v = line.split(sep, 1)
    k, v = k.strip(" "), v.strip(" ")  # Spark's trim strips spaces only
    return (k, v) if k else None


def model(files: dict[str, list[str]], skip_nils: bool) -> dict[str, list[tuple]]:
    out: dict[str, list[tuple]] = {t: [] for t in ("experiment", "experiments", "generations", "summary")}
    # rows carry their file's name where the engine carries its run id
    for rid in sorted(files):
        sections: dict[int, list[str]] = {}
        sec = 0
        for line in files[rid]:
            if DELIM.search(line):
                sec += 1
            else:
                sections.setdefault(sec, []).append(line)
        if not sections:
            continue
        first, last = min(sections), max(sections)
        header = [kv for line in sections[first] if (kv := _kv(line, " = "))]
        for k, v in header:
            if not (skip_nils and v == "nil"):
                out["experiment"].append((rid, k, v))
        if header:
            def value(param: str) -> str | None:
                return max((v for k, v in header if k == param), default=None)

            out["experiments"].append((rid, value("problem-name"), value("Clojush version")))
        for sid, lines in sections.items():
            if sid in (first, last) or not any(MARKER.search(x) for x in lines):
                continue
            nums = [GEN_NO.search(x) for x in lines if MARKER.search(x)]
            gennum = max((int(m.group(1)) for m in nums if m), default=None)
            for line in lines:
                kv = None if MARKER.search(line) else _kv(line, ": ")
                if kv and not (skip_nils and kv[1] == "nil"):
                    out["generations"].append((rid, gennum, *kv))
        if last != first:
            hits = [m for line in sections[last] if (m := STATUS.search(line))]
            if hits:
                out["summary"].append(
                    (rid, any(m.group(1) == "SUCCESS" for m in hits), max(int(m.group(2)) for m in hits))
                )
    return out


def _engine(spark, files: dict[str, list[str]], skip_nils: bool, persist: bool) -> dict[str, list[tuple]]:
    rows = [(f, n, line) for f, lines in files.items() for n, line in enumerate(lines)]
    lines = local_frame(spark, rows, "file string, line_no long, line string")
    tables = parse_clojush_lines(spark, lines, skip_nils=skip_nils, persist_shared=persist)
    shared = tables.pop("_shared", None)
    names = local_frame(spark, [(f,) for f in files], "file string")
    file_of = {r["id"]: r["file"] for r in assign_file_ids(names).collect()}
    cols = {
        "experiment": ("id", "parameter", "value"),
        "experiments": ("id", "problem_name", "clojush_version"),
        "generations": ("id", "gennum", "parameter", "value"),
        "summary": ("id", "successp", "maxgen"),
    }
    out = {
        t: [(file_of[r[0]], *r[1:]) for r in tables[t].select(*c).collect()]
        for t, c in cols.items()
    }
    if shared is not None:
        free_local_checkpoint(shared)
    return out


# Line vocabulary: no '-' or '*' outside marker lines, so a marker is
# always one the test put there (the engine casts its generation number).
_word = st.text(st.sampled_from("ab01 =:;"), max_size=8)
_line = st.one_of(
    st.sampled_from(
        [
            "Clojush version = 3f9a",
            "Clojush version = 0abc",
            "problem-name = parity",
            "problem-name = nil",
            "pop = nil",
            " = orphan value",
            "err: 0.5",
            "err: nil",
            "total:  7 ",
            "noise without separator",
            ";;;;;;;;;;",
            ";",
            "k = v;",
            "SUCCESS at generation 3",
            "FAILURE at generation 12",
        ]
    ),
    st.integers(0, 99).map(lambda n: f";; -*- Report at generation {n}"),
    _word,
)
_files = st.lists(st.lists(_line, max_size=14), min_size=1, max_size=3).map(
    lambda logs: {f"f{i}": log for i, log in enumerate(logs)}
)

_CASES = {
    # header with no ' = ' line: no experiments row (and no experiment rows)
    "f0": ["noise only", ";;;", ";; -*- Report at generation 2", "a: 1", ";;", "SUCCESS at generation 2"],
    # no summary: the only section is the header
    "f1": ["Clojush version = 1", "problem-name = demo", "x = nil"],
    # consecutive delimiters (empty sections) and a noise section
    "f2": [
        "problem-name = p",
        ";;;;",
        ";;",
        "just noise",
        ";",
        ";; -*- Report at generation 5",
        "best: 0.1",
        ";;",
        "FAILURE at generation 5",
    ],
    # 'k = v;' is a delimiter, not a header parameter
    "f3": ["a = 1", "k = v;", ";; -*- Report at generation 0", "e: 2", "k = v;", "SUCCESS at generation 0"],
}


@given(files=_files, skip_nils=st.booleans(), persist=st.booleans())
@example(files=_CASES, skip_nils=True, persist=True)
@example(files=_CASES, skip_nils=False, persist=False)
@settings(max_examples=12, deadline=None)
def test_parse_clojush_lines_matches_model(spark, files, skip_nils, persist):
    got = _engine(spark, files, skip_nils, persist)
    want = model(files, skip_nils)
    for table in want:
        assert sorted(got[table], key=repr) == sorted(want[table], key=repr), table
