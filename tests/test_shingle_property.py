"""Property tests: shingles and shingle_frame vs a pure-Python reference.

The shingle family underpins jaccard / MinHash / decontamination. For
any input text, ``shingles(text, n)`` equals the ordered n-grams of the
lowercased, whitespace-split token stream, and the (id, shingle) set of
``shingle_frame`` equals the distinct ones.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from db_loader_spark.functions.dedup import shingle_frame, shingles
from db_loader_spark.functions.text import tokens

# whitespace-heavy alphabet to stress the tokenizer's cleanup paths
_TEXT = st.text(
    alphabet=st.sampled_from(list("ab c\t\n:%.-é ")), min_size=0, max_size=60
)


def _py_ordered_shingles(text: str | None, n: int) -> list[str]:
    toks = [t for t in (text or "").lower().strip().split() if t]
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _py_shingles(text: str | None, n: int = 3) -> set[str]:
    return set(_py_ordered_shingles(text, n))


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(_TEXT, min_size=1, max_size=6))
def test_shingle_frame_matches_python(spark, texts):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got: dict[int, set[str]] = {}
    for r in shingle_frame(docs).collect():
        got.setdefault(r["id"], set()).add(r["shingle"])
    for i, t in enumerate(texts):
        assert got.get(i, set()) == _py_shingles(t), (i, t)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(st.one_of(st.none(), _TEXT), min_size=1, max_size=6))
@example(texts=[None, "", "  \t\n ", "a", "a b", "a b c", "A  b\tc  d e"])
def test_shingles_are_ordered_ngrams(spark, texts):
    """shingles(text, n) is the ordered n-gram list — duplicates kept —
    for n = 1..4, including NULL, empty, whitespace-only and
    shorter-than-n texts (all of which give an empty array)."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    ns = (1, 2, 3, 4)
    rows = (
        docs.select("doc_id", tokens(F.col("text")).alias("toks"))
        .selectExpr("doc_id", *[f"{shingles('toks', n)} AS s{n}" for n in ns])
        .collect()
    )
    for r in rows:
        t = texts[r["doc_id"]]
        for n in ns:
            assert r[f"s{n}"] == _py_ordered_shingles(t, n), (n, t)
