"""EDN sidecar-index source (S5, src/db_loader.clj:273-276,283-285).

The reference reads an ``index.clj`` EDN file shaped
``{:command-maps [{:uuid "..." :argmap {:param "val" ...}} ...]}`` and
joins it to log files by the uuid embedded in the filename.

EDN is driver-side config-scale data (one small file per log folder),
so we parse it in plain Python — a from-scratch subset parser for
maps/vectors/strings/numbers/keywords/bools/nil — and hand Spark a
small JVM-local DataFrame to broadcast-join (JN5). No Clojure
dependency, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class Keyword(str):
    """An EDN keyword (:foo) — behaves as its name string."""

    __slots__ = ()


def _tokenize(text: str) -> list[str]:
    tokens: list[str] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c in " \t\r\n,":
            i += 1
        elif c == ";":  # comment to EOL
            while i < n and text[i] != "\n":
                i += 1
        elif c in "{}[]()":
            tokens.append(c)
            i += 1
        elif c == '"':
            j = i + 1
            buf = []
            while j < n and text[j] != '"':
                if text[j] == "\\" and j + 1 < n:
                    esc = text[j + 1]
                    buf.append({"n": "\n", "t": "\t", '"': '"', "\\": "\\"}.get(esc, esc))
                    j += 2
                else:
                    buf.append(text[j])
                    j += 1
            tokens.append('"' + "".join(buf))
            i = j + 1
        else:
            j = i
            while j < n and text[j] not in ' \t\r\n,{}[]()";':
                j += 1
            tokens.append(text[i:j])
            i = j
    return tokens


def _parse(tokens: list[str], pos: int = 0):
    tok = tokens[pos]
    if tok == "{":
        out = {}
        pos += 1
        while tokens[pos] != "}":
            k, pos = _parse(tokens, pos)
            v, pos = _parse(tokens, pos)
            out[k] = v
        return out, pos + 1
    if tok in ("[", "("):
        close = "]" if tok == "[" else ")"
        arr = []
        pos += 1
        while tokens[pos] != close:
            v, pos = _parse(tokens, pos)
            arr.append(v)
        return arr, pos + 1
    if tok.startswith('"'):
        return tok[1:], pos + 1
    if tok.startswith(":"):
        return Keyword(tok[1:]), pos + 1
    if tok == "nil":
        return None, pos + 1
    if tok in ("true", "false"):
        return tok == "true", pos + 1
    try:
        return (float(tok) if any(ch in tok for ch in ".eE") else int(tok)), pos + 1
    except ValueError:
        return tok, pos + 1  # bare symbol → its name


def parse_edn(text: str):
    tokens = _tokenize(text)
    if not tokens:
        return None
    value, _ = _parse(tokens, 0)
    return value


def read_edn_index(spark: SparkSession, index_path: str) -> DataFrame:
    """index.clj → DataFrame(uuid, parameter, value) — argmaps exploded
    to EAV rows ready to append to the ``experiment`` table (the
    load-other-params behavior, src/db_loader.clj:282-292)."""
    with open(index_path, encoding="utf-8") as fh:
        data = parse_edn(fh.read()) or {}
    def render(v) -> str:  # EDN prints booleans/nil in lowercase
        if v is None:
            return "nil"
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    rows = []
    for cm in data.get("command-maps", []):
        uuid = str(cm.get("uuid", ""))
        for k, v in (cm.get("argmap") or {}).items():
            rows.append((uuid, str(k), render(v)))
    from db_loader_spark.session import local_frame

    return local_frame(spark, rows, "uuid string, parameter string, value string")
