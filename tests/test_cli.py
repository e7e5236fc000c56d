"""Reference-parity CLI: keyword argmap parsing, tgz extraction (fixed
S3 semantics), CSV load + clean round-trip."""

from __future__ import annotations

import tarfile

import pytest

from db_loader_spark.__main__ import extract_tgz, main, normalize_path, parse_argmap

LOG = """\
p1 = v1
problem-name = demo
Clojush version = 1.2
;;;;;;;;;;
;; -*- Report at generation 0
f: 7
;;;;;;;;;;
SUCCESS at generation 0
"""


def test_parse_argmap():
    am = parse_argmap([":filename", "f.log", ":problemname", "p", ":debug"])
    assert am == {"filename": "f.log", "problemname": "p", "debug": ""}
    with pytest.raises(SystemExit):
        parse_argmap(["stray"])


def test_cli_csv_load_and_clean(spark, tmp_path):
    log = tmp_path / "run_u1.log"
    log.write_text(LOG)
    out = tmp_path / "csv"
    out.mkdir()
    rc = main([":filename", str(log), ":csv-dir", str(out), ":problemname", "demo"])
    assert rc == 0
    exp = spark.read.option("header", True).csv(str(out / "experiment"))
    assert {r.parameter for r in exp.collect()} >= {"p1", "problem-name"}
    summ = spark.read.option("header", True).csv(str(out / "summary"))
    assert summ.count() == 1
    # append semantics: second run doubles rows (reference E1 behavior)
    assert main([":filename", str(log), ":csv-dir", str(out)]) == 0
    assert spark.read.option("header", True).csv(str(out / "summary")).count() == 2
    # :clean one table, then all
    assert main([":clean", "summary", ":csv-dir", str(out)]) == 0
    assert not (out / "summary").exists()
    assert main([":clean", "all", ":csv-dir", str(out)]) == 0
    assert not (out / "experiment").exists()


def test_cli_escaped_space_path(spark, tmp_path):
    """P17: shell-escaped spaces in :filename resolve (src/db_loader.clj:229)."""
    assert normalize_path(r"runs/my\ log.txt") == "runs/my log.txt"
    log = tmp_path / "run with space.log"
    log.write_text(LOG)
    out = tmp_path / "csv"
    escaped = str(tmp_path) + r"/run\ with\ space.log"
    assert main([":filename", escaped, ":csv-dir", str(out)]) == 0
    assert spark.read.option("header", True).csv(str(out / "summary")).count() == 1


def test_cli_clean_rejects_traversal(tmp_path):
    """':clean ..' or an absolute path must never reach rmtree."""
    victim = tmp_path / "precious"
    victim.mkdir()
    (victim / "keep.txt").write_text("x")
    for bad in ("..", "precious", "/etc", "summary/../precious"):
        with pytest.raises(SystemExit):
            main([":clean", bad, ":csv-dir", str(tmp_path / "csv")])
    assert (victim / "keep.txt").exists()


def test_cli_gz_glob(spark, tmp_path):
    """S2: gzip logs read transparently through the same CLI path."""
    import gzip

    (tmp_path / "run_g1.log.gz").write_bytes(gzip.compress(LOG.encode()))
    (tmp_path / "run_g2.log.gz").write_bytes(
        gzip.compress(LOG.replace("v1", "v9").encode())
    )
    out = tmp_path / "csv"
    rc = main([":filename", str(tmp_path / "*.log.gz"), ":csv-dir", str(out)])
    assert rc == 0
    summ = spark.read.option("header", True).csv(str(out / "summary"))
    assert summ.count() == 2  # one summary row per gz log


def test_tgz_extraction_fixed(tmp_path):
    # the reference's S3 ran `tar czf` (creates!); ours must EXTRACT
    log = tmp_path / "run_a.log"
    log.write_text(LOG)
    archive = tmp_path / "runs.tgz"
    with tarfile.open(archive, "w:gz") as tf:
        tf.add(log, arcname="run_a.log")
    out = extract_tgz(str(archive), str(tmp_path / "x"))
    assert (tmp_path / "x" / "run_a.log").read_text() == LOG
    assert out == str(tmp_path / "x")


def test_cli_auto_joins_sidecar_index(spark, tmp_path):
    """S5/JN5 parity: an index.clj next to the logs is auto-detected and
    its argmap rows land in the experiment table under the run whose
    filename carries the uuid (src/db_loader.clj:332-336)."""
    log = tmp_path / "run_cafe42.log"
    log.write_text(LOG)
    (tmp_path / "index.clj").write_text(
        '{:command-maps [{:uuid "cafe42" :argmap {:max-points 50 :tourney true}}'
        ' {:uuid "nomatch" :argmap {:x 1}}]}'
    )
    out = tmp_path / "csv"
    out.mkdir()
    assert main([":filename", str(log), ":csv-dir", str(out)]) == 0
    exp = spark.read.option("header", True).csv(str(out / "experiment"))
    rows = {(r.parameter, r.value) for r in exp.collect()}
    assert ("max-points", "50") in rows
    assert ("tourney", "true") in rows  # EDN booleans render lowercase
    assert not any(p == "x" for p, _ in rows)  # unmatched uuid stays out


def test_cli_sql_over_parquet_dir(spark, tmp_path, capsys):
    """:sql registers every <name>.parquet under :data-dir as a view,
    prints a TSV header + rows, and honors :limit with a truncation
    notice on stderr."""
    spark.range(25).selectExpr("id", "id % 5 AS k").write.parquet(
        str(tmp_path / "nums.parquet")
    )
    rc = main(
        [":sql", "SELECT k, COUNT(*) AS n FROM nums GROUP BY k ORDER BY k",
         ":data-dir", str(tmp_path)]
    )
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert lines[0] == "k\tn"
    assert lines[1:] == [f"{k}\t5" for k in range(5)]

    rc = main(
        [":sql", "SELECT id FROM nums ORDER BY id",
         ":data-dir", str(tmp_path), ":limit", "3"]
    )
    assert rc == 0
    cap = capsys.readouterr()
    assert cap.out.strip().splitlines() == ["id", "0", "1", "2"]
    assert "truncated" in cap.err


def test_cli_sql_tsv_escaping(spark, tmp_path, capsys):
    """:sql output framing survives cell values containing tabs and
    newlines (ADVICE r6: raw str(v) silently shifted later columns)."""
    spark.createDataFrame(
        [(1, "a\tb\nc", "plain")], "id long, nasty string, ok string"
    ).write.parquet(str(tmp_path / "t.parquet"))
    rc = main(
        [":sql", "SELECT id, nasty, ok FROM t ORDER BY id",
         ":data-dir", str(tmp_path)]
    )
    assert rc == 0
    lines = [
        ln for ln in capsys.readouterr().out.splitlines() if ln and "\t" in ln
    ]
    # header + exactly one data row, each with exactly 3 tab-framed cells
    assert len(lines) == 2
    assert all(len(ln.split("\t")) == 3 for ln in lines)
    assert lines[1].split("\t") == ["1", "a b c", "plain"]


def test_cli_releases_shared_checkpoint(spark, tmp_path):
    """The load's shared line checkpoint is freed when main() returns,
    not whenever the ContextCleaner gets to it: no RDD blocks outlive
    the run."""
    log = tmp_path / "run_u1.log"
    log.write_text(LOG)

    def stored() -> set[int]:
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = stored()
    assert main([":filename", str(log), ":csv-dir", str(tmp_path / "csv")]) == 0
    assert stored() - before == set()


_PIN_OFF_SCRIPT = """\
import sys
sys.path.insert(0, {repo!r})
from db_loader_spark.__main__ import main
from db_loader_spark.session import get_spark, thread_target
rc = main([":filename", {log!r}, ":csv-dir", {out!r}, ":config", {cfg!r}])
assert thread_target(get_spark(), lambda: 7)() == 7
sys.exit(rc)
"""


def test_cli_write_pool_with_pinned_threads_off(tmp_path):
    """With PYSPARK_PIN_THREAD=false PySpark's inheritable_thread_target
    returns the session instead of a decorator; the CLI's write pool
    (and curation's sizing thread, same helper) must still run."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    log = tmp_path / "run_u1.log"
    log.write_text(LOG)
    out = tmp_path / "csv"
    script = _PIN_OFF_SCRIPT.format(
        repo=repo, log=str(log), out=str(out), cfg=str(tmp_path / "cfg.edn")
    )
    env = {
        **os.environ,
        "PYSPARK_PIN_THREAD": "false",
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    r = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path), env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    for name in ("experiments", "experiment", "generations", "summary"):
        assert any((out / name).glob("part-*")), name
