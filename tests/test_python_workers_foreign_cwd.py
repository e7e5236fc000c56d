"""Registry keys and diagnostics whose plans start Python workers pass
their oracles from a foreign cwd.

The external driver builds its own session in a directory that cannot
import the package, with the package only on the driver's
``sys.path``. A ``mapInPandas`` or ``applyInPandasWithState`` closure
that reaches a module-level helper makes its Python worker import the
package there and fail. One subprocess runs every such key at sf0.001
under those conditions and compares each with its DuckDB oracle.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

# every key whose plan runs Python workers: the multimodal codecs and
# embeddings (mapInPandas) and the stateful sessions stream
# (applyInPandasWithState)
PYTHON_WORKER_KEYS = (
    "multimodal_features",
    "multimodal_frame_sample",
    "multimodal_decode_jpeg",
    "multimodal_decode_png",
    "multimodal_decode_bmp",
    "multimodal_decode_wav",
    "multimodal_embed_ann",
    "t_stream_sessions",
)

_SCRIPT = """\
import importlib.util
import json
import sys

assert importlib.util.find_spec("db_loader_spark") is None
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.driver.memory", "2g")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from db_loader_spark.oracle import run_all

results = run_all(spark, {sf_dir!r}, only={keys!r})
with open({out!r}, "w") as fh:
    json.dump({{r.name: [r.ok, r.detail] for r in results}}, fh)
spark.stop()
"""


def test_python_worker_keys_pass_their_oracles_from_a_foreign_cwd(tmp_path, sf_dir):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = tmp_path / "out.json"
    work = tmp_path / "cwd"
    work.mkdir()
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != repo
    )
    script = _SCRIPT.format(
        repo=repo, sf_dir=sf_dir, keys=list(PYTHON_WORKER_KEYS), out=str(out)
    )
    r = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=900, cwd=str(work), env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    got = json.loads(out.read_text())
    assert sorted(got) == sorted(PYTHON_WORKER_KEYS)
    bad = {name: detail for name, (ok, detail) in got.items() if not ok}
    assert not bad, bad
