"""trace.trace owns every job that starts inside its window, and says
so when the status store can no longer show them all.

The CLI appends its four CSV tables from a thread pool. Under py4j's
pinned threads each pool thread has its own JVM thread; with
``PYSPARK_PIN_THREAD=false`` they share the gateway's. Either way the
trace must see the eager checkpoint of the routed lines and the four
writes, without a job group to follow.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

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

_CLI_SCRIPT = """\
import json, sys
sys.path.insert(0, {repo!r})
from db_loader_spark.__main__ import main
from db_loader_spark.session import get_spark
from db_loader_spark.trace import trace
spark = get_spark()
with trace(spark) as traced:
    rc = main([":filename", {log!r}, ":csv-dir", {out!r}, ":config", {cfg!r}])
print(json.dumps({{"rc": rc, **traced}}))
"""

_MANY_JOBS_SCRIPT = """\
import sys
sys.path.insert(0, {repo!r})
from db_loader_spark.session import get_spark
from db_loader_spark.trace import trace
spark = get_spark()
try:
    with trace(spark):
        for _ in range(40):
            spark.range(10).count()
except RuntimeError as exc:
    print(exc)
"""

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(script: str, cwd, **env_vars) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_PIN_THREAD"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g", **env_vars)
    r = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300, cwd=str(cwd), env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return r


@pytest.mark.parametrize("pin_thread", [None, "false"], ids=["pin_unset", "pin_false"])
def test_trace_sees_the_cli_pooled_writes(tmp_path, pin_thread):
    log = tmp_path / "run_u1.log"
    log.write_text(LOG)
    script = _CLI_SCRIPT.format(
        repo=REPO, log=str(log), out=str(tmp_path / "csv"), cfg=str(tmp_path / "cfg.edn")
    )
    pin = {} if pin_thread is None else {"PYSPARK_PIN_THREAD": pin_thread}
    r = _run(script, tmp_path, **pin)
    traced = json.loads(r.stdout.strip().splitlines()[-1])
    assert traced["rc"] == 0
    assert traced["sql_execs"] == 5, traced  # one checkpoint, four writes
    assert traced["jobs"] >= 5, traced


@pytest.mark.parametrize("retention", ["spark.ui.retainedJobs", "spark.ui.retainedStages"])
def test_trace_raises_when_the_store_cannot_hold_its_window(tmp_path, retention):
    r = _run(
        _MANY_JOBS_SCRIPT.format(repo=REPO),
        tmp_path,
        PYSPARK_SUBMIT_ARGS=f"--conf {retention}=10 pyspark-shell",
    )
    assert f"raise {retention}" in r.stdout, r.stdout[-2000:]
