"""The engine session's Python workers import pyspark from the installed
package (``blacklab_spark/worker_daemon.py``): no task's
``importlib.invalidate_caches()`` re-reads a zip archive, and archives a
user ships with ``addPyFile`` still import. A ``jobs/`` session selects
the daemon only where its workers can import it."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pyarrow as pa
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(spark, kernel, n_tasks: int = 4) -> list[dict]:
    df = spark.range(n_tasks).repartition(n_tasks)
    return [json.loads(r.s) for r in df.mapInArrow(kernel, "s string").collect()]


def test_workers_hold_no_zip_importer(spark):
    def kernel(batches):
        import os
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"s": [json.dumps({
            "zip_importers": [
                k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)
            ],
            "pyspark": pyspark.__file__,
            "pyspark_is_file": os.path.isfile(pyspark.__file__),
            "path": sys.path,
        })]})

    for w in _run(spark, kernel):
        assert w["zip_importers"] == [], w
        assert w["pyspark_is_file"], w["pyspark"]
        assert not any(p.endswith(("pyspark.zip", ".jar")) for p in w["path"])


def test_user_archive_still_imports(spark, tmp_path):
    archive = tmp_path / "worker_probe_lib.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("worker_probe_lib/__init__.py", "ANSWER = 42\n")
    sc = spark.sparkContext
    sc.addPyFile(str(archive))

    def kernel(batches):
        import worker_probe_lib

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"s": [json.dumps({
            "answer": worker_probe_lib.ANSWER,
            "origin": worker_probe_lib.__file__,
        })]})

    try:
        for w in _run(spark, kernel):
            assert w["answer"] == 42
            assert "worker_probe_lib.zip" in w["origin"]
    finally:
        # later UDFs of the shared session ship without the archive
        sc._python_includes.remove(archive.name)


# a jobs/ script's session in a fresh driver that finds the package on
# its own sys.path only, started outside the repo: neither its workers'
# PYTHONPATH nor their working directory holds the package
_JOB_PROBE = """
import json, sys
sys.path.insert(0, {repo!r})
from blacklab_spark.session import submitted_spark

sc = submitted_spark("worker-probe").sparkContext

def task(x):
    import importlib.util, sys, zipimport
    return {{
        "x": x,
        "package": importlib.util.find_spec("blacklab_spark") is not None,
        "zip_importers": sum(isinstance(v, zipimport.zipimporter)
                             for v in sys.path_importer_cache.values()),
    }}

conf = sc.getConf()
print(json.dumps({{
    "daemon": conf.get("spark.python.daemon.module", None),
    "pythonpath": conf.get("spark.executorEnv.PYTHONPATH", None),
    "tasks": sc.parallelize(range(2), 2).map(task).collect(),
}}))
sc.stop()
"""


def _submitted_job(tmp_path, submit_args: str) -> dict:
    # local-cluster executors run in $SPARK_HOME/work: a home of
    # symlinks keeps that directory under tmp_path
    from pyspark.find_spark_home import _find_spark_home

    home = tmp_path / "spark_home"
    home.mkdir()
    for entry in os.scandir(_find_spark_home()):
        (home / entry.name).symlink_to(entry.path)
    env = dict(os.environ, SPARK_HOME=str(home),
               PYSPARK_SUBMIT_ARGS=f"{submit_args} pyspark-shell")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.realpath(p) != REPO
    )
    out = subprocess.run(
        [sys.executable, "-c", _JOB_PROBE.format(repo=REPO)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert out.returncode == 0 and lines, out.stderr[-3000:]
    return json.loads(lines[-1])


def test_cluster_job_keeps_stock_daemon(tmp_path):
    # executors that start their workers without the package (a
    # cluster before --py-files arrives) still run Python tasks
    got = _submitted_job(
        tmp_path, "--master local-cluster[1,1,1024] "
                  "--conf spark.executor.memory=512m")
    assert got["daemon"] is None and got["pythonpath"] is None
    assert [t["x"] for t in got["tasks"]] == [0, 1]
    assert not any(t["package"] for t in got["tasks"])


@pytest.mark.parametrize("user_path", [False, True])
def test_local_job_selects_daemon(tmp_path, user_path):
    # the daemon's path entry joins a PYTHONPATH the submit gave
    args = "--master local[2]"
    submitted_path = str(tmp_path / "libs") if user_path else None
    if submitted_path:
        args += f" --conf spark.executorEnv.PYTHONPATH={submitted_path}"
    got = _submitted_job(tmp_path, args)
    assert got["daemon"] == "blacklab_spark.worker_daemon"
    assert got["pythonpath"] == os.pathsep.join(
        p for p in (submitted_path, REPO) if p)
    for t in got["tasks"]:
        assert t["package"] and t["zip_importers"] == 0, t
