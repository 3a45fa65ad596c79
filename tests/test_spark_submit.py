"""North-rule packaging evidence: the whole job runs via ``spark-submit
--py-files`` with the package shipped as a zip (no repo on sys.path).

The application file is a copy of ``cli.py`` placed OUTSIDE the repo, so
every ``searchengine_spark.*`` import must resolve from the ``--py-files``
zip — exactly how a multi-executor cluster submission ships code to
executors (reference deployment analog: ``web/utils/check_deployment.py``
verifies the file manifest; here the manifest is the zip itself).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "searchengine_spark")
SPARK_SUBMIT = shutil.which("spark-submit")


def _make_zip(tmpdir: str) -> str:
    zpath = os.path.join(tmpdir, "searchengine_spark.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, dirs, files in os.walk(PKG):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                zf.write(full, os.path.relpath(full, REPO))
    return zpath


def _submit(tmpdir: str, zpath: str, app: str, *argv: str) -> str:
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # keep the subprocess JVM small; the pytest session JVM is also live
    env["SPARK_DRIVER_MEMORY"] = "2g"
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zpath, app, *argv],
        capture_output=True, text=True, env=env, cwd=tmpdir, timeout=420,
    )
    assert proc.returncode == 0, f"spark-submit failed:\n{proc.stderr[-4000:]}"
    return proc.stdout


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_py_files_end_to_end(spark, tmp_path):
    tmpdir = str(tmp_path)
    zpath = _make_zip(tmpdir)
    # the app file lives outside the repo: imports MUST come from the zip
    app = os.path.join(tmpdir, "app.py")
    shutil.copy(os.path.join(PKG, "cli.py"), app)

    # corpus written by the in-process session (generation isn't under test)
    from searchengine_spark.sources import webgen

    pages_path = os.path.join(tmpdir, "web_pages")
    webgen.generate_spark(spark, 300, partitions=4).write.parquet(pages_path)

    index_path = os.path.join(tmpdir, "sharded_index")
    out = _submit(
        tmpdir, zpath, app,
        "build", "--shards", "4", "--positions",
        "--input", pages_path, "--out", index_path,
    )
    built = json.loads([l for l in out.splitlines() if l.startswith("{")][-1])
    assert built["docs"] == 300 and built["n_shards"] == 4

    from searchengine_spark.sources.webgen import planted_term

    out = _submit(
        tmpdir, zpath, app,
        "query", "--index", index_path, "--top-k", "5",
        planted_term(0),
    )
    rows = [json.loads(l) for l in out.splitlines() if l.startswith("{")]
    assert rows, "query returned no results"
    assert all(r["query_id"] == 0 and r["score"] > 0 for r in rows)
    ranks = [r["rank"] for r in rows]
    assert ranks == sorted(ranks)
