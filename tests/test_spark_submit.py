"""Deployment contract (north_rule): the engine must run via
``spark-submit --py-files crawlspark.zip``. This test zips the package,
copies the entrypoint OUTSIDE the repo (so imports can only resolve from
the shipped zip), submits in local mode, and checks the crawl completes
with the expected counts."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_spark_submit_py_files_end_to_end(tmp_path):
    zip_path = str(tmp_path / "crawlspark.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(REPO, "crawlspark")
        for dirpath, _, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                full = os.path.join(dirpath, f)
                z.write(full, os.path.relpath(full, REPO))
    script = str(tmp_path / "rc.py")
    shutil.copy(os.path.join(REPO, "run_crawl.py"), script)
    store = str(tmp_path / "store")

    out = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--py-files", zip_path,
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         script, "--synthetic", "120", "--store", store,
         "--round-wall", "1e9", "--per-host-cap", "100000"],
        capture_output=True, text=True, timeout=420,
        cwd=str(tmp_path),  # NOT the repo: package must come from the zip
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    res = json.loads(line)
    assert res["fetched"] > 100
    assert all(r.get("denied", 0) >= 0 for r in res["per_round"])


def test_store_uri_rejected_before_spark_starts(tmp_path):
    """The state store commits with os.rename: a ``--store`` URI must be
    refused up front, not turned into a local ``./s3:/...`` tree while
    Spark sends the tee data to the URI."""
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "run_crawl.py"),
         "--synthetic", "10", "--store", "s3://bucket/crawl_state"],
        capture_output=True, text=True, timeout=120, cwd=str(tmp_path),
    )
    assert out.returncode == 2, out.stderr[-2000:]
    assert "--store" in out.stderr
    assert not (tmp_path / "s3:").exists()
