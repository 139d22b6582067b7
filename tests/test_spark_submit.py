"""The north rule's launch path, actually executed: package the engine as a
zip, hand it to a real ``spark-submit --py-files`` subprocess (its own JVM —
no state shared with the test session), and check the job's sinks.

This is the deployment seam everything else assumes; a relative-import or
packaging regression here would pass every in-process test and still break
every cluster run (exactly what happened to the original
``spark-submit okay_spark/job.py`` form this test replaced).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import tempfile
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_spark_submit_py_files_runs_full_job(spark):
    work = tempfile.mkdtemp(prefix="okay_submit_")
    try:
        zip_path = os.path.join(work, "okay_spark.zip")
        with zipfile.ZipFile(zip_path, "w") as zf:
            pkg = os.path.join(REPO, "okay_spark")
            for root, _dirs, files in os.walk(pkg):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        zf.write(full, os.path.relpath(full, REPO))
        out_dir = os.path.join(work, "out")
        proc = subprocess.run(
            [
                SPARK_SUBMIT,
                "--master", "local[2]",
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.sql.shuffle.partitions=4",
                "--py-files", zip_path,
                os.path.join(REPO, "submit_job.py"),
                "--n-docs", "2000",
                "--output", out_dir,
                "--run-id", "submit-smoke",
            ],
            capture_output=True,
            text=True,
            timeout=420,
            cwd=work,  # NOT the repo root: the zip must be the only source of the package
        )
        assert proc.returncode == 0, proc.stderr[-4000:]
        metrics = json.loads(proc.stdout.strip().splitlines()[-1])
        assert metrics["run_id"] == "submit-smoke"
        assert metrics["battery"]["n_docs"] == 2000
        assert metrics["battery"]["n_violations"] > 0  # fixture injects errors
        # every sink the job contracts to write exists with data
        for sink in ("violations", "violations_uniqueness", "violations_referential",
                     "summaries", "summaries_by_rule", "lineage", "run_metrics"):
            path = os.path.join(out_dir, sink)
            assert os.path.isdir(path), f"missing sink {sink}"
        # the violations sink is readable and carries the contract columns
        v = spark.read.parquet(os.path.join(out_dir, "violations"))
        assert {"doc_id", "path", "rule"} <= set(v.columns)
        assert v.count() == metrics["battery"]["n_violations"]
        # the sink counts in run_metrics are observed on the writes
        # (pyspark.sql.Observation, in the submitted job's own JVM)
        written = json.loads(
            spark.read.parquet(os.path.join(out_dir, "run_metrics")).first()["metrics"]
        )

        def rows(sink):
            return spark.read.parquet(os.path.join(out_dir, sink)).count()

        assert written["duplicate_keys"] == rows("violations_uniqueness")
        assert written["unknown_media_refs"] == rows("violations_referential")
        summaries = spark.read.parquet(os.path.join(out_dir, "summaries"))
        assert summaries.agg({"n_docs": "sum"}).first()[0] == 2000
    finally:
        shutil.rmtree(work, ignore_errors=True)
