"""T1: the spark-submit --py-files packaging path, executed for real.

Builds dist/pyfiles.zip, then runs job.py via spark-submit in local mode
from a scratch cwd (so the package can ONLY be imported from the zip) and
checks the committed results + lineage output."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

def test_spark_submit_pyfiles_job(spark, tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # fresh zip
    subprocess.run([sys.executable, os.path.join(repo, "tools", "package.py")],
                   check=True, capture_output=True)
    zip_path = os.path.join(repo, "dist", "pyfiles.zip")

    # small documents input
    docs_in = str(tmp_path / "docs_in")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(40) \
        .write.parquet(docs_in)

    out_dir = str(tmp_path / "job_out")
    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(shutil.which("pyspark") or sys.executable), "spark-submit"
    )
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", zip_path,
            os.path.join(repo, "job.py"),
            "--input", docs_in,
            "--output", out_dir,
            "--run-id", "submit_test",
        ],
        cwd=str(tmp_path),  # NOT the repo: import must resolve via --py-files
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    results = spark.read.parquet(os.path.join(out_dir, "results"))
    assert results.count() == 40
    assert {r["run_id"] for r in results.select("run_id").distinct().collect()} == {"submit_test"}
    metrics = spark.read.parquet(os.path.join(out_dir, "metrics"))
    assert sum(r["doc_count"] for r in metrics.collect()) == 40
