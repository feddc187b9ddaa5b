"""North-rule deployment shape: the engine must run via
``spark-submit --py-files`` (BASELINE.json north_rule / north_star).

Packages ``dist/apt_bron_re_spark.zip`` with scripts/make_pyfiles.sh and
runs the full 5-stage pipeline in a FRESH spark-submit process whose only
access to the engine is the zip (the job asserts /root/repo is absent
from sys.path), proving the package is self-contained — no repo-relative
imports, data files, or cwd assumptions.  Such a session keeps pyspark's
worker daemon (the job asserts ``spark.python.daemon.module`` is unset).
"""

import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]

JOB = r"""
import os, sys, tempfile
repo = {repo!r}
assert not any(os.path.abspath(p) == repo for p in sys.path), sys.path
from apt_bron_re_spark.session import get_spark
from apt_bron_re_spark.catalog.synthetic import build_layer_map
from apt_bron_re_spark.plans.pipeline import Pipeline
from apt_bron_re_spark.sources.pages import pages_df

spark = get_spark("pyfiles_job", master="local[2]", shuffle_partitions=4)
# a package imported from a zip cannot start a worker daemon of its own
assert spark.sparkContext.getConf().get("spark.python.daemon.module") is None
td = tempfile.mkdtemp(prefix="pyfiles_")
pages = pages_df(spark, 500, partitions=4)
pipe = Pipeline(spark, build_layer_map(), os.path.join(td, "st"),
                n_buckets=4)
n = pipe.run(pages).count()
print("PYFILES_TRIPLES", n)
"""


def test_pipeline_runs_from_pyfiles_zip(tmp_path):
    # bounded by the subprocess timeout below (pytest-timeout not installed)
    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not Path(spark_submit).exists():
        pytest.skip("spark-submit not on PATH")

    subprocess.run(["bash", str(REPO / "scripts" / "make_pyfiles.sh")],
                   check=True, capture_output=True)
    zip_path = REPO / "dist" / "apt_bron_re_spark.zip"
    assert zip_path.exists()

    job = tmp_path / "job.py"
    job.write_text(JOB.format(repo=str(REPO)))
    out = subprocess.run(
        [spark_submit, "--master", "local[2]",
         "--py-files", str(zip_path), str(job)],
        capture_output=True, text=True, timeout=570,
        cwd=str(tmp_path))  # NOT the repo — imports must come from the zip
    lines = [ln for ln in out.stdout.splitlines()
             if ln.startswith("PYFILES_TRIPLES")]
    assert lines, f"no triples line; stderr tail: {out.stderr[-2000:]}"
    assert int(lines[0].split()[1]) > 0
