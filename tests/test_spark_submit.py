"""Real `spark-submit --py-files` execution (north_rule run mode): the
package travels as a zip, the job script runs from OUTSIDE the repo (so
the zip is the only way `corpusama_spark` resolves), the checkpointed
filter completes with a keep-rate WAP gate and no --snapshots (the log
lives at --manifest), and a re-run resumes to a no-op. One subprocess
JVM, local[4]."""

import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit():
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    return cand if os.path.exists(cand) else shutil.which("spark-submit")


@pytest.mark.slow
def test_spark_submit_py_files_end_to_end(spark, tmp_path):
    submit = _spark_submit()
    if submit is None:
        pytest.skip("no spark-submit binary")

    # input: synthetic captions parquet written by the session fixture
    from corpusama_spark.sources.synth import captions_df

    inp = str(tmp_path / "captions")
    captions_df(spark, 400, partitions=4).write.parquet(inp)
    n_in = spark.read.parquet(inp).count()

    # package zip — exactly the cluster shape from the script docstring
    zpath = tmp_path / "corpusama_spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(os.path.join(REPO, "corpusama_spark")):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))

    # the job script runs from tmp (its repo-root sys.path insert then
    # points at tmp, NOT the repo) -> imports must come from --py-files
    job = tmp_path / "run_filter_job.py"
    shutil.copy(os.path.join(REPO, "scripts", "run_filter_job.py"), job)

    out = str(tmp_path / "decisions")
    manifest = str(tmp_path / "manifest")
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_HOME")
    }
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    cmd = [
        submit,
        "--master", "local[4]",
        "--conf", "spark.driver.memory=2g",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.ui.enabled=false",
        "--py-files", str(zpath),
        str(job),
        "--input", inp,
        "--output", out,
        "--manifest", manifest,
        "--nbuckets", "4",
        "--run-id", "submit-e2e",
        "--wap-keep-rate", "0,1",
    ]
    r = subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    assert "submit-e2e: processed 4 buckets" in r.stdout

    decided = spark.read.parquet(out)
    assert decided.count() == n_in
    assert "keep" in decided.columns and "image_id" in decided.columns
    # every wave was audited, published and committed to the log at
    # --manifest
    from corpusama_spark.snapshots import buckets_as_of, snapshots

    chain = snapshots(manifest)
    assert len(chain) == 4 and not any(s.get("staged") for s in chain)
    assert buckets_as_of(manifest) == {0, 1, 2, 3}

    # restart: same log -> resume finds nothing to do (0 buckets)
    r2 = subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=420,
    )
    assert r2.returncode == 0, r2.stderr[-4000:]
    assert "submit-e2e: processed 0 buckets" in r2.stdout
    assert spark.read.parquet(out).count() == n_in
