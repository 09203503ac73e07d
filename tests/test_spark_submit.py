"""spark-submit --py-files end to end (north_rule: "run via
spark-submit --py-files on a multi-executor cluster").

The job script is COPIED OUTSIDE the repo and submitted from a
foreign cwd, so every ``earth_data_kit_spark`` / ``__spark_entry__``
import — driver side and Python-worker side — must resolve from the
packaged ``dist/edk_spark.zip``; a stale or incomplete zip fails this
test with an ImportError rather than silently importing the repo
copy.  The submitted job is the full production pipeline
(jobs/pipeline.py: ingest → geocode → pip_join → kNN → metrics with
per-partition lineage), and the assertions read back its lineage
table — the same artifact a cluster operator would audit.
"""

import os
import shutil
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_spark_submit_pyfiles_runs_pipeline(tmp_path):
    subprocess.run(
        ["bash", os.path.join(REPO, "scripts", "make_pyfiles_zip.sh")],
        check=True, capture_output=True,
    )
    job = str(tmp_path / "pipeline_job.py")
    shutil.copy(os.path.join(REPO, "jobs", "pipeline.py"), job)
    base = str(tmp_path / "job")
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--py-files", os.path.join(REPO, "dist", "edk_spark.zip"),
            job,
            "--sf-dir", "/root/testdata/sf0.001",
            "--base-dir", base,
            "--job-id", "submit1",
            "--reps", "2",
            "--cpus", "4",
        ],
        cwd=str(tmp_path),  # NOT the repo: the zip is the only source
        capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    # the committed artifacts a cluster operator audits: per-stage
    # data + lineage rows (cell range, row count, checksum)
    import duckdb

    stages = {"ingest", "geocode", "pip_counts", "knn"}
    for st in stages:
        assert os.path.isdir(f"{base}/{st}/data"), f"stage {st} missing"
    lin = duckdb.sql(
        f"SELECT stage, count(*) AS parts, sum(row_count) AS rows"
        f" FROM read_parquet('{base}/lineage/*.parquet')"
        f" GROUP BY stage ORDER BY stage"
    ).df()
    got_stages = set(lin["stage"])
    assert stages <= got_stages, lin
    by = {r["stage"]: r for _, r in lin.iterrows()}
    assert by["ingest"]["rows"] > 0
    assert by["geocode"]["rows"] > 0
    # pip counts: one row per matched country (bounded, non-empty)
    assert 0 < by["pip_counts"]["rows"] <= 64
    # kNN: k=5 per configured query
    assert by["knn"]["rows"] % 5 == 0 and by["knn"]["rows"] > 0


_MASTER_PROBE = """
from earth_data_kit_spark.session import get_spark

spark = get_spark(app_name="edk-master-probe", cpus=2)
print("MASTER=" + spark.sparkContext.master)
print("SHUFFLE=" + spark.conf.get("spark.sql.shuffle.partitions"))
spark.stop()
"""


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_spark_submit_master_wins_over_get_spark(tmp_path):
    """A submitted driver keeps spark-submit's ``--master``; ``cpus``
    still sizes the shuffle partitions."""
    job = tmp_path / "probe.py"
    job.write_text(_MASTER_PROBE)
    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[3]", str(job)],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=300,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "MASTER=local[3]" in proc.stdout.splitlines(), proc.stdout
    assert "SHUFFLE=8" in proc.stdout.splitlines(), proc.stdout


def test_plain_python_get_spark_sets_local_master(spark):
    assert spark.sparkContext.master == "local[4]"
