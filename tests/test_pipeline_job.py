"""jobs/pipeline.py: the geocode stage's single Python pass, and a
whole-job re-run that resumes over a fully committed base."""

import hashlib
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest
from conftest import (
    PYTHON_NODES,
    REPO,
    SF_SMALL,
    crash_after_even_keys,
    final_plan_nodes,
    last_execution_id,
    latest_lineage,
    sql_executions,
)
from jobs.pipeline import STAGES
from pyspark.sql import functions as F


def test_geocode_stage_one_python_pass_matches_oracles(spark, tmp_path):
    """One ArrowEvalPython in the stage plan (the fused UDF is not copied
    into the pushed-down ``lat IS NOT NULL`` filter), and its fields
    equal the pure oracles row for row: lat/lon/method from
    ``geocode(url, extract_text(html))``, s2_leaf from ``s2_leaf_udf``."""
    from jobs.pipeline import geocode_pages

    from earth_data_kit_spark.operators.spatial_join_s2 import s2_leaf_udf
    from earth_data_kit_spark.sources.pages import synth_pages_df
    from earth_data_kit_spark.text.extract import extract_text
    from earth_data_kit_spark.text.geocode import geocode

    # the stage reads the committed ingest parquet, not the synth plan
    path = str(tmp_path / "ingested")
    synth_pages_df(spark, SF_SMALL).withColumn("part", F.col("page_id") % 4).write.parquet(path)
    ingested = spark.read.parquet(path)

    geo = geocode_pages(ingested)
    plan = geo._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan

    got = geo.withColumn(
        "leaf_oracle", s2_leaf_udf()(F.col("lon"), F.col("lat"))
    ).toPandas().set_index("page_id").sort_index()
    assert len(got) > 0
    assert (got["s2_leaf"] == got["leaf_oracle"]).all()

    src = ingested.select("page_id", "url", "html").toPandas()
    rows = []
    for pid, url, html in src.itertuples(index=False):
        la, lo, m = geocode(url or "", extract_text(html) if html is not None else "")
        if la is not None:
            rows.append((pid, la, lo, m))
    want = pd.DataFrame(rows, columns=["page_id", "lat", "lon", "method"]).set_index("page_id").sort_index()
    pd.testing.assert_frame_equal(got[["lat", "lon", "method"]], want)


def _run_job(base: str, job_id: str) -> subprocess.CompletedProcess:
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([REPO.as_posix(), os.environ.get("PYTHONPATH", "")]))
    return subprocess.run(
        [
            sys.executable, str(REPO / "jobs" / "pipeline.py"),
            "--sf-dir", SF_SMALL, "--base-dir", base, "--job-id", job_id,
            "--reps", "2", "--cpus", "4",
        ],
        capture_output=True, text=True, timeout=900, env=env,
    )


def _digest(root: str) -> str:
    """md5 over the sorted (relative path, file md5) list of the parquet
    files under ``root``."""
    files = sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )
    h = hashlib.md5()
    for rel in files:
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(f"{rel}:{hashlib.md5(fh.read()).hexdigest()}\n".encode())
    return h.hexdigest()


def test_pipeline_rerun_resumes_without_rewriting(spark, tmp_path):
    """A second run over a fully committed base exits 0, appends no
    lineage rows (nor empty lineage files) and leaves every stage's
    parquet files byte-identical."""
    base = str(tmp_path / "job")
    first = _run_job(base, "resume1")
    assert first.returncode == 0, first.stderr[-4000:]
    lin = spark.read.parquet(f"{base}/lineage")
    assert {r.stage for r in lin.select("stage").distinct().collect()} == set(STAGES)
    n_lineage = lin.count()
    dirs = [f"{base}/{st}/data" for st in STAGES] + [f"{base}/lineage"]
    digests = [_digest(d) for d in dirs]

    second = _run_job(base, "resume1")
    assert second.returncode == 0, second.stderr[-4000:]
    for st in STAGES:
        assert f"[resume1] {st}: all partitions committed" in second.stdout, second.stdout
    assert spark.read.parquet(f"{base}/lineage").count() == n_lineage
    assert [_digest(d) for d in dirs] == digests


def test_ingest_runs_no_python_and_writes_one_file_per_part(spark, tmp_path):
    """The ingest stage's executions run no Python; no lineage
    execution scans a Python-list DataFrame (``Scan ExistingRDD``),
    on a fresh base, on a fully committed re-run, or when a commit
    observes no keys; and every ``ingest/data/part=*`` directory
    holds one parquet file."""
    from jobs import pipeline

    from earth_data_kit_spark.plans import lineage

    base = str(tmp_path / "job")
    argv = ["--sf-dir", SF_SMALL, "--base-dir", base, "--job-id", "nopy", "--reps", "2",
            "--cpus", "4", "--fail-after-stage", "ingest"]
    for run in ("fresh", "re-run"):
        before = last_execution_id(spark)
        with pytest.raises(SystemExit, match="injected failure after ingest"):
            pipeline.main(argv)
        execs = sql_executions(spark, before)
        assert execs, run
        for e in execs:
            plan = e.physicalPlanDescription()
            assert "ExistingRDD" not in plan, (run, plan)
            ops = {op for op, _ in final_plan_nodes(plan)}
            assert not ops & set(PYTHON_NODES), (run, plan)

    data = f"{base}/ingest/data"
    parts = [d for d in os.listdir(data) if d.startswith("part=")]
    assert len(parts) > 1
    for d in parts:
        files = [f for f in os.listdir(f"{data}/{d}") if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)

    before = last_execution_id(spark)
    ingested = spark.read.parquet(data)
    lin = lineage.commit_stage(ingested.limit(0), base, "nopy", "ingest", "part")
    assert lin.count() == 0
    assert lin.schema == spark.createDataFrame([], lineage.LINEAGE_SCHEMA).schema
    assert all("ExistingRDD" not in e.physicalPlanDescription() for e in sql_executions(spark, before))


def _main(base: str, stop_after: str, job_id: str = "crash") -> None:
    """One in-process pipeline run that exits after ``stop_after``."""
    from jobs import pipeline

    argv = ["--sf-dir", SF_SMALL, "--base-dir", base, "--job-id", job_id, "--reps", "2",
            "--cpus", "4", "--fail-after-stage", stop_after]
    with pytest.raises(SystemExit, match=f"injected failure after {stop_after}"):
        pipeline.main(argv)


@pytest.fixture(scope="module")
def clean_base(spark, tmp_path_factory):
    """A base every stage of one clean run committed to."""
    base = str(tmp_path_factory.mktemp("clean") / "job")
    _main(base, "quality")
    return base


def test_fail_hook_fires_after_any_stage(spark, tmp_path):
    """``--fail-after-stage knn`` exits once knn's lineage is committed
    (and before quality runs); an unknown stage name is an argparse
    error, exit 2, before any stage runs."""
    from jobs import pipeline

    base = str(tmp_path / "job")
    _main(base, "knn")
    lin = spark.read.parquet(f"{base}/lineage")
    assert {r.stage for r in lin.select("stage").distinct().collect()} == set(STAGES) - {"quality"}

    with pytest.raises(SystemExit) as e:
        pipeline.main(["--base-dir", str(tmp_path / "other"), "--fail-after-stage", "knnn"])
    assert e.value.code == 2
    assert not (tmp_path / "other").exists()


def test_rerun_over_committed_base_builds_nothing(spark, clean_base, tmp_path, capsys):
    """A re-run over a fully committed base calls no stage's build:
    every stage says so, and no SQL execution of the re-run runs Python
    or writes."""
    base = str(tmp_path / "job")
    shutil.copytree(clean_base, base)
    capsys.readouterr()
    before = last_execution_id(spark)
    _main(base, "quality")
    out = capsys.readouterr().out
    for st in STAGES:
        assert f"[crash] {st}: all partitions committed, nothing written" in out, out
    for e in sql_executions(spark, before):
        plan = e.physicalPlanDescription()
        assert not {op for op, _ in final_plan_nodes(plan)} & set(PYTHON_NODES), plan
        assert "InsertIntoHadoopFsRelation" not in plan, plan
    assert latest_lineage(spark, base) == latest_lineage(spark, clean_base)
    assert spark.read.parquet(f"{base}/lineage").count() == spark.read.parquet(f"{clean_base}/lineage").count()


@pytest.mark.parametrize("stage", ["geocode", "knn"])
def test_crash_mid_write_resumes_to_clean_lineage(spark, clean_base, tmp_path, monkeypatch, stage):
    """A crash after ``stage`` committed only its even keys, then a
    resume, leaves the latest (row_count, checksum) of every
    (stage, part_key) equal to a clean run's."""
    base = str(tmp_path / "job")
    with monkeypatch.context() as m:
        crash_after_even_keys(m, stage)
        with pytest.raises(RuntimeError, match=f"crash in {stage}"):
            _main(base, "quality")
    crashed = latest_lineage(spark, base)
    clean = latest_lineage(spark, clean_base)
    keys = [k for st, k in crashed if st == stage]
    assert keys and all(k % 2 == 0 for k in keys)
    assert any(k % 2 for st, k in clean if st == stage)

    _main(base, "quality")
    assert latest_lineage(spark, base) == clean
