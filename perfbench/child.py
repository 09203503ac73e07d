"""One benchmark process: Spark setup, one workload, results as JSON.

Started by ``perfbench/run.py`` as a fresh interpreter, the way a job
is a fresh ``spark-submit``:

    python perfbench/child.py --workload pipeline --inputs DIR \
        --work DIR --result FILE --cpus 4

It writes ``ready_at`` (epoch seconds once ``get_spark`` has returned
and the Python workers are warm), the job's wall, its output-check
failures and the span records the traced run folds.  It only calls
the jobs' public entry points; the span wrappers live here and are
removed when a job returns.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


class Recorder:
    """Stage markers from wrappers around the public functions that
    start each stage, plus the intervals spent in
    ``plans.lineage.commit_stage``.  ``entries`` lists
    ``(module, function name, stage)``; a stage of ``None`` takes the
    stage name from the call (``lineage.resume_filter``'s ``stage``
    argument).  Each marker also sets the Spark job group, so the event
    log names the stage of every job."""

    def __init__(self, sc, prefix: str, entries: list[tuple[object, str, str | None]]):
        self.sc = sc
        self.prefix = prefix
        self.entries = entries
        self.markers: list[tuple[float, str]] = []
        self.commits: list[tuple[float, float, str]] = []

    def mark(self, stage: str) -> None:
        name = f"{self.prefix}.{stage}"
        self.markers.append((time.time(), name))
        self.sc.setJobGroup(name, name)

    def _marking(self, fn, stage: str | None):
        def wrapper(*a, **kw):
            self.mark(stage or a[3])
            return fn(*a, **kw)

        return wrapper

    @contextlib.contextmanager
    def installed(self):
        from earth_data_kit_spark.plans import lineage

        commit = lineage.commit_stage

        def commit_stage(df, base_dir, job_id, stage, part_key, lineage_cols=None):
            t0 = time.time()
            try:
                return commit(df, base_dir, job_id, stage, part_key, lineage_cols)
            finally:
                self.commits.append((t0, time.time(), stage))

        orig = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in self.entries]
        for (mod, attr, fn), (_, _, stage) in zip(orig, self.entries):
            setattr(mod, attr, self._marking(fn, stage))
        lineage.commit_stage = commit_stage
        try:
            yield self
        finally:
            for mod, attr, fn in orig:
                setattr(mod, attr, fn)
            lineage.commit_stage = commit
            self.sc.setJobGroup(None, None)

    def record(self, t_start: float, t_end: float) -> dict:
        return {"t_start": t_start, "t_end": t_end, "markers": self.markers, "commits": self.commits}


def _timed(fn, rec: Recorder):
    """(wall seconds, CPU seconds of the driver process tree, return
    value, error text, span record)."""
    from perfbench.run import tree_cpu_s

    c0, t0 = tree_cpu_s(os.getpid()), time.time()
    try:
        with rec.installed():
            out = fn()
        err = None
    except Exception:  # a failed job is a failed op, reported, not fatal
        out, err = None, traceback.format_exc(limit=8)
    t1, c1 = time.time(), tree_cpu_s(os.getpid())
    return t1 - t0, c1 - c0, out, err, rec.record(t0, t1)


def _checked(fn, *args) -> list[str]:
    """Failure strings of an output check; a check that raises fails."""
    try:
        return fn(*args)
    except Exception:
        return [traceback.format_exc(limit=4)]


# jobs/pipeline.py's documented stop-after-stage hook ends the job once
# geocode has committed; the benchmark times ingest + geocode
PIPELINE_LAST_STAGE = "geocode"


def run_pipeline(spark, inputs: Path, work: Path, meta: dict, cpus: int) -> dict:
    """One clean run of the pipeline job's ingest and geocode stages."""
    from jobs import pipeline

    from earth_data_kit_spark.plans import lineage
    from perfbench import checks

    base = work / "pipeline"
    job = "bench"
    argv = [
        "--sf-dir", str(inputs), "--base-dir", str(base), "--job-id", job,
        "--reps", str(meta["reps"]), "--cpus", str(cpus), "--fail-after-stage", PIPELINE_LAST_STAGE,
    ]

    def job_run():
        try:
            pipeline.main(argv)
        except SystemExit as e:
            if e.code != f"injected failure after {PIPELINE_LAST_STAGE}":
                raise RuntimeError(f"pipeline exited: {e.code}") from e
        else:
            raise RuntimeError(f"pipeline ran past {PIPELINE_LAST_STAGE}")

    rec = Recorder(spark.sparkContext, "pipeline", [(lineage, "resume_filter", None)])
    clean_s, cpu_s, _, err, span_rec = _timed(job_run, rec)
    fails = [err] if err else _checked(checks.pipeline, base, job, meta["n_pages"])
    return {
        "clean_s": clean_s, "clean_cpu_s": cpu_s, "items": meta["n_pages"],
        "clean_rec": span_rec, "fails": {"pipeline": fails},
    }


def run_curate(spark, inputs: Path, work: Path, meta: dict, cpus: int) -> dict:
    """One in-memory run of the curate job with the substring and DSIR
    stages on."""
    from jobs import curate

    from earth_data_kit_spark.operators import decontam, dedup, dsir, packing, substring_dedup
    from earth_data_kit_spark.text import curation
    from perfbench import checks
    from perfbench.corpus import CURATE_PASSAGES, DSIR_TARGET, PASSAGE_COPIES, SUBSTRING_K

    def job_run():
        return curate.run(
            spark, str(inputs), max_tokens=512,
            substring_k=SUBSTRING_K, dsir_n=meta["dsir_n"], dsir_target_source=DSIR_TARGET,
        )

    rec = Recorder(spark.sparkContext, "curate", [
        (curation, "gopher_quality_cols", "quality"),
        (decontam, "flag_contaminated", "decontam"),
        (dedup, "exact_dedup", "dedup"),
        (substring_dedup, "substring_dedup", "substring"),
        (dsir, "dsir_resample", "select"),
        (packing, "pack_sequences", "pack"),
    ])
    clean_s, cpu_s, funnel, err, span_rec = _timed(job_run, rec)
    n_cuts = CURATE_PASSAGES * (PASSAGE_COPIES - 1)
    fails = [err] if err else _checked(checks.curate, funnel, meta["expected"], meta["passage_chars"], n_cuts)
    return {
        "clean_s": clean_s, "clean_cpu_s": cpu_s, "items": meta["n_docs"],
        "clean_rec": span_rec, "fails": {"curate": fails},
    }


WORKLOADS = {"pipeline": run_pipeline, "curate": run_curate}


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(REPO))
    from pyspark.sql import functions as F

    from earth_data_kit_spark.functions.udfs import token_count_udf
    from earth_data_kit_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=args.cpus)
    # the first task on each Python worker pays the pandas/pyarrow and
    # engine imports; setup ends once every core has paid it
    spark.range(args.cpus * 8).repartition(args.cpus * 2).select(
        token_count_udf(F.col("id").cast("string"))
    ).count()
    ready_at = time.time()
    inputs, work = Path(args.inputs), Path(args.work)
    meta = json.loads((inputs / "meta.json").read_text())
    result = WORKLOADS[args.workload](spark, inputs, work, meta, args.cpus)
    result["ready_at"] = ready_at
    Path(args.result).write_text(json.dumps(result))
    # only a traced run needs the orderly stop (it completes the event
    # log); otherwise the parent ends the driver's process group
    if spark.sparkContext.getConf().get("spark.eventLog.enabled", "false") == "true":
        spark.stop()


if __name__ == "__main__":
    main()
