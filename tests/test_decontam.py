"""Decontamination (operators/decontam.py) vs a python oracle, plus
plan shape (broadcast probe, no corpus-side shuffle before the join).
"""

import pytest
from pyspark.sql import functions as F

from earth_data_kit_spark.operators.decontam import (
    contamination_report,
    flag_contaminated,
)
from earth_data_kit_spark.text import analysis

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def eval_df(spark, docs):
    # eval set = verbatim snippets lifted from real documents (planted
    # contamination) + one fresh never-seen example
    rows = docs.orderBy("doc_id").limit(3).collect()
    taken = []
    for i, r in enumerate(rows):
        toks = r.text.split()
        taken.append((i, " ".join(toks[2 : 2 + 20])))  # 20-token span
    taken.append((99, "zebra quantum paradox " * 8))
    return spark.createDataFrame(taken, "eval_id int, text string")


def py_oracle(docs_rows, eval_rows, k, min_overlap):
    def grams(t):
        return {s for s in analysis.shingles(t, k)}

    ev = {eid: grams(t) for eid, t in eval_rows}
    out = {}
    for did, t in docs_rows:
        g = grams(t)
        for eid, eg in ev.items():
            inter = len(g & eg)
            if inter >= min_overlap:
                out[(did, eid)] = (inter, inter / len(eg))
    return out


def test_report_matches_python_oracle(spark, docs, eval_df):
    k = 13
    got = {
        (r.doc_id, r.eval_id): (r.n_hits, r.frac_eval)
        for r in contamination_report(docs, eval_df, shingle_k=k).collect()
    }
    want = py_oracle(
        [(r.doc_id, r.text) for r in docs.collect()],
        [(r.eval_id, r.text) for r in eval_df.collect()],
        k,
        1,
    )
    assert set(got) == set(want)
    for key in want:
        assert got[key][0] == want[key][0]
        assert abs(got[key][1] - want[key][1]) < 1e-12
    # the three planted snippets are found, the fresh example is not
    assert {e for _, e in got} == {0, 1, 2}


def test_flag_and_filter(spark, docs, eval_df):
    flagged = flag_contaminated(docs, eval_df, shingle_k=13)
    n_bad = flagged.where("contaminated").count()
    assert n_bad >= 3  # the 3 source docs of the planted snippets
    clean = flagged.where(~F.col("contaminated"))
    assert clean.count() == docs.count() - n_bad
    # filtering is idempotent and keeps all columns
    assert set(flagged.columns) == set(docs.columns) | {"contaminated"}


def test_min_overlap_threshold(spark, docs, eval_df):
    # a 20-token span holds 8 distinct 13-grams; min_overlap=9 must
    # drop the planted pairs entirely
    rep = contamination_report(docs, eval_df, shingle_k=13, min_overlap=9)
    assert rep.count() == 0


def test_plan_broadcast_probe(spark, docs, eval_df):
    rep = contamination_report(docs, eval_df, shingle_k=13)
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # no sort-merge join anywhere: the corpus side must not shuffle
    # for the probe
    assert "SortMergeJoin" not in plan


def test_shingle_udf_runs_once_per_side(spark, docs, eval_df):
    """One distinct eval table carries each example's n-gram count, so
    the executed plan holds exactly two shingle ArrowEvalPython nodes
    (corpus and eval), with one broadcast join."""
    rep = contamination_report(docs, eval_df, shingle_k=13)
    rep.collect()
    plan = rep._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()  # the final plan that ran
    lines = plan.toString().splitlines()
    assert sum("ArrowEvalPython" in ln and "_sh(" in ln for ln in lines) == 2
    assert sum("BroadcastHashJoin" in ln for ln in lines) == 1
