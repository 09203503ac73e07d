"""jobs/curate.py — the composed curation funnel: monotone counts,
planted leakage removed, deterministic output, each stage
materialized once."""

import shutil

import pytest
from conftest import (
    PYTHON_NODES,
    crash_after_even_keys,
    final_plan_nodes,
    last_execution_id,
    latest_lineage,
    sql_executions,
)
from jobs.curate import eval_fixture, run

SF = "/root/testdata/sf0.001"
OPTIONAL = dict(substring_k=8, dsir_n=50, dsir_target_source="src1")


def test_funnel_monotone_and_deterministic(spark):
    out = run(spark, SF, max_tokens=512)
    assert out["docs_in"] >= out["after_quality"] >= out["after_decontam"] >= out["after_dedup"]
    # the 3 eval snippets are verbatim spans of real docs → their
    # source docs (at least those passing quality) are removed
    assert out["after_decontam"] < out["after_quality"]
    assert out["after_dedup"] > 0 and out["sequences"] > 0
    assert 0.0 < out["fill_rate"] <= 1.0
    again = run(spark, SF, max_tokens=512)
    assert again == out


def test_funnel_resumable_with_lineage(spark, tmp_path):
    """VERDICT r3 task 6: with a work_dir, every stage commits output
    + lineage; a re-run skips all committed partitions and returns
    identical results read back from disk."""
    wd = str(tmp_path / "funnel")
    out1 = run(spark, SF, max_tokens=512, work_dir=wd)
    inmem = run(spark, SF, max_tokens=512)
    for k in ("docs_in", "after_quality", "after_decontam", "after_dedup"):
        assert out1[k] == inmem[k], k

    # lineage rows exist for every stage and cover all 32 partitions
    lin = spark.read.parquet(f"{wd}/lineage")
    stages = {r.stage for r in lin.select("stage").distinct().collect()}
    assert stages == {"quality", "decontam", "dedup"}

    # re-run: every stage is complete → each is only re-read, no new
    # lineage rows are appended, counts identical
    n_lineage_rows = lin.count()
    out2 = run(spark, SF, max_tokens=512, work_dir=wd)
    assert out2 == out1
    assert spark.read.parquet(f"{wd}/lineage").count() == n_lineage_rows


def test_funnel_with_substring_and_dsir_stages(spark):
    """The optional r6 stages compose: substring dedup scrubs
    cross-doc duplicated spans before selection, DSIR keeps exactly n
    docs biased toward the target source slice; counts stay monotone
    and the stats carry the new stages."""
    from jobs.curate import run

    out = run(
        spark, "/root/testdata/sf0.001", max_tokens=512,
        substring_k=8, dsir_n=50, dsir_target_source="src1",
    )
    assert out["after_substring"] == out["after_dedup"]  # no docs dropped
    assert out["substring_removed_chars"] >= 0
    assert out["after_select"] == 50
    assert out["after_select"] <= out["after_substring"] <= out["after_dedup"]
    # deterministic: same flags, same result
    out2 = run(
        spark, "/root/testdata/sf0.001", max_tokens=512,
        substring_k=8, dsir_n=50, dsir_target_source="src1",
    )
    assert out == out2


def test_funnel_resumable_with_optional_stages(spark, tmp_path):
    """The work_dir path with substring and DSIR on matches the
    in-memory funnel on every key, commits a lineage for every stage
    and appends nothing on a re-run."""
    wd = str(tmp_path / "funnel")
    out1 = run(spark, SF, max_tokens=512, work_dir=wd, **OPTIONAL)
    assert out1 == run(spark, SF, max_tokens=512, **OPTIONAL)

    lin = spark.read.parquet(f"{wd}/lineage")
    stages = {r.stage for r in lin.select("stage").distinct().collect()}
    assert stages == {"quality", "decontam", "dedup", "substring", "select"}
    n_lineage_rows = lin.count()
    assert run(spark, SF, max_tokens=512, work_dir=wd, **OPTIONAL) == out1
    assert spark.read.parquet(f"{wd}/lineage").count() == n_lineage_rows


def test_in_memory_run_leaves_no_cache(spark):
    """Stage outputs are local checkpoints, not cached frames: an
    in-memory run leaves the session cache manager empty."""
    spark.catalog.clearCache()
    run(spark, SF, max_tokens=512, **OPTIONAL)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_python_stages_run_once(spark):
    """Each stage is materialized once, so each Python pass of the
    funnel runs in exactly one SQL execution: the repetition UDF
    (quality), the substring window mapInArrow and the substring cut
    UDF.  Read from the final plans in the SQL status store."""
    before = last_execution_id(spark)
    run(spark, SF, max_tokens=512, **OPTIONAL)
    plans = [final_plan_nodes(e.physicalPlanDescription()) for e in sql_executions(spark, before)]

    def n_executions(hit) -> int:
        return sum(any(hit(op, block) for op, block in nodes) for nodes in plans)

    assert n_executions(lambda op, b: op == "ArrowEvalPython" and "_rep(" in b) == 1
    assert n_executions(lambda op, b: op == "ArrowEvalPython" and "_cut(" in b) == 1
    assert n_executions(lambda op, b: op == "MapInArrow") == 1


def _python_fixture(texts: list[str]) -> list[tuple[int, str]]:
    """The fixture's Python reference: words 3-30 of each text by
    ``str.split()``."""
    return [(i, " ".join(t.split()[2:30])) for i, t in enumerate(texts)]


def _fixture_rows(docs, n: int) -> list[tuple[int, str]]:
    return [(r.eval_id, r.text) for r in eval_fixture(docs, n).orderBy("eval_id").collect()]


def test_eval_fixture_matches_python_split_on_corpus(spark):
    """The planned fixture over every sf0.001 doc equals the Python
    split fixture, and is one partition (one eval-side shingle task)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    texts = [r.text for r in docs.orderBy("doc_id").select("text").collect()]
    assert _fixture_rows(docs, len(texts)) == _python_fixture(texts)
    assert eval_fixture(docs, 3).rdd.getNumPartitions() == 1


def test_eval_fixture_matches_python_split_on_unicode_whitespace(spark):
    """Java's ``\\s`` alone misses NBSP and ``\\x1c``; the fixture's
    separator class splits exactly where ``str.split()`` does: on the
    listed cases, and on every BMP code point between two words."""
    cases = [
        "w1\tw2 w3\tw4 w5",
        "\nw1 w2 w3 w4",
        "w1\xa0w2\xa0w3\xa0w4",
        "w1\u2028w2\u2028w3\u2028w4",
        "w1\u3000w2\u3000w3\u3000w4",
        "w1\x1cw2\x1cw3\x1cw4",
        "one two",
        "",
        " ".join(f"w{i}" for i in range(40)),
    ]
    docs = spark.createDataFrame(list(enumerate(cases)), "doc_id long, text string")
    assert _fixture_rows(docs, len(cases)) == _python_fixture(cases)

    sweep = [f"w1 w2 w3{chr(c)}w4" for c in range(0x10000) if not 0xD800 <= c < 0xE000]
    docs = spark.createDataFrame(list(enumerate(sweep)), "doc_id long, text string")
    assert _fixture_rows(docs, len(sweep)) == _python_fixture(sweep)


def test_in_memory_run_has_no_count_only_executions(spark):
    """Each stage's row count (and the substring chars) come from the
    job that materializes the stage: an in-memory run has no SQL
    execution that only counts or sums a checkpointed stage (a
    ``Scan ExistingRDD`` under aggregates), and none that collects the
    eval snippets to the driver.  That leaves 9 executions: the
    input count, five stage checkpoints, DSIR's two
    bucket-count collects and the packing stats."""
    agg_only = {"Scan", "Project", "HashAggregate", "Exchange", "ShuffleQueryStage",
                "AQEShuffleRead", "ResultQueryStage"}
    before = last_execution_id(spark)
    run(spark, SF, max_tokens=512, **OPTIONAL)
    plans = [final_plan_nodes(e.physicalPlanDescription()) for e in sql_executions(spark, before)]
    for nodes in plans:
        ops = {op for op, _ in nodes}
        assert not (ops <= agg_only and any("ExistingRDD" in b for op, b in nodes if op == "Scan")), nodes
        assert not ops <= {"Scan", "ColumnarToRow", "TakeOrderedAndProject"}, nodes
    assert len(plans) == 9


CURATE_STAGES = ("quality", "decontam", "dedup", "substring", "select")


@pytest.fixture(scope="module")
def committed(spark, tmp_path_factory):
    """(funnel, work_dir) of one clean committed run with substring and
    DSIR on."""
    wd = str(tmp_path_factory.mktemp("curate") / "funnel")
    return run(spark, SF, max_tokens=512, work_dir=wd, **OPTIONAL), wd


def test_rerun_over_committed_base_builds_nothing(spark, committed, tmp_path):
    """A re-run over a fully committed work_dir builds no stage: no SQL
    execution runs the repetition, shingle, cut or DSIR UDFs or the
    substring window, and the only execution with Python is the
    (uncommitted) pack step's."""
    out, clean_wd = committed
    wd = str(tmp_path / "funnel")
    shutil.copytree(clean_wd, wd)
    before = last_execution_id(spark)
    assert run(spark, SF, max_tokens=512, work_dir=wd, **OPTIONAL) == out
    plans = [final_plan_nodes(e.physicalPlanDescription()) for e in sql_executions(spark, before)]
    for nodes in plans:
        for op, block in nodes:
            assert op != "MapInArrow", block
            assert not any(f in block for f in ("_rep(", "_sh(", "_cut(", "_counts(", "_w(")), block
    python = [nodes for nodes in plans if {op for op, _ in nodes} & set(PYTHON_NODES)]
    assert len(python) == 1, python
    assert latest_lineage(spark, wd) == latest_lineage(spark, clean_wd)


@pytest.mark.parametrize("stage", CURATE_STAGES)
def test_crash_mid_write_resumes_to_clean_run(spark, committed, tmp_path, monkeypatch, stage):
    """A crash after ``stage`` committed only its even keys, then a
    resume, gives the clean run's funnel and the clean run's latest
    (row_count, checksum) for every (stage, part_key).  The global
    steps (dedup representatives, substring spans, DSIR fits) read the
    whole stage input on the resume, not only the uncommitted rows."""
    out, clean_wd = committed
    wd = str(tmp_path / "funnel")
    with monkeypatch.context() as m:
        crash_after_even_keys(m, stage)
        with pytest.raises(RuntimeError, match=f"crash in {stage}"):
            run(spark, SF, max_tokens=512, work_dir=wd, **OPTIONAL)
    keys = [k for st, k in latest_lineage(spark, wd) if st == stage]
    assert keys and all(k % 2 == 0 for k in keys)

    assert run(spark, SF, max_tokens=512, work_dir=wd, **OPTIONAL) == out
    assert latest_lineage(spark, wd) == latest_lineage(spark, clean_wd)
