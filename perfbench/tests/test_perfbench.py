"""The benchmark's own tests: span interval math, event-log folding and
seed determinism.  No Spark:

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import corpus, ledger  # noqa: E402


def test_stage_spans_tile_the_run():
    spans = ledger.stage_spans([(12.0, "b"), (10.5, "a"), (15.0, "c")], 10.0, 20.0)
    assert spans == [("a", 10.0, 12.0), ("b", 12.0, 15.0), ("c", 15.0, 20.0)]
    assert sum(e - s for _, s, e in spans) == 10.0


def test_union_length_merges_overlaps():
    assert ledger.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4.0
    assert ledger.union_length([]) == 0.0


def _task(launch_ms, cpu_ns, py_ms=0, sent=0, shuffle=0):
    acc = []
    if py_ms:
        acc.append({"Name": "time to run Python workers", "Update": str(py_ms)})
    if sent:
        acc.append({"Name": "data sent to Python workers", "Update": sent})
    return {
        "Event": "SparkListenerTaskEnd",
        "Task Info": {"Launch Time": launch_ms, "Accumulables": acc},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 0,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def test_fold_attributes_jobs_and_tasks_by_time():
    spans = [("s1", 100.0, 110.0), ("s2", 110.0, 130.0)]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 101_000},
        _task(101_500, 1_500_000_000, py_ms=700, sent=2 * ledger.MB),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 104_000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 109_000},
        # a job that outlives its span is clipped to the span
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 112_000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 120_000},
        _task(120_100, 250_000_000, shuffle=ledger.MB),
        _task(120_200, 250_000_000, shuffle=ledger.MB),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 125_000},
        _task(140_000, 9, py_ms=1),  # outside every span: ignored
    ]
    out = ledger.fold(events, spans)
    assert out["s1"]["jobs"] == 2 and out["s2"]["jobs"] == 1
    assert out["s1"]["busy_s"] == 3.0 + 1.0
    assert out["s2"]["busy_s"] == 5.0
    assert out["s1"]["cpu_s"] == 1.5
    assert out["s1"]["py_s"] == 0.7 and out["s1"]["py_sent_mb"] == 2.0
    assert out["s2"]["shuffle_write_mb"] == 2.0 and out["s2"]["cpu_s"] == 0.5
    tot = ledger.total(out, ["s1", "s2"])
    assert tot["jobs"] == 3 and tot["cpu_s"] == 2.0 and tot["py_s"] == 0.7


def _digest(path: Path) -> str:
    return hashlib.sha256((path / "documents.parquet").read_bytes()).hexdigest()


def test_inputs_are_a_function_of_the_seed(tmp_path):
    for workload in corpus.BUILDERS:
        a = corpus.build(workload, 7, tmp_path / f"{workload}-a")
        b = corpus.build(workload, 7, tmp_path / f"{workload}-b")
        c = corpus.build(workload, 8, tmp_path / f"{workload}-c")
        assert a == b
        assert _digest(tmp_path / f"{workload}-a") == _digest(tmp_path / f"{workload}-b")
        assert _digest(tmp_path / f"{workload}-a") != _digest(tmp_path / f"{workload}-c")


def test_curate_corpus_plants_what_the_funnel_expects(tmp_path):
    import pyarrow.parquet as pq

    meta = corpus.build("curate", 3, tmp_path)
    t = pq.read_table(tmp_path / "documents.parquet").to_pydict()
    rows = sorted(zip(t["doc_id"], t["text"]))
    exp = meta["expected"]
    assert len(rows) == exp["docs_in"] == meta["n_docs"]
    assert len(set(t["doc_id"])) == len(rows)
    n_words = [len(text.split()) for _, text in rows]
    assert sum(n < 50 for n in n_words) == corpus.CURATE_SHORT
    # the three lowest ids are the eval sources: unique long docs, and
    # only the first has planted copies
    leak = [text for _, text in rows[: corpus.CURATE_EVAL_SNIPPETS]]
    counts = {text: t["text"].count(text) for text in leak}
    assert counts[leak[0]] == 1 + corpus.CURATE_LEAK_COPIES
    assert all(counts[text] == 1 for text in leak[1:])
    n_distinct_long = len({text for text, n in zip(t["text"], (len(x.split()) for x in t["text"])) if n >= 50})
    assert exp["after_dedup"] == n_distinct_long - corpus.CURATE_EVAL_SNIPPETS


def test_curate_check_bounds_the_substring_cut():
    from perfbench import checks

    exp = corpus.expected_funnel()
    out = dict(exp, substring_removed_chars=1000, sequences=7, fill_rate=0.9)
    assert checks.curate(out, exp, 1000, 20) == []
    assert checks.curate(dict(out, substring_removed_chars=1020), exp, 1000, 20) == []
    assert len(checks.curate(dict(out, substring_removed_chars=999), exp, 1000, 20)) == 1
    assert len(checks.curate(dict(out, after_select=exp["after_select"] + 1), exp, 1000, 20)) == 1


def test_recorder_marks_stages_and_restores_entry_points():
    import types

    from perfbench.child import Recorder

    groups = []
    sc = types.SimpleNamespace(setJobGroup=lambda g, d: groups.append(g))
    ops = types.SimpleNamespace(scan=lambda x: x + 1, filt=lambda df, base, job, stage, key: stage)
    orig = (ops.scan, ops.filt)
    rec = Recorder(sc, "job", [(ops, "scan", "read"), (ops, "filt", None)])
    with rec.installed():
        assert ops.scan(1) == 2
        assert ops.filt("df", "b", "j", "geocode", "part") == "geocode"
    assert (ops.scan, ops.filt) == orig
    assert [n for _, n in rec.markers] == ["job.read", "job.geocode"]
    assert groups == ["job.read", "job.geocode", None]
    spans = ledger.stage_spans(rec.markers, rec.markers[0][0] - 1.0, rec.markers[-1][0] + 1.0)
    assert [n for n, _, _ in spans] == ["job.read", "job.geocode"]
