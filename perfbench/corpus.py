"""Seeded inputs for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``: the same seed
writes byte-identical files.  Nothing here imports Spark — the jobs
and queries only ever see the generated files.

* ``pipeline`` — a ``documents.parquet`` that ``jobs/pipeline.py``
  fans out into pages (``--reps`` pages per document; the seed picks
  the doc ids, so page ids and with them the synthesized coordinates
  move with the seed).
* ``curate`` — a ``documents.parquet`` for ``jobs.curate.run`` with
  planted cases whose funnel counts are known in advance: short docs
  the quality stage drops, eval leakage (the three lowest ids are the
  job's eval sources, plus exact copies of one of them), exact
  duplicates and shared passages for the substring stage
  (``expected_funnel`` gives the counts).
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

PIPELINE_DOCS = 1000
PIPELINE_REPS = 2  # pages = PIPELINE_DOCS × PIPELINE_REPS

CURATE_BASE = 400  # unique docs that pass the quality rules
CURATE_SHORT = 40  # < 50 words: dropped by the quality stage
CURATE_DUPS = 50  # exact copies of base docs (not of the leak docs)
CURATE_LEAK_COPIES = 2  # exact copies of the lowest-id (eval source) doc
CURATE_EVAL_SNIPPETS = 3  # jobs.curate.run's default eval fixture size
CURATE_PASSAGES = 20  # passages each pasted into PASSAGE_COPIES base docs
PASSAGE_COPIES = 2
PASSAGE_WORDS = 30  # > SUBSTRING_K: every copy but the keeper is cut
SUBSTRING_K = 20
DSIR_TARGET = "src0"
N_SOURCES = 5

_ONSETS = list("bcdfghjklmnprstvwz") + ["br", "ch", "cl", "dr", "gr", "pl", "sh", "st", "th", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "ou"]


def _vocab(rng: np.random.Generator, n: int = 6000) -> np.ndarray:
    """``n`` distinct lowercase words of 2-3 syllables (4-9 letters)."""
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        w = "".join(
            _ONSETS[int(rng.integers(len(_ONSETS)))] + _VOWELS[int(rng.integers(len(_VOWELS)))]
            for _ in range(k)
        )
        if 4 <= len(w) <= 9:
            words.add(w)
    return np.array(sorted(words))


def _text(rng: np.random.Generator, vocab: np.ndarray, n_words: int) -> str:
    """Random words in lines of 8-16 words, each line a sentence."""
    words = vocab[rng.integers(len(vocab), size=n_words)]
    lines, i = [], 0
    while i < n_words:
        n = int(rng.integers(8, 17))
        chunk = list(words[i : i + n])
        chunk[0] = chunk[0].capitalize()
        lines.append(" ".join(chunk) + ".")
        i += n
    return "\n".join(lines)


def _table(ids, texts, sources) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(ids), pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        schema=DOC_SCHEMA,
    )


def pipeline_inputs(seed: int, out_dir: Path) -> dict:
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng)
    ids = np.sort(rng.choice(1_000_000, size=PIPELINE_DOCS, replace=False))
    texts = [_text(rng, vocab, int(rng.integers(60, 200))) for _ in ids]
    sources = [f"src{i % N_SOURCES}" for i in range(len(ids))]
    out_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(_table(ids, texts, sources), out_dir / "documents.parquet")
    return {"n_docs": PIPELINE_DOCS, "reps": PIPELINE_REPS, "n_pages": PIPELINE_DOCS * PIPELINE_REPS}


def curate_inputs(seed: int, out_dir: Path) -> dict:
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng)
    base = [_text(rng, vocab, int(rng.integers(80, 250))) for _ in range(CURATE_BASE)]
    shorts = [_text(rng, vocab, int(rng.integers(10, 40))) for _ in range(CURATE_SHORT)]
    # shared passages: each is appended as its own line to
    # PASSAGE_COPIES distinct base docs (never an eval source, so
    # decontam keeps them, and never a doc that gets exact copies)
    dup_src = rng.choice(np.arange(CURATE_EVAL_SNIPPETS, CURATE_BASE), size=CURATE_DUPS, replace=False)
    free = np.setdiff1d(np.arange(CURATE_EVAL_SNIPPETS, CURATE_BASE), dup_src)
    hosts = rng.choice(free, size=(CURATE_PASSAGES, PASSAGE_COPIES), replace=False)
    passage_chars = 0
    for row in hosts:
        passage = " ".join(vocab[rng.integers(len(vocab), size=PASSAGE_WORDS)])
        passage_chars += len(passage) * (PASSAGE_COPIES - 1)
        for h in row:
            base[int(h)] = base[int(h)] + "\n" + passage
    texts = base + shorts + [base[int(i)] for i in dup_src] + [base[0]] * CURATE_LEAK_COPIES
    n = len(texts)
    # the eval fixture takes the lowest ids: give them to base[0..2];
    # every other doc gets a shuffled id above them
    ids = np.sort(rng.choice(10_000_000, size=n, replace=False))
    rest = rng.permutation(ids[CURATE_EVAL_SNIPPETS:])
    all_ids = np.concatenate([ids[:CURATE_EVAL_SNIPPETS], rest])
    sources = [f"src{int(s)}" for s in rng.integers(N_SOURCES, size=n)]
    order = rng.permutation(n)  # file row order carries no meaning
    table = _table(all_ids[order], [texts[i] for i in order], [sources[i] for i in order])
    out_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, out_dir / "documents.parquet")
    exp = expected_funnel()
    return {"n_docs": n, "expected": exp, "passage_chars": passage_chars, "dsir_n": exp["after_select"]}


def expected_funnel() -> dict:
    """Funnel counts implied by the planted cases."""
    docs_in = CURATE_BASE + CURATE_SHORT + CURATE_DUPS + CURATE_LEAK_COPIES
    after_quality = docs_in - CURATE_SHORT
    after_decontam = after_quality - CURATE_EVAL_SNIPPETS - CURATE_LEAK_COPIES
    after_dedup = after_decontam - CURATE_DUPS
    return {
        "docs_in": docs_in,
        "after_quality": after_quality,
        "after_decontam": after_decontam,
        "after_dedup": after_dedup,
        "after_substring": after_dedup,  # cuts spans, keeps every doc
        "after_select": after_dedup // 2,
        "oversize_seqs": 0,
    }


BUILDERS = {"pipeline": pipeline_inputs, "curate": curate_inputs}


def build(workload: str, seed: int, out_dir: Path) -> dict:
    """Write the inputs of ``workload`` for ``seed`` under ``out_dir``;
    returns (and stores as ``meta.json``) what the checks need."""
    meta = BUILDERS[workload](seed, out_dir)
    (out_dir / "meta.json").write_text(json.dumps(meta, sort_keys=True))
    return meta
