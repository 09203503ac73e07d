"""Exact-substring deduplication (Lee et al. 2022, arXiv:2107.06499
"Deduplicating Training Data Makes Language Models Better") as a
distributed Spark pipeline.

The paper removes every duplicated ≥50-token substring from the
corpus, keeping one occurrence, via a monolithic suffix array.  The
distributed equivalent here hashes every k-token window with TWO
independent 64-bit polynomial rolling hashes and resolves duplicates
relationally:

1. window pass (map-only ``mapInArrow``): per doc, tokenize with char
   offsets and emit (h, h2, start_char, end_char) for each k-token
   window — one row per token position, the same O(corpus tokens)
   volume a suffix array indexes.  The hashes are computed VECTORIZED
   (prefix-sum polynomial hashing over the code-point array — no
   per-byte python loop, r7 optimization: the r6 per-token FNV loop
   was the row's dominant cost), and the output batches are built as
   Arrow arrays directly (no per-window python dicts).
2. duplicate detection (one exchange, on the 16-byte (h, h2) key):
   a window partitioned by (h, h2) gives every window row its
   occurrence count and its GLOBAL KEEPER occurrence =
   min(doc_id, start) — the deterministic stand-in for the paper's
   "first" occurrence — in place, so no aggregate is joined back.
   Keying on two independent 64-bit hashes makes a false-positive
   cut require a simultaneous collision in both (≈2⁻¹²⁸ per pair):
   at 10¹³ windows the expected number of false cuts is ~10⁻¹²,
   i.e. the "exact" in the name is honest at any corpus size
   (a single 64-bit key would expect ~10⁶ birthday collisions
   there — ADVICE r6).
3. span assembly (exchange on doc_id): every non-keeper occurrence
   of a duplicated window marks its char span for removal; per doc
   the spans are collected and joined back onto the input, where the
   cut UDF merges them (overlapping duplicate windows from one
   shared passage collapse to a single cut) and rebuilds the text in
   one Arrow pass.  Whitespace is normalized ONLY at the cut
   seams (one space per seam) — bytes far from any duplicate span
   are preserved exactly, the paper's semantics (ADVICE r6: the r6
   cut reflowed the whole document).

A shared passage of L tokens yields L−k+1 duplicated windows whose
merged span is exactly the passage, so the keeper doc keeps it intact
and every other doc loses precisely the shared chars — pinned against
a brute-force literal-token-tuple python oracle in
tests/test_substring_dedup.py.

Scale shape: the window table is the honest cost of EXACT substring
dedup (corpus-token-sized, 32 B/row, shuffled once on uniform keys;
the suffix-array build moves the same bytes through a single
machine's RAM instead).  The call is lazy: it starts no Spark job and
caches nothing, and the window ``mapInArrow`` appears once in the
returned plan, so it runs once, in whatever job materializes the
result (in ``jobs/curate.py``, the stage's checkpoint or commit).
The input is read twice (by the window pass and by the final join),
so a caller should hand in a materialized frame.
``max_occurrences`` caps degenerate windows (empty/boilerplate
explosions — the max_bucket pattern from the LSH family);
capped hashes are treated as boilerplate and removed from every doc
INCLUDING the would-be keeper, reported separately.
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_B = 1099511628211  # FNV-ish odd multiplier for the rolling hash
_B2 = 2862933555777941757  # second independent odd multiplier (LCG mult)
_LEN_MIX = np.uint64(0x9E3779B97F4A7C15)
_WORD_RE = r"[^\s]+"
_PAT = re.compile(_WORD_RE)

_U64 = 1 << 64


class _PowCache:
    """Growing per-process cache of B^i / B^-i (mod 2^64) power
    tables — one pair per multiplier, shared by every batch a reused
    python worker processes."""

    def __init__(self, mult: int):
        self.mult = np.uint64(mult)
        self.inv = np.uint64(pow(mult, -1, _U64))
        self.fw = np.array([1], dtype=np.uint64)
        self.bw = np.array([1], dtype=np.uint64)

    def grow(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        if len(self.fw) <= n:
            m = max(n + 1, 2 * len(self.fw))
            fw = np.empty(m, dtype=np.uint64)
            bw = np.empty(m, dtype=np.uint64)
            fw[0] = bw[0] = 1
            np.multiply.accumulate(
                np.full(m - 1, self.mult, dtype=np.uint64), out=fw[1:]
            )
            np.multiply.accumulate(
                np.full(m - 1, self.inv, dtype=np.uint64), out=bw[1:]
            )
            self.fw, self.bw = fw, bw
        return self.fw, self.bw


_POWS = {_B: _PowCache(_B), _B2: _PowCache(_B2)}


def _poly_window_hashes(
    u: np.ndarray, s: np.ndarray, e: np.ndarray, k: int, mult: int
) -> np.ndarray:
    """Window hashes for one multiplier, fully vectorized.

    Token hash  th[i] = Σ_j u[j]·B^(e−1−j) over the token's code
    points (+ length mix), via prefix sums with the modular inverse:
    P[i] = Σ_{j<i} u[j]·B⁻ʲ  ⇒  th = (P[e]−P[s])·B^(e−1).
    Window hash wh[i] = Σ_j th[i+j]·B^(k−1−j), same trick one level
    up.  All uint64 wraparound arithmetic — stable across processes.
    """
    n = len(s)
    pc = _POWS[mult]
    fw, bw = pc.grow(max(len(u), n + k))
    P = np.zeros(len(u) + 1, dtype=np.uint64)
    np.cumsum(u * bw[: len(u)], out=P[1:])
    th = (P[e] - P[s]) * fw[e - 1]
    th += (e - s).astype(np.uint64) * _LEN_MIX
    Q = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(th * bw[:n], out=Q[1:])
    return (Q[k:] - Q[:-k]) * fw[k - 1 : n]


def _window_cols(text: str, k: int):
    """(h, h2, start_char, end_char) arrays for every k-token window
    of ``text`` — the vectorized twin of the oracle's literal token
    tuples (equality on (h, h2) ⇔ equality of the token tuple up to a
    ~2⁻¹²⁸ double collision)."""
    text = text or ""
    spans = [(m.start(), m.end()) for m in _PAT.finditer(text)]
    n = len(spans)
    empty = np.empty(0, dtype=np.int64)
    if n < k:
        return empty, empty, empty, empty
    se = np.asarray(spans, dtype=np.int64)
    u = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    s, e = se[:, 0], se[:, 1]
    h1 = _poly_window_hashes(u, s, e, k, _B).view(np.int64)
    h2 = _poly_window_hashes(u, s, e, k, _B2).view(np.int64)
    return h1, h2, s[: n - k + 1], se[k - 1 :, 1]


def _windows_map_arrow(k: int, id_field: str):
    """mapInArrow stage 1: (id, text) batches → (id, h, h2, s, e)
    rows, one per k-token window.  Output Arrow arrays are built
    column-wise from numpy — zero per-window python objects."""
    import pyarrow as pa

    def _gen(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            hs, h2s, ss, es, counts = [], [], [], [], []
            for t in texts:
                h1, h2, s, e = _window_cols(t, k)
                hs.append(h1)
                h2s.append(h2)
                ss.append(s)
                es.append(e)
                counts.append(len(h1))
            rep = np.repeat(np.arange(len(texts)), counts)
            out = pa.record_batch(
                [
                    ids.take(pa.array(rep)),
                    pa.array(np.concatenate(hs) if hs else np.empty(0, np.int64)),
                    pa.array(np.concatenate(h2s) if h2s else np.empty(0, np.int64)),
                    pa.array(
                        (np.concatenate(ss) if ss else np.empty(0, np.int64)).astype(
                            np.int32
                        )
                    ),
                    pa.array(
                        (np.concatenate(es) if es else np.empty(0, np.int64)).astype(
                            np.int32
                        )
                    ),
                ],
                names=[id_field, "h", "h2", "s", "e"],
            )
            yield out

    return _gen


def _cut_spans_udf(text_col: str = "text"):
    """Merge overlapping char spans and cut them from the text —
    Arrow pass over (text, spans).  Whitespace is collapsed ONLY at
    the cut seams (single space per seam, seam-adjacent runs
    stripped); untouched bytes are preserved exactly."""

    @F.pandas_udf("struct<text: string, n_removed_chars: int, n_spans: int>")
    def _cut(texts: pd.Series, spans: pd.Series) -> pd.DataFrame:
        new_texts, n_chars, n_spans = [], [], []
        for t, sp in zip(texts, spans):
            t = t or ""
            if sp is None or len(sp) == 0:
                new_texts.append(t)
                n_chars.append(0)
                n_spans.append(0)
                continue
            ivs = sorted((int(x["s"]), int(x["e"])) for x in sp)
            merged = [list(ivs[0])]
            for s, e in ivs[1:]:
                if s <= merged[-1][1]:
                    merged[-1][1] = max(merged[-1][1], e)
                else:
                    merged.append([s, e])
            parts, pos, cut = [], 0, 0
            for s, e in merged:
                parts.append(t[pos:s])
                cut += e - s
                pos = e
            parts.append(t[pos:])
            out = parts[0]
            for p in parts[1:]:
                left, right = out.rstrip(), p.lstrip()
                out = left + (" " if left and right else "") + right
            new_texts.append(out)
            n_chars.append(cut)
            n_spans.append(len(merged))
        return pd.DataFrame(
            {"text": new_texts, "n_removed_chars": n_chars, "n_spans": n_spans}
        )

    return _cut


def substring_dedup(
    df: DataFrame,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_occurrences: int = 10_000,
) -> DataFrame:
    """Remove every duplicated ≥k-token substring, keeping the
    occurrence at min(doc_id, start_char).  Returns the input columns
    with ``text`` rewritten plus ``n_removed_chars``/``n_spans``.

    ``max_occurrences``: a window at more positions than this is
    degenerate boilerplate — removed from EVERY doc (no keeper) and
    counted in the spans like any other cut."""
    id_type = dict(df.dtypes)[id_col]
    wins = df.select(id_col, text_col).mapInArrow(
        _windows_map_arrow(k, id_col),
        schema=f"{id_col} {id_type}, h bigint, h2 bigint, s int, e int",
    )
    # one exchange on the 128-bit (h, h2) key gives every window its
    # occurrence count and its global keeper, beside the window row; a
    # window seen once is its own keeper, so only the cap needs occ > 1
    w = Window.partitionBy("h", "h2")
    keep = F.min(F.struct(F.col(id_col).alias("kid"), F.col("s").alias("ks"))).over(w)
    marked = wins.select(
        id_col, "s", "e", F.count(F.lit(1)).over(w).alias("occ"), keep.alias("keep")
    ).where(
        (F.col("occ") > max(max_occurrences, 1))
        | (F.col(id_col) != F.col("keep.kid"))
        | (F.col("s") != F.col("keep.ks"))
    )
    spans = marked.groupBy(id_col).agg(
        F.collect_list(F.struct("s", "e")).alias("_spans")
    )
    cut = _cut_spans_udf(text_col)
    joined = df.join(spans, id_col, "left")
    out = joined.withColumn("_c", cut(F.col(text_col), F.col("_spans")))
    keep_cols = [c for c in df.columns if c != text_col]
    return out.select(
        *keep_cols,
        F.col("_c.text").alias(text_col),
        F.col("_c.n_removed_chars").alias("n_removed_chars"),
        F.col("_c.n_spans").alias("n_spans"),
    )
