"""Text analysis for the training-data pipeline: language-ID, quality
scoring, token counting, document fingerprinting, shingles/minhash/
simhash primitives.

Pure python/numpy; the pandas UDFs in functions/udfs.py call these,
and tests use them directly as oracles.  All hashes are deterministic
(no PYTHONHASHSEED dependence): blake2b with fixed digest sizes.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

_WORD = re.compile(r"\w+(?:'\w+)?|[^\w\s]", re.UNICODE)
_WS = re.compile(r"\s+")

# tiny per-language stopword profiles for the n-gram/stopword heuristic
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "den", "von"),
    "fr": ("le", "la", "les", "et", "des", "est", "une", "dans", "que", "pour"),
    "es": ("el", "la", "los", "de", "que", "es", "una", "por", "con", "para"),
    "it": ("il", "la", "di", "che", "per", "una", "sono", "con", "del", "non"),
    "pt": ("o", "a", "de", "que", "do", "da", "em", "um", "para", "com"),
    "sq": ("dhe", "një", "të", "në", "për", "me", "nga", "është", "se", "si"),
}


def tokenize(text: str) -> list[str]:
    """Word + punctuation tokens (a BPE-ish regex split)."""
    return _WORD.findall(text or "")


def token_count(text: str) -> int:
    return len(tokenize(text))


def whitespace_token_count(text: str) -> int:
    """Plain whitespace split count — SQL-expressible mirror used by
    the oracle-paired quality query."""
    t = (text or "").strip()
    return 0 if not t else len(_WS.split(t))


# ASCII character classes, deliberately: the quality/langid arithmetic
# is mirrored THREE ways (this python oracle, Spark Columns, DuckDB
# SQL — see functions/textcols.py and __spark_entry__.py), and
# Python's unicode-aware str.isalpha() disagrees with RE2/Java \p{L}
# on edge cases.  Fixing the classes to ASCII makes all three engines
# bit-identical; non-ASCII chars count as punctuation uniformly.
_RE_ALPHA = re.compile(r"[A-Za-z]")
_RE_DIGIT = re.compile(r"[0-9]")
_RE_SPACE = re.compile(r"[ \t\n\r\f\v]")
_RE_NONLETTER = re.compile(r"[^a-z]+")


def quality_stats(text: str) -> dict:
    """Length/punct/stopword ratio quality signals (C4/Gopher-style
    heuristics from public literature).  Every field is expressible
    as the same arithmetic in Spark SQL and DuckDB; words are
    whitespace tokens, character classes are ASCII (see note above).
    """
    t = text or ""
    n = len(t)
    n_alpha = len(_RE_ALPHA.findall(t))
    n_digit = len(_RE_DIGIT.findall(t))
    n_space = len(_RE_SPACE.findall(t))
    n_punct = n - n_alpha - n_digit - n_space
    n_words = whitespace_token_count(t)
    letters = letter_tokens(t)
    en_stop = set(_LANG_MARKERS["en"])
    stop_hits = sum(1 for w in letters if w in en_stop)
    return {
        "n_chars": n,
        "n_tokens": token_count(t),
        "n_words": n_words,
        "mean_word_len": (n - n_space) / n_words if n_words else 0.0,
        "alpha_ratio": n_alpha / n if n else 0.0,
        "digit_ratio": n_digit / n if n else 0.0,
        "punct_ratio": n_punct / n if n else 0.0,
        "stopword_ratio": stop_hits / len(letters) if letters else 0.0,
    }


def quality_score(text: str) -> float:
    """Scalar [0,1] quality score from the stats (fixed weights).
    Pure CASE/arithmetic over quality_stats fields — the single
    source of truth mirrored by quality_score_col (Spark) and
    quality_score_duckdb_sql (oracle)."""
    s = quality_stats(text)
    score = 1.0
    if s["n_words"] < 5:
        score *= 0.2
    if s["mean_word_len"] < 2.0 or s["mean_word_len"] > 12.0:
        score *= 0.5
    score *= min(1.0, max(0.0, s["alpha_ratio"] * 1.25))
    if s["punct_ratio"] > 0.25:
        score *= 0.5
    return round(score, 6)


def letter_tokens(text: str) -> list[str]:
    """Lowercase [a-z]+ token stream (non-letters → separators) — the
    normalization shared by langid across python/Spark/DuckDB."""
    return [w for w in _RE_NONLETTER.sub(" ", (text or "").lower()).split(" ") if w]


def detect_lang(text: str) -> str:
    """Stopword-profile language ID over letter_tokens; 'und' when
    nothing matches.  Ties break to the alphabetically-first language
    (strictly-greater update over sorted langs)."""
    words = letter_tokens(text)
    if not words:
        return "und"
    bag: dict[str, int] = {}
    for w in words:
        bag[w] = bag.get(w, 0) + 1
    best, best_hits = "und", 0
    for lang in sorted(_LANG_MARKERS):
        hits = sum(bag.get(m, 0) for m in _LANG_MARKERS[lang])
        if hits > best_hits:
            best, best_hits = lang, hits
    return best


def _h64(data: bytes, salt: bytes = b"") -> int:
    return int.from_bytes(hashlib.blake2b(data, digest_size=8, key=salt[:64]).digest(), "big")


def fingerprint64(text: str) -> int:
    """Stable 63-bit document fingerprint (content hash)."""
    return _h64((text or "").encode("utf-8")) & 0x7FFFFFFFFFFFFFFF


def shingles(text: str, k: int = 5) -> list[str]:
    """Word k-shingles over canonical lowercase tokens."""
    toks = [w.lower() for w in tokenize(text or "") if w[0].isalnum()]
    if len(toks) < k:
        return [" ".join(toks)] if toks else []
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


_MINHASH_RNG = np.random.default_rng(42)
_MINHASH_A = (_MINHASH_RNG.integers(0, 1 << 62, size=256, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
_MINHASH_B = _MINHASH_RNG.integers(0, 1 << 63, size=256, dtype=np.uint64)


def minhash_signature(text: str, num_perm: int = 64, k: int = 5) -> list[int]:
    """MinHash over word shingles via the multiply-shift universal
    hash family h_i(x) = ((a_i*x + b_i) mod 2^64) >> 1 — fully numpy
    vectorized (shingles × permutations in one matrix op), params
    from a fixed seed so signatures are deterministic."""
    sh = shingles(text, k)
    if not sh:
        return [0] * num_perm
    base = np.array([_h64(s.encode("utf-8")) for s in sh], dtype=np.uint64)
    a = _MINHASH_A[:num_perm]
    b = _MINHASH_B[:num_perm]
    with np.errstate(over="ignore"):
        hv = (base[:, None] * a[None, :] + b[None, :]) >> np.uint64(1)
    return [int(v) for v in hv.min(axis=0)]


def minhash_bands(sig: list[int], bands: int = 16) -> list[int]:
    """LSH band keys: hash of each band's slice (rows = len/bands)."""
    rows = len(sig) // bands
    keys = []
    for b in range(bands):
        chunk = ",".join(str(v) for v in sig[b * rows : (b + 1) * rows])
        keys.append(_h64(f"{b}:{chunk}".encode()) & 0x7FFFFFFFFFFFFFFF)
    return keys


def simhash64(text: str) -> int:
    """64-bit SimHash over word shingles (k=2) with unit weights."""
    sh = shingles(text, 2)
    if not sh:
        return 0
    hs = np.array([_h64(s.encode("utf-8")) for s in sh], dtype=np.uint64)
    bits = (hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)
    acc = (2 * bits.astype(np.int64) - 1).sum(axis=0)
    out = int(np.bitwise_or.reduce(np.where(acc > 0, np.uint64(1) << np.arange(64, dtype=np.uint64), np.uint64(0))))
    return out & 0x7FFFFFFFFFFFFFFF


def hamming64(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    return len(a & b) / len(a | b)
