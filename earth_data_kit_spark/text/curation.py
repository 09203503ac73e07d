"""Corpus-curation operators a web-scale training pipeline runs
between extraction and storage — beyond the reference's surface (it
has no text pipeline), following the build brief's "operations a
large-scale training-data pipeline would need".

Everything below EXCEPT the repetition signals is PURE Columns
(whole-stage codegen, no Python in the hot path — the same rule as
text/textcols.py): at 10¹² documents these run in the same map stage
as extraction, shuffling nothing.  The Gopher repetition signals
(``repetition_signals_udf``) need per-document n-gram counting, which
is inherently an Arrow pandas UDF — still map-only and batched, but
Python-worker execution.

* ``canonical_url_col`` — scheme/host lowercasing, default-port and
  fragment stripping, tracking-parameter removal, trailing-slash
  normalization: the key for URL-level dedup (two crawls of the same
  page almost never share the raw URL string).
* ``gopher_quality_cols`` / ``gopher_keep_col`` — the repetition and
  shape heuristics of Rae et al. 2021 (Gopher, arXiv:2112.11446
  table A1) as a typed struct: word count bounds, mean word length,
  symbol-to-word ratio, bullet/ellipsis line fractions, duplicate-line
  fraction, alpha-word fraction.
* ``redact_pii_col`` / ``pii_counts_col`` — email / phone / IPv4
  pattern redaction with per-kind counts (the scrub a corpus pass
  applies before storage).
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# URL canonicalization
# ---------------------------------------------------------------------------

# NOTE: deliberately excludes ``ref`` — unlike utm_*/gclid/fbclid it
# routinely selects CONTENT (e.g. a VCS branch), and stripping it
# would collapse distinct pages into one dedup key
_TRACKING_PARAMS = r"(utm_[a-z]+|gclid|fbclid|msclkid|mc_eid)"


def canonical_url_col(url: Column) -> Column:
    """Canonical form for URL-level dedup, as one codegen'd
    expression (no UDF):

    1. lowercase scheme+host (path/query case is significant — kept),
    2. drop the fragment,
    3. drop default ports (:80 http, :443 https),
    4. drop tracking query params (utm_*, gclid, fbclid, …),
    5. drop a now-empty query string / dangling separators,
    6. drop one trailing slash on a non-root path.

    Hot-path shape (VERDICT r3 task 2): 4 regex passes, down from 8 —
    the authority split reuses one extract via substring arithmetic,
    the fragment drop is a literal substring_index, and the two
    default-port rules merge into one alternation whose replacement
    concatenates the (one non-empty) groups."""
    # 1. lowercase scheme://host; the tail is the remainder by LENGTH
    #    of the matched authority (no second regex pass)
    auth = F.regexp_extract(url, r"^([^:/?#]+://[^/?#]*)", 1)
    c = F.concat(
        F.lower(auth), F.substring(url, F.length(auth) + 1, F.length(url))
    )
    # 2. fragment: everything before the first '#' (literal scan)
    c = F.substring_index(c, "#", 1)
    # 3. default ports — one pass; the unmatched alternative's groups
    #    substitute as empty strings in Java replaceAll
    c = F.regexp_replace(
        c,
        r"^(http://[^/:?#]*):80(?=[/?#]|$)|^(https://[^/:?#]*):443(?=[/?#]|$)",
        r"$1$2",
    )
    # 4. tracking params: lookbehind keeps the separator unconsumed,
    #    so adjacent tracking params all match in ONE replaceAll pass
    #    (Java lookbehind evaluates input positions, not prior
    #    consumption); each match eats its own trailing '&'
    c = F.regexp_replace(c, r"(?<=[?&])" + _TRACKING_PARAMS + r"=[^&#]*&?", "")
    # 5. drop a now-dangling trailing '?' / '&'
    c = F.regexp_replace(c, r"[?&]+$", "")
    # 6. trailing slash on a non-root path
    c = F.regexp_replace(c, r"(://[^/?#]+/[^?#]*?)/(?=\?|$)", r"$1")
    return c


def url_dedup(df, url_col: str = "url", id_col: str = "page_id"):
    """Exact dedup on the canonical URL: keep the lowest id per
    canonical form — one shuffle on the canonical string, map-side
    combinable (same shape as dedup.exact_dedup)."""
    return (
        df.select(F.col(id_col), canonical_url_col(F.col(url_col)).alias("canon_url"))
        .groupBy("canon_url")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
        .select(id_col, "canon_url", "n_dups")
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rules (Rae et al. 2021, appendix A1)
# ---------------------------------------------------------------------------


# Java \s charset — what split(text, r"\s+") breaks words on;
# deleting these via translate counts total word characters in one
# pass instead of an aggregate() lambda over the words array
_WS_CHARS = " \t\n\x0b\f\r"


def gopher_quality_cols(text: Column) -> Column:
    """The document-shape signals as one struct Column.  Word = a
    whitespace token; line = a newline-split segment.  All array /
    higher-order functions — no Python.

    Hot-path shape (VERDICT r3 task 2: 14.9k → ≥50k docs/s): counting
    regexes are replaced by length-difference arithmetic over
    translate/replace (same values — the closed-form tests in
    tests/test_curation.py pin them), per-word/per-line rlike
    predicates become charset-translate / substring / endswith
    checks, and lines are trimmed ONCE into a shared array instead of
    once per signal."""
    # words are never materialized as an array: a word is a maximal
    # \S+ run, so n_words is one regexp_count pass, and a word
    # containing ≥1 alpha char is one non-overlapping match of
    # \S*[alpha]\S* (the first match inside a run consumes the whole
    # run, so each qualifying word counts exactly once) — both
    # codegen'd, vs split + two interpreted HOF filters
    n_words_c = F.regexp_count(text, F.lit(r"\S+"))
    alpha_words_c = F.regexp_count(text, F.lit(r"\S*[A-Za-zÀ-ÿ]\S*"))
    # one trim pass shared by the bullet / ellipsis / dup-line signals
    tlines = F.filter(F.transform(F.split(text, r"\n"), F.trim), lambda l: l != "")

    def _signals(b: Column) -> Column:
        n_words, alpha_words, tl = b["nw"], b["aw"], b["tl"]
        # mean word length over CHARACTERS of words == non-whitespace
        # chars of the text (words partition exactly the non-\s chars)
        total_word_chars = F.length(F.translate(text, _WS_CHARS, ""))
        mean_word_len = F.when(n_words > 0, total_word_chars / n_words).otherwise(F.lit(0.0))
        alpha_frac = F.when(n_words > 0, alpha_words / n_words).otherwise(F.lit(0.0))
        # symbol-to-word ratio: hashes and ellipses per word.  '#' and
        # '…' counts are summed anyway, so ONE translate-delete of
        # both chars yields their combined count (len·2 − a − b ==
        # len − len_without_both, exact integer arithmetic — r7,
        # merged from two passes); non-overlapping "..." runs by
        # literal replace (a k-dot run yields floor(k/3) matches
        # either way, and '…' is a distinct char so the counts never
        # interact — the regex alternation r"\.\.\.|…" scanned the
        # same way)
        n_symbols = (
            (F.length(text) - F.length(F.translate(text, "#…", "")))
            + (F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))) / 3
        )
        symbol_ratio = F.when(n_words > 0, n_symbols / n_words).otherwise(F.lit(0.0))
        n_lines = F.size(tl)
        bullet_frac = F.when(
            n_lines > 0,
            F.size(F.filter(tl, lambda l: F.substring(l, 1, 1).isin("-", "*", "•")))
            / n_lines,
        ).otherwise(F.lit(0.0))
        ellipsis_frac = F.when(
            n_lines > 0,
            F.size(F.filter(tl, lambda l: l.endswith("...") | l.endswith("…")))
            / n_lines,
        ).otherwise(F.lit(0.0))
        dup_line_frac = F.when(
            n_lines > 0,
            (n_lines - F.size(F.array_distinct(tl))) / n_lines,
        ).otherwise(F.lit(0.0))
        return F.struct(
            n_words.cast("bigint").alias("n_words"),
            F.round(mean_word_len, 6).alias("mean_word_len"),
            F.round(alpha_frac, 6).alias("alpha_word_frac"),
            F.round(symbol_ratio, 6).alias("symbol_word_ratio"),
            F.round(bullet_frac, 6).alias("bullet_line_frac"),
            F.round(ellipsis_frac, 6).alias("ellipsis_line_frac"),
            F.round(dup_line_frac, 6).alias("dup_line_frac"),
        )

    # let-binding via a 1-element transform(): Catalyst does NOT
    # common-subexpression-eliminate higher-order-function trees
    # across struct fields, so referencing `words` from n_words /
    # alpha_frac / the four per-word ratios re-ran split+filter per
    # field (measured: the struct cost 2.8 s while the sum of its
    # parts was 1.6 s).  Binding the two arrays to a lambda variable
    # guarantees one evaluation each.
    return F.transform(
        F.array(
            F.struct(
                n_words_c.alias("nw"), alpha_words_c.alias("aw"), tlines.alias("tl")
            )
        ),
        _signals,
    )[0]


def gopher_keep_col(q: Column) -> Column:
    """The published keep predicate over gopher_quality_cols output
    (Gopher A1 thresholds; word bounds scaled to web docs).

    The struct is let-bound (1-element transform) before the 9 field
    reads: gopher_quality_cols' output is itself a let-bound
    expression that Catalyst can't collapse per-field, so reading its
    fields directly would re-evaluate the full signal computation
    nine times (measured 15 s vs 2 s over 320k docs)."""

    def _pred(s: Column) -> Column:
        keep = (
            (s["n_words"] >= 50)
            & (s["n_words"] <= 100_000)
            & (s["mean_word_len"] >= 3)
            & (s["mean_word_len"] <= 10)
            & (s["symbol_word_ratio"] <= 0.1)
            & (s["bullet_line_frac"] <= 0.9)
            & (s["ellipsis_line_frac"] <= 0.3)
            & (s["alpha_word_frac"] >= 0.8)
            & (s["dup_line_frac"] <= 0.3)
        )
        return keep

    return F.transform(F.array(q), _pred)[0]


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# phone-shaped only: either an explicit +CC international run, or
# digit groups with MANDATORY separators — with all separators
# optional, any bare 9-15 digit run (epoch timestamps, order ids,
# ISBNs) matched and was destroyed by the scrub (code-review r3)
# possessive quantifiers ({..}+): digit runs never backtrack — the
# backtracking form measured 2.4× slower over the corpus scan
_PHONE_RE = (
    r"(?<![\w.])(?:"
    r"\+\d{7,15}+"  # +14155550199
    r"|\+?+\d{1,3}+[-. (]\(?+\d{2,4}+\)?+[-. )]\d{3,4}+[-. ]?+\d{0,4}+"  # separated groups
    r")(?![\w.])"
)
_IPV4_RE = (
    r"(?<![\w.])(?:(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}"
    r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)(?![\w.])"
)


def _has_at(text: Column) -> Column:
    # any email match contains a literal '@' — Contains is a plain
    # codegen'd substring scan, far cheaper than the pattern attempt
    # machinery at every position of an @-less document
    return text.contains("@")


def _has_digit(text: Column) -> Column:
    # any phone / IPv4 match contains a digit; a bare char-class
    # rlike early-exits at the first digit
    return text.rlike("[0-9]")


def pii_counts_col(text: Column) -> Column:
    """(n_emails, n_phones, n_ipv4) per document — the audit signal a
    scrub pass reports before/after.  ``regexp_count`` (r7): counts
    non-overlapping matches WITHOUT materializing the match-string
    array ``size(regexp_extract_all(...))`` built per row — same
    values (both count non-overlapping matches of the same pattern),
    no per-match string allocation.

    Anchor-char guards (r7, guide §1.2 per-task work): every email
    match contains '@' and every phone/IPv4 match contains a digit,
    so the expensive pattern scan is short-circuited by a literal
    contains / one-char-class probe when the anchor is absent — the
    common case for most web documents.  NULL text still yields NULL
    counts (the guard's otherwise-branch preserves regexp_count's
    null semantics)."""

    def _guarded(anchor: Column, pat: str) -> Column:
        return (
            F.when(text.isNull(), F.lit(None).cast("int"))
            .when(anchor, F.regexp_count(text, F.lit(pat)))
            .otherwise(F.lit(0))
            .cast("bigint")
        )

    return F.struct(
        _guarded(_has_at(text), _EMAIL_RE).alias("n_emails"),
        _guarded(_has_digit(text), _PHONE_RE).alias("n_phones"),
        _guarded(_has_digit(text), _IPV4_RE).alias("n_ipv4"),
    )


def redact_pii_col(text: Column) -> Column:
    """Replace matches with typed placeholder tokens (emails first —
    an email's host part must not be half-eaten by the IP rule).
    Same anchor-char guards as ``pii_counts_col``: a replace whose
    pattern cannot match (no '@' / no digit) returns its input
    unchanged, so skipping it is value-equal (NULL passes through
    either way)."""
    c = F.when(_has_at(text), F.regexp_replace(text, _EMAIL_RE, "<EMAIL>")).otherwise(text)
    digits = _has_digit(text)
    c = F.when(digits, F.regexp_replace(c, _IPV4_RE, "<IP>")).otherwise(c)
    c = F.when(digits, F.regexp_replace(c, _PHONE_RE, "<PHONE>")).otherwise(c)
    return c


# ---------------------------------------------------------------------------
# Gopher-style repetition removal (Rae et al. 2021, appendix A1 —
# public methodology; the signals beyond dup_line_frac need per-doc
# n-gram counting, which is an Arrow UDF, not Column algebra)
# ---------------------------------------------------------------------------


def repetition_signals(text: str) -> dict:
    """Pure-python twin of ``repetition_signals_udf`` — the UDF maps
    this over each Arrow batch, and the tests oracle against it.

    * dup_para_frac / dup_para_char_frac — duplicate paragraphs
      (``\\n\\n`` blocks) by count and by character mass;
    * dup_line_char_frac — characters inside duplicate lines;
    * top{2,3,4}gram_char_frac — character mass of the single most
      frequent word n-gram (boilerplate beacons);
    * dup{5..10}gram_char_frac — character mass of all word n-grams
      occurring more than once (templated spam), capped at 1.
    """
    t = text if isinstance(text, str) else ""  # None AND float NaN → ""
    total = max(len(t), 1)

    def _dup_fracs(parts: list[str]) -> tuple[float, float]:
        parts = [p for p in (s.strip() for s in parts) if p]
        if not parts:
            return 0.0, 0.0
        c = Counter(parts)
        dup_n = sum(n for n in c.values() if n > 1)
        dup_chars = sum(len(p) * n for p, n in c.items() if n > 1)
        return dup_n / len(parts), min(1.0, dup_chars / total)

    dup_para_frac, dup_para_char_frac = _dup_fracs(t.split("\n\n"))
    _, dup_line_char_frac = _dup_fracs(t.split("\n"))

    words = t.split()
    out = {
        "dup_para_frac": dup_para_frac,
        "dup_para_char_frac": dup_para_char_frac,
        "dup_line_char_frac": dup_line_char_frac,
    }
    for n in (2, 3, 4):
        grams = _ngram_counts(words, n)
        if grams:
            g, cnt = grams.most_common(1)[0]
            out[f"top{n}gram_char_frac"] = min(1.0, len(g) * cnt / total) if cnt > 1 else 0.0
        else:
            out[f"top{n}gram_char_frac"] = 0.0
    for n in range(5, 11):
        grams = _ngram_counts(words, n)
        dup_chars = sum(len(g) * c for g, c in grams.items() if c > 1)
        out[f"dup{n}gram_char_frac"] = min(1.0, dup_chars / total)
    return out


def _ngram_counts(words: list[str], n: int) -> "Counter":
    return Counter(" ".join(words[i : i + n]) for i in range(len(words) - n + 1))


_REP_FIELDS = (
    ["dup_para_frac", "dup_para_char_frac", "dup_line_char_frac"]
    + [f"top{n}gram_char_frac" for n in (2, 3, 4)]
    + [f"dup{n}gram_char_frac" for n in range(5, 11)]
)


def repetition_signals_udf():
    """Arrow UDF: text → struct of the 12 repetition signals."""
    schema = ", ".join(f"{f} double" for f in _REP_FIELDS)

    @F.pandas_udf(f"struct<{schema}>")
    def _rep(text: pd.Series) -> pd.DataFrame:
        rows = [repetition_signals(t) for t in text]
        return pd.DataFrame(rows, columns=_REP_FIELDS)

    return _rep


def gopher_repetition_keep_col(r: Column) -> Column:
    """The published repetition keep predicate (Gopher A1 thresholds:
    top-n-gram 0.20/0.18/0.16 for n=2..4; duplicated-n-gram 0.15 down
    to 0.10 for n=5..10; paragraph/line duplicate caps)."""
    keep = (
        (r["dup_para_frac"] <= 0.30)
        & (r["dup_para_char_frac"] <= 0.20)
        & (r["dup_line_char_frac"] <= 0.20)
    )
    for n, thr in ((2, 0.20), (3, 0.18), (4, 0.16)):
        keep = keep & (r[f"top{n}gram_char_frac"] <= thr)
    for i, n in enumerate(range(5, 11)):
        keep = keep & (r[f"dup{n}gram_char_frac"] <= 0.15 - 0.01 * i)
    return keep
