"""Spark Column / DuckDB SQL twins of text/analysis.py scoring.

The quality score and token count are deterministic arithmetic over
character-class and token counts, so they run three ways off one
semantic definition (analysis.quality_stats):

* ``quality_score_col`` — pure Spark Columns (JVM, codegen — the
  scale path used by the driver query; the pandas UDF in
  functions/udfs.py is the Python-stage variant, pinned equal by
  tests/test_text_spark.py);
* ``quality_score_duckdb_sql`` — the DuckDB oracle text;
* ``analysis.quality_score`` — the single-node python oracle.

Character classes are ASCII by design (analysis.py note): Python
``str.isalpha`` vs Java ``\\p{L}`` vs RE2 ``\\p{L}`` disagree on
unicode edge cases, and the driver gate hashes values exactly.

Dialect notes: Spark's ``regexp_replace`` is global; DuckDB needs the
explicit ``'g'`` flag — hence two texts instead of one shared one
(unlike functions/columns.py, which stays in the shared subset).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# the BPE-ish word/punct tokenizer of analysis.tokenize — \w and \s
# are ASCII-consistent across Python/Java/RE2 on ASCII text
TOKEN_PATTERN = r"\w+(?:'\w+)?|[^\w\s]"

_SPACE_CLASS_JAVA = "[ \\t\\n\\r\\f\\x0B]"
_SPACE_CLASS_RE2 = "[ \\t\\n\\r\\f\\x0B]"


def token_count_col(text: Column) -> Column:
    """analysis.token_count as a Column (regexp_extract_all size).
    Equal on ASCII text only: Java's ``\\w`` and ``\\s`` are ASCII
    classes and Python's are Unicode, so a word with a non-ASCII
    letter (``café``) splits into more Java tokens."""
    text = F.coalesce(text, F.lit(""))  # UDF twins map None → ""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), F.lit(0)))


def token_count_duckdb_sql(col: str) -> str:
    pat = TOKEN_PATTERN.replace("'", "''")
    return f"len(regexp_extract_all({col}, '{pat}'))"


def _counts_cols(text: Column) -> dict[str, Column]:
    text = F.coalesce(text, F.lit(""))  # UDF twins map None → ""
    n = F.length(text)
    n_alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", ""))
    n_digit = F.length(F.regexp_replace(text, "[^0-9]", ""))
    n_space = n - F.length(F.regexp_replace(text, _SPACE_CLASS_JAVA, ""))
    n_words = F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    )
    return {
        "n": n,
        "n_alpha": n_alpha,
        "n_punct": n - n_alpha - n_digit - n_space,
        "n_words": n_words,
        "nonspace": n - n_space,
    }


def quality_score_col(text: Column) -> Column:
    """analysis.quality_score as pure Columns (round 6 applied)."""
    c = _counts_cols(text)
    mwl = F.when(c["n_words"] > 0, c["nonspace"] / c["n_words"]).otherwise(F.lit(0.0))
    alpha_ratio = F.when(c["n"] > 0, c["n_alpha"] / c["n"]).otherwise(F.lit(0.0))
    punct_ratio = F.when(c["n"] > 0, c["n_punct"] / c["n"]).otherwise(F.lit(0.0))
    score = (
        F.when(c["n_words"] < 5, F.lit(0.2)).otherwise(F.lit(1.0))
        * F.when((mwl < 2.0) | (mwl > 12.0), F.lit(0.5)).otherwise(F.lit(1.0))
        * F.least(F.lit(1.0), F.greatest(F.lit(0.0), alpha_ratio * 1.25))
        * F.when(punct_ratio > 0.25, F.lit(0.5)).otherwise(F.lit(1.0))
    )
    return F.round(score, 6)


def quality_score_duckdb_sql(col: str) -> str:
    """The DuckDB mirror of quality_score_col, term for term."""
    n = f"length({col})"
    n_alpha = f"length(regexp_replace({col}, '[^A-Za-z]', '', 'g'))"
    n_digit = f"length(regexp_replace({col}, '[^0-9]', '', 'g'))"
    n_space = f"({n} - length(regexp_replace({col}, '{_SPACE_CLASS_RE2}', '', 'g')))"
    n_words = (
        f"(CASE WHEN length(trim({col})) = 0 THEN 0"
        f" ELSE len(string_split_regex(trim({col}), '\\s+')) END)"
    )
    n_punct = f"({n} - {n_alpha} - {n_digit} - {n_space})"
    # e-notation literals: DuckDB parses bare decimals as DECIMAL and
    # its decimal arithmetic rounds differently from IEEE doubles
    mwl = f"(CASE WHEN {n_words} > 0 THEN CAST({n} - {n_space} AS DOUBLE) / {n_words} ELSE 0e0 END)"
    alpha_ratio = f"(CASE WHEN {n} > 0 THEN CAST({n_alpha} AS DOUBLE) / {n} ELSE 0e0 END)"
    punct_ratio = f"(CASE WHEN {n} > 0 THEN CAST({n_punct} AS DOUBLE) / {n} ELSE 0e0 END)"
    return (
        "round("
        f"(CASE WHEN {n_words} < 5 THEN 2e-1 ELSE 1e0 END)"
        f" * (CASE WHEN {mwl} < 2e0 OR {mwl} > 12e0 THEN 5e-1 ELSE 1e0 END)"
        f" * least(1e0, greatest(0e0, {alpha_ratio} * 1.25e0))"
        f" * (CASE WHEN {punct_ratio} > 25e-2 THEN 5e-1 ELSE 1e0 END)"
        ", 6)"
    )


def letter_tokens_col(text: Column) -> Column:
    """analysis.letter_tokens as a Column: array of lowercase [a-z]+
    tokens (explode + filter at the call site)."""
    text = F.coalesce(text, F.lit(""))  # UDF twins map None → ""
    return F.filter(
        F.split(F.regexp_replace(F.lower(text), "[^a-z]+", " "), " "),
        lambda t: t != "",
    )


def letter_tokens_duckdb_sql(col: str) -> str:
    """DuckDB twin: list of lowercase letter tokens (unnest at site)."""
    return (
        "list_filter(string_split_regex("
        f"regexp_replace(lower({col}), '[^a-z]+', ' ', 'g'), ' '), t -> t <> '')"
    )
