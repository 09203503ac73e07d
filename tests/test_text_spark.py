"""Three-way parity for the text scorers: the pandas UDFs (Python
stage), the pure-Column twins (JVM scale path used by the driver
queries) and the single-node python oracle must agree row for row on
the documents table."""

import pytest
from pyspark.sql import functions as F

from earth_data_kit_spark.functions.udfs import (
    detect_lang_udf,
    token_count_udf,
)
from earth_data_kit_spark.text import analysis
from earth_data_kit_spark.text.textcols import (
    letter_tokens_col,
    quality_score_col,
    token_count_col,
)

SF = "/root/testdata/sf0.001"

EDGE_TEXTS = [
    None,
    "", "   ", "a", "ab cd!", "@@@ ### !!!", "12345 67890",
    "the cat and the dog sat in the house",
    "der Hund und die Katze ist nicht da",
    "short", "x " * 200, "word" * 50,
]


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    edge = spark.createDataFrame(
        [(10_000 + i, t) for i, t in enumerate(EDGE_TEXTS)], "doc_id bigint, text string"
    )
    df = base.unionByName(edge).cache()
    yield df
    df.unpersist()


def test_quality_udf_column_python_agree(docs):
    out = docs.select(
        "doc_id",
        "text",
        quality_score_col(F.col("text")).alias("q_col"),
    ).collect()
    for r in out:
        assert abs(analysis.quality_score(r.text) - r.q_col) < 1e-9, r.doc_id


def test_token_count_udf_column_agree(docs):
    out = docs.select(
        "text",
        token_count_udf(F.col("text")).alias("n_udf"),
        token_count_col(F.col("text")).alias("n_col"),
    ).collect()
    for r in out:
        assert r.n_udf == r.n_col == analysis.token_count(r.text)


def test_langid_udf_matches_python_and_tokens(docs):
    out = docs.select(
        "text",
        detect_lang_udf(F.col("text")).alias("lang_udf"),
        letter_tokens_col(F.col("text")).alias("toks"),
    ).collect()
    for r in out:
        assert r.lang_udf == analysis.detect_lang(r.text)
        assert list(r.toks) == analysis.letter_tokens(r.text)
