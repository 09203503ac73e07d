"""Sequence packing (operators/packing.py): per-shard FFD equals the
shared python packer, invariants hold, and the plan is one exchange.
"""

import pytest
from pyspark.sql import functions as F

from earth_data_kit_spark.operators.packing import (
    ffd_pack,
    pack_sequences,
    packing_stats,
)

SF = "/root/testdata/sf0.01"
MAX_TOK = 512


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def packed(spark, docs):
    df = pack_sequences(docs, MAX_TOK, shards=8).cache()
    yield df
    df.unpersist()


def test_every_doc_assigned_once(docs, packed):
    assert packed.count() == docs.count()
    assert packed.select("doc_id").distinct().count() == docs.count()


def test_no_sequence_exceeds_budget(packed):
    over = (
        packed.where(~F.col("oversize"))
        .groupBy("seq_id")
        .agg(F.sum("n_tokens").alias("t"))
        .where(F.col("t") > MAX_TOK)
    )
    assert over.count() == 0
    # oversize docs sit alone in their sequence
    solo = packed.where("oversize").groupBy("seq_id").count().where("count > 1")
    assert solo.count() == 0


def test_matches_python_packer_per_shard(packed):
    rows = packed.collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.seq_id >> 32, []).append(r)
    assert len(by_shard) > 1
    for shard, rs in by_shard.items():
        want = ffd_pack([(r.doc_id, r.n_tokens) for r in rs], MAX_TOK)
        got = {r.doc_id: r.seq_id & 0xFFFFFFFF for r in rs}
        assert got == want


def test_deterministic(spark, docs):
    a = {(r.doc_id, r.seq_id) for r in pack_sequences(docs, MAX_TOK, shards=8).collect()}
    b = {(r.doc_id, r.seq_id) for r in pack_sequences(docs, MAX_TOK, shards=8).collect()}
    assert a == b


def test_fill_rate_reasonable(packed):
    st = packing_stats(packed, MAX_TOK).collect()[0]
    # FFD on many small docs should fill sequences well; even with
    # per-shard fragmentation the non-oversize fill rate stays high
    assert st.fill_rate > 0.8
    assert st.n_seqs > 0
    assert st.n_docs == packed.count()


def test_stored_token_col_path_skips_udf(spark, docs):
    pre = docs.withColumn("tok", F.lit(100))
    out = pack_sequences(pre, MAX_TOK, shards=4, token_col="tok")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # only the FlatMapGroupsInPandas packer itself — no tokenizer UDF
    assert plan.count("ArrowEvalPython") == 0
    assert out.where("n_tokens != 100").count() == 0


def test_ffd_pack_properties_hypothesis():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=900), max_size=60),
        st.integers(min_value=1, max_value=800),
    )
    def _check(tokens, max_tokens):
        items = list(enumerate(tokens))
        out = ffd_pack(items, max_tokens)
        assert set(out) == {i for i, _ in items}  # every doc assigned
        fill: dict[int, int] = {}
        for i, tok in items:
            fill[out[i]] = fill.get(out[i], 0) + tok
        for b, tot in fill.items():
            members = [i for i in out if out[i] == b]
            oversize = any(tokens[i] > max_tokens for i in members)
            if oversize:
                assert len(members) == 1  # oversize docs sit alone
            else:
                assert tot <= max_tokens
        # determinism
        assert ffd_pack(items, max_tokens) == out

    _check()


def test_fill_rate_zero_when_all_sequences_oversize(spark):
    """Advisor r3 (low): fill_rate was 0/0 -> null when every sequence
    is oversize; must coalesce to 0.0 and document the exclusion."""
    from earth_data_kit_spark.operators.packing import pack_sequences, packing_stats

    docs = spark.createDataFrame(
        [(1, "w " * 900), (2, "w " * 1200)], "doc_id bigint, text string"
    )
    packed = pack_sequences(docs, max_tokens=64, shards=2)
    st = packing_stats(packed, 64).collect()[0]
    assert st.n_oversize == st.n_seqs > 0
    assert st.fill_rate == 0.0
