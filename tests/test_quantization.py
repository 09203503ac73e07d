"""Int8 embedding quantization (operators/quantization.py):
round-trip error bound, top-k recall vs exact float, and a pure-JVM
plan."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from earth_data_kit_spark.operators.quantization import (
    cosine_topk_quantized,
    quantize_embeddings,
)
from earth_data_kit_spark.operators.similarity import cosine_topk_bruteforce

SF = "/root/testdata/sf0.01"
K = 10


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def emb_q(emb):
    df = quantize_embeddings(emb, keep_vec=True).cache()
    yield df
    df.unpersist()


def test_roundtrip_error_bound(emb_q):
    rows = emb_q.select("embedding", "q8", "q8_scale").limit(200).collect()
    for r in rows:
        v = np.asarray(r.embedding, dtype=np.float64)
        rec = np.asarray(r.q8, dtype=np.float64) * r.q8_scale
        if np.abs(v).max() == 0:
            assert (rec == 0).all()
            continue
        # symmetric quantization error ≤ scale/2 per component
        assert np.abs(v - rec).max() <= r.q8_scale / 2 + 1e-12
        assert np.abs(np.asarray(r.q8)).max() <= 127


def test_topk_recall_vs_float(spark, emb, emb_q):
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = cosine_topk_bruteforce(emb, queries, K)
    queries_q = quantize_embeddings(
        emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
    )
    got = cosine_topk_quantized(emb_q, queries_q, K)
    ex = {}
    for r in exact.collect():
        ex.setdefault(r.query_id, set()).add(r.vec_id)
    gt = {}
    for r in got.collect():
        gt.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(ex[q] & gt[q]) / K for q in ex]
    assert min(recalls) >= 0.8
    assert sum(recalls) / len(recalls) >= 0.9


def test_cosine_values_close(spark, emb, emb_q):
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    queries_q = quantize_embeddings(
        emb.where(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
    )
    exact = {
        (r.query_id, r.vec_id): r.cosine
        for r in cosine_topk_bruteforce(emb, queries, 5).collect()
    }
    quant = {
        (r.query_id, r.vec_id): r.cosine_q8
        for r in cosine_topk_quantized(emb_q, queries_q, 5).collect()
    }
    shared = set(exact) & set(quant)
    assert shared
    for key in shared:
        assert abs(exact[key] - quant[key]) < 0.03


def test_plan_is_jvm_only(spark, emb_q):
    queries_q = emb_q.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "q8"
    )
    plan = (
        cosine_topk_quantized(emb_q, queries_q, 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
