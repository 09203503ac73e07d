"""Int8 scalar quantization for embedding columns.

float32 embeddings dominate the storage and scan cost of a corpus-
scale similarity index (a 10^12 × 64-dim float table is ~256 TB).
Symmetric per-vector int8 quantization cuts that 4× — 1 byte per
dimension plus one float scale — at a cosine error small enough that
top-k retrieval is essentially unchanged (recall pinned by test).

Everything is pure Column algebra (transform / zip_with / aggregate
→ whole-stage codegen, no Python anywhere):

* ``quantize_embedding_cols`` → (array<tinyint> q, float scale) with
  ``v ≈ q · scale``, scale = max|v| / 127;
* ``cosine_quantized_col`` — cosine directly on the int8 arrays:
  dot(q_a, q_b)·scale_a·scale_b over the reconstructed norms.  The
  scales cancel in cosine's normalization, so cosine needs only the
  INT dot products — the scale column is kept for dot-product /
  L2 use;
* ``cosine_topk_quantized`` — brute-force top-k (``knn._topk``) over
  the quantized table (the memory-bound scan is now 4× smaller).

The same layout is what a GPU/ANN export would consume; IVF
(`similarity.cosine_topk_ivf`) composes with it by quantizing within
lists.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from earth_data_kit_spark.operators.knn import _topk
from earth_data_kit_spark.partitioning import ensure_parallelism


def quantize_embedding_cols(vec: Column) -> tuple[Column, Column]:
    """(q: array<tinyint>, scale: double) with v[i] ≈ q[i]·scale.

    Symmetric per-vector quantization: scale = max|v|/127; zero
    vectors get scale 0 and all-zero codes."""
    max_abs = F.aggregate(
        vec, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v.cast("double")))
    )
    scale = F.when(max_abs > 0.0, max_abs / F.lit(127.0)).otherwise(F.lit(0.0))
    q = F.transform(
        vec,
        lambda v: F.when(scale > 0.0, F.round(v.cast("double") / scale))
        .otherwise(F.lit(0.0))
        .cast("tinyint"),
    )
    return q, scale


def quantize_embeddings(
    emb: DataFrame, vec_col: str = "embedding", keep_vec: bool = False
) -> DataFrame:
    """Replace ``vec_col`` with int8 codes + scale (4× smaller rows;
    ``keep_vec=True`` retains the float column for comparisons)."""
    q, scale = quantize_embedding_cols(F.col(vec_col))
    out = emb.withColumn("q8", q).withColumn("q8_scale", scale)
    return out if keep_vec else out.drop(vec_col)


def int_dot_col(a: Column, b: Column) -> Column:
    """Integer dot product of two tinyint arrays (codegen)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("int") * y.cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("double")


def cosine_quantized_col(qa: Column, qb: Column) -> Column:
    """Cosine on int8 code arrays — per-vector scales cancel."""
    return int_dot_col(qa, qb) / (
        F.sqrt(int_dot_col(qa, qa)) * F.sqrt(int_dot_col(qb, qb))
    )


def cosine_topk_quantized(
    emb_q: DataFrame,
    queries_q: DataFrame,
    k: int,
    id_col: str = "vec_id",
    qid_col: str = "query_id",
) -> DataFrame:
    """Exact-over-codes top-k: (query_id, rank, <id_col>, cosine_q8).
    ``emb_q``/``queries_q`` carry ``q8`` (and for queries ``q8`` under
    the same name) from quantize_embeddings; the corpus scan reads
    1 byte/dim."""
    qq = queries_q.select(
        F.col(qid_col), F.col("q8").alias("_qq8")
    )
    scored = (
        ensure_parallelism(emb_q)
        .crossJoin(F.broadcast(qq))
        .withColumn("cosine_q8", cosine_quantized_col(F.col("q8"), F.col("_qq8")))
    )
    return _topk(scored, k, id_col, qid_col=qid_col, order_col="cosine_q8", descending=True)
