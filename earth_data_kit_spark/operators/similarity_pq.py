"""IVF-PQ: product-quantized ANN over the stored IVF index.

The 100 TB similarity-search layout.  The stored-IVF path
(similarity.py `build_ivf_index`/`ivf_query_stored`) prunes WHICH
bytes are read (nprobe/nlist of the partitions) but still reads full
float vectors.  Product quantization (Jégou, Douze, Schmid 2011,
"Product Quantization for Nearest Neighbor Search" — public paper;
the same construction behind FAISS IVFPQ) compresses each vector to
M sub-codes so the probed bytes shrink ~(4·dim)/M ×: a 64-dim float
corpus at M=8 stores 8 bytes of codes per vector — 32× less I/O on
the hot path, which is the difference between an ANN query reading
3 TB and reading 100 GB at the 100 TB corpus scale.

Construction (all trained driver-side on the same deterministic
hash-bucket sample the IVF quantizer uses — bounded, reproducible):

1. coarse quantizer: spherical k-means centroids (the IVF path's
   similarity._train_coarse, which also returns the sample matrix);
2. RESIDUAL product quantizer: normalized vectors minus their list
   centroid, split into M subspaces of dim/M dims; per-subspace
   k-means codebook with ksub codewords (FAISS IVFPQ's residual
   encoding — residuals are far more compressible than raw vectors
   because the coarse step already removed the cluster structure);
3. one Arrow encode pass over the corpus writes (id, codes[M],
   list_id) partitioned by list_id — the SAME pruned layout as the
   stored IVF index — plus the tiny centroid + codebook tables.

Query = ADC (asymmetric distance computation): per (query, probed
list) build the M×ksub lookup table LUT[m][c] = q̂_m · codebook_m[c];
then every candidate's approximate cosine is
    dot(q̂, ĉ_list) + Σ_m LUT[m][code_m]
— M table gathers per candidate, no float vector ever read.  The
optional REFINE step re-ranks the top k·refine_mult shortlist with
exact cosine against the full-vector table (same list_id-partitioned
layout, so the refine scan is pruned to the probed lists too).

Reference analog: none — the reference engine has no ANN surface;
this extends the north-rule similarity family (SURVEY.md §2 LLM
pipeline operators) along its published scale path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from earth_data_kit_spark.operators.knn import _topk
from earth_data_kit_spark.operators.similarity import (
    _cosine_topk,
    _probe_stored,
    _train_coarse,
    _write_centroids,
)

_PQ_SEED = 97


def train_pq(
    residuals: np.ndarray, m_sub: int, ksub: int, iters: int = 12
) -> np.ndarray:
    """Per-subspace (euclidean) k-means codebooks over residual
    vectors: (M, ksub, dim/M).  Deterministic (fixed seed + iters);
    empty-cluster guard re-seeds from the farthest points."""
    n, dim = residuals.shape
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    dsub = dim // m_sub
    rng = np.random.default_rng(_PQ_SEED)
    books = np.empty((m_sub, ksub, dsub))
    for m in range(m_sub):
        X = residuals[:, m * dsub : (m + 1) * dsub]
        C = X[rng.choice(n, size=min(ksub, n), replace=False)].copy()
        if len(C) < ksub:  # degenerate tiny sample: pad with jitter
            pad = C[rng.integers(0, len(C), ksub - len(C))] + rng.normal(
                0, 1e-6, (ksub - len(C), dsub)
            )
            C = np.concatenate([C, pad])
        for _ in range(iters):
            d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            # reseed empties from DISTINCT farthest points: reseeding
            # every empty cluster from the same argmax gave duplicate
            # codewords when >1 cluster emptied in one iteration
            # (ADVICE r6)
            far = np.argsort(-d.min(axis=1))
            fi = 0
            for j in range(ksub):
                msk = a == j
                if msk.any():
                    C[j] = X[msk].mean(axis=0)
                else:
                    C[j] = X[far[fi % len(far)]]
                    fi += 1
        books[m] = C
    return books


def _encode_udf(centroids: np.ndarray, codebooks: np.ndarray):
    """One Arrow pass: vector → (list_id, codes[M]).  Normalize,
    assign the nearest coarse list, PQ-encode the residual."""
    m_sub, ksub, dsub = codebooks.shape

    @F.pandas_udf("struct<list_id: int, codes: array<smallint>>")
    def _enc(vec: pd.Series) -> pd.DataFrame:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vec])
        X = X / np.linalg.norm(X, axis=1, keepdims=True)
        lists = (X @ centroids.T).argmax(axis=1)
        R = X - centroids[lists]
        codes = np.empty((len(X), m_sub), dtype=np.int16)
        for m in range(m_sub):
            sub = R[:, m * dsub : (m + 1) * dsub]
            d = ((sub[:, None, :] - codebooks[m][None, :, :]) ** 2).sum(axis=2)
            codes[:, m] = d.argmin(axis=1)
        return pd.DataFrame(
            {"list_id": lists.astype(np.int32), "codes": list(codes)}
        )

    return _enc


def build_ivfpq_index(
    emb: DataFrame,
    n_lists: int,
    out_dir: str,
    m_sub: int = 8,
    ksub: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_size: int = 10_000,
    sample_buckets: int = 4,
) -> tuple[pd.DataFrame, np.ndarray]:
    """Persist the IVF-PQ index once at ingest:

    * ``<out_dir>/codes``     — (id, codes[M]) partitioned by list_id
      (M smallints per vector — the compressed hot path);
    * ``<out_dir>/vectors``   — full vectors, same partitioning (read
      ONLY by the pruned refine step);
    * ``<out_dir>/centroids`` — coarse quantizer (nlist × dim, tiny);
    * ``<out_dir>/codebooks`` — PQ codebooks (M·ksub·dim/M, tiny).

    Returns (centroid table, codebooks array)."""
    X, centroids = _train_coarse(emb, n_lists, id_col, vec_col, train_size, sample_buckets)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    resid = Xn - centroids[(Xn @ centroids.T).argmax(axis=1)]
    books = train_pq(resid, m_sub, ksub)

    enc = _encode_udf(centroids, books)
    encoded = emb.withColumn("_e", enc(F.col(vec_col)))
    encoded.select(
        id_col, F.col("_e.codes").alias("codes"), F.col("_e.list_id").alias("list_id")
    ).write.partitionBy("list_id").mode("overwrite").parquet(f"{out_dir}/codes")
    encoded.select(
        id_col, vec_col, F.col("_e.list_id").alias("list_id")
    ).write.partitionBy("list_id").mode("overwrite").parquet(f"{out_dir}/vectors")

    cent = _write_centroids(centroids, out_dir)
    pd.DataFrame(
        {
            "m": np.repeat(np.arange(m_sub), ksub),
            "code": np.tile(np.arange(ksub), m_sub),
            "word": [w.tolist() for w in books.reshape(m_sub * ksub, -1)],
        }
    ).to_parquet(f"{out_dir}/codebooks")
    return cent, books


def load_codebooks(path: str) -> np.ndarray:
    pdf = pd.read_parquet(f"{path}/codebooks").sort_values(["m", "code"])
    m_sub = int(pdf["m"].max()) + 1
    ksub = int(pdf["code"].max()) + 1
    words = np.stack([np.asarray(w, dtype=np.float64) for w in pdf["word"]])
    return words.reshape(m_sub, ksub, -1)


def _adc_score_udf(centroids: np.ndarray, codebooks: np.ndarray):
    """ADC: approximate cosine from codes alone.  Per Arrow batch the
    LUT is built ONCE per distinct (query, list) pair present — M·ksub
    small dot products — then every candidate costs M gathers."""
    m_sub, ksub, dsub = codebooks.shape

    @F.pandas_udf("double")
    def _score(
        qid: pd.Series, list_id: pd.Series, codes: pd.Series, qvec: pd.Series
    ) -> pd.Series:
        n = len(qid)
        out = np.empty(n)
        C = np.stack([np.asarray(c, dtype=np.int64) for c in codes])
        key = pd.DataFrame({"q": qid.to_numpy(), "l": list_id.to_numpy()})
        for (q, l), idx in key.groupby(["q", "l"], sort=False).indices.items():
            v = np.asarray(qvec.iloc[idx[0]], dtype=np.float64)
            v = v / np.linalg.norm(v)
            # LUT[m][c] = v_m · codebook_m[c]
            lut = np.stack(
                [codebooks[m] @ v[m * dsub : (m + 1) * dsub] for m in range(m_sub)]
            )
            base = float(v @ centroids[int(l)])
            out[idx] = base + lut[np.arange(m_sub)[None, :], C[idx]].sum(axis=1)
        return pd.Series(out)

    return _score


def ivfpq_query_stored(
    codes: DataFrame,
    centroids: pd.DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int,
    n_probe: int,
    vectors: DataFrame | None = None,
    refine_mult: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Top-k from the stored IVF-PQ index.

    Plan: probe-selection Arrow UDF over the QUERY table (the
    ivf_query_stored pattern — centroids ship in the closure, probes
    explode in-plan, the distinct probed set is ≤ nlist ids) →
    partition-pruned scan of the CODES table (M smallints/vector —
    the compressed hot path) ⋈ broadcast probe table → ADC scoring
    UDF (LUT per (query, list) per batch, M gathers per candidate) →
    map-side-pruned top-(k·refine_mult) → optional exact refine:
    the shortlist (|Q|·k·refine_mult rows, broadcastable) joins the
    full-vector table pruned TO THE SAME probed partitions, exact
    cosine re-rank to k.

    With ``vectors=None`` returns the ADC ranking directly (column
    ``cosine`` is the ADC approximation)."""
    Cm, probed, cand = _probe_stored(codes, centroids, queries, n_probe, qid_col, qvec_col)
    adc = _adc_score_udf(Cm, codebooks)
    scored = cand.withColumn(
        "cosine",
        adc(F.col(qid_col), F.col("list_id"), F.col("codes"), F.col(qvec_col)),
    ).select(qid_col, id_col, "cosine")

    if vectors is None:
        return _topk(
            scored, k, id_col, qid_col=qid_col, order_col="cosine", descending=True
        )

    shortlist = _topk(
        scored, k * refine_mult, id_col,
        qid_col=qid_col, order_col="cosine", descending=True,
    ).select(qid_col, id_col)
    # exact re-rank: pruned full-vector scan ⋈ broadcast shortlist
    # (the only float-vector bytes the whole query reads)
    exact = (
        vectors.where(F.col("list_id").isin(probed))
        .join(F.broadcast(shortlist), id_col)
        .join(F.broadcast(queries.select(qid_col, qvec_col)), qid_col)
    )
    return _cosine_topk(exact, k, id_col, vec_col, qid_col, qvec_col)
